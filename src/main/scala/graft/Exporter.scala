package graft

import java.io.{BufferedOutputStream, ByteArrayOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame

import graft.sinks._

/** Coordinator facade with the reference's entry-point shape
  * (`/root/reference/exporter.go:17-48`): pair a source DataFrame with a
  * codec, then `writeString` (≈ `Write(io.Writer)`) or `writeFile`
  * (single local file, ≈ `WriteFile`). Like the reference, there is one
  * coordinator loop (`SinkIO.stream`) and each codec plugs into it: a
  * `Frame` (`head ++ (no kept rows ? empty : open ++ rows.mkString(sep)
  * ++ close)`) plus a row encoder. Distributed directory writes go
  * through each sink's `writeDir` — the scale path the reference's
  * single-writer design cannot express. */
final case class Exporter(df: DataFrame) {
  def csv(opts: CsvOptions = CsvOptions()): Exporter.Bound = CsvSink.bound(df, opts)
  def json(opts: JsonOptions = JsonOptions()): Exporter.Bound = JsonSink.bound(df, opts)
  def xml(opts: XmlOptions = XmlOptions()): Exporter.Bound = XmlSink.bound(df, opts)
  def html(opts: HtmlOptions = HtmlOptions()): Exporter.Bound = HtmlSink.bound(df, opts)
}

object Exporter {
  /** A (source, codec) pair ready to write: `content` yields the codec's
    * driver-stream chunks, UTF-8 bytes, afresh on each call. The encoded
    * rows arrive from the tasks as byte chunks of whole rows; only the
    * framing is added on the driver. */
  final class Bound(content: () => Iterator[Array[Byte]]) {
    /** The whole output, decoded once at the end. */
    def writeString: String = {
      val out = new ByteArrayOutputStream()
      content().foreach(b => out.write(b))
      out.toString(UTF_8)
    }

    /** Streams the chunks' bytes to a single local file — the
      * `exporter.WriteFile` coordinator (`exporter.go:36-48`): one
      * writer, constant memory, UTF-8 whatever the JVM's default
      * charset, and no byte decoded or encoded again on the way. */
    def writeFile(path: String): Unit = {
      val out = new BufferedOutputStream(new FileOutputStream(path), 1 << 16)
      try content().foreach(b => out.write(b)) finally out.close()
    }
  }
}
