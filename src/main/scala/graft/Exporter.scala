package graft

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
    * driver-stream chunks afresh on each call. */
  final class Bound(content: () => Iterator[String]) {
    def writeString: String = content().mkString

    /** Streams the chunks to a single local file — the `exporter.WriteFile`
      * coordinator (`exporter.go:36-48`): one writer, constant memory,
      * UTF-8 whatever the JVM's default charset. */
    def writeFile(path: String): Unit = {
      val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        new java.io.FileOutputStream(path), java.nio.charset.StandardCharsets.UTF_8), 1 << 16)
      try content().foreach(w.write) finally w.close()
    }
  }
}
