package graft.sinks

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.AbstractIterator
import scala.jdk.CollectionConverters._

import net.jpountz.lz4.LZ4Factory
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Render

/** Sequential row hook, Go-shaped (`csv.go:67-71` etc.): receives the
  * 1-based rowID (counting KEPT rows) and the rendered row; returns the
  * (possibly rewritten) row and whether to keep it. Inherently sequential
  * (rowID depends on prior decisions), so it runs only on the
  * driver-stream path — for distributed writes use the Column-based
  * filter/project split in [[graft.ops.Pipeline]] instead. */
object SinkTypes {
  type PreProcessor = (Int, IndexedSeq[String]) => (IndexedSeq[String], Boolean)
  /** Per-DataType custom mappers in the reference's `(value, Metadata)`
    * shape: each receives the plan-time `Metadata` slice (column name +
    * source driver, [[graft.functions.Render.MapperContext]]) and the
    * column. */
  type Mappers = Seq[(DataType, (Render.MapperContext, Column) => Column)]
}
import SinkTypes._

/** The framing law every codec obeys, on both write paths:
  * `head ++ (if no rows were kept: empty, else: open ++ rows.mkString(sep) ++ close)`.
  * `head` is the eager header — its own first chunk, emitted before any
  * Spark job runs — and is `""` for the codecs that have none. The DSv2
  * commit ([[graft.sinks.v2.FramedTextSink]]) has no separate head and
  * takes `head + open` and `head + empty`. */
private[sinks] final case class Frame(open: String, sep: String, close: String,
                                      empty: String = "", head: String = "")

private[graft] object SinkIO {
  implicit val stringEnc: Encoder[String] = Encoders.STRING

  /** The row cap every sink and [[graft.ops.Pipeline]] apply. */
  def limited(df: DataFrame, limit: Int): DataFrame =
    if (limit >= 0) df.limit(limit) else df

  /** `header` checked against `df`'s arity like `csv.go:134-139`. */
  def checkedHeader(df: DataFrame, header: Seq[String]): Seq[String] = {
    if (header.length != df.schema.length) throw new IllegalArgumentException("invalid header length")
    header
  }

  /** Bytes a task gathers into one driver-stream chunk before it ships
    * them. */
  private final val ChunkBytes = 1 << 20

  /** The one driver-stream loop — the `exporter.Write` coordinator
    * (`exporter.go:17-48`) with the codec plugged in as a [[Frame]]:
    * `head`, then each piece of `pieces` after `open` (the first) or
    * `sep`, then `close`, or `empty` when there was no piece. A piece is
    * one or more encoded rows, joined by `sep`. `pieces` is opened only
    * after `head` is consumed. */
  def stream(frame: Frame, pieces: => Iterator[Array[Byte]]): Iterator[Array[Byte]] = {
    def chunk(s: String) = if (s.isEmpty) Iterator.empty else Iterator.single(s.getBytes(UTF_8))
    var any = false
    // `++` is lazy: the trailer is chosen once the pieces are exhausted
    chunk(frame.head) ++ pieces.flatMap { p =>
      val before = chunk(if (any) frame.sep else frame.open)
      any = true
      before ++ Iterator.single(p)
    } ++ chunk(if (any) frame.close else frame.empty)
  }

  /** A distributed row builder's rows as pieces for [[stream]]: each task
    * joins its partition's rows with `sep` into chunks of about
    * [[ChunkBytes]], LZ4-packed for the trip, and the driver pulls them
    * partition by partition and unpacks one at a time. So it holds one
    * partition's packed chunks plus one chunk, as Spark's own
    * `toLocalIterator` holds one partition's packed rows. `rows` already
    * holds at most `limit` rows; `limit == 0` starts no job. */
  def chunks(rows: Dataset[String], sep: String, limit: Int): Iterator[Array[Byte]] =
    if (limit == 0) Iterator.empty
    else {
      val s = sep.getBytes(UTF_8)
      rows.queryExecution.toRdd.mapPartitions(joined(s, _)).toLocalIterator.map { case (n, packed) =>
        LZ4Factory.fastestInstance().fastDecompressor().decompress(packed, n)
      }
    }

  /** `rows` joined with `sep` into chunks, each as its length and its LZ4
    * block. */
  private def joined(sep: Array[Byte], rows: Iterator[InternalRow]): Iterator[(Int, Array[Byte])] =
    new AbstractIterator[(Int, Array[Byte])] {
      private val buf = new ByteBuf(1 << 16)
      private val lz4 = LZ4Factory.fastestInstance().fastCompressor()
      def hasNext: Boolean = rows.hasNext
      def next(): (Int, Array[Byte]) = {
        buf.truncate(0)
        buf.put(rows.next().getUTF8String(0))
        while (buf.size < ChunkBytes && rows.hasNext) {
          buf.put(sep)
          buf.put(rows.next().getUTF8String(0))
        }
        (buf.size, buf.packed(lz4))
      }
    }

  /** Rows that a sequential hook keeps, as pieces for [[stream]]: `step`
    * gets the 1-based rowID, counting KEPT rows, and returns the encoded
    * row or None to drop it. Pulling from `source` stops once `limit`
    * rows are kept, so `limit == 0` never opens it. */
  def kept[A](limit: Int, source: => Iterator[A])(step: (Int, A) => Option[Array[Byte]]): Iterator[Array[Byte]] =
    new AbstractIterator[Array[Byte]] {
      private lazy val src = source
      private var kept = 0
      private var pending: Array[Byte] = null
      private def advance(): Unit =
        while (pending == null && (limit < 0 || kept < limit) && src.hasNext)
          step(kept + 1, src.next()).foreach { b => pending = b; kept += 1 }
      def hasNext: Boolean = { advance(); pending != null }
      def next(): Array[Byte] = {
        if (!hasNext) Iterator.empty.next()
        val b = pending; pending = null; b
      }
    }

  /** Distributed write of pre-encoded rows of a line format
    * (`sep == close`) through Spark's text writer: each partition with
    * rows becomes one part file, `head + open` and then every row followed
    * by `sep`. When no part file holds a byte, `head + empty` is written
    * as the only one — Spark writes one empty file also for a plan with
    * no partitions, where it runs none of these tasks. */
  def writeParts(rows: Dataset[String], path: String, frame: Frame): Unit = {
    require(frame.sep == frame.close, "writeParts serves line formats (sep == close)")
    val first = frame.head + frame.open
    val framed = if (first.isEmpty) rows else rows.mapPartitions { it =>
      if (it.hasNext) Iterator.single(first + it.next()) ++ it else it
    }
    // one file per partition even where the session caps records per file:
    // a continuation file would lack `head + open`
    framed.write.option("lineSep", frame.sep).option("maxRecordsPerFile", 0L)
      .mode("overwrite").text(path)
    val none = frame.head + frame.empty
    if (none.nonEmpty) {
      val fs = new Path(path).getFileSystem(rows.sparkSession.sparkContext.hadoopConfiguration)
      val parts = fs.globStatus(new Path(path, "part-*"))
      if (parts.forall(_.getLen == 0)) {
        val out = fs.create(parts.head.getPath, true)
        try out.write(none.getBytes(java.nio.charset.StandardCharsets.UTF_8)) finally out.close()
      }
    }
  }

  /** Distributed write of pre-encoded rows under `frame`, via the DSv2
    * [[graft.sinks.v2.FramedTextSink]] commit. */
  def writeFramed(rows: Dataset[String], path: String, frame: Frame): Unit =
    rows.write.format("graft-framed")
      .option("open", frame.head + frame.open)
      .option("sep", frame.sep)
      .option("close", frame.close)
      .option("empty", frame.head + frame.empty)
      .mode("overwrite").save(path)
}

/** A codec's driver-stream surface: its UTF-8 byte [[chunks]], and the
  * string and single-file writers over them. */
private[graft] abstract class Codec[O](defaults: O) {
  protected def chunks(df: DataFrame, opts: O): Iterator[Array[Byte]]

  /** The driver stream's chunks, each decoded: a chunk is whole rows or
    * framing, so each is well-formed UTF-8 on its own. */
  def contentIterator(df: DataFrame, opts: O = defaults): Iterator[String] =
    chunks(df, opts).map(new String(_, UTF_8))

  private[graft] def bound(df: DataFrame, opts: O): graft.Exporter.Bound =
    new graft.Exporter.Bound(() => chunks(df, opts))

  def writeString(df: DataFrame, opts: O = defaults): String = bound(df, opts).writeString

  def writeFile(df: DataFrame, path: String, opts: O = defaults): Unit =
    bound(df, opts).writeFile(path)
}

/** The option fields of the codecs whose rows are rendered cells. */
private[sinks] trait CellOptions {
  def limit: Int
  def preProcessor: Option[PreProcessor]
  def mappers: Mappers
}

/** What a codec whose rows are rendered cells states: its [[Frame]] and
  * its row encoder. */
private[sinks] final case class CellFormat(frame: Frame, encoder: RowEncoder)

/** CSV, XML and HTML: both write paths derived from one [[CellFormat]].
  * The distributed builder renders and encodes each row in one codegen'd
  * projection ([[EncodeRow]]). The driver stream ships the builder's rows
  * as byte chunks; with a hook, it encodes the hook's rows through the
  * same encoder instead. The hook sees a NULL cell as the encoder's
  * `nullAs`, or `""` where NULL cells are left out, and a cell that was
  * NULL stays left out whatever the hook writes there. */
private[sinks] abstract class CellCodec[O <: CellOptions](defaults: O) extends Codec[O](defaults) {
  protected def format(df: DataFrame, opts: O): CellFormat

  /** The distributed row builder: encoded rows, unframed. */
  protected def encoded(df: DataFrame, opts: O): Dataset[String] = {
    require(opts.preProcessor.isEmpty,
      "the sequential preProcessor runs on the driver-stream path (writeString/writeFile); " +
      "use ops.Pipeline filter/project for distributed writes")
    import SinkIO.stringEnc
    val rendered = Render.renderAll(SinkIO.limited(df, opts.limit), opts.mappers)
    val cells = rendered.queryExecution.analyzed.output
    rendered.select(ColumnBridge.column(EncodeRow(cells, format(df, opts).encoder)).as("value")).as[String]
  }

  protected def chunks(df: DataFrame, opts: O): Iterator[Array[Byte]] = {
    val CellFormat(frame, enc) = format(df, opts)
    SinkIO.stream(frame, opts.preProcessor.fold(SinkIO.chunks(encoded(df, opts), frame.sep, opts.limit)) { hook =>
      val shown = enc.nullAs.getOrElse("")
      SinkIO.kept(opts.limit, Render.renderAll(df, opts.mappers).toLocalIterator().asScala) { (rowID, r) =>
        val (row, keep) = hook(rowID, IndexedSeq.tabulate(r.length)(i => if (r.isNullAt(i)) shown else r.getString(i)))
        if (!keep) None
        else Some(enc.encode(Array.tabulate(r.length) { i =>
          if (r.isNullAt(i) && enc.nullAs.isEmpty) null else UTF8String.fromString(row(i))
        }).getBytes)
      }
    })
  }
}

// ---------------------------------------------------------------------------
// CSV (`/root/reference/codec/csv/csv.go`)
// ---------------------------------------------------------------------------

/** Option surface of the reference CSV codec (`csv.go:37-121`). */
final case class CsvOptions(
    delimiter: Char = ',',
    useCRLF: Boolean = false,
    writeHeader: Boolean = true,
    writeHeaderWhenNoData: Boolean = true,
    customHeader: Option[Seq[String]] = None,
    nullValue: String = "",
    limit: Int = -1,
    preProcessor: Option[PreProcessor] = None,
    mappers: Mappers = Nil) extends CellOptions {
  def eol: String = if (useCRLF) "\r\n" else "\n"
}

object CsvSink extends CellCodec(CsvOptions()) {

  /** Distributed CSV records (no header, no EOL). */
  def lines(df: DataFrame, opts: CsvOptions): Dataset[String] = encoded(df, opts)

  /** `csv.go:124-190`: the header line is eager (written for zero rows
    * too, `csv.go:147-151`) or lazy (written with the first kept row,
    * `csv.go:175-179`); every record ends in the EOL. A custom header is
    * checked for arity like `csv.go:134-139`. */
  protected def format(df: DataFrame, opts: CsvOptions): CellFormat = {
    val (d, crlf, eol) = (opts.delimiter, opts.useCRLF, opts.eol)
    val hdr = SinkIO.checkedHeader(df, opts.customHeader.getOrElse(df.schema.fieldNames.toSeq))
    val enc = CsvRow(d, crlf, opts.nullValue)
    val line = if (opts.writeHeader && hdr.nonEmpty) enc.encode(hdr.map(UTF8String.fromString).toArray).toString + eol else ""
    CellFormat(if (opts.writeHeaderWhenNoData) Frame("", eol, eol, head = line) else Frame(line, eol, eol), enc)
  }

  /** Distributed directory write ([[SinkIO.writeParts]]) with the one CSV
    * encoder: each part file with rows is [[writeString]] of its
    * partition's rows, header included, so the directory reads back file
    * by file with Spark's CSV reader; a zero-row input leaves exactly the
    * zero-row [[writeString]] (the header line when eager, else nothing). */
  def writeDir(df: DataFrame, path: String, opts: CsvOptions = CsvOptions()): Unit =
    SinkIO.writeParts(lines(df, opts), path, format(df, opts).frame)
}

// ---------------------------------------------------------------------------
// JSON (`/root/reference/codec/json/json.go`)
// ---------------------------------------------------------------------------

/** Option surface of the reference JSON codec (`json.go:28-80`).
  * `preProcessor` is the map-based hook (`json.go:44-48`): it receives
  * the 1-based rowID (counting kept rows) and the row as a
  * name→native-value map, and runs on the driver-stream path. Both
  * paths escape strings like the reference's std-compatible encoder,
  * `<>&` included. */
final case class JsonOptions(
    newlineDelimited: Boolean = false,
    limit: Int = -1,
    mappers: Mappers = Nil,
    preProcessor: Option[(Int, Map[String, Any]) => (Map[String, Any], Boolean)] = None)

object JsonSink extends Codec(JsonOptions()) {

  /** One JSON object per row. Keys are sorted alphabetically — the
    * reference marshals a `map[string]any` with a std-lib-compatible
    * encoder, which sorts keys (`json.go:108-130`). Values are native
    * JSON (NULL → `null`); timestamps render as Go `time.Time` marshals
    * (RFC3339Nano); binary → base64, like Go `[]byte`. */
  def objects(df: DataFrame, opts: JsonOptions = JsonOptions()): Dataset[String] = {
    require(opts.preProcessor.isEmpty,
      "the map-based preProcessor runs on the driver-stream path (writeString/writeFile)")
    import SinkIO.stringEnc
    val limited = SinkIO.limited(df, opts.limit)
    val fields = limited.schema.fields.sortBy(_.name)
    val cols = fields.map { f =>
      Render.mapped(f, opts.mappers).getOrElse {
        f.dataType match {
          case TimestampType | TimestampNTZType => Render.rfc3339NanoRaw(col(f.name))
          case _ => col(f.name)
        }
      }.as(f.name)
    }
    val j = to_json(struct(cols.toIndexedSeq: _*), Map("ignoreNullFields" -> "false"))
    // `<>&` and backslash escapes only occur inside JSON strings, so a
    // global rewrite only touches string contents — matching the reference
    // encoder exactly
    limited.select(Render.jsonHtmlEscape(j).as("j")).as[String]
  }

  /** Array mode (`json.go:94-98,135-147`) opens `[` lazily with the
    * first row, so zero rows → EMPTY output, not `[]`. The graft-framed
    * sink defaults to it. NDJSON mode (`json.go:51-55,144-147`) is one
    * object per line. */
  private[sinks] val arrayFrame = Frame("[\n", ",\n", "\n]\n")
  private[sinks] val ndjsonFrame = Frame("", "\n", "\n")

  protected def chunks(df: DataFrame, opts: JsonOptions): Iterator[Array[Byte]] = {
    val frame = if (opts.newlineDelimited) ndjsonFrame else arrayFrame
    SinkIO.stream(frame, opts.preProcessor.fold(SinkIO.chunks(objects(df, opts), frame.sep, opts.limit)) { hook =>
      // the map hook sees native values; custom mappers apply BEFORE it,
      // like `json.go:111-128`; GoJson serializes std-compatibly
      val mapped = df.select(df.schema.fields.map { f =>
        Render.mapped(f, opts.mappers).getOrElse(col(f.name)).as(f.name)
      }.toIndexedSeq: _*)
      val names = mapped.schema.fieldNames
      val zone = DateTimeUtils.getZoneId(df.sparkSession.conf.get("spark.sql.session.timeZone"))
      SinkIO.kept(opts.limit, mapped.toLocalIterator().asScala) { (rowID, row) =>
        val m: Map[String, Any] = names.indices.map(i => names(i) -> row.get(i)).toMap
        val (rewritten, keep) = hook(rowID, m)
        if (keep) Some(Format.GoJson.writeRow(rewritten, zone).getBytes(UTF_8)) else None
      }
    })
  }

  /** Distributed directory write ([[SinkIO.writeParts]]), NDJSON whatever
    * `newlineDelimited` says: each part file with rows is the NDJSON
    * [[writeString]] of its partition's rows; zero rows leave no bytes. */
  def writeDir(df: DataFrame, path: String, opts: JsonOptions = JsonOptions()): Unit =
    SinkIO.writeParts(objects(df, opts), path, ndjsonFrame)
}

// ---------------------------------------------------------------------------
// XML (`/root/reference/codec/xml/xml.go`)
// ---------------------------------------------------------------------------

/** Option surface of the reference XML codec (`xml.go:17-65`). */
final case class XmlOptions(
    limit: Int = -1,
    preProcessor: Option[PreProcessor] = None,
    mappers: Mappers = Nil) extends CellOptions

object XmlSink extends CellCodec(XmlOptions()) {

  /** Distributed `<row>` fragments: NULL elements omitted, values
    * escaped, element names raw (`xml.go:111-122`). */
  def rows(df: DataFrame, opts: XmlOptions = XmlOptions()): Dataset[String] = encoded(df, opts)

  /** `xml.go:67-130`: declaration + `<data>` written lazily with the
    * first kept row; zero kept rows → EMPTY output. NULL elements stay
    * omitted even where a hook rewrote the cell (`xml.go:94-96,113-115`). */
  protected def format(df: DataFrame, opts: XmlOptions): CellFormat = {
    CellFormat(Frame(Format.xmlDeclaration + "\n<data>\n", "\n", "\n</data>\n"),
      XmlRow(df.schema.fieldNames.toIndexedSeq))
  }

  /** Distributed write WITH the reference's global framing — the same
    * [[Frame]] as [[contentIterator]] — via the DSv2
    * [[graft.sinks.v2.FramedTextSink]] commit protocol: the directory's
    * non-hidden files concatenated in name order are byte-identical to
    * [[writeString]] when the input's partition order is its global
    * order (see DsvWriteSpec). Use this instead of `rows().write.text`
    * when the consumer expects a well-formed XML document. */
  def writeDirFramed(df: DataFrame, path: String, opts: XmlOptions = XmlOptions()): Unit =
    SinkIO.writeFramed(rows(df, opts), path, format(df, opts).frame)
}

// ---------------------------------------------------------------------------
// HTML (`/root/reference/codec/html/html.go`)
// ---------------------------------------------------------------------------

/** Option surface of the reference HTML codec (`html.go:30-95`). */
final case class HtmlOptions(
    writeHeader: Boolean = true,
    writeHeaderWhenNoData: Boolean = true,
    nullValue: String = Format.htmlNullValue,
    limit: Int = -1,
    preProcessor: Option[PreProcessor] = None,
    mappers: Mappers = Nil) extends CellOptions

object HtmlSink extends CellCodec(HtmlOptions()) {

  /** `<thead>` block with per-column name + lowercased type
    * (`html.go:102-110`). The reference shows the SOURCE database's type
    * name (`DatabaseTypeName`, `html.go:107`); when the frame came
    * through `Slice.fromSql` that name rides in the field metadata and is
    * preferred — the Spark SQL type name is the native-frame fallback. */
  def headerBlock(df: DataFrame): String = {
    val ths = df.schema.fields.map { f =>
      val typeName = graft.sources.SourceMeta.databaseTypeNameOf(f)
        .getOrElse(f.dataType.sql).toLowerCase
      Format.htmlTh(f.name, typeName)
    }.mkString
    Format.htmlPrefix + Format.htmlTheadOpen + ths + "</thead>"
  }

  /** Distributed `<tr>` fragments (NULL → nullValue markup, raw cells). */
  def rows(df: DataFrame, opts: HtmlOptions = HtmlOptions()): Dataset[String] = encoded(df, opts)

  /** `html.go:96-171`: `<tbody>` opens with the first kept row. The
    * header is eager (written for zero rows too, then closed by the
    * table closers alone) or lazy (written with the first kept row) —
    * HTML is the one codec whose empty output can be non-empty. */
  protected def format(df: DataFrame, opts: HtmlOptions): CellFormat = {
    val header = if (opts.writeHeader && df.schema.nonEmpty) headerBlock(df) else ""
    val close = "</tbody></table></body></html>"
    CellFormat(
      if (opts.writeHeaderWhenNoData && header.nonEmpty)
        Frame("<tbody>", "", close, "</table></body></html>", head = header)
      else Frame(header + "<tbody>", "", close),
      HtmlRow(opts.nullValue))
  }

  /** Distributed write WITH the reference's whole-document framing —
    * the same [[Frame]] as [[contentIterator]] — via the DSv2
    * [[graft.sinks.v2.FramedTextSink]]; the HTML twin of
    * `XmlSink.writeDirFramed`. Directory files concatenated in name
    * order are byte-identical to [[writeString]] when partition order is
    * global order (DsvWriteSpec). */
  def writeDirFramed(df: DataFrame, path: String, opts: HtmlOptions = HtmlOptions()): Unit =
    SinkIO.writeFramed(rows(df, opts), path, format(df, opts).frame)
}
