package graft.sinks

import scala.collection.AbstractIterator
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Render

/** Sequential row hook, Go-shaped (`csv.go:67-71` etc.): receives the
  * 1-based rowID (counting KEPT rows) and the rendered row; returns the
  * (possibly rewritten) row and whether to keep it. Inherently sequential
  * (rowID depends on prior decisions), so it runs only on the
  * driver-stream path — for distributed writes use the Column-based
  * filter/project split in [[graft.ops.Pipeline]] instead. */
object SinkTypes {
  type PreProcessor = (Int, IndexedSeq[String]) => (IndexedSeq[String], Boolean)
  type Mappers = Seq[(DataType, Column => Column)]
  /** Context-aware mappers: additionally receive the plan-time
    * `Metadata` slice (column name + source driver) — see
    * [[graft.functions.Render.MapperContext]]. */
  type CtxMappers = Seq[(DataType, (Render.MapperContext, Column) => Column)]
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

private[sinks] object SinkIO {
  implicit val stringEnc: Encoder[String] = Encoders.STRING

  def limited(df: DataFrame, limit: Int): DataFrame =
    if (limit >= 0) df.limit(limit) else df

  /** Rendered rows as string arrays; `null` entries are NULL cells. */
  def renderedRows(df: DataFrame, mappers: Mappers,
                   ctxMappers: CtxMappers = Nil): Dataset[Array[String]] = {
    val rendered = Render.renderAll(df, mappers, ctxMappers)
    val n = rendered.schema.length
    val sp = rendered.sparkSession
    import sp.implicits._
    rendered.map { row =>
      Array.tabulate(n)(i => if (row.isNullAt(i)) null else row.getString(i))
    }
  }

  /** The one driver-stream loop — the `exporter.Write` coordinator
    * (`exporter.go:17-48`) with the codec plugged in as a [[Frame]] and a
    * row step. `step` gets the 1-based rowID, counting KEPT rows, and
    * returns the encoded row or None to drop it. The loop stops pulling
    * from `source` once `limit` rows are kept (so `limit == 0` never
    * opens it), and opens `source` only after `head` is consumed. */
  def stream[A](frame: Frame, limit: Int, source: => Iterator[A])(
      step: (Int, A) => Option[String]): Iterator[String] = {
    var kept = 0
    val rows = new AbstractIterator[String] {
      private lazy val src = source
      private var pending: String = null
      private def advance(): Unit =
        while (pending == null && (limit < 0 || kept < limit) && src.hasNext)
          step(kept + 1, src.next()).foreach { s =>
            pending = (if (kept == 0) frame.open else frame.sep) + s
            kept += 1
          }
      def hasNext: Boolean = { advance(); pending != null }
      def next(): String = {
        if (!hasNext) Iterator.empty.next()
        val s = pending; pending = null; s
      }
    }
    def chunk(s: String) = if (s.isEmpty) Iterator.empty else Iterator.single(s)
    // `++` is lazy: the trailer is chosen once the rows are exhausted
    chunk(frame.head) ++ rows ++ chunk(if (kept > 0) frame.close else frame.empty)
  }

  /** Pre-encoded rows of a distributed row builder, framed on the driver. */
  def stream(frame: Frame, limit: Int, rows: => Dataset[String]): Iterator[String] =
    stream(frame, limit, rows.toLocalIterator().asScala)((_, s) => Some(s))

  /** Rows through a [[PreProcessor]]: the hook sees NULL cells as
    * `nullAs`; `encode` gets the original cells (their NULL mask) and the
    * hook's row. */
  def hooked(frame: Frame, limit: Int, cells: => Dataset[Array[String]], nullAs: String,
             hook: PreProcessor)(encode: (Array[String], IndexedSeq[String]) => String): Iterator[String] =
    stream(frame, limit, cells.toLocalIterator().asScala) { (rowID, raw) =>
      val (row, keep) = hook(rowID, raw.toIndexedSeq.map(c => if (c == null) nullAs else c))
      if (keep) Some(encode(raw, row)) else None
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

/** A codec's driver-stream surface: its [[contentIterator]] chunks, and
  * the string and single-file writers over them. */
private[graft] abstract class Codec[O](defaults: O) {
  def contentIterator(df: DataFrame, opts: O = defaults): Iterator[String]

  private[graft] def bound(df: DataFrame, opts: O): graft.Exporter.Bound =
    new graft.Exporter.Bound(() => contentIterator(df, opts))

  def writeString(df: DataFrame, opts: O = defaults): String = bound(df, opts).writeString

  def writeFile(df: DataFrame, path: String, opts: O = defaults): Unit =
    bound(df, opts).writeFile(path)
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
    mappers: Mappers = Nil,
    ctxMappers: CtxMappers = Nil) {
  def eol: String = if (useCRLF) "\r\n" else "\n"
}

object CsvSink extends Codec(CsvOptions()) {

  /** Header row (custom header validated for arity exactly like
    * `csv.go:134-139`). */
  def header(df: DataFrame, opts: CsvOptions): Seq[String] = {
    val h = opts.customHeader.getOrElse(df.schema.fieldNames.toSeq)
    if (h.length != df.schema.length) throw new IllegalArgumentException("invalid header length")
    h
  }

  /** Distributed CSV records (no header, no EOL) — rendering is a
    * codegen'd projection; line assembly is one narrow map, the same
    * shape as Spark's own CSV `FileFormatWriter`. */
  def lines(df: DataFrame, opts: CsvOptions): Dataset[String] = {
    require(opts.preProcessor.isEmpty,
      "sequential preProcessor requires the driver-stream path (writeString/writeFile); " +
      "use ops.Pipeline filter/project for distributed writes")
    import SinkIO.stringEnc
    val (d, crlf, nv) = (opts.delimiter, opts.useCRLF, opts.nullValue)
    SinkIO.renderedRows(SinkIO.limited(df, opts.limit), opts.mappers, opts.ctxMappers).map { cells =>
      Format.csvLine(cells.toIndexedSeq.map(c => if (c == null) nv else c), d, crlf)
    }
  }

  /** `csv.go:124-190`: the header line is eager (written for zero rows
    * too, `csv.go:147-151`) or lazy (written with the first kept row,
    * `csv.go:175-179`); every record ends in the EOL. */
  private def frame(df: DataFrame, opts: CsvOptions): Frame = {
    val hdr = header(df, opts)
    val line =
      if (opts.writeHeader && hdr.nonEmpty)
        Format.csvLine(hdr.toIndexedSeq, opts.delimiter, opts.useCRLF) + opts.eol
      else ""
    if (opts.writeHeaderWhenNoData) Frame("", opts.eol, opts.eol, head = line)
    else Frame(line, opts.eol, opts.eol)
  }

  def contentIterator(df: DataFrame, opts: CsvOptions): Iterator[String] = {
    val f = frame(df, opts)
    opts.preProcessor.fold(SinkIO.stream(f, opts.limit, lines(df, opts))) { hook =>
      SinkIO.hooked(f, opts.limit, SinkIO.renderedRows(df, opts.mappers, opts.ctxMappers),
        opts.nullValue, hook)((_, row) => Format.csvLine(row, opts.delimiter, opts.useCRLF))
    }
  }

  /** Distributed directory write via Spark's native CSV writer — the
    * scale path (header per part-file, quote-doubling like Go). */
  def writeDir(df: DataFrame, path: String, opts: CsvOptions = CsvOptions()): Unit = {
    require(opts.preProcessor.isEmpty, "use ops.Pipeline for distributed writes")
    val limited = SinkIO.limited(df, opts.limit)
    val named = if (opts.customHeader.isDefined) limited.toDF(header(df, opts): _*) else limited
    Render.renderAll(named, opts.mappers, opts.ctxMappers).write
      .option("header", opts.writeHeader.toString)
      .option("sep", opts.delimiter.toString)
      .option("lineSep", opts.eol)
      .option("nullValue", opts.nullValue)
      .option("emptyValue", "")
      .option("quote", "\"").option("escape", "\"")
      .mode("overwrite").csv(path)
  }
}

// ---------------------------------------------------------------------------
// JSON (`/root/reference/codec/json/json.go`)
// ---------------------------------------------------------------------------

/** Option surface of the reference JSON codec (`json.go:28-80`).
  * `preProcessor` is the map-based hook (`json.go:44-48`): it receives
  * the 1-based rowID (counting kept rows) and the row as a
  * name→native-value map, and runs on the driver-stream path.
  * `escapeHtml` matches the reference's std-compatible encoder, which
  * escapes `<>&` inside JSON strings. */
final case class JsonOptions(
    newlineDelimited: Boolean = false,
    limit: Int = -1,
    mappers: Mappers = Nil,
    ctxMappers: CtxMappers = Nil,
    escapeHtml: Boolean = true,
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
      Render.mapped(f, opts.mappers, opts.ctxMappers).getOrElse {
        f.dataType match {
          case TimestampType | TimestampNTZType => Render.rfc3339NanoRaw(col(f.name))
          case _ => col(f.name)
        }
      }.as(f.name)
    }
    val j = to_json(struct(cols.toIndexedSeq: _*), Map("ignoreNullFields" -> "false"))
    // `<>&` never appear structurally in JSON, so a global replace only
    // touches string contents — matching the reference encoder exactly
    val escaped =
      if (opts.escapeHtml)
        regexp_replace(regexp_replace(regexp_replace(j,
          "&", "\\\\u0026"), "<", "\\\\u003c"), ">", "\\\\u003e")
      else j
    limited.select(escaped.as("j")).as[String]
  }

  /** Array mode (`json.go:94-98,135-147`) opens `[` lazily with the
    * first row, so zero rows → EMPTY output, not `[]`. The graft-framed
    * sink defaults to it. */
  private[sinks] val arrayFrame = Frame("[\n", ",\n", "\n]\n")

  def contentIterator(df: DataFrame, opts: JsonOptions): Iterator[String] = {
    val frame = if (opts.newlineDelimited) Frame("", "\n", "\n") else arrayFrame
    opts.preProcessor.fold(SinkIO.stream(frame, opts.limit, objects(df, opts))) { hook =>
      // the map hook sees native values; custom mappers apply BEFORE it,
      // like `json.go:111-128`; GoJson serializes std-compatibly
      val mapped = df.select(df.schema.fields.map { f =>
        Render.mapped(f, opts.mappers, opts.ctxMappers).getOrElse(col(f.name)).as(f.name)
      }.toIndexedSeq: _*)
      val names = mapped.schema.fieldNames
      SinkIO.stream(frame, opts.limit, mapped.toLocalIterator().asScala) { (rowID, row) =>
        val m: Map[String, Any] = names.indices.map(i => names(i) -> row.get(i)).toMap
        val (rewritten, keep) = hook(rowID, m)
        if (keep) Some(Format.GoJson.writeRow(rewritten)) else None
      }
    }
  }

  /** Distributed NDJSON directory write — the scale path. */
  def writeDir(df: DataFrame, path: String, opts: JsonOptions = JsonOptions()): Unit =
    objects(df, opts).write.mode("overwrite").text(path)
}

// ---------------------------------------------------------------------------
// XML (`/root/reference/codec/xml/xml.go`)
// ---------------------------------------------------------------------------

/** Option surface of the reference XML codec (`xml.go:17-65`). */
final case class XmlOptions(
    limit: Int = -1,
    preProcessor: Option[PreProcessor] = None,
    mappers: Mappers = Nil,
    ctxMappers: CtxMappers = Nil)

object XmlSink extends Codec(XmlOptions()) {

  /** Distributed `<row>` fragments: NULL elements omitted, values
    * escaped, element names raw (`xml.go:111-122`). */
  def rows(df: DataFrame, opts: XmlOptions = XmlOptions()): Dataset[String] = {
    require(opts.preProcessor.isEmpty, "use ops.Pipeline for distributed writes")
    import SinkIO.stringEnc
    val limited = SinkIO.limited(df, opts.limit)
    val names = limited.schema.fieldNames.toIndexedSeq
    SinkIO.renderedRows(limited, opts.mappers, opts.ctxMappers)
      .map(cells => Format.xmlRow(names, cells.toIndexedSeq))
  }

  /** `xml.go:67-130`: declaration + `<data>` written lazily with the
    * first kept row; zero kept rows → EMPTY output. */
  private val frame = Frame(Format.xmlDeclaration + "\n<data>\n", "\n", "\n</data>\n")

  def contentIterator(df: DataFrame, opts: XmlOptions): Iterator[String] =
    opts.preProcessor.fold(SinkIO.stream(frame, opts.limit, rows(df, opts))) { hook =>
      val names = df.schema.fieldNames.toIndexedSeq
      SinkIO.hooked(frame, opts.limit, SinkIO.renderedRows(df, opts.mappers, opts.ctxMappers),
        "", hook) { (cells, row) =>
        // NULL-omission follows the ORIGINAL null mask even if the
        // preprocessor rewrote the cell (`xml.go:94-96,113-115`)
        Format.xmlRow(names, row.zipWithIndex.map { case (s, i) => if (cells(i) == null) null else s })
      }
    }

  /** Distributed write WITH the reference's global framing — the same
    * [[Frame]] as [[contentIterator]] — via the DSv2
    * [[graft.sinks.v2.FramedTextSink]] commit protocol: the directory's
    * non-hidden files concatenated in name order are byte-identical to
    * [[writeString]] when the input's partition order is its global
    * order (see DsvWriteSpec). Use this instead of `rows().write.text`
    * when the consumer expects a well-formed XML document. */
  def writeDirFramed(df: DataFrame, path: String, opts: XmlOptions = XmlOptions()): Unit =
    SinkIO.writeFramed(rows(df, opts), path, frame)
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
    mappers: Mappers = Nil,
    ctxMappers: CtxMappers = Nil)

object HtmlSink extends Codec(HtmlOptions()) {

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
  def rows(df: DataFrame, opts: HtmlOptions = HtmlOptions()): Dataset[String] = {
    require(opts.preProcessor.isEmpty, "use ops.Pipeline for distributed writes")
    import SinkIO.stringEnc
    val nv = opts.nullValue
    SinkIO.renderedRows(SinkIO.limited(df, opts.limit), opts.mappers, opts.ctxMappers)
      .map(cells => Format.htmlRow(cells.toIndexedSeq.map(c => if (c == null) nv else c)))
  }

  /** `html.go:96-171`: `<tbody>` opens with the first kept row. The
    * header is eager (written for zero rows too, then closed by the
    * table closers alone) or lazy (written with the first kept row) —
    * HTML is the one codec whose empty output can be non-empty. */
  private def frame(df: DataFrame, opts: HtmlOptions): Frame = {
    val header = if (opts.writeHeader && df.schema.nonEmpty) headerBlock(df) else ""
    val close = "</tbody></table></body></html>"
    if (opts.writeHeaderWhenNoData && header.nonEmpty)
      Frame("<tbody>", "", close, "</table></body></html>", head = header)
    else Frame(header + "<tbody>", "", close)
  }

  def contentIterator(df: DataFrame, opts: HtmlOptions): Iterator[String] = {
    val f = frame(df, opts)
    opts.preProcessor.fold(SinkIO.stream(f, opts.limit, rows(df, opts))) { hook =>
      SinkIO.hooked(f, opts.limit, SinkIO.renderedRows(df, opts.mappers, opts.ctxMappers),
        opts.nullValue, hook)((_, row) => Format.htmlRow(row))
    }
  }

  /** Distributed write WITH the reference's whole-document framing —
    * the same [[Frame]] as [[contentIterator]] — via the DSv2
    * [[graft.sinks.v2.FramedTextSink]]; the HTML twin of
    * `XmlSink.writeDirFramed`. Directory files concatenated in name
    * order are byte-identical to [[writeString]] when partition order is
    * global order (DsvWriteSpec). */
  def writeDirFramed(df: DataFrame, path: String, opts: HtmlOptions = HtmlOptions()): Unit =
    SinkIO.writeFramed(rows(df, opts), path, frame(df, opts))
}
