package graft.sinks

import java.nio.charset.StandardCharsets.UTF_8

import net.jpountz.lz4.LZ4Compressor
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** A growable byte array: one encoded row, or one driver-stream chunk. */
private[graft] final class ByteBuf(capacity: Int) {
  private var buf = new Array[Byte](math.max(capacity, 16))
  private var n = 0

  def size: Int = n
  /** Drops every byte written after `mark`, a former [[size]]. */
  def truncate(mark: Int): Unit = n = mark

  private def room(k: Int): Unit =
    if (n + k > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, n + k))

  def put(b: Int): Unit = { room(1); buf(n) = b.toByte; n += 1 }
  def put(b: Array[Byte]): Unit = { room(b.length); System.arraycopy(b, 0, buf, n, b.length); n += b.length }
  def put(base: AnyRef, offset: Long, len: Int): Unit = {
    room(len)
    Platform.copyMemory(base, offset, buf, Platform.BYTE_ARRAY_OFFSET + n, len)
    n += len
  }
  def put(u: UTF8String): Unit = put(u.getBaseObject, u.getBaseOffset, u.numBytes)

  /** The bytes written, over this buffer's own array: write no more. */
  def utf8: UTF8String = UTF8String.fromBytes(buf, 0, n)
  /** The bytes written, as one LZ4 block. */
  def packed(c: LZ4Compressor): Array[Byte] = c.compress(buf, 0, n)
}

/** Well-formed UTF-8 (Unicode Table 3-7): exactly the byte strings that
  * Java's decoder reads without a U+FFFD. */
private[graft] object Utf8 {
  /** Length of the well-formed sequence at `i`, whose lead byte is ≥ 0x80,
    * of the `n` bytes at `base`/`off`; 0 where it is malformed. */
  def seqLen(base: AnyRef, off: Long, i: Int, n: Int): Int = {
    def at(j: Int): Int = if (j < n) Platform.getByte(base, off + j) & 0xFF else 0
    def cont(j: Int): Boolean = (at(j) & 0xC0) == 0x80
    def in(j: Int, lo: Int, hi: Int): Boolean = { val b = at(j); b >= lo && b <= hi }
    val b0 = at(i)
    if (b0 < 0xC2) 0
    else if (b0 < 0xE0) { if (cont(i + 1)) 2 else 0 }
    else if (b0 < 0xF0) {
      val second = if (b0 == 0xE0) in(i + 1, 0xA0, 0xBF) else if (b0 == 0xED) in(i + 1, 0x80, 0x9F) else cont(i + 1)
      if (second && cont(i + 2)) 3 else 0
    } else if (b0 < 0xF5) {
      val second = if (b0 == 0xF0) in(i + 1, 0x90, 0xBF) else if (b0 == 0xF4) in(i + 1, 0x80, 0x8F) else cont(i + 1)
      if (second && cont(i + 2) && cont(i + 3)) 4 else 0
    } else 0
  }

  /** `u` re-encoded from Java's decoding of it: each malformed sequence
    * becomes U+FFFD, as a `String` round trip makes it. */
  def repaired(u: UTF8String): UTF8String = UTF8String.fromString(u.toString)

  /** `u` when it is well-formed, else [[repaired]]. */
  def wellFormed(u: UTF8String): UTF8String = {
    val base = u.getBaseObject
    val off = u.getBaseOffset
    val n = u.numBytes
    var i = 0
    while (i < n) {
      if (Platform.getByte(base, off + i) >= 0) i += 1
      else {
        val k = seqLen(base, off, i, n)
        if (k == 0) return repaired(u)
        i += k
      }
    }
    u
  }
}

/** One codec's row encoder: the Go-exact UTF-8 bytes of one row of
  * rendered cells, `null` marking a NULL. A cell that is not well-formed
  * UTF-8 is encoded as Java decodes it (each malformed sequence one
  * U+FFFD), so the bytes are those of the row's `String` cells encoded
  * to UTF-8. It runs inside the render projection's generated code
  * ([[EncodeRow]]) and, on the hook's rewritten rows, on the driver. */
private[graft] abstract class RowEncoder extends Serializable {
  /** What a NULL cell is written as, or None where NULL cells are left
    * out. */
  def nullAs: Option[String]

  def encode(cells: Array[UTF8String]): UTF8String

  /** Bytes of the cells as they are, a NULL counted as `nulls` bytes. */
  protected final def cellBytes(cells: Array[UTF8String], nulls: Int): Int = {
    var sum = 0
    var i = 0
    while (i < cells.length) {
      sum += (if (cells(i) == null) nulls else cells(i).numBytes)
      i += 1
    }
    sum
  }
}

/** Go `encoding/csv`'s writer (`writer.go`), one record without its line
  * end. A field is quoted when it holds the delimiter, a quote, CR or LF,
  * when its first rune is a Go space ([[Format.goIsSpace]]: NEL and NBSP
  * are, the 1C-1F separators are not) and when it is `\.` (Go's postgres
  * dump quirk); an empty field never is. Inside quotes `"` doubles and,
  * with `useCRLF`, LF becomes CRLF and a bare CR is dropped. A NULL cell
  * is the field `nullValue` (`csv.go:195-198`). */
private[graft] final case class CsvRow(delimiter: Char, useCRLF: Boolean, nullValue: String)
    extends RowEncoder {
  require(!Character.isSurrogate(delimiter), "the CSV delimiter must be a Unicode scalar value")
  private val delim = delimiter.toString.getBytes(UTF_8)
  private val nul: Array[Byte] = {
    val b = new ByteBuf(nullValue.length + 2)
    field(UTF8String.fromString(nullValue), b)
    b.utf8.getBytes
  }

  def nullAs: Option[String] = Some(nullValue)

  def encode(cells: Array[UTF8String]): UTF8String = {
    val out = new ByteBuf(cellBytes(cells, nul.length) + cells.length * delim.length + 2)
    var i = 0
    while (i < cells.length) {
      if (i > 0) out.put(delim)
      if (cells(i) == null) out.put(nul) else field(cells(i), out)
      i += 1
    }
    out.utf8
  }

  private def field(u: UTF8String, out: ByteBuf): Unit = quoting(u) match {
    case 0 => out.put(u)
    case 1 => quoted(u, out)
    case _ => field(Utf8.repaired(u), out)
  }

  /** 0 when `u` is written as is, 1 when quoted, -1 when it is malformed. */
  private def quoting(u: UTF8String): Int = {
    val base = u.getBaseObject
    val off = u.getBaseOffset
    val n = u.numBytes
    def at(j: Int) = Platform.getByte(base, off + j)
    var quote = n == 2 && at(0) == '\\' && at(1) == '.'
    var i = 0
    while (i < n) {
      val b = at(i)
      if (b >= 0) {
        if (b == '"' || b == '\r' || b == '\n' || (delim.length == 1 && b == delim(0))) quote = true
        i += 1
      } else {
        val k = Utf8.seqLen(base, off, i, n)
        if (k == 0) return -1
        if (k == delim.length && !quote) {
          var j = 0
          while (j < k && at(i + j) == delim(j)) j += 1
          quote = j == k
        }
        i += k
      }
    }
    if (quote || (n > 0 && Format.goIsSpace(Format.firstRune(u)))) 1 else 0
  }

  private def quoted(u: UTF8String, out: ByteBuf): Unit = {
    val base = u.getBaseObject
    val off = u.getBaseOffset
    val n = u.numBytes
    out.put('"')
    var run = 0
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if (b == '"' || b == '\r' || b == '\n') {
        out.put(base, off + run, i - run)
        if (b == '"') { out.put('"'); out.put('"') }
        else if (b == '\n') { if (useCRLF) out.put('\r'); out.put('\n') }
        else if (!useCRLF) out.put('\r')
        run = i + 1
      }
      i += 1
    }
    out.put(base, off + run, n - run)
    out.put('"')
  }
}

/** Go `encoding/xml`'s row (`xml.go:111-122`): `<row>`, then for each
  * non-NULL cell `<name>`, the value through `xml.EscapeText` and
  * `</name>`, then `</row>`; element names are written raw. EscapeText
  * writes the five XML specials and tab, LF and CR as character
  * references (`xml.go:118`), and U+FFFD for every other character
  * outside XML's Char production: the C0 controls, U+FFFE and U+FFFF. */
private[graft] final case class XmlRow(names: Seq[String]) extends RowEncoder {
  private val opens = names.map(n => s"<$n>".getBytes(UTF_8)).toArray
  private val closes = names.map(n => s"</$n>".getBytes(UTF_8)).toArray
  private val tags = opens.map(_.length).sum + closes.map(_.length).sum + 11

  def nullAs: Option[String] = None

  def encode(cells: Array[UTF8String]): UTF8String = {
    val out = new ByteBuf(cellBytes(cells, 0) + tags)
    out.put(XmlRow.RowOpen)
    var i = 0
    while (i < cells.length) {
      if (cells(i) != null) {
        out.put(opens(i))
        escape(cells(i), out)
        out.put(closes(i))
      }
      i += 1
    }
    out.put(XmlRow.RowClose)
    out.utf8
  }

  private def escape(u: UTF8String, out: ByteBuf): Unit = {
    val base = u.getBaseObject
    val off = u.getBaseOffset
    val n = u.numBytes
    def at(j: Int) = Platform.getByte(base, off + j)
    val mark = out.size
    var run = 0
    var i = 0
    while (i < n) {
      val b = at(i)
      if (b >= 0) {
        val ref = XmlRow.Refs(b)
        if (ref != null) { out.put(base, off + run, i - run); out.put(ref); run = i + 1 }
        i += 1
      } else {
        val k = Utf8.seqLen(base, off, i, n)
        if (k == 0) { out.truncate(mark); escape(Utf8.repaired(u), out); return }
        // U+FFFE and U+FFFF: EF BF BE, EF BF BF
        if (k == 3 && b == 0xEF.toByte && at(i + 1) == 0xBF.toByte && (at(i + 2) & 0xFF) >= 0xBE) {
          out.put(base, off + run, i - run); out.put(XmlRow.Fffd); run = i + 3
        }
        i += k
      }
    }
    out.put(base, off + run, n - run)
  }
}

private[graft] object XmlRow {
  val RowOpen: Array[Byte] = "<row>".getBytes(UTF_8)
  val RowClose: Array[Byte] = "</row>".getBytes(UTF_8)
  val Fffd: Array[Byte] = "\uFFFD".getBytes(UTF_8)

  /** What `xml.EscapeText` writes for each ASCII byte; null where it is
    * written as is. */
  val Refs: Array[Array[Byte]] = Array.tabulate(128)(_.toChar match {
    case '"' => "&#34;".getBytes(UTF_8)
    case '\'' => "&#39;".getBytes(UTF_8)
    case '&' => "&amp;".getBytes(UTF_8)
    case '<' => "&lt;".getBytes(UTF_8)
    case '>' => "&gt;".getBytes(UTF_8)
    case '\t' => "&#x9;".getBytes(UTF_8)
    case '\n' => "&#xA;".getBytes(UTF_8)
    case '\r' => "&#xD;".getBytes(UTF_8)
    case c if c < ' ' => Fffd
    case _ => null
  })
}

/** One `<tr>` (`html.go:155-162`): cells written raw — the reference does
  * not HTML-escape cell contents — a NULL cell as `nullValue` markup. */
private[graft] final case class HtmlRow(nullValue: String) extends RowEncoder {
  private val nul = nullValue.getBytes(UTF_8)

  def nullAs: Option[String] = Some(nullValue)

  def encode(cells: Array[UTF8String]): UTF8String = {
    val out = new ByteBuf(cellBytes(cells, nul.length) + 9 * cells.length + 10)
    out.put(HtmlRow.TrOpen)
    var i = 0
    while (i < cells.length) {
      if (i > 0) out.put(HtmlRow.TdSep)
      if (cells(i) == null) out.put(nul) else out.put(Utf8.wellFormed(cells(i)))
      i += 1
    }
    out.put(HtmlRow.TrClose)
    out.utf8
  }
}

private[graft] object HtmlRow {
  val TrOpen: Array[Byte] = "<tr><td>".getBytes(UTF_8)
  val TdSep: Array[Byte] = "</td><td>".getBytes(UTF_8)
  val TrClose: Array[Byte] = "</td></tr>".getBytes(UTF_8)
}

/** Codegen'd [[RowEncoder]] over the render projection's cells: the
  * generated code gathers the cells and makes one call per row. */
private[graft] case class EncodeRow(children: Seq[Expression], encoder: RowEncoder) extends Expression {
  override def nullable: Boolean = false
  override def dataType: DataType = StringType

  override def eval(input: InternalRow): Any =
    encoder.encode(children.map(_.eval(input).asInstanceOf[UTF8String]).toArray)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val enc = ctx.addReferenceObj("encoder", encoder, classOf[RowEncoder].getName)
    val cells = ctx.freshName("cells")
    val gather = children.zipWithIndex.map { case (c, i) =>
      val e = c.genCode(ctx)
      s"""
        ${e.code}
        if (!${e.isNull}) $cells[$i] = ${e.value};"""
    }
    val body = ctx.splitExpressionsWithCurrentInputs(gather, "encodeRowCells",
      ("UTF8String[]", cells) :: Nil)
    ev.copy(code = code"""
      UTF8String[] $cells = new UTF8String[${children.length}];
      $body
      UTF8String ${ev.value} = $enc.encode($cells);""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): EncodeRow =
    copy(children = c)
}
