package graft

import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties}

import graft.functions.{GoFormat, GoJsonEscape, GoTime}
import graft.sinks.{CsvRow, Format, HtmlRow, XmlRow}

/** ScalaCheck property suites over the pure kernels (no SparkSession —
  * these run as native ScalaCheck tests under sbt). */
object FormatProps extends Properties("graft.format") {

  property("goFloat never scientific and round-trips") =
    Prop.forAll(Gen.chooseNum(-1e308, 1e308)) { d =>
      val s = GoFormat.formatDouble(d)
      !s.contains("E") && !s.contains("e") &&
        java.lang.Double.parseDouble(s) == d
    }

  property("goFloat of integral doubles has no fraction") =
    Prop.forAll(Gen.chooseNum(-1000000L, 1000000L)) { n =>
      GoFormat.formatDouble(n.toDouble) == n.toString
    }

  private val fieldGen: Gen[String] = Gen.listOf(Gen.frequency(
    8 -> Gen.alphaNumChar,
    2 -> Gen.oneOf(',', '"', '\n', '\r', ' ', '\t', ';', '|'))).map(_.mkString)

  /** Minimal RFC-4180 parser (quote-doubling) to invert csvField. */
  private def parseCsvLine(line: String, d: Char): IndexedSeq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var i = 0
    var inQ = false
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQ) {
        if (c == '"' && i + 1 < line.length && line.charAt(i + 1) == '"') { sb += '"'; i += 1 }
        else if (c == '"') inQ = false
        else sb += c
      } else {
        if (c == '"') inQ = true
        else if (c == d) { out += sb.toString; sb.clear() }
        else sb += c
      }
      i += 1
    }
    out += sb.toString
    out.toIndexedSeq
  }

  private def utf8(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)

  private def csvLine(fields: Seq[String], d: Char = ',', crlf: Boolean = false): String =
    CsvRow(d, crlf, "").encode(fields.map(utf8).toArray).toString

  /** One cell through the XML row encoder, without the row's tags. */
  private def xmlText(s: String): String =
    XmlRow(Seq("c")).encode(Array(utf8(s))).toString.stripPrefix("<row><c>").stripSuffix("</c></row>")

  property("csv line encode/parse round-trips (LF mode)") =
    Prop.forAll(Gen.listOfN(3, fieldGen)) { fields =>
      val f = fields.toIndexedSeq
      parseCsvLine(csvLine(f), ',') == f
    }

  property("xml escape kills every markup-significant char") =
    Prop.forAll(fieldGen) { s =>
      val e = xmlText(s)
      !e.exists(c => c == '<' || c == '>') &&
        !e.replace("&amp;", "").replace("&#34;", "").replace("&#39;", "")
          .replace("&lt;", "").replace("&gt;", "")
          .replace("&#x9;", "").replace("&#xA;", "").replace("&#xD;", "")
          .contains('&')
    }

  property("xml escape round-trips through reference entity set") =
    Prop.forAll(fieldGen) { s =>
      val unescaped = xmlText(s)
        .replace("&#34;", "\"").replace("&#39;", "'")
        .replace("&lt;", "<").replace("&gt;", ">")
        .replace("&#x9;", "\t").replace("&#xA;", "\n").replace("&#xD;", "\r")
        .replace("&amp;", "&")
      unescaped == s
    }

  /** Go `unicode.IsSpace` = the Unicode White_Space property. */
  private val goSpaceRunes: Seq[Char] =
    Seq('\u0009', '\u000A', '\u000B', '\u000C', '\u000D', '\u0020',
      '\u0085', '\u00A0', '\u1680') ++
      ('\u2000' to '\u200A') ++
      Seq('\u2028', '\u2029', '\u202F', '\u205F', '\u3000')

  property("leading Go-space rune forces CSV quoting (incl. NEL, NBSP)") =
    Prop.forAll(Gen.oneOf(goSpaceRunes), Gen.alphaNumStr) { (sp, rest) =>
      csvLine(Seq(sp.toString + rest)).startsWith("\"")
    }

  property("Java-only whitespace (1C-1F separators) does NOT quote") =
    Prop.forAll(Gen.oneOf('\u001C', '\u001D', '\u001E', '\u001F'),
      Gen.alphaNumStr) { (sep, rest) =>
      // Character.isWhitespace says yes for these; Go unicode.IsSpace
      // says no - the reference leaves such fields unquoted
      !csvLine(Seq(sep.toString + rest)).startsWith("\"")
    }

  property("AVI container round-trip: walk recovers every written frame") =
    Prop.forAll(
      Gen.chooseNum(0, 8).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(0, 300).flatMap(sz =>
          Gen.listOfN(sz, Gen.chooseNum(-128, 127).map(_.toByte))
            .map(_.toArray)))),
      Gen.chooseNum(1, 640), Gen.chooseNum(1, 480)) { (frames, w, h) =>
      // the container is codec-agnostic: arbitrary (non-JPEG) frame
      // bytes must survive write→walk byte-identically, with idx1 and
      // the avih frame count agreeing with the walked movi chunks
      val avi = graft.functions.Riff.aviMjpeg(frames, w, h)
      graft.functions.Riff.walk(avi).exists { info =>
        info.totalFrames == frames.length &&
        info.idx1Entries == frames.length &&
        info.width == w && info.height == h &&
        info.frames.length == frames.length &&
        info.frames.zip(frames).forall { case ((off, len), orig) =>
          len == orig.length &&
          java.util.Arrays.equals(
            java.util.Arrays.copyOfRange(avi, off, off + len), orig)
        }
      }
    }

  private val secondsFmt = DateTimeFormatter.ofPattern("uuuu-MM-dd'T'HH:mm:ss")

  property("RFC3339Nano at UTC matches a java.time rendering, TIMESTAMP and NTZ") =
    Prop.forAll(Gen.chooseNum(GoTime.ZeroMicros, 253402300799999999L)) { us =>
      val t = LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
        Math.floorMod(us, 1000000L).toInt * 1000, ZoneOffset.UTC)
      val frac = f"${t.getNano / 1000}%06d".reverse.dropWhile(_ == '0').reverse
      val want = secondsFmt.format(t) + (if (frac.isEmpty) "" else "." + frac) + "Z"
      GoTime.rfc3339Nano(us, ntz = false, ZoneOffset.UTC).toString == want &&
        GoTime.rfc3339Nano(us, ntz = true, ZoneOffset.UTC).toString == want
    }

  /** Text mixing `<>&`, JSON quoting, and 2-, 3- and 4-byte UTF-8. */
  private val jsonTextGen: Gen[String] = Gen.listOf(Gen.frequency(
    6 -> Gen.alphaNumChar.map(_.toString),
    3 -> Gen.oneOf("<", ">", "&"),
    2 -> Gen.oneOf("\"", "\\\\", "\\u0026", ":", ","),
    2 -> Gen.oneOf("é", "€", "\u00a0", "😀"))).map(_.mkString)

  /** `s`'s UTF-8 bytes inside a larger buffer: a string that does not
    * start at the array's first byte. */
  private def sliced(s: String): UTF8String = {
    val b = s.getBytes("UTF-8")
    UTF8String.fromBytes(Array[Byte]('<', '&') ++ b ++ Array[Byte]('>'), 2, b.length)
  }

  property("JSON <>& escape matches the replace chain on mixed UTF-8 text") =
    Prop.forAll(jsonTextGen) { s =>
      val want = s.replace("&", "\\u0026").replace("<", "\\u003c").replace(">", "\\u003e")
      GoJsonEscape.escapeHtml(UTF8String.fromString(s)).toString == want &&
        GoJsonEscape.escapeHtml(sliced(s)).toString == want
    }

  property("JSON <>& escape returns its input when there is nothing to escape") =
    Prop.forAll(jsonTextGen.map(_.filterNot(c => c == '<' || c == '>' || c == '&'))) { s =>
      val u = sliced(s)
      GoJsonEscape.escapeHtml(u) eq u
    }

  // ---- byte encoders against the String encoders they replaced ----

  /** Unicode text for the row encoders: every character class one of
    * them treats apart, 4-byte code points included. */
  private val cellGen: Gen[String] = {
    val piece = Gen.frequency(
      6 -> Gen.alphaNumChar.map(_.toString),
      4 -> Gen.oneOf(",", "\"", "\n", "\r", "\r\n", " ", "\t", ";", "；", "\\", ".", "<", ">", "&", "'"),
      2 -> Gen.oneOf(goSpaceRunes).map(_.toString),
      2 -> Gen.oneOf('\u001C', '\u001D', '\u001E', '\u001F').map(_.toString),
      2 -> Gen.choose(0, 0x1F).map(c => c.toChar.toString),
      2 -> Gen.oneOf("\uFFFE", "\uFFFF", "\uFFFD", "\u007F"),
      2 -> Gen.oneOf("é", "€", "日", "😀", "\uD834\uDD1E"))
    Gen.frequency(
      1 -> Gen.const("\\."),
      1 -> Gen.const(""),
      1 -> Gen.zip(Gen.oneOf(goSpaceRunes), Gen.listOf(piece)).map { case (c, p) => c.toString + p.mkString },
      8 -> Gen.listOf(piece).map(_.mkString))
  }

  /** 1 to 5 cells, a NULL being `null`. */
  private val rowGen: Gen[Array[String]] =
    Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, Gen.frequency(1 -> Gen.const(null: String), 5 -> cellGen)))
      .map(_.toArray)

  private val delimGen = Gen.oneOf(',', '\t', '；', ';', '|')
  private val nullGen = Gen.oneOf("", "NULL", " N,A;", "\\.", "<span>[NULL]</span>")

  private def sameBytes(got: UTF8String, want: String): Boolean =
    java.util.Arrays.equals(got.getBytes, want.getBytes("UTF-8"))

  private def filled(row: Array[String], nullAs: String) =
    row.map(c => if (c == null) nullAs else c).toIndexedSeq

  property("CsvRow gives csvLine's bytes: Go spaces, \\., tab and ； delimiters, CR/LF in both modes") =
    Prop.forAll(rowGen, delimGen, Gen.oneOf(false, true), nullGen) { (row, d, crlf, nv) =>
      sameBytes(CsvRow(d, crlf, nv).encode(row.map(utf8)), StringFormat.csvLine(filled(row, nv), d, crlf))
    }

  property("XmlRow gives xmlRow's bytes: C0 controls, U+FFFE/U+FFFF, NULLs left out") =
    Prop.forAll(rowGen) { row =>
      val names = row.indices.map(i => s"c_$i")
      sameBytes(XmlRow(names).encode(row.map(utf8)), StringFormat.xmlRow(names, row, filled(row, "")))
    }

  property("HtmlRow gives htmlRow's bytes") =
    Prop.forAll(rowGen, nullGen) { (row, nv) =>
      sameBytes(HtmlRow(nv).encode(row.map(utf8)), StringFormat.htmlRow(filled(row, nv)))
    }

  /** Bytes rich in malformed UTF-8 (a bad continuation, a lone `FF`, a
    * truncated sequence, an encoded surrogate, an overlong form, a code
    * point past U+10FFFF) beside well-formed text. */
  private val rawGen: Gen[Array[Byte]] = {
    def bytes(xs: Int*) = xs.map(_.toByte).toArray
    Gen.listOf(Gen.frequency(
      4 -> cellGen.map(_.getBytes("UTF-8")),
      3 -> Gen.oneOf(bytes(0xC3, 0x28), bytes(0xFF), bytes(0xE2, 0x82), bytes(0xED, 0xA0, 0x80),
        bytes(0xC0, 0x80), bytes(0xF4, 0x90, 0x80, 0x80), bytes(0xE0, 0x80, 0x80), bytes(0xF0, 0x9F, 0x98)),
      2 -> Gen.listOfN(3, Gen.choose(0x80, 0xFF)).map(b => bytes(b: _*)))).map(_.toArray.flatten)
  }

  property("malformed UTF-8 cells encode as their String decoding, on every row encoder") =
    Prop.forAll(Gen.choose(1, 4).flatMap(Gen.listOfN(_, rawGen)), delimGen, Gen.oneOf(false, true)) {
      (raws, d, crlf) =>
        // each cell starts past the first byte of its array
        val cells = raws.map(b => UTF8String.fromBytes(Array[Byte]('"') ++ b, 1, b.length)).toArray
        val text = cells.map(_.toString).toIndexedSeq
        val names = cells.indices.map(i => s"c_$i")
        sameBytes(CsvRow(d, crlf, "").encode(cells), StringFormat.csvLine(text, d, crlf)) &&
          sameBytes(XmlRow(names).encode(cells), StringFormat.xmlRow(names, text.toArray, text)) &&
          sameBytes(HtmlRow("").encode(cells), StringFormat.htmlRow(text))
    }
}

/** The String encoders the byte [[graft.sinks.RowEncoder]]s replaced,
  * kept as they were as the reference model the parity properties and
  * SinkSpec compare against. */
object StringFormat {
  import Format.goIsSpace

  /** Go `encoding/csv` quoting decision (writer.go `fieldNeedsQuotes`):
    * empty fields are never quoted; `\.` always is (postgres dump quirk);
    * fields containing the delimiter, a quote, CR or LF are quoted; so are
    * fields whose first rune is a space (Go `unicode.IsSpace`, which
    * includes NEL and NBSP). */
  def csvNeedsQuotes(field: String, delimiter: Char): Boolean = {
    if (field.isEmpty) false
    else if (field == "\\.") true
    else if (field.indexOf(delimiter) >= 0) true
    else if (field.exists(c => c == '"' || c == '\r' || c == '\n')) true
    else goIsSpace(field.codePointAt(0))
  }

  /** Encode one CSV field: double inner quotes; in CRLF mode, newlines
    * inside quoted fields become CRLF and bare CRs are dropped (Go
    * csv.Writer's quoted-field loop). */
  def csvField(field: String, delimiter: Char, useCRLF: Boolean): String = {
    if (!csvNeedsQuotes(field, delimiter)) field
    else {
      val doubled = field.replace("\"", "\"\"")
      val body =
        if (useCRLF) doubled.replace("\r", "").replace("\n", "\r\n")
        else doubled
      "\"" + body + "\""
    }
  }

  /** One CSV record, no line terminator. `null` cells must already be
    * replaced by the configured nullValue (`csv.go:195-198`). */
  def csvLine(fields: IndexedSeq[String], delimiter: Char, useCRLF: Boolean): String =
    fields.map(csvField(_, delimiter, useCRLF)).mkString(delimiter.toString)

  /** Go `xml.EscapeText` on a valid-UTF-8 string: the five XML specials
    * plus tab/LF/CR as character references (`xml.go:118`), and U+FFFD for
    * every other character outside XML's Char production (the C0 controls,
    * U+FFFE and U+FFFF). */
  def xmlEscape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '"'  => sb.append("&#34;")
        case '\'' => sb.append("&#39;")
        case '&'  => sb.append("&amp;")
        case '<'  => sb.append("&lt;")
        case '>'  => sb.append("&gt;")
        case '\t' => sb.append("&#x9;")
        case '\n' => sb.append("&#xA;")
        case '\r' => sb.append("&#xD;")
        case c if c < ' ' || c >= '\uFFFE' => sb.append('\uFFFD')
        case c    => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** One `<row>` element: NULL cells omitted entirely, values escaped,
    * element names taken raw from column names (`xml.go:111-122`). `null`
    * entries in `mask` (the rendered cells) mark NULL; the other cells
    * are written from `row`, so a row rewritten by a hook never brings a
    * NULL back (`xml.go:94-96,113-115`). */
  def xmlRow(names: IndexedSeq[String], mask: Array[String], row: IndexedSeq[String]): String = {
    val sb = new java.lang.StringBuilder("<row>")
    var i = 0
    while (i < names.length) {
      if (mask(i) != null) {
        sb.append('<').append(names(i)).append('>')
        sb.append(xmlEscape(row(i)))
        sb.append("</").append(names(i)).append('>')
      }
      i += 1
    }
    sb.append("</row>").toString
  }

  /** One `<tr>`: cells are written RAW (the reference does not HTML-escape
    * cell contents, `html.go:155-162`); NULL cells must already carry the
    * configured nullValue markup. */
  def htmlRow(cells: IndexedSeq[String]): String =
    cells.mkString("<tr><td>", "</td><td>", "</td></tr>")
}
