package graft

import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties}

import graft.functions.{GoFormat, GoJsonEscape, GoTime}
import graft.sinks.Format

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

  property("csv line encode/parse round-trips (LF mode)") =
    Prop.forAll(Gen.listOfN(3, fieldGen)) { fields =>
      val f = fields.toIndexedSeq
      val line = Format.csvLine(f, ',', useCRLF = false)
      parseCsvLine(line, ',') == f
    }

  property("xml escape kills every markup-significant char") =
    Prop.forAll(fieldGen) { s =>
      val e = Format.xmlEscape(s)
      !e.exists(c => c == '<' || c == '>') &&
        !e.replace("&amp;", "").replace("&#34;", "").replace("&#39;", "")
          .replace("&lt;", "").replace("&gt;", "")
          .replace("&#x9;", "").replace("&#xA;", "").replace("&#xD;", "")
          .contains('&')
    }

  property("xml escape round-trips through reference entity set") =
    Prop.forAll(fieldGen) { s =>
      val unescaped = Format.xmlEscape(s)
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
      Format.csvNeedsQuotes(sp.toString + rest, ',')
    }

  property("Java-only whitespace (1C-1F separators) does NOT quote") =
    Prop.forAll(Gen.oneOf('\u001C', '\u001D', '\u001E', '\u001F'),
      Gen.alphaNumStr) { (sep, rest) =>
      // Character.isWhitespace says yes for these; Go unicode.IsSpace
      // says no - the reference leaves such fields unquoted
      !Format.csvNeedsQuotes(sep.toString + rest, ',')
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
}
