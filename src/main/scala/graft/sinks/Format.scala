package graft.sinks

import java.time.ZoneId

import org.apache.spark.sql.catalyst.util.{DateTimeUtils, LegacyDateFormats, TimestampFormatter}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.GoTime

/** The reference codecs' fixed markup, CSV's space rule and the JSON
  * hook's value writer; the row encoders of CSV, XML and HTML are the
  * [[RowEncoder]]s. Each function cites its source.
  */
object Format {

  /** Go `unicode.IsSpace` — the Unicode White_Space property. Differs from
    * BOTH Java predicates: `Character.isWhitespace` misses U+0085/U+00A0/
    * U+2007/U+202F but adds the 1C-1F separators (not spaces in Go);
    * `isSpaceChar` misses the ASCII controls. */
  def goIsSpace(cp: Int): Boolean = cp match {
    case 0x09 | 0x0A | 0x0B | 0x0C | 0x0D | 0x20 | 0x85 | 0xA0 => true
    case 0x1680 => true
    case c if c >= 0x2000 && c <= 0x200A => true
    case 0x2028 | 0x2029 | 0x202F | 0x205F | 0x3000 => true
    case _ => false
  }

  /** The first code point of `u`, well-formed UTF-8 and not empty. */
  private[sinks] def firstRune(u: UTF8String): Int = {
    def at(j: Int) = Platform.getByte(u.getBaseObject, u.getBaseOffset + j) & 0x3F
    val b0 = Platform.getByte(u.getBaseObject, u.getBaseOffset) & 0xFF
    if (b0 < 0x80) b0
    else if (b0 < 0xE0) (b0 & 0x1F) << 6 | at(1)
    else if (b0 < 0xF0) (b0 & 0x0F) << 12 | at(1) << 6 | at(2)
    else (b0 & 0x07) << 18 | at(1) << 12 | at(2) << 6 | at(3)
  }

  val xmlDeclaration = "<?xml version=\"1.0\" encoding=\"UTF-8\"?>"

  /** The reference's document prefix: CSS collapsed to single spaces via
    * `strings.Join(strings.Fields(...), " ")` (`html.go:194-227`). */
  val htmlPrefix: String =
    """<!DOCTYPE html><html><head><meta charset="utf-8"><title>Go Export</title><style>
      |body, html { margin: 0; padding: 0; }
      |* { margin: 0; padding: 0; }
      |th { border:1px solid #dedede; padding: 15px; border-top: 0px solid red; border-left: 0px solid red; }
      |td { border: 1px solid #dedede; border-top: 0px solid red; border-left: 0px solid red; padding: 10px 10px 10px 10px; max-width:700px; overflow-x: auto; white-space: nowrap; scrollbar-width: none; -ms-overflow-style: none; }
      |.td::-webkit-scrollbar { display: none; }
      |p.typ { margin-top: 5px; color: #333; }
      |</style> </head><body><table style="width:100%;border-spacing:0px;">""".stripMargin
      .split("\\s+").mkString(" ")

  val htmlTheadOpen =
    """<thead style="position:sticky;top:0;z-index:99;background:#f9f9f9;">"""

  def htmlTh(name: String, typeName: String): String =
    s"<th><p>$name</p><p class=typ>$typeName</p></th>"

  /** Default NULL markup (`html.go:36`). */
  val htmlNullValue = """<span style="color:#aaaaaa;">[NULL]</span>"""

  /** Go-std-compatible JSON value writer for the driver-path JSON hook
    * (`json.go:108-130` marshals `map[string]any` with a std-compatible
    * encoder: SORTED keys, HTML escaping of `<>&`, RFC3339Nano times,
    * base64 `[]byte`). Top-level timestamps go through the same
    * [[graft.functions.GoTime]] formatter, in the same session zone, as
    * the distributed `JsonSink.objects`; number formatting matches its
    * `to_json` (JVM `toString`), so both paths emit identical bytes for
    * the same rows. */
  object GoJson {
    /** One row (the hook's `Map[String, Any]`): sorted keys like the
      * reference's map[string]any marshal; DIRECT values are top-level
      * columns, where the distributed path re-formats timestamps to
      * RFC3339Nano — everything deeper is `write` (nested) territory.
      * `zone` is the session time zone both paths render in. */
    def writeRow(m: scala.collection.Map[String, Any], zone: ZoneId): String =
      m.toSeq.sortBy(_._1)
        .map { case (k, x) => quote(k) + ":" + writeTop(x, zone) }
        .mkString("{", ",", "}")

    /** A top-level column value: timestamps render RFC3339Nano (matching
      * `JsonSink.objects`' rfc3339NanoRaw of top-level timestamp
      * columns); all other values share nested semantics. */
    def writeTop(v: Any, zone: ZoneId): String = {
      def rfc3339Nano(us: Long, ntz: Boolean) = quote(GoTime.rfc3339Nano(us, ntz, zone).toString)
      v match {
        case t: java.sql.Timestamp => rfc3339Nano(DateTimeUtils.fromJavaTimestamp(t), ntz = false)
        case i: java.time.Instant => rfc3339Nano(DateTimeUtils.instantToMicros(i), ntz = false)
        // TimestampNTZ surfaces as LocalDateTime; like the distributed
        // path, its wall clock is read in the session zone
        case ldt: java.time.LocalDateTime =>
          rfc3339Nano(DateTimeUtils.localDateTimeToMicros(ldt), ntz = true)
        case other => write(other, zone)
      }
    }

    /** A NESTED value (inside a struct, array, or map). Timestamps at
      * any nesting depth use `to_json`'s DEFAULT rendering (millis,
      * always 3 digits, session-zone offset) — the distributed path can
      * only re-format top-level timestamp COLUMNS, so byte parity below
      * the top level means matching what `to_json` does there, not
      * RFC3339Nano. */
    def write(v: Any, zone: ZoneId): String = v match {
      case null => "null"
      case s: String => quote(s)
      case b: Boolean => b.toString
      case b: Byte => b.toString
      case s: Short => s.toString
      case i: Int => i.toString
      case l: Long => l.toString
      case f: Float => f.toString
      case d: Double => d.toString
      case d: java.math.BigDecimal => d.toPlainString
      case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
      case b: Array[Byte] => quote(java.util.Base64.getEncoder.encodeToString(b))
      case t: java.sql.Timestamp => quote(sparkJsonTs(DateTimeUtils.fromJavaTimestamp(t), zone))
      case i: java.time.Instant => quote(sparkJsonTs(DateTimeUtils.instantToMicros(i), zone))
      // nested TimestampNTZ: `to_json` default = millis, NO zone suffix
      // (probe-pinned: "2024-03-01T10:00:00.000")
      case ldt: java.time.LocalDateTime => quote(sparkJsonTsNtz(ldt))
      // dates marshal as the same "yyyy-MM-dd" string `to_json` emits
      case d: java.sql.Date => quote(d.toString)
      case d: java.time.LocalDate => quote(d.toString)
      // nested structs keep SCHEMA order (matching `to_json`)
      case r: org.apache.spark.sql.Row =>
        val sch = r.schema
        require(sch != null, "nested Row without schema on the JSON driver path")
        sch.fields.zipWithIndex
          .map { case (f, i) =>
            quote(f.name) + ":" + write(if (r.isNullAt(i)) null else r.get(i), zone)
          }
          .mkString("{", ",", "}")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => (k.toString, x) }.sortBy(_._1)
          .map { case (k, x) => quote(k) + ":" + write(x, zone) }
          .mkString("{", ",", "}")
      case s: Iterable[_] => s.map(write(_, zone)).mkString("[", ",", "]")
      case other => throw new IllegalArgumentException(
        s"unsupported JSON value: ${other.getClass.getName}")
    }

    /** Spark `to_json`'s default timestamp rendering — its own formatter
      * and pattern: exactly 3 fraction digits (micros truncated to
      * millis) and the zone's offset, `Z` at UTC. What nested timestamps
      * get on the distributed path. */
    def sparkJsonTs(us: Long, zone: ZoneId): String =
      TimestampFormatter("yyyy-MM-dd'T'HH:mm:ss.SSSXXX", zone,
        LegacyDateFormats.FAST_DATE_FORMAT, isParsing = false).format(us)

    /** `to_json`'s default TimestampNTZ rendering: exactly 3 fraction
      * digits and no zone suffix (a naive wall-clock value). */
    def sparkJsonTsNtz(ldt: java.time.LocalDateTime): String =
      f"${ldt.format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss"))}.${ldt.getNano / 1000000}%03d"

    /** std-JSON string escaping incl. the HTML set (`<>&` → \u00XX). */
    def quote(s: String): String = {
      val sb = new java.lang.StringBuilder(s.length + 2)
      sb.append('"')
      s.foreach {
        case '"'  => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case '<'  => sb.append("\\u003c")
        case '>'  => sb.append("\\u003e")
        case '&'  => sb.append("\\u0026")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"').toString
    }
  }
}
