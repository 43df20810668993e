package graft.functions

import java.time.{Instant, ZoneId, ZoneOffset}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes,
  TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, LegacyDateFormats, TimestampFormatter}
import org.apache.spark.sql.graft.{ColumnBridge, TypeBridge}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Value→string rendering helpers shared by eval and codegen paths.
  *
  * Replicates the semantics of the reference's universal renderer
  * (`/root/reference/tostring/tostring.go:34-98`): Go's
  * `strconv.FormatFloat(v, 'f', -1, bits)` prints the shortest decimal
  * string that round-trips, in FIXED notation — never scientific. JVM
  * `Double.toString` also prints shortest-ish round-trip digits but
  * switches to scientific notation outside [1e-3, 1e7); we re-expand via
  * BigDecimal, which preserves the digit run exactly.
  */
object GoFormat {
  // called from generated Java — names must not be Java keywords
  def fmtDouble(d: Double): UTF8String = UTF8String.fromString(formatDouble(d))
  def fmtFloat(f: Float): UTF8String   = UTF8String.fromString(formatFloat(f))

  def formatDouble(d: Double): String = {
    if (java.lang.Double.isNaN(d)) "NaN"
    else if (d == java.lang.Double.POSITIVE_INFINITY) "+Inf"
    else if (d == java.lang.Double.NEGATIVE_INFINITY) "-Inf"
    else plain(java.lang.Double.toString(d))
  }

  def formatFloat(f: Float): String = {
    if (java.lang.Float.isNaN(f)) "NaN"
    else if (f == java.lang.Float.POSITIVE_INFINITY) "+Inf"
    else if (f == java.lang.Float.NEGATIVE_INFINITY) "-Inf"
    else plain(java.lang.Float.toString(f))
  }

  /** Shortest-digits decimal string → fixed notation, Go-'f'-style. */
  private def plain(s: String): String = {
    if (s.indexOf('E') < 0) {
      // JVM always emits a fractional part ("1.0"); Go's shortest form
      // drops it when zero. toString never emits other trailing zeros.
      if (s.endsWith(".0")) s.substring(0, s.length - 2) else s
    } else {
      val bd = new java.math.BigDecimal(s).stripTrailingZeros()
      bd.toPlainString()
    }
  }
}

/** Codegen'd `double`→string in Go `strconv.FormatFloat('f', -1, 64)` form.
  * Native Catalyst expression (not a Scala UDF) so it stays inside
  * whole-stage codegen: the generated code is a single static call.
  */
case class GoFormatDouble(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(v: Any): Any =
    GoFormat.fmtDouble(v.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GoFormat.fmtDouble($c)")
  override protected def withNewChildInternal(c: Expression): GoFormatDouble = copy(c)
}

/** Codegen'd `float`→string in Go `strconv.FormatFloat('f', -1, 32)` form. */
case class GoFormatFloat(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(v: Any): Any =
    GoFormat.fmtFloat(v.asInstanceOf[Float])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GoFormat.fmtFloat($c)")
  override protected def withNewChildInternal(c: Expression): GoFormatFloat = copy(c)
}

/** Go `time.Time` in RFC3339Nano form (`tostring.go:65-70`), written
  * straight into UTF-8 bytes: `yyyy-MM-dd'T'HH:mm:ss`, the fraction with
  * trailing zeros trimmed (omitted when zero), then `Z` or `±hh:mm`.
  *
  * The bytes are those of Spark's `date_format` under the session zone,
  * pattern by pattern (`yyyy-MM-dd'T'HH:mm:ss`, `SSSSSS` with trailing
  * zeros dropped, `XXX`): a TimestampNTZ value is first cast to a
  * timestamp in the zone (a DST-gap wall clock moves forward), and `XXX`
  * drops the seconds of an LMT offset (`-04:56:02` → `-04:56`). The date
  * comes from the day number (proleptic Gregorian, like `java.time`);
  * UTC and fixed offsets touch no `java.time` object per value, other
  * zones ask their `ZoneRules` for the offset. Local years outside
  * 0000–9999, where `date_format` signs the year, go to Spark's own
  * `TimestampFormatter` with the same three patterns.
  */
object GoTime {
  /** Go's zero `time.Time`, 0001-01-01T00:00:00Z, in epoch micros: the one
    * instant `IsZero` reports, whatever the zone it is shown in. */
  final val ZeroMicros = -62135596800000000L

  private final val MicrosPerSecond = 1000000L
  private final val NotFixed = Int.MinValue

  // called from generated Java
  def rfc3339Nano(us: Long, ntz: Boolean, zone: ZoneId): UTF8String = {
    val fixed = fixedOffset(zone)
    val micro = Math.floorMod(us, MicrosPerSecond).toInt
    if (fixed != NotFixed) {
      // an NTZ value is its own wall clock under a fixed offset
      val wall = Math.floorDiv(us, MicrosPerSecond) + (if (ntz) 0 else fixed)
      val out = format(wall, micro, fixed)
      if (out != null) out else fallback(instant(us, ntz, zone), zone)
    } else {
      val inst = instant(us, ntz, zone)
      val secs = Math.floorDiv(inst, MicrosPerSecond)
      val off = zone.getRules.getOffset(Instant.ofEpochSecond(secs)).getTotalSeconds
      val out = format(secs + off, micro, off)
      if (out != null) out else fallback(inst, zone)
    }
  }

  private def fixedOffset(zone: ZoneId): Int = zone match {
    case o: ZoneOffset => o.getTotalSeconds
    case _ =>
      val rules = zone.getRules
      if (rules.isFixedOffset) rules.getOffset(Instant.EPOCH).getTotalSeconds else NotFixed
  }

  /** The instant `date_format` sees: NTZ is cast to the session zone. */
  private def instant(us: Long, ntz: Boolean, zone: ZoneId): Long =
    if (ntz) DateTimeUtils.convertTz(us, zone, ZoneOffset.UTC) else us

  /** Local wall-clock seconds and micro-of-second at offset `off`, or
    * null when the year needs a sign. */
  private def format(wall: Long, micro: Int, off: Int): UTF8String = {
    val days = Math.floorDiv(wall, 86400L)
    val sod = Math.floorMod(wall, 86400L).toInt
    // civil-from-days over 400-year eras, the year starting in March
    val z = days + 719468L
    val era = Math.floorDiv(z, 146097L)
    val doe = (z - era * 146097L).toInt
    val yoe = (doe - doe / 1460 + doe / 36524 - doe / 146096) / 365
    val doy = doe - (365 * yoe + yoe / 4 - yoe / 100)
    val mp = (5 * doy + 2) / 153
    val day = doy - (153 * mp + 2) / 5 + 1
    val month = if (mp < 10) mp + 3 else mp - 9
    val year = yoe + era * 400 + (if (month <= 2) 1 else 0)
    if (year < 0 || year > 9999) return null

    var frac = micro
    var digits = 0
    if (frac != 0) {
      digits = 6
      while (frac % 10 == 0) { frac /= 10; digits -= 1 }
    }
    // `XXX`: hours and minutes of the offset, `Z` when both are zero
    val offH = Math.abs(off / 3600 % 100)
    val offM = Math.abs(off / 60 % 60)
    val zulu = offH == 0 && offM == 0

    val b = new Array[Byte](19 + (if (digits > 0) digits + 1 else 0) + (if (zulu) 1 else 6))
    put2(b, 0, year.toInt / 100); put2(b, 2, year.toInt % 100); b(4) = '-'
    put2(b, 5, month); b(7) = '-'
    put2(b, 8, day); b(10) = 'T'
    put2(b, 11, sod / 3600); b(13) = ':'
    put2(b, 14, sod / 60 % 60); b(16) = ':'
    put2(b, 17, sod % 60)
    var i = 19
    if (digits > 0) {
      b(i) = '.'
      var j = i + digits
      while (j > i) { b(j) = ('0' + frac % 10).toByte; frac /= 10; j -= 1 }
      i += digits + 1
    }
    if (zulu) b(i) = 'Z'
    else {
      b(i) = (if (off < 0) '-' else '+').toByte
      put2(b, i + 1, offH); b(i + 3) = ':'; put2(b, i + 4, offM)
    }
    UTF8String.fromBytes(b)
  }

  private def put2(b: Array[Byte], at: Int, v: Int): Unit = {
    b(at) = ('0' + v / 10).toByte
    b(at + 1) = ('0' + v % 10).toByte
  }

  /** The three `date_format` calls the kernel replaces, for the years it
    * does not write itself. */
  private def fallback(us: Long, zone: ZoneId): UTF8String = {
    def fmt(pattern: String) = TimestampFormatter(pattern, zone,
      LegacyDateFormats.SIMPLE_DATE_FORMAT, isParsing = false).format(us)
    val frac = fmt("SSSSSS").replaceAll("0+$", "")
    UTF8String.fromString(
      fmt("yyyy-MM-dd'T'HH:mm:ss") + (if (frac.isEmpty) "" else "." + frac) + fmt("XXX"))
  }
}

/** Codegen'd RFC3339Nano of a `TIMESTAMP` or `TIMESTAMP_NTZ` in the
  * session zone ([[GoTime.rfc3339Nano]]). With `zeroIsNull`, Go's zero
  * time renders as NULL (`tostring.go:65-67`); for NTZ the zero is the
  * wall clock 0001-01-01T00:00:00. */
case class GoRfc3339Nano(child: Expression, zeroIsNull: Boolean,
                         timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression with ImplicitCastInputTypes {
  override def inputTypes = TypeBridge.anyTimestamp
  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable || zeroIsNull
  private def ntz: Boolean = child.dataType == TimestampNTZType

  override def withTimeZone(tz: String): GoRfc3339Nano = copy(timeZoneId = Some(tz))

  override protected def nullSafeEval(v: Any): Any = {
    val us = v.asInstanceOf[Long]
    if (zeroIsNull && us == GoTime.ZeroMicros) null else GoTime.rfc3339Nano(us, ntz, zoneId)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val zone = ctx.addReferenceObj("zoneId", zoneId, classOf[ZoneId].getName)
    val c = child.genCode(ctx)
    val call = s"${ev.value} = graft.functions.GoTime.rfc3339Nano(${c.value}, $ntz, $zone);"
    val body =
      if (zeroIsNull) s"if (${c.value} == ${GoTime.ZeroMicros}L) ${ev.isNull} = true; else $call"
      else call
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = ${c.isNull};
      UTF8String ${ev.value} = null;
      if (!${ev.isNull}) { $body }""")
  }

  override protected def withNewChildInternal(c: Expression): GoRfc3339Nano = copy(child = c)
}

/** Go's std JSON string escape (`json.go:108-130`) applied to `to_json`
  * output as one pass over UTF-8 bytes: `&` → `\u0026`, `<` → `\u003c`,
  * `>` → `\u003e`, and the control characters Jackson escapes its own way
  * as Go does: `\b` → `\u0008`, `\f` → `\u000c`, and the hex digits of
  * every `\u` escape lowercased. `<>&` only occur inside strings, every
  * multi-byte UTF-8 unit is ≥ 0x80, and an escape is a backslash and the
  * byte after it, so `\\b` (an escaped backslash, then `b`) stays as is. */
object GoJsonEscape {
  // called from generated Java; a string with nothing to rewrite comes back as is
  def escapeHtml(s: UTF8String): UTF8String = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    def at(i: Int): Byte = Platform.getByte(base, off + i)
    var grow = 0
    var changed = false
    var i = 0
    while (i < n) {
      val c = at(i)
      if (c == '<' || c == '>' || c == '&') { grow += 5; changed = true; i += 1 }
      else if (c == '\\' && i + 1 < n) {
        val e = at(i + 1)
        i += 2
        if (e == 'b' || e == 'f') { grow += 4; changed = true }
        else if (e == 'u') {
          val end = math.min(i + 4, n)
          while (i < end) { if (at(i) >= 'A' && at(i) <= 'F') changed = true; i += 1 }
        }
      } else i += 1
    }
    if (!changed) return s
    val out = new Array[Byte](n + grow)
    def unicode(j: Int, hi: Char, lo: Char): Unit = {
      out(j) = '\\'; out(j + 1) = 'u'; out(j + 2) = '0'; out(j + 3) = '0'
      out(j + 4) = hi.toByte; out(j + 5) = lo.toByte
    }
    var j = 0
    i = 0
    while (i < n) {
      val c = at(i)
      if (c == '<' || c == '>' || c == '&') {
        unicode(j, if (c == '&') '2' else '3', if (c == '&') '6' else if (c == '<') 'c' else 'e')
        i += 1; j += 6
      } else if (c == '\\' && i + 1 < n) {
        val e = at(i + 1)
        i += 2
        if (e == 'b' || e == 'f') { unicode(j, '0', if (e == 'b') '8' else 'c'); j += 6 }
        else {
          out(j) = c; out(j + 1) = e; j += 2
          if (e == 'u') {
            val end = math.min(i + 4, n)
            while (i < end) {
              val h = at(i)
              out(j) = if (h >= 'A' && h <= 'F') (h + ('a' - 'A')).toByte else h
              i += 1; j += 1
            }
          }
        }
      } else { out(j) = c; i += 1; j += 1 }
    }
    UTF8String.fromBytes(out)
  }
}

/** Codegen'd [[GoJsonEscape.escapeHtml]] over a JSON string. */
case class GoJsonHtmlEscape(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override protected def nullSafeEval(v: Any): Any =
    GoJsonEscape.escapeHtml(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GoJsonEscape.escapeHtml($c)")
  override protected def withNewChildInternal(c: Expression): GoJsonHtmlEscape = copy(c)
}

/** The render layer: one `Column`-in/`Column`-out string renderer per Spark
  * type, with the reference's NULL semantics
  * (`/root/reference/tostring/tostring.go:34-98`):
  *
  *   - SQL NULL → NULL (`tostring.go:35-37`)
  *   - binary → raw UTF-8 string (`tostring.go:41-42`)
  *   - bool → true/false; ints → base-10 (`tostring.go:43-64`)
  *   - timestamp → RFC3339Nano, with the zero time (0001-01-01T00:00:00Z)
  *     rendered as NULL (`tostring.go:65-70`)
  *   - float/double → shortest round-trip decimal, never scientific
  *     (`tostring.go:71-74`)
  *   - array/map/struct → JSON text, with "[]", "{}", "null" coerced to
  *     NULL (`tostring.go:76-96`)
  *
  * Everything here is a Catalyst expression tree (codegen'd end to end);
  * the custom expressions are the float formatters and the RFC3339Nano
  * kernel above, each a single static call in generated code.
  */
object Render {

  def goDouble(c: Column): Column =
    ColumnBridge.column(GoFormatDouble(ColumnBridge.expression(c)))

  def goFloat(c: Column): Column =
    ColumnBridge.column(GoFormatFloat(ColumnBridge.expression(c)))

  /** RFC3339Nano in the session zone: fractional seconds trimmed of
    * trailing zeros and omitted entirely when zero; UTC renders as `Z`.
    * Go's zero time (`time.Time{}.IsZero()`, the instant
    * 0001-01-01T00:00:00Z) renders as NULL. Spark timestamps are µs so at
    * most 6 fractional digits appear (the reference's ns tail is truncated
    * upstream by the parquet reader — divergence documented in FIXTURES.md).
    */
  def rfc3339Nano(c: Column): Column =
    ColumnBridge.column(GoRfc3339Nano(ColumnBridge.expression(c), zeroIsNull = true))

  /** RFC3339Nano without the zero-time→NULL coercion — the form Go's
    * `json.Marshal(time.Time)` uses (the JSON codec passes values
    * natively and never consults tostring, `json.go:108-120`). */
  def rfc3339NanoRaw(c: Column): Column =
    ColumnBridge.column(GoRfc3339Nano(ColumnBridge.expression(c), zeroIsNull = false))

  /** Go's std JSON string escape over `to_json` text ([[GoJsonEscape]]). */
  def jsonHtmlEscape(c: Column): Column =
    ColumnBridge.column(GoJsonHtmlEscape(ColumnBridge.expression(c)))

  /** JSON-rendered complex value with empty/null coercion
    * (`tostring.go:79-83,91-95`), escaped as Go's `json.Marshal` writes
    * it (`tostring.go:17,89-96`): `<>&` as `\u003c`/`\u003e`/`\u0026`,
    * `\b`/`\f` and every `\u` escape in lowercase hex. */
  private def jsonRender(c: Column): Column = {
    val j = jsonHtmlEscape(to_json(c))
    when(j.isin("[]", "{}", "null"), lit(null).cast(StringType)).otherwise(j)
  }

  /** Render a single column to its reference string form. The result is
    * NULL exactly where the reference reports IsNULL. */
  def render(c: Column, dt: DataType): Column = dt match {
    case StringType        => c
    case BinaryType        => c.cast(StringType) // UTF-8 decode, raw
    case BooleanType       => c.cast(StringType)
    case ByteType | ShortType | IntegerType | LongType => c.cast(StringType)
    case _: DecimalType    => c.cast(StringType)
    case FloatType         => goFloat(c)
    case DoubleType        => goDouble(c)
    case TimestampType | TimestampNTZType => rfc3339Nano(c)
    case DateType          => date_format(c, "yyyy-MM-dd")
    case NullType          => lit(null).cast(StringType)
    case _: ArrayType | _: MapType | _: StructType => jsonRender(c)
    case _                 => c.cast(StringType)
  }

  /** Plan-time slice of the reference's per-cell mapper `Metadata`
    * (`/root/reference/scanner/scanner.go:27-31`, dispatched per cell in
    * `codec/csv/csv.go:163-167`): the column name and the source driver
    * tag are row-invariant, so they resolve once at plan time. RowID is
    * inherently sequential and remains a driver-stream-path concept (the
    * `PreProcessor` hook carries it there, SURVEY §1). */
  final case class MapperContext(columnName: String, driver: String)

  /** Render every column of `df` to StringType, preserving names and
    * NULL-ness. The per-column expressions fuse into one whole-stage
    * codegen projection.
    *
    * `mappers` is the per-DataType custom-mapper surface
    * (`/root/reference/codec/csv/csv.go:52-63,199-205`): the first entry
    * whose DataType matches a column overrides its default rendering. Like
    * the reference's `(value, Metadata)` mapper, it receives the
    * [[MapperContext]] (column name + source driver, read from the
    * [[graft.sources.SourceMeta]] schema metadata that `Slice.fromSql`
    * attaches) and the column, and returns a string Column whose NULL is
    * the reference's `tostring.String{IsNULL: true}`. Go dispatches on
    * per-cell runtime type; Spark's schema makes that per-column static
    * type — a deliberate semantic tightening (SURVEY.md §7f).
    */
  def renderAll(df: DataFrame,
                mappers: Seq[(DataType, (MapperContext, Column) => Column)] = Nil): DataFrame = {
    val cols = df.schema.fields.map { f =>
      mapped(f, mappers).getOrElse(render(col(f.name), f.dataType)).as(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Column `f` through the first custom mapper whose DataType matches
    * it, or None when none does, leaving the caller's own default in
    * force. */
  def mapped(f: StructField,
             mappers: Seq[(DataType, (MapperContext, Column) => Column)]): Option[Column] =
    mappers.collectFirst { case (dt, fn) if dt == f.dataType =>
      fn(MapperContext(f.name, graft.sources.SourceMeta.driverOf(f)), col(f.name)) }
}
