package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
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
  * the only custom expressions are the two float formatters above.
  */
object Render {

  def goDouble(c: Column): Column =
    ColumnBridge.column(GoFormatDouble(ColumnBridge.expression(c)))

  def goFloat(c: Column): Column =
    ColumnBridge.column(GoFormatFloat(ColumnBridge.expression(c)))

  /** Go zero time: `time.Time{}.IsZero()` ⇔ 0001-01-01T00:00:00 UTC. */
  private val zeroTime: Column = to_timestamp(lit("0001-01-01 00:00:00"))

  /** RFC3339Nano: fractional seconds trimmed of trailing zeros and omitted
    * entirely when zero; UTC renders as `Z`. Spark timestamps are µs so at
    * most 6 fractional digits appear (the reference's ns tail is truncated
    * upstream by the parquet reader — divergence documented in FIXTURES.md).
    */
  def rfc3339Nano(c: Column): Column =
    when(c === zeroTime, lit(null).cast(StringType)).otherwise(rfc3339NanoRaw(c))

  /** RFC3339Nano without the zero-time→NULL coercion — the form Go's
    * `json.Marshal(time.Time)` uses (the JSON codec passes values
    * natively and never consults tostring, `json.go:108-120`). */
  def rfc3339NanoRaw(c: Column): Column = {
    val base = date_format(c, "yyyy-MM-dd'T'HH:mm:ss")
    val frac = regexp_replace(date_format(c, "SSSSSS"), "0+$", "")
    val zone = date_format(c, "XXX") // "Z" at UTC, else ±hh:mm
    concat(
      base,
      when(frac === lit(""), lit("")).otherwise(concat(lit("."), frac)),
      zone)
  }

  /** JSON-rendered complex value with empty/null coercion
    * (`tostring.go:79-83,91-95`). */
  private def jsonRender(c: Column): Column = {
    val j = to_json(c)
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
    * whose DataType matches a column overrides its default rendering. The
    * mapper returns a string Column whose NULL is the reference's
    * `tostring.String{IsNULL: true}`. Go dispatches on per-cell runtime
    * type; Spark's schema makes that per-column static type — a deliberate
    * semantic tightening (SURVEY.md §7f).
    *
    * `ctxMappers` is the context-aware variant: it additionally receives
    * the [[MapperContext]] (column name + source driver, read from the
    * [[graft.sources.SourceMeta]] schema metadata that `Slice.fromSql`
    * attaches). Context mappers win over plain mappers on a type clash.
    */
  def renderAll(df: DataFrame,
                mappers: Seq[(DataType, Column => Column)] = Nil,
                ctxMappers: Seq[(DataType, (MapperContext, Column) => Column)] = Nil): DataFrame = {
    val cols = df.schema.fields.map { f =>
      mapped(f, mappers, ctxMappers).getOrElse(render(col(f.name), f.dataType)).as(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Column `f` through the first custom mapper whose DataType matches
    * it — a context mapper before a plain one — or None when none does,
    * leaving the caller's own default in force. */
  def mapped(f: StructField,
             mappers: Seq[(DataType, Column => Column)],
             ctxMappers: Seq[(DataType, (MapperContext, Column) => Column)]): Option[Column] =
    ctxMappers.collectFirst { case (dt, fn) if dt == f.dataType =>
        fn(MapperContext(f.name, graft.sources.SourceMeta.driverOf(f)), col(f.name)) }
      .orElse(mappers.collectFirst { case (dt, fn) if dt == f.dataType => fn(col(f.name)) })
}
