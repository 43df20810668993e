package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** In-memory source with the reference slice scanner's semantics
  * (`/root/reference/scanner/slice.go`):
  *
  *   - schema inferred from ROW 0 (`slice.go:68-87`); names synthesized
  *     as `column_%d` (`slice.go:76`)
  *   - a `nil` cell in row 0 types the column as "nil" (`slice.go:79`)
  *     → Spark `NullType`
  *   - rows after the first are validated against row 0's arity only
  *     (`slice.go:57-60`), with the same error text
  *
  * Where Go boxes heterogeneous `any` cells, Spark's schema is
  * per-column static — mixed-type columns are a documented tightening
  * (SURVEY.md §7f).
  */
object Slice {

  def fromData(spark: SparkSession, rows: Seq[Seq[Any]]): DataFrame = {
    if (rows == null || rows.isEmpty) return spark.emptyDataFrame
    val first = rows.head
    val schema = StructType(first.zipWithIndex.map { case (v, i) =>
      StructField(s"column_$i", inferType(v), nullable = true)
    })
    rows.zipWithIndex.drop(1).foreach { case (r, i) =>
      if (r.length != first.length)
        throw new IllegalArgumentException(
          s"length of row ${i + 1} != length of the first row: ${r.length} != ${first.length}")
    }
    val data = rows.map(r => Row.fromSeq(r.map(normalize)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(data.toIndexedSeq), schema)
  }

  /** `reflect.TypeOf(v)` → Spark DataType (`slice.go:77-83`). */
  private def inferType(v: Any): DataType = v match {
    case null                  => NullType
    case _: Boolean            => BooleanType
    case _: Byte               => ByteType
    case _: Short              => ShortType
    case _: Int                => IntegerType
    case _: Long               => LongType
    case _: Float              => FloatType
    case _: Double             => DoubleType
    case _: String             => StringType
    case _: Array[Byte]        => BinaryType
    case _: java.sql.Timestamp => TimestampType
    case _: java.time.Instant  => TimestampType
    case _: java.sql.Date      => DateType
    case _: java.time.LocalDate => DateType
    case _: java.math.BigDecimal => DecimalType(38, 18)
    case _: scala.math.BigDecimal => DecimalType(38, 18)
    case s: Seq[_] if s.nonEmpty => ArrayType(inferType(s.head))
    case m: Map[_, _] if m.nonEmpty =>
      MapType(inferType(m.head._1), inferType(m.head._2))
    case other => throw new IllegalArgumentException(
      s"unsupported cell type: ${other.getClass.getName}")
  }

  private def normalize(v: Any): Any = v match {
    case i: java.time.Instant => java.sql.Timestamp.from(i)
    case d: scala.math.BigDecimal => d.bigDecimal
    case other => other
  }

  /** JDBC source parity (`scanner/sql.go:20-22`): the reference wraps an
    * already-executed `database/sql` query; Spark-natively the query text
    * pushes down to the database through the JDBC reader. Config-gated —
    * there is no database in the test environment.
    *
    * The source's own column type names (`sql.ColumnType.DatabaseTypeName`)
    * and the driver tag are attached to each `StructField.metadata` under
    * [[SourceMeta]]'s keys, so downstream consumers (the HTML typed
    * header, the codecs' mappers) can surface source-level context the
    * Spark type alone loses. Resolution uses `PreparedStatement
    * .getMetaData` — schema only, the query is never executed twice —
    * but it does open a SECOND connection; pass `sourceMeta = false`
    * to skip it when no consumer reads the metadata. */
  def fromSql(spark: SparkSession, url: String, query: String,
              driver: Option[String] = None,
              properties: Map[String, String] = Map.empty,
              sourceMeta: Boolean = true): DataFrame = {
    val reader = spark.read.format("jdbc")
      .option("url", url)
      .option("query", query)
    val withDriver = driver.fold(reader)(d => reader.option("driver", d))
    val df = properties.foldLeft(withDriver) { case (r, (k, v)) => r.option(k, v) }.load()
    if (!sourceMeta) return df
    val driverTag = url.split(":").lift(1).getOrElse("jdbc")
    val typeNames: Seq[Option[String]] =
      try {
        driver.foreach(Class.forName)
        val props = new java.util.Properties()
        properties.foreach { case (k, v) => props.setProperty(k, v) }
        val conn = java.sql.DriverManager.getConnection(url, props)
        try {
          val md = conn.prepareStatement(query).getMetaData
          (1 to md.getColumnCount).map(i => Option(md.getColumnTypeName(i)))
        } finally conn.close()
      } catch {
        case e: Exception =>
          // degrade to Spark type names only — but observably, so a
          // misconfigured driver/auth isn't mistaken for success
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"source-metadata probe failed for $url — " +
              s"DatabaseTypeName unavailable, falling back to Spark type names: $e")
          Seq.fill(df.schema.length)(None)
      }
    import org.apache.spark.sql.functions.col
    val enriched = df.schema.fields.zip(typeNames).map { case (f, tn) =>
      val mb = new MetadataBuilder().withMetadata(f.metadata)
        .putString(SourceMeta.DriverKey, driverTag)
      tn.foreach(mb.putString(SourceMeta.DatabaseTypeNameKey, _))
      col(f.name).as(f.name, mb.build())
    }
    df.select(enriched.toIndexedSeq: _*)
  }

  /** Hive source parity (`scanner/hive.go:25-27`): Spark's native Hive
    * integration replaces the Thrift cursor — the query runs inside
    * Spark rather than being pulled over HiveServer2. Requires a session
    * built with `enableHiveSupport()`. */
  def fromHive(spark: SparkSession, sql: String): DataFrame = spark.sql(sql)
}
