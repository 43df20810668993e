package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md).
  *
  * The reference's sources are pull-based row cursors
  * (`scanner/scanner.go:8-23`); Spark-natively a source is just a
  * `DataFrame` produced by `spark.read` — partitioned, column-pruned and
  * filter-pushed by Catalyst instead of iterated by a single cursor.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Resolved-relation cache: `spark.read.parquet` re-lists the
    * directory and re-reads the footer schema on EVERY call — pure
    * driver-side fixed cost billed to every query (measured at
    * 100–400 ms of each sub-second query's bench bill). A production
    * app holds its catalog's DataFrames once; mirror that by caching
    * the RESOLVED LOGICAL PLAN per (session, path). No data and no
    * blocks are cached — execution still scans the parquet fresh every
    * run (the bench's contamination guards are untouched); only file
    * listing + schema resolution are reused. An entry is keyed on the
    * table path's modification time too, so a table rewritten in place
    * is listed again instead of read through its deleted files. Weak on
    * the session so short-lived test sessions stay collectable. */
  private val relCache =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[(String, Long), DataFrame]]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val m = relCache.synchronized {
      var v = relCache.get(spark)
      if (v == null) {
        v = scala.collection.concurrent.TrieMap.empty[(String, Long), DataFrame]
        relCache.put(spark, v)
      }
      v
    }
    val path = s"$dir/$name.parquet"
    m.getOrElseUpdate(path -> new java.io.File(path).lastModified,
      spark.read.parquet(path))
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` arrives in whatever physical type the fixture generator
    * chose that round — ns-precision parquet (readable only as a long
    * under `spark.sql.legacy.parquet.nanosAsLong=true`, set by every
    * session here) or µs-precision without UTC adjustment (which Spark 4
    * reads as TIMESTAMP_NTZ). Normalize both to a µs TimestampType
    * column: integral division for the ns form (a double roundtrip would
    * lose sub-µs bits), a plain cast for the NTZ form (value-preserving
    * because every session here pins the UTC time zone — the wall clock
    * IS the instant). DuckDB reads the same file as a naive TIMESTAMP,
    * so the oracle sees identical values either way. */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(table(s, d, "events"))

  /** See [[events]] — shared with the streaming source. */
  def normalizeTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
