package graft.ops

import org.apache.spark.sql.{Column, DataFrame}

import graft.sinks.SinkIO

/** The reference's row-level dataflow surface (SURVEY.md §2.4) as
  * first-class, distributable operations.
  *
  * The per-row hook `func(rowID, row) (row, bool)`
  * (`/root/reference/codec/csv/csv.go:67-71`) splits into its two
  * relational halves — `filter` (drop rows) and `rewrite` (modify cells) —
  * so Catalyst can push, prune and parallelize them; the sequential
  * rowID-dependent form stays available on the sinks' driver-stream path.
  *
  *   - `filter`: keep predicate (e.g. README's drop-admin,
  *     `README.md:166-172` ≈ `col("username") =!= "admin"`)
  *   - `rewrite`: per-column expression overrides, applied in order
  *   - `header`: custom output column names with the reference's arity
  *     check (`csv.go:134-139` → "invalid header length")
  *   - `limit`: row cap counted AFTER the filter (`csv.go:183-186`);
  *     limit=0 short-circuits via Catalyst's empty-relation propagation
  *     (`csv.go:152-154`)
  */
final case class Pipeline(
    filter: Option[Column] = None,
    rewrite: Seq[(String, Column)] = Nil,
    header: Option[Seq[String]] = None,
    limit: Int = -1) {

  def apply(df: DataFrame): DataFrame = {
    val filtered = filter.map(df.filter).getOrElse(df)
    val rewritten = rewrite.foldLeft(filtered) { case (d, (name, expr)) =>
      d.withColumn(name, expr)
    }
    val renamed = header.fold(rewritten)(h => rewritten.toDF(SinkIO.checkedHeader(rewritten, h): _*))
    SinkIO.limited(renamed, limit)
  }
}
