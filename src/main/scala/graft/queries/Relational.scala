package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ops.Num.dsum
import graft.sources.Tables

/** Relational / analytical operator battery (SURVEY.md §2.5 [EXT]).
  *
  * The reference delegates all querying to the upstream database
  * (`scanner/sql.go:20-22` wraps an already-executed query); here the
  * engine itself provides the relational surface, Spark-native.
  *
  * Oracle-stability conventions (driver hash-compares vs DuckDB):
  *   - every query ends with a deterministic ORDER BY (unique key suffix);
  *   - double aggregations go through DecimalType(38,6) so the sum is
  *     exact decimal arithmetic (order-independent) in both engines, then
  *     cast back to double for a stable final schema;
  *   - column names are aliased identically on both sides.
  */
object Relational {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1 shape: scan → filter → hash agg (partial+final map-side
    // combine for free) → sort. Filter + column pruning push to parquet.
    "q1_agg" -> ((s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir)
        .filter($"l_shipdate" <= to_timestamp(lit("1998-09-02")))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          dsum($"l_quantity").as("sum_qty"),
          dsum($"l_extendedprice").as("sum_base_price"),
          dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("sum_disc_price"),
          dsum($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax")).as("sum_charge"),
          (dsum($"l_quantity") / count(lit(1))).as("avg_qty"),
          (dsum($"l_extendedprice") / count(lit(1))).as("avg_price"),
          (dsum($"l_discount") / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    }),

    // TPC-H Q6 shape: tight filter + single global agg; predicates push
    // down to the parquet scan (PushedFilters), no shuffle beyond the
    // 1-row final agg.
    "q2_filter_agg" -> ((s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir)
        .filter(
          $"l_shipdate" >= to_timestamp(lit("1995-01-01")) &&
          $"l_shipdate" < to_timestamp(lit("1996-01-01")) &&
          $"l_discount" >= 0.03 && $"l_discount" <= 0.07 &&
          $"l_quantity" < 24)
        .agg(dsum($"l_extendedprice" * $"l_discount").as("revenue"),
             count(lit(1)).as("n_rows"))
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_price,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q2_filter_agg" ->
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_discount >= 0.03 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,
  )
}
