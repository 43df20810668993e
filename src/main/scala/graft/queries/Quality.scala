package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Num.dsum
import graft.sources.Tables

/** DATA-QUALITY operators — the Deequ/Great-Expectations-style gate a
  * production ingest runs before letting a snapshot anywhere near a
  * training job: a per-column PROFILE (dq1) and a declarative
  * CONSTRAINT SUITE (dq2). At 100 TB these run as a handful of
  * single-pass aggregations over the fact table — the profile's only
  * shuffles are the 1-row-per-column rollup and the per-column distinct
  * (inherently a (column, value) exchange), and every constraint is a
  * filter-count or an anti-join, never a collect.
  */
object Quality {

  /** One profile row per requested column: row count, null count,
    * distinct count, and min/max/mean of the column's CANONICAL NUMERIC
    * PROJECTION — numerics as-is, timestamps as epoch micros, dates as
    * epoch days, strings by length (the Deequ convention for
    * type-uniform profile schemas). The distinct count is over the
    * column's VALUES (strings by content — cardinality of an enum
    * column must be its enum size, not its length spread); only
    * min/max/mean use the numeric projection. The projection is
    * dispatched from the schema, so the operator is generic, not
    * lineitem-shaped; an unknown column name fails by name.
    *
    * Scale shape, TWO passes with different irreducible costs (the r13
    * single-melt version pushed all metrics through one 11× explode —
    * 2.4 s flat, 6.6M generated structs through a string-keyed hash agg
    * at sf0.1 — when only the distinct counts NEED row multiplication):
    *  - scalars (count/nulls/min/max/mean): ONE 1-row aggregate, 4
    *    expressions per column, fused with the scan in whole-stage
    *    codegen, combines map-side, no explode, no extra exchange; the
    *    1-row result is melted driver-cheap into the per-column rows.
    *  - distinct counts: the (column, value) exchange every engine pays
    *    for exact per-column cardinality — but the melt now carries
    *    only (column ORDINAL, 64-bit value hash), 12 bytes a pair, and
    *    groups by a tinyint instead of a string.
    * The two 11-row results meet in a broadcast join on the ordinal.
    * Nothing is collected; adding a column adds one struct to the
    * generator, not a table pass.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val byName = df.schema.fields.map(f => f.name -> f.dataType).toMap
    // v = numeric projection (min/max/mean); dv = distinct basis as a
    // 64-bit VALUE hash (raw content for strings, the projection
    // otherwise). A collision undercounting by one is d2's accepted
    // ~2^-64 posture; the oracle counts the values themselves.
    val pairs: Seq[(String, Column, Column)] = cols.map { c =>
      val dt = byName.getOrElse(c,
        sys.error(s"profile: no column '$c' in [${df.columns.mkString(", ")}]"))
      val (v, dv): (Column, Column) = dt match {
        case _: StringType => (length(col(c)).cast("double"), xxhash64(col(c)))
        case _: TimestampType | _: TimestampNTZType =>
          // NTZ→TIMESTAMP is wall-clock-preserving under the session's
          // UTC zone, so this equals DuckDB's epoch_us(naive ts)
          val us = expr(s"unix_micros(cast($c as timestamp))").cast("double")
          (us, xxhash64(us))
        case _: DateType =>
          val d = expr(s"datediff($c, DATE '1970-01-01')").cast("double")
          (d, xxhash64(d))
        case _ =>
          val d = col(c).cast("double")
          (d, xxhash64(d))
      }
      (c, v, dv)
    }
    // ONE fanout of the PROJECTED raw columns, consumed by both passes:
    // the subtrees are plan-identical, so the exchange is built once and
    // the second consumer reads a ReusedExchange. Hashing/projection
    // math runs POST-shuffle on every core (computing the hashes before
    // the fanout looked cheaper — 12-byte pairs through the exchange —
    // but pinned the CPU-dense xxhash64 pass to the scan stage's 3
    // parquet-split tasks: 3.0 s of a 3.5 s plan; raw-first is 2×
    // faster end-to-end). Fanout is a no-op at real scale, where the
    // scan's own split count already exceeds the cluster's parallelism.
    val fanned = graft.ops.Spread.fanout(df.select(cols.map(col): _*))
    // PASS A — scalar metrics: one 1-row aggregate, 4 expressions per
    // column, combines map-side, no row multiplication; the 1-row
    // result is melted driver-cheap into the per-column rows.
    val scalarAggs: Seq[Column] = count(lit(1)).as("n") +:
      pairs.zipWithIndex.flatMap { case ((_, v, _), i) =>
        Seq(count(v).as(s"nv_$i"), min(v).as(s"min_$i"),
          max(v).as(s"max_$i"), dsum(v).as(s"sum_$i"))
      }
    val scal = fanned.agg(scalarAggs.head, scalarAggs.tail: _*)
      .select(explode(array(pairs.zipWithIndex.map { case ((c, _, _), i) =>
        struct(lit(i).as("i"), lit(c).as("c"), col("n"),
          (col("n") - col(s"nv_$i")).as("n_null"),
          col(s"min_$i").as("min_d"), col(s"max_$i").as("max_d"),
          (col(s"sum_$i") / col(s"nv_$i")).as("mean_d"))
      }: _*)).as("e")).select(col("e.*"))
    // PASS B — distinct counts: the (column, value) exchange every
    // engine pays for exact per-column cardinality, but the melt
    // carries only (column ordinal, 64-bit value hash) and groups by
    // an int instead of a rendered string.
    val dist = fanned
      .select(explode(array(pairs.zipWithIndex.map { case ((_, _, dv), i) =>
        struct(lit(i).as("i"), dv.as("dv")) }: _*)).as("e"))
      .select(col("e.i").as("i"), col("e.dv").as("dv"))
      .groupBy(col("i"))
      .agg(countDistinct(col("dv")).as("n_distinct"))
    scal.join(broadcast(dist), "i")
      .select(col("c").as("col_name"), col("n"), col("n_null"),
        col("n_distinct"), col("min_d"), col("max_d"), col("mean_d"))
  }

  private val profileCols = Seq(
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq1_profile" -> ((s, dir) =>
      profile(Tables.lineitem(s, dir), profileCols)
        .orderBy(col("col_name"))),

    // Declarative CONSTRAINT SUITE over the snapshot: key uniqueness,
    // referential integrity, domain ranges, enum membership — each row
    // is one check with its violation count and verdict. The
    // referential check is a left-anti join on the key (shuffle-keyed,
    // broadcast under AQE when the dim side is small); everything else
    // is a filter-count sharing one pass per table. This report — not a
    // boolean — is what an ingest gate actually files: WHICH contract
    // broke and by how much.
    "dq2_constraints" -> ((s, dir) => {
      import s.implicits._
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)

      // one lineitem pass for all filter-count checks (map-side sums)
      val liChecks = li.agg(
        sum(when(!$"l_discount".between(0.0, 1.0), 1L).otherwise(0L))
          .as("discount_range"),
        sum(when(!$"l_returnflag".isin("A", "N", "R"), 1L).otherwise(0L))
          .as("returnflag_enum"),
        sum(when($"l_quantity" <= 0.0, 1L).otherwise(0L))
          .as("quantity_positive"),
        sum(when($"l_shipdate" < to_timestamp_ntz(lit("1992-01-01")) ||
            $"l_shipdate" >= to_timestamp_ntz(lit("2003-01-01")), 1L)
          .otherwise(0L)).as("shipdate_window"))
      val uniq = o.agg(
        (count(lit(1)) - countDistinct($"o_orderkey")).as("orderkey_unique"))
      val orphans = li.select($"l_orderkey")
        .join(o.select($"o_orderkey"), $"l_orderkey" === $"o_orderkey",
          "left_anti")
        .agg(count(lit(1)).as("orderkey_referential"))

      val wide = liChecks.crossJoin(uniq).crossJoin(orphans)
      val checks = Seq("discount_range", "returnflag_enum",
        "quantity_positive", "shipdate_window", "orderkey_unique",
        "orderkey_referential")
      wide.select(explode(array(checks.map(c =>
          struct(lit(c).as("c"), col(c).as("v"))): _*)).as("e"))
        .select($"e.c".as("check_name"), $"e.v".as("n_violations"),
          ($"e.v" === 0L).as("passed"))
        .orderBy($"check_name")
    }),

    // SNAPSHOT DRIFT MONITOR: per-feature distribution shift between
    // two corpus snapshots (d19's deterministic old/new split) — the
    // dashboard a pipeline watches so a crawler change or upstream
    // filter bug shows up as a moved distribution, not as silent
    // training skew. Features: token-length buckets (fixed integer
    // edges — no quantile dependence, so bucket identity is stable
    // across snapshots and engines) and language shares. Per (feature,
    // bucket): both counts, both shares, and the chi-square drift
    // contribution (p_new − p_old)²/p_old — NULL for buckets absent
    // from the old snapshot (a "new bucket appeared" is its own
    // signal, not a division by zero). Pure count arithmetic: every
    // double is one exact-rounded division/multiply chain from
    // integers, so the whole report hash-gates without decimal
    // stabilization. Scale shape: ONE corpus scan, a 2× in-task melt,
    // a (feature, bucket)-keyed count aggregate (map-side partials),
    // and a window over the bucket-sized counts frame — never over the
    // corpus.
    "dq3_drift" -> ((s, dir) => {
      import s.implicits._
      val lenBucket = least(
        floor(size(split(lower($"text"), "\\s+")).cast("double") / lit(32.0)),
        lit(9L)).cast("string")
      val base = Tables.documents(s, dir)
        // NULL text would bucket as "-1" here (size(NULL) = -1) but as
        // a vanished NULL bucket in DuckDB — same row-universe guard
        // as d28/e1
        .filter($"text".isNotNull)
        .select(($"doc_id" % 3 =!= 0).as("in_old"),
          ($"doc_id" % 3 =!= 1).as("in_new"),
          explode(array(
            struct(lit("len").as("f"), lenBucket.as("b")),
            struct(lit("lang").as("f"), $"lang".as("b")))).as("e"))
        .select($"e.f".as("feature"), $"e.b".as("bucket"), $"in_old", $"in_new")
      val counts = base.groupBy($"feature", $"bucket").agg(
        sum(when($"in_old", 1L).otherwise(0L)).as("n_old"),
        sum(when($"in_new", 1L).otherwise(0L)).as("n_new"))
      val wf = org.apache.spark.sql.expressions.Window.partitionBy($"feature")
      counts
        .select($"feature", $"bucket", $"n_old", $"n_new",
          ($"n_old".cast("double") / sum($"n_old").over(wf)).as("p_old"),
          ($"n_new".cast("double") / sum($"n_new").over(wf)).as("p_new"))
        .withColumn("drift",
          when($"n_old" > 0,
            ($"p_new" - $"p_old") * ($"p_new" - $"p_old") / $"p_old"))
        .orderBy($"feature", $"bucket")
    }),

    // ROBUST OUTLIER DAYS — the anomaly monitor over the ingest's daily
    // volume curve: per-day value totals scored by the median/MAD
    // robust z (Hampel's 1.4826·MAD ≈ σ under normality), which one
    // broken crawl day cannot drag the way mean/stddev outliers (q45)
    // can. Exact medians (Spark `median` == DuckDB's interpolated
    // quantile — both correctly round (a+b)/2); the day frame is
    // 30 rows, so the two median aggregates and broadcasts are
    // negligible against the single corpus pass that builds it.
    "dq4_robust_outliers" -> ((s, dir) => {
      import s.implicits._
      val daily = Tables.events(s, dir)
        .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(dsum($"value").as("total"))
      val med = daily.agg(expr("median(total)").as("med"))
      val withMed = daily.crossJoin(broadcast(med))
      val mad = withMed.agg(expr("median(abs(total - med))").as("mad"))
      // MAD = 0 (a majority of identical totals) must not divide: both
      // engines would otherwise diverge (ANSI error / IEEE Infinity);
      // a plateau has no dispersion to score against, so z = 0
      withMed.crossJoin(broadcast(mad))
        .select($"day", $"total",
          when($"mad" > 0.0,
            ($"total" - $"med") / (lit(1.4826) * $"mad"))
            .otherwise(lit(0.0)).as("robust_z"))
        .withColumn("is_outlier", abs($"robust_z") > lit(3.0))
        .orderBy($"day")
    }),

    // FUNCTIONAL-DEPENDENCY DISCOVERY (TANE-style verification over a
    // declared candidate set): for each X → Y candidate, does every
    // determinant value map to exactly one dependent value, and if not,
    // how broken is it — violating groups, worst fan-out, and the row
    // mass sitting in violation. dq2 checks declared CONSTRAINTS; this
    // is the profiling primitive that tells you which constraints you
    // COULD declare (an FD that holds on every snapshot is a schema
    // fact waiting to be enforced; one that just started failing is an
    // upstream bug). Scale shape: one (X, Y)-keyed two-phase distinct
    // aggregate per candidate — partials combine map-side, nothing is
    // collected, and candidates over the same table still scan it once
    // each (verifying k FDs on one pass needs a melt like dq1's; at a
    // handful of candidates the per-FD pass keeps each aggregate's key
    // width minimal).
    "dq5_fd_discovery" -> ((s, dir) => {
      def fd(df: DataFrame, name: String, det: String, dep: String): DataFrame =
        df.groupBy(col(det))
          .agg(countDistinct(col(dep)).as("nd"), count(lit(1)).as("cnt"))
          .agg(
            count(lit(1)).as("det_groups"),
            sum(when(col("nd") > 1, 1L).otherwise(0L)).as("violating_groups"),
            max(col("nd")).as("max_dependents"),
            sum(when(col("nd") > 1, col("cnt")).otherwise(0L))
              .as("rows_in_violation"))
          .select(lit(name).as("fd"), col("det_groups"),
            col("violating_groups"), col("max_dependents"),
            col("rows_in_violation"),
            (col("violating_groups") === 0L).as("holds"))
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val d = Tables.documents(s, dir)
      Seq(
        fd(li, "lineitem: l_orderkey -> l_suppkey", "l_orderkey", "l_suppkey"),
        fd(o, "orders: o_orderkey -> o_orderstatus", "o_orderkey", "o_orderstatus"),
        fd(o, "orders: o_custkey -> o_orderpriority", "o_custkey", "o_orderpriority"),
        fd(c, "customer: c_nationkey -> c_mktsegment", "c_nationkey", "c_mktsegment"),
        fd(d, "documents: lang -> source", "lang", "source"))
        .reduce(_ unionAll _)
        .orderBy(col("fd"))
    }),

    // MEDIAN IMPUTATION: the standard repair step between dq2's
    // constraint report and a training job — NULLs filled by the
    // per-group median, with an audit flag so downstream can weigh
    // imputed rows. Missingness is SYNTHESIZED deterministically
    // (every 13th event — d19's snapshot convention: the fixture has
    // no NULLs, the operator must handle them). Exact medians agree
    // across engines (dq4's precedent); the ≤|types|-row median table
    // broadcasts, the fact table is never reshuffled, and the keyed
    // sample bounds verify output.
    "dq7_impute_median" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.events(s, dir)
        .select($"event_id", $"event_type",
          when($"event_id" % 13 === 0, lit(null).cast("double"))
            .otherwise($"value").as("v"))
      val med = e.filter($"v".isNotNull).groupBy($"event_type")
        .agg(expr("median(v)").as("med"))
      e.join(broadcast(med), "event_type")
        .select($"event_id", $"event_type",
          coalesce($"v", $"med").as("v_imputed"),
          $"v".isNull.as("was_imputed"))
        .filter($"event_id" % 50 === 0)
        .orderBy($"event_id")
    }),

    // BENFORD FIRST-DIGIT DRIFT: the fraud/corruption smoke test a
    // quality gate runs on naturally-generated monetary columns —
    // organically-produced amounts follow log10(1+1/d) first-digit
    // frequencies, and a synthetic/injected batch shows up as ppm
    // deviation long before any constraint fails. NOTHING FLOAT
    // decides a row: the first significant digit comes from the
    // decimal rendering of floor(price) AS BIGINT (exact in both
    // engines — prices are >= 1, so the integer part carries the
    // leading digit), observed fractions are integer ppm (n·10⁶ div
    // total), and the Benford expectations are hard integer constants
    // that sum to exactly 1 000 000. Scale shape: one projection →
    // one 9-group map-side-combining count; the 1-row total and the
    // 9-row expectation table broadcast. Envelope: n·10⁶ < 2⁶³ up to
    // 9·10¹² rows per digit — loud BIGINT overflow beyond, never
    // silent.
    "dq6_benford" -> ((s, dir) => {
      import s.implicits._
      val exp = Seq(
        1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L,
        5 -> 79181L, 6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)
        .toDF("digit", "exp_ppm")
      val counted = Tables.lineitem(s, dir)
        .select(substring(floor(col("l_extendedprice")).cast("long")
          .cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val tot = counted.agg(sum(col("n")).as("tot"))
      counted.crossJoin(broadcast(tot))
        .join(broadcast(exp), "digit")
        .select(col("digit"), col("n"),
          expr("n * 1000000 div tot").as("obs_ppm"), col("exp_ppm"),
          (expr("n * 1000000 div tot") - col("exp_ppm")).as("dev_ppm"))
        .orderBy(col("digit"))
    }),

    // CANDIDATE-KEY UNIQUENESS AUDIT — the check dq8's development
    // proved this warehouse needs: (l_orderkey, l_linenumber) LOOKS
    // like lineitem's natural key but is NOT unique in this corpus,
    // and any rank/join/window hung off a non-key silently multiplies
    // rows (the failure the cross-engine gate cannot catch, because
    // both engines multiply identically). One row per declared
    // candidate key: row count, distinct keys, rows carrying a
    // duplicated key, integer-ppm violation rate, and the verdict a
    // schema contract asserts. Shape: per key one count-distinct
    // aggregation (map-side combined) plus one self-agg join; the
    // report is as wide as the declared key list, never the data.
    "dq9_key_uniqueness" -> ((s, dir) => {
      import s.implicits._
      def audit(name: String, df: DataFrame, keys: Seq[String]): DataFrame = {
        val kc = keys.map(col)
        val g = df.groupBy(kc: _*).agg(count(lit(1)).as("c"))
        g.agg(
          sum($"c").as("n_rows"),
          count(lit(1)).as("n_keys"),
          sum(when($"c" > 1, $"c").otherwise(0L)).as("dup_rows"))
          .select(lit(name).as("candidate_key"), $"n_rows", $"n_keys",
            $"dup_rows",
            expr("dup_rows * 1000000 div n_rows").as("dup_ppm"),
            ($"dup_rows" === 0L).as("is_unique"))
      }
      Seq(
        audit("customer(c_custkey)", Tables.customer(s, dir), Seq("c_custkey")),
        audit("documents(doc_id)", Tables.documents(s, dir), Seq("doc_id")),
        audit("events(event_id)", Tables.events(s, dir), Seq("event_id")),
        audit("lineitem(l_orderkey,l_linenumber)", Tables.lineitem(s, dir),
          Seq("l_orderkey", "l_linenumber")),
        audit("orders(o_orderkey)", Tables.orders(s, dir), Seq("o_orderkey")))
        .reduce(_ unionByName _)
        .orderBy($"candidate_key")
    }),

    // SPEARMAN RANK CORRELATION between fact measures — the profiling
    // step that finds redundant or mechanically-coupled measures
    // (price ≈ f(quantity)) before anyone trains on both. Pearson's r
    // on raw doubles can't cross the engine gate (huge variance sums
    // exceed every portable grid), but Spearman on DETERMINISTIC ranks
    // is exact. Ranks demand a TOTAL order, so the measures are first
    // aggregated to the ORDER grain — the fixture's (orderkey,
    // linenumber) is NOT unique, and any rank over a non-key is
    // engine-arbitrary — as exact integer units/cents/basis-points
    // (round(x·10^k) — 2-decimal provenance makes it lossless, and no
    // float survives into the ordering). rho = 1 − 6·Σd²/(n(n²−1)) is
    // then a ratio of two int64s divided once as doubles. Envelope:
    // n³ < 2⁶³ to ~2 million sampled orders, loud overflow beyond.
    // Shape: one order-keyed pre-aggregation (map-side combined), the
    // three metrics MELT into one (metric, v, key) stream, ONE window
    // pass ranks all three partitions, and pairs meet by an equi-join
    // on the unique order key — no per-metric re-scan, no cross join.
    "dq8_spearman_corr" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val agg = Tables.lineitem(s, dir)
        .filter($"l_orderkey" % 10 === 0)
        .groupBy($"l_orderkey")
        .agg(sum(expr("CAST(round(l_quantity) AS BIGINT)")).as("quantity"),
          sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("extendedprice"),
          sum(expr("CAST(round(l_discount * 10000) AS BIGINT)")).as("discount"))
      val m = agg.select($"l_orderkey",
        expr("stack(3, 'discount', discount, 'extendedprice', extendedprice, " +
          "'quantity', quantity) AS (metric, v)"))
      val w = Window.partitionBy($"metric").orderBy($"v", $"l_orderkey")
      val ranked = m.withColumn("rk", row_number().over(w).cast("long"))
      ranked.as("x").join(ranked.as("y"),
          $"x.l_orderkey" === $"y.l_orderkey" && $"x.metric" < $"y.metric")
        .select($"x.metric".as("metric_x"), $"y.metric".as("metric_y"),
          (($"x.rk" - $"y.rk") * ($"x.rk" - $"y.rk")).as("d2"))
        .groupBy($"metric_x", $"metric_y")
        .agg(count(lit(1)).as("n"), sum($"d2").as("sum_d2"))
        .select($"metric_x", $"metric_y", $"n", $"sum_d2",
          ((($"n" * $"n" * $"n" - $"n") - lit(6L) * $"sum_d2").cast("double")
            / ($"n" * $"n" * $"n" - $"n").cast("double")).as("rho"))
        .orderBy($"metric_x", $"metric_y")
    }),

    // INTER-EVENT GAP SPECTRUM — the calibration table behind every
    // sessionization threshold (s3/q66/q71 all assume 30 min; this is
    // the evidence): per-user event gaps bucketed on an EXACT log2
    // grid — bucket = digits of the gap's binary representation
    // (⌊log2⌋+1 computed as length(conv(gap,2)), a string-length
    // identity both engines share, so no libm log ever decides a
    // bucket boundary). A bimodal spectrum (intra-session micro-gaps
    // vs inter-session hours) with the valley near 2^31 µs ≈ 36 min
    // is what makes a 30-minute cut defensible. One user-keyed lag
    // window, one bounded-histogram agg (≤ 64 buckets).
    "dq11_gap_histogram" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
      val gaps = Tables.events(s, dir)
        .select($"user_id", expr("unix_micros(ts)").as("us"), $"event_id")
        .withColumn("gap", $"us" - lag($"us", 1).over(w))
        .filter($"gap".isNotNull)
        .select(length(expr("conv(gap, 10, 2)")).cast("long").as("bucket"),
          $"gap")
      val tot = gaps.agg(count(lit(1)).as("tot"))
      gaps.groupBy($"bucket")
        .agg(count(lit(1)).as("n_gaps"),
          min($"gap").as("min_gap_us"), max($"gap").as("max_gap_us"))
        .crossJoin(broadcast(tot))
        .select($"bucket", $"n_gaps", $"min_gap_us", $"max_gap_us",
          expr("n_gaps * 1000000 div tot").as("share_ppm"))
        .orderBy($"bucket")
    }),

    // EVENT-STREAM FIELD QUALITY — dq2's contract report turned on the
    // ingest stream itself, per event family: payload completeness
    // (empty/missing props), value validity (non-positive amounts on
    // events that claim one), and audience breadth (events per distinct
    // user — a family whose ratio explodes is one bot away from skewing
    // every downstream session metric). This is the per-family gate a
    // streaming ingest files BEFORE events reach sessionization. All
    // integer ppm; one map-side-combining pass over the stream table,
    // |event_type|-row output.
    "dq12_event_field_quality" -> ((s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct($"user_id").as("n_users"),
          sum(when($"props".isNull || $"props" === "", 1L).otherwise(0L))
            .as("n_empty_props"),
          sum(when($"value".isNull || $"value" <= 0.0, 1L).otherwise(0L))
            .as("n_nonpos_value"))
        .select($"event_type", $"n_events", $"n_users",
          expr("n_empty_props * 1000000 div n_events").as("empty_props_ppm"),
          expr("n_nonpos_value * 1000000 div n_events").as("nonpos_value_ppm"),
          expr("n_events * 1000 div n_users").as("events_per_user_x1000"))
        .orderBy($"event_type")
    }),

    // FIELD-QUALITY DRIFT — dq12's gate differentiated in TIME: the
    // "did the upstream producer change their payload" alarm. The
    // stream splits at the midpoint of its timestamp span (a
    // deterministic integer cut — no median estimation), and every
    // event family reports its empty-props and non-positive-value
    // rates on each side plus the signed ppm drift between them: a
    // family whose empty-props rate jumps across the cut had a
    // producer deploy, and catching it per-family beats dq12's
    // whole-corpus rate, which a small family's regression cannot
    // move. Scale shape: ONE bounds aggregate (broadcast back as a
    // 1-row frame), then ONE map-side-combining pass with era-
    // conditioned partial sums — the stream is scanned twice total,
    // never per family; output is |event_type| rows, all BIGINT, with
    // zero-denominator guards mirrored in the oracle.
    "dq16_field_quality_drift" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select($"event_type", expr("unix_micros(ts)").as("us"),
          $"props", $"value")
      val bounds = ev.agg(min($"us").as("mn"), max($"us").as("mx"))
        .select(expr("(mn + mx) div 2").as("cut"))
      ev.crossJoin(broadcast(bounds))
        .select($"event_type",
          ($"us" >= $"cut").cast("long").as("late"),
          ($"props".isNull || $"props" === "").cast("long").as("emp"),
          ($"value".isNull || $"value" <= 0.0).cast("long").as("np"))
        .groupBy($"event_type")
        .agg(
          sum(lit(1L) - $"late").as("n_early"),
          sum($"late").as("n_late"),
          sum((lit(1L) - $"late") * $"emp").as("e_empty"),
          sum($"late" * $"emp").as("l_empty"),
          sum((lit(1L) - $"late") * $"np").as("e_nonpos"),
          sum($"late" * $"np").as("l_nonpos"))
        .select($"event_type", $"n_early", $"n_late",
          expr("CASE WHEN n_early = 0 THEN 0 ELSE e_empty * 1000000 div n_early END")
            .as("empty_early_ppm"),
          expr("CASE WHEN n_late = 0 THEN 0 ELSE l_empty * 1000000 div n_late END")
            .as("empty_late_ppm"),
          expr("""CASE WHEN n_late = 0 THEN 0 ELSE l_empty * 1000000 div n_late END
                  - CASE WHEN n_early = 0 THEN 0 ELSE e_empty * 1000000 div n_early END""")
            .as("empty_drift_ppm"),
          expr("CASE WHEN n_early = 0 THEN 0 ELSE e_nonpos * 1000000 div n_early END")
            .as("nonpos_early_ppm"),
          expr("CASE WHEN n_late = 0 THEN 0 ELSE l_nonpos * 1000000 div n_late END")
            .as("nonpos_late_ppm"),
          expr("""CASE WHEN n_late = 0 THEN 0 ELSE l_nonpos * 1000000 div n_late END
                  - CASE WHEN n_early = 0 THEN 0 ELSE e_nonpos * 1000000 div n_early END""")
            .as("nonpos_drift_ppm"))
        .orderBy($"event_type")
    }),

    // K-ANONYMITY AUDIT over the quasi-identifier tuple (nation,
    // segment, account-balance band) — the privacy gate a dataset
    // release runs before rows with "non-identifying" attributes ship:
    // any equivalence class smaller than k = 5 re-identifies its
    // members by intersection [Sweeney, IJUFKS'02]. Output is the
    // class-size spectrum on dq11's exact log2 grid (bucket =
    // length of the size's binary representation — no libm log) with
    // the below-k row mass split out per bucket: a release passes when
    // rows_below_k is 0 everywhere, and the spectrum shows HOW FAR the
    // generalization has to coarsen to get there. Scale shape: one
    // QI-keyed count (map-side partials), then a ≤64-bucket histogram
    // agg; the row total crosses as a broadcast — nothing is collected
    // and nothing re-shuffles by row. The balance band is
    // FLOOR(bal/1000) — one deterministic IEEE divide, band identity
    // engine-invariant; every emitted cell is BIGINT.
    "dq13_k_anonymity" -> ((s, dir) => {
      import s.implicits._
      val classes = Tables.customer(s, dir)
        .select($"c_nationkey", $"c_mktsegment",
          floor($"c_acctbal" / 1000.0).cast("long").as("bal_band"))
        .groupBy($"c_nationkey", $"c_mktsegment", $"bal_band")
        .agg(count(lit(1)).as("sz"))
      val tot = classes.agg(sum($"sz").as("tot"))
      classes
        .select(length(expr("conv(sz, 10, 2)")).cast("long").as("bucket"),
          $"sz")
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_classes"), sum($"sz").as("n_rows"),
          sum(when($"sz" < 5, $"sz").otherwise(0L)).as("rows_below_k"))
        .crossJoin(broadcast(tot))
        .select($"bucket", $"n_classes", $"n_rows", $"rows_below_k",
          expr("n_rows * 1000000 div tot").as("rows_ppm"))
        .orderBy($"bucket")
    }),

    // PER-USER RATE OUTLIERS — the bot gate an event pipeline runs
    // BEFORE sessionization (dq4 watches the daily total; this watches
    // WHO): per event family, the median/MAD of events-per-user and
    // the users whose volume clears the robust fence
    // (n − med > 5·MAD, with an absolute floor of 5 so a zero-MAD
    // family cannot flag every off-median user). Median and MAD are
    // NEAREST-RANK picks over the (family, count) HISTOGRAM — the
    // count spectrum is value-bounded, never user-bounded, so no
    // corpus-wide order exists anywhere (t36's posture); every
    // decision is an integer compare. One user-keyed count, two
    // histogram-sized windows, one broadcast of the 2-row-per-family
    // fence back over the histogram (not the users).
    "dq15_user_rate_outliers" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val counts = Tables.events(s, dir)
        .groupBy($"event_type", $"user_id").agg(count(lit(1)).as("n"))
      val hist = counts.groupBy($"event_type", $"n")
        .agg(count(lit(1)).as("u"))
      val wc = Window.partitionBy($"event_type").orderBy($"n")
      val tot = hist.groupBy($"event_type").agg(sum($"u").as("tot"),
        max($"n").as("max_events"))
      val med = hist.withColumn("cum", sum($"u").over(wc))
        .join(tot, "event_type")
        .filter($"cum" >= expr("(tot + 1) div 2"))
        .groupBy($"event_type").agg(min($"n").as("med"))
      val devHist = hist.join(broadcast(med), "event_type")
        .select($"event_type", abs($"n" - $"med").as("dev"), $"u", $"med")
        .groupBy($"event_type", $"med", $"dev").agg(sum($"u").as("u"))
      val wd = Window.partitionBy($"event_type").orderBy($"dev")
      val mad = devHist.withColumn("cum", sum($"u").over(wd))
        .join(tot.select($"event_type", $"tot"), "event_type")
        .filter($"cum" >= expr("(tot + 1) div 2"))
        .groupBy($"event_type").agg(min($"dev").as("mad"))
      hist.join(broadcast(med), "event_type")
        .join(broadcast(mad), "event_type")
        .join(broadcast(tot), "event_type")
        .groupBy($"event_type")
        .agg(first($"tot").as("n_users"), first($"med").as("med_events"),
          first($"mad").as("mad_events"), first($"max_events").as("max_events"),
          sum(when($"n" - $"med" > $"mad" * 5 && $"n" - $"med" >= 5, $"u")
            .otherwise(0L)).as("n_flagged"))
        .select($"event_type", $"n_users", $"med_events", $"mad_events",
          $"max_events", $"n_flagged",
          expr("n_flagged * 1000000 div n_users").as("flagged_ppm"))
        .orderBy($"event_type")
    }),

    // CUSUM CHANGE-POINT MONITOR on the per-type daily event volume —
    // the sequential drift detector (Page 1954) a streaming ingest runs
    // where dq4's pointwise robust-z cannot see SLOW drift: a +8%/day
    // leak never trips a 3σ day test but accumulates linearly in the
    // CUSUM. S_d = max(0, S_{d-1} + (x_d − allowance)) has a closed
    // prefix form — S_d = P_d − min(0, min_{j≤d} P_j) over the residual
    // prefix sums P — so the recursive-looking statistic is TWO window
    // passes, no recursion, no driver loop (the same sweep-line trade
    // as q72). All arithmetic stays integer: residuals are scaled by
    // the 14-day baseline window (y = 14·x − (ref14 + ref14/10), a 10%
    // allowance), the alarm threshold is one average baseline-day of
    // cumulative excess (ref14 in scaled units). The day spine is
    // DENSE (type × every day in the table's range) — a silent day IS
    // drift and a sparse groupBy would skip it. Scale shape: one
    // map-side-combining count per (type, day), a broadcast 2-value
    // bounds frame, windows partitioned by type over #days rows.
    "dq17_cusum_drift" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
        .select($"event_type", expr("unix_micros(ts) div 86400000000").as("day"))
      val daily = ev.groupBy($"event_type", $"day").agg(count(lit(1)).as("x"))
      val bounds = ev.agg(min($"day").as("d0"), max($"day").as("d1"))
      val spine = daily.select($"event_type").distinct()
        .crossJoin(broadcast(bounds))
        .select($"event_type", explode(expr("sequence(d0, d1)")).as("day"), $"d0")
      val dense = spine.join(daily, Seq("event_type", "day"), "left")
        .select($"event_type", $"day", $"d0", coalesce($"x", lit(0L)).as("x"))
      val ref = dense.filter($"day" < $"d0" + 14)
        .groupBy($"event_type").agg(sum($"x").as("ref14"))
      val w = Window.partitionBy($"event_type").orderBy($"day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dense.filter($"day" >= $"d0" + 14)
        .join(ref, "event_type")
        .withColumn("y", lit(14L) * $"x" - ($"ref14" + expr("ref14 div 10")))
        .withColumn("p", sum($"y").over(w))
        .withColumn("cusum", $"p" - least(lit(0L), min($"p").over(w)))
        .groupBy($"event_type")
        .agg(max($"ref14").as("ref14"),
          count(lit(1)).as("n_days"),
          max($"cusum").as("max_cusum"),
          sum(when($"cusum" > $"ref14", 1L).otherwise(0L)).as("n_alarm_days"),
          coalesce(min(when($"cusum" > $"ref14", $"day")), lit(-1L))
            .as("first_alarm_day"))
        .orderBy($"event_type")
    }),

    // CROSS-TABLE RECONCILIATION — the "do the books balance" audit
    // between a header table and its detail lines (the TPC-H invariant:
    // o_totalprice = Σ extendedprice·(1−discount)·(1+tax) over the
    // order's lineitems). A warehouse runs this after every load:
    // headers with NO lines, lines that drift from the header total,
    // and the drift mass are each a distinct ingest failure mode.
    // Exactness: the per-order recompute is the repo's dsum (DECIMAL-
    // stabilized fold — identical in DuckDB), and the drift decimates
    // to integer CENTS via FLOOR(|Δ|·100) before any verdict, so the
    // gate hashes only integers. Scale shape: one map-side-combining
    // lineitem aggregate keyed by order, one key-partitioned left join
    // (both sides shuffle on the key once — the natural co-partition),
    // one |status|-row rollup. Nothing is collected.
    "dq14_order_reconciliation" -> ((s, dir) => {
      import s.implicits._
      val rec = Tables.lineitem(s, dir)
        .select($"l_orderkey",
          (($"l_extendedprice" * (lit(1) - $"l_discount"))
            * (lit(1) + $"l_tax")).as("x"))
        .groupBy($"l_orderkey").agg(dsum($"x").as("recomputed"))
      Tables.orders(s, dir)
        .join(rec, $"o_orderkey" === $"l_orderkey", "left")
        .withColumn("delta_u",
          floor(abs($"recomputed" - $"o_totalprice") * 100).cast("long"))
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(when($"recomputed".isNull, 1L).otherwise(0L)).as("n_no_lines"),
          sum(when($"delta_u" === 0L, 1L).otherwise(0L)).as("n_exact"),
          sum(when($"delta_u" >= 1L, 1L).otherwise(0L)).as("n_drift"),
          max(coalesce($"delta_u", lit(0L))).as("max_delta_cents"),
          sum(coalesce($"delta_u", lit(0L))).as("sum_delta_cents"))
        .orderBy($"o_orderstatus")
    }),

    // CHI-SQUARE INDEPENDENCE TEST on the lang × source contingency
    // table — the bias detector a corpus audit runs before mixing:
    // if language and source were independent, every cell would hold
    // E = row·col/n; a large χ² says some sources over-supply some
    // languages and a mixture built "per source" silently skews
    // languages. The grid is DENSE (row-margin × col-margin frames —
    // both tiny aggregates — broadcast-crossed, zero cells included:
    // an EMPTY cell is evidence of dependence too and its term r·c/n
    // must count). Per-cell deviation dev = O·n − r·c is EXACT int64
    // (envelope: n ≤ ~3e9 docs since |dev| ≤ n²; DuckDB overflows
    // loudly beyond); χ²-terms take ONE double square and ONE double
    // division in a pinned multiply order, and the total folds on the
    // dyadic grid (Num.fsum — terms are arbitrary doubles, bounded by
    // n so the 2^30 envelope holds to corpus ~8e9). df=(R−1)(C−1)
    // rides along so the report is testable against any χ² table.
    "dq10_chisq_independence" -> ((s, dir) => {
      import s.implicits._
      val obs = Tables.documents(s, dir)
        .groupBy($"lang", $"source").agg(count(lit(1)).as("observed"))
      val rowT = obs.groupBy($"lang").agg(sum($"observed").as("row_tot"))
      val colT = obs.groupBy($"source").agg(sum($"observed").as("col_tot"))
      val tot = obs.agg(sum($"observed").as("n"),
        countDistinct($"lang").as("n_rows_dim"),
        countDistinct($"source").as("n_cols_dim"))
      val cells = rowT.crossJoin(broadcast(colT))
        .join(obs, Seq("lang", "source"), "left")
        .select($"lang", $"source",
          coalesce($"observed", lit(0L)).as("observed"),
          $"row_tot", $"col_tot")
        .crossJoin(broadcast(tot))
        .withColumn("dev", $"observed" * $"n" - $"row_tot" * $"col_tot")
        .withColumn("chi_term",
          ($"dev".cast("double") * $"dev".cast("double"))
            / ($"n".cast("double") * $"row_tot".cast("double")
               * $"col_tot".cast("double")))
      val total = cells.agg(graft.ops.Num.fsum($"chi_term").as("chi2"),
          first($"n_rows_dim").as("nr"), first($"n_cols_dim").as("nc"))
        .select($"chi2", (($"nr" - 1) * ($"nc" - 1)).as("dof"))
      cells.crossJoin(broadcast(total))
        .select($"lang", $"source", $"observed", $"row_tot", $"col_tot",
          $"n", $"dev", $"chi_term", $"chi2", $"dof")
        .orderBy($"lang", $"source")
    }),
  )

  // d = the distinct basis (raw string content for string columns, the
  // numeric projection otherwise — distinct doubles render distinctly
  // on the Spark side, so the counts agree)
  private def profileOracleFor(c: String, duckProj: String, duckDistinct: String): String =
    s"""SELECT '$c' AS col_name, COUNT(*) AS n,
       |  COUNT(*) - COUNT(x) AS n_null, COUNT(DISTINCT d) AS n_distinct,
       |  MIN(x) AS min_d, MAX(x) AS max_d,
       |  CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / COUNT(x) AS mean_d
       |FROM (SELECT $duckProj AS x, $duckDistinct AS d FROM lineitem)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "dq1_profile" -> (profileCols.map { c =>
      val (proj, dis) = c match {
        case "l_returnflag" | "l_linestatus" =>
          (s"CAST(LENGTH($c) AS DOUBLE)", c)
        case "l_shipdate" => (s"CAST(epoch_us($c) AS DOUBLE)",
          s"CAST(epoch_us($c) AS DOUBLE)")
        case _ => (s"CAST($c AS DOUBLE)", s"CAST($c AS DOUBLE)")
      }
      profileOracleFor(c, proj, dis)
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")),

    "dq2_constraints" ->
      """WITH v(check_name, n_violations) AS (
        |  SELECT 'discount_range',
        |    (SELECT COUNT(*) FROM lineitem WHERE l_discount NOT BETWEEN 0.0 AND 1.0)
        |  UNION ALL SELECT 'returnflag_enum',
        |    (SELECT COUNT(*) FROM lineitem WHERE l_returnflag NOT IN ('A','N','R'))
        |  UNION ALL SELECT 'quantity_positive',
        |    (SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 0.0)
        |  UNION ALL SELECT 'shipdate_window',
        |    (SELECT COUNT(*) FROM lineitem
        |     WHERE l_shipdate < TIMESTAMP '1992-01-01'
        |        OR l_shipdate >= TIMESTAMP '2003-01-01')
        |  UNION ALL SELECT 'orderkey_unique',
        |    (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders)
        |  UNION ALL SELECT 'orderkey_referential',
        |    (SELECT COUNT(*) FROM lineitem
        |     WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
        |)
        |SELECT check_name, n_violations, n_violations = 0 AS passed
        |FROM v ORDER BY check_name""".stripMargin,

    "dq3_drift" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(CAST(LEAST(FLOOR(len(string_split_regex(lower(text), '\s+'))
        |      / CAST(32 AS DOUBLE)), 9) AS BIGINT) AS VARCHAR) AS lenb
        |  FROM documents WHERE text IS NOT NULL
        |),
        |base AS (
        |  SELECT doc_id % 3 <> 0 AS in_old, doc_id % 3 <> 1 AS in_new,
        |    f.feature, f.bucket
        |  FROM d, LATERAL (VALUES ('len', d.lenb), ('lang', d.lang)) AS f(feature, bucket)
        |),
        |counts AS (
        |  SELECT feature, bucket,
        |    CAST(SUM(CASE WHEN in_old THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
        |    CAST(SUM(CASE WHEN in_new THEN 1 ELSE 0 END) AS BIGINT) AS n_new
        |  FROM base GROUP BY 1, 2
        |),
        |shares AS (
        |  SELECT feature, bucket, n_old, n_new,
        |    n_old::DOUBLE / SUM(n_old) OVER (PARTITION BY feature) AS p_old,
        |    n_new::DOUBLE / SUM(n_new) OVER (PARTITION BY feature) AS p_new
        |  FROM counts
        |)
        |SELECT feature, bucket, n_old, n_new, p_old, p_new,
        |  CASE WHEN n_old > 0 THEN (p_new - p_old) * (p_new - p_old) / p_old
        |       ELSE NULL END AS drift
        |FROM shares ORDER BY feature, bucket""".stripMargin,

    "dq4_robust_outliers" ->
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total
        |  FROM events GROUP BY 1
        |),
        |m AS (SELECT median(total) AS med FROM daily),
        |d2 AS (SELECT daily.*, med FROM daily, m),
        |mm AS (SELECT median(abs(total - med)) AS mad FROM d2),
        |z AS (
        |  SELECT day, total,
        |    CASE WHEN mad > 0 THEN (total - med) / (CAST(1.4826 AS DOUBLE) * mad)
        |         ELSE CAST(0 AS DOUBLE) END AS robust_z
        |  FROM d2, mm
        |)
        |SELECT day, total, robust_z,
        |  abs(robust_z) > CAST(3 AS DOUBLE) AS is_outlier
        |FROM z ORDER BY day""".stripMargin,

    "dq5_fd_discovery" -> {
      def one(name: String, table: String, det: String, dep: String) =
        s"""SELECT '$name' AS fd, COUNT(*) AS det_groups,
           |  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS violating_groups,
           |  MAX(nd) AS max_dependents,
           |  CAST(SUM(CASE WHEN nd > 1 THEN cnt ELSE 0 END) AS BIGINT) AS rows_in_violation,
           |  SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 AS holds
           |FROM (SELECT $det, COUNT(DISTINCT $dep) AS nd, COUNT(*) AS cnt
           |      FROM $table GROUP BY 1)""".stripMargin
      Seq(
        one("lineitem: l_orderkey -> l_suppkey", "lineitem", "l_orderkey", "l_suppkey"),
        one("orders: o_orderkey -> o_orderstatus", "orders", "o_orderkey", "o_orderstatus"),
        one("orders: o_custkey -> o_orderpriority", "orders", "o_custkey", "o_orderpriority"),
        one("customer: c_nationkey -> c_mktsegment", "customer", "c_nationkey", "c_mktsegment"),
        one("documents: lang -> source", "documents", "lang", "source"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY fd")
    },

    "dq7_impute_median" ->
      """WITH e AS (
        |  SELECT event_id, event_type,
        |    CASE WHEN event_id % 13 = 0 THEN NULL ELSE value END AS v
        |  FROM events
        |),
        |m AS (SELECT event_type, median(v) AS med FROM e WHERE v IS NOT NULL GROUP BY 1)
        |SELECT event_id, e.event_type, COALESCE(v, med) AS v_imputed,
        |  v IS NULL AS was_imputed
        |FROM e JOIN m ON e.event_type = m.event_type
        |WHERE event_id % 50 = 0
        |ORDER BY event_id""".stripMargin,

    "dq6_benford" ->
      """WITH d AS (
        |  SELECT CAST(substring(CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM lineitem
        |),
        |c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM c),
        |e(digit, exp_ppm) AS (VALUES
        |  (1, CAST(301030 AS BIGINT)), (2, CAST(176091 AS BIGINT)),
        |  (3, CAST(124939 AS BIGINT)), (4, CAST(96910 AS BIGINT)),
        |  (5, CAST(79181 AS BIGINT)), (6, CAST(66947 AS BIGINT)),
        |  (7, CAST(57992 AS BIGINT)), (8, CAST(51153 AS BIGINT)),
        |  (9, CAST(45757 AS BIGINT)))
        |SELECT c.digit, c.n, c.n * 1000000 // tot AS obs_ppm, e.exp_ppm,
        |  (c.n * 1000000 // tot) - e.exp_ppm AS dev_ppm
        |FROM c JOIN e ON c.digit = e.digit, t
        |ORDER BY c.digit""".stripMargin,

    // one grouped-count audit per declared key, unioned
    "dq9_key_uniqueness" -> {
      def one(name: String, table: String, keys: String) =
        s"""SELECT '$name' AS candidate_key,
           |  CAST(SUM(c) AS BIGINT) AS n_rows,
           |  CAST(COUNT(*) AS BIGINT) AS n_keys,
           |  CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_rows,
           |  CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) * 1000000 // SUM(c) AS BIGINT) AS dup_ppm,
           |  SUM(CASE WHEN c > 1 THEN c ELSE 0 END) = 0 AS is_unique
           |FROM (SELECT $keys, COUNT(*) AS c FROM $table GROUP BY $keys)""".stripMargin
      Seq(
        one("customer(c_custkey)", "customer", "c_custkey"),
        one("documents(doc_id)", "documents", "doc_id"),
        one("events(event_id)", "events", "event_id"),
        one("lineitem(l_orderkey,l_linenumber)", "lineitem", "l_orderkey, l_linenumber"),
        one("orders(o_orderkey)", "orders", "o_orderkey"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY candidate_key")
    },

    // same order-grain integer aggregation, the same (v, orderkey)
    // total order for the ranks, exact integer d² sums, one double
    // division at the end
    "dq8_spearman_corr" ->
      """WITH a AS (
        |  SELECT l_orderkey,
        |    CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS quantity,
        |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS extendedprice,
        |    CAST(SUM(CAST(round(l_discount * 10000) AS BIGINT)) AS BIGINT) AS discount
        |  FROM lineitem WHERE l_orderkey % 10 = 0
        |  GROUP BY l_orderkey
        |),
        |m AS (
        |  SELECT l_orderkey, u.metric, u.v
        |  FROM a
        |  CROSS JOIN LATERAL (
        |    SELECT * FROM (VALUES
        |      ('discount', discount),
        |      ('extendedprice', extendedprice),
        |      ('quantity', quantity)) AS t(metric, v)
        |  ) u
        |),
        |r AS (
        |  SELECT l_orderkey, metric,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY metric
        |      ORDER BY v, l_orderkey) AS BIGINT) AS rk
        |  FROM m
        |),
        |p AS (
        |  SELECT x.metric AS metric_x, y.metric AS metric_y,
        |    (x.rk - y.rk) * (x.rk - y.rk) AS d2
        |  FROM r x JOIN r y
        |    ON x.l_orderkey = y.l_orderkey AND x.metric < y.metric
        |)
        |SELECT metric_x, metric_y, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(d2) AS BIGINT) AS sum_d2,
        |  CAST((COUNT(*) * COUNT(*) * COUNT(*) - COUNT(*)) - 6 * CAST(SUM(d2) AS BIGINT) AS DOUBLE)
        |    / CAST(COUNT(*) * COUNT(*) * COUNT(*) - COUNT(*) AS DOUBLE) AS rho
        |FROM p GROUP BY metric_x, metric_y
        |ORDER BY metric_x, metric_y""".stripMargin,

    // length(bin(gap)) is the same floor(log2)+1 string identity
    "dq11_gap_histogram" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 1 AS us, event_id FROM events
        |),
        |g AS (
        |  SELECT us - LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap
        |  FROM e
        |),
        |b AS (
        |  SELECT CAST(length(bin(gap)) AS BIGINT) AS bucket, gap
        |  FROM g WHERE gap IS NOT NULL
        |),
        |tot AS (SELECT COUNT(*) AS tot FROM b)
        |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |  CAST(MIN(gap) AS BIGINT) AS min_gap_us,
        |  CAST(MAX(gap) AS BIGINT) AS max_gap_us,
        |  COUNT(*) * 1000000 // tot.tot AS share_ppm
        |FROM b CROSS JOIN tot
        |GROUP BY bucket, tot.tot ORDER BY bucket""".stripMargin,

    // one grouped pass; every emitted cell CAST BIGINT (the r12
    // portability contract)
    "dq12_event_field_quality" ->
      """SELECT event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(SUM(CASE WHEN props IS NULL OR props = '' THEN 1 ELSE 0 END)
        |    * 1000000 // COUNT(*) AS BIGINT) AS empty_props_ppm,
        |  CAST(SUM(CASE WHEN value IS NULL OR value <= 0 THEN 1 ELSE 0 END)
        |    * 1000000 // COUNT(*) AS BIGINT) AS nonpos_value_ppm,
        |  CAST(COUNT(*) * 1000 // COUNT(DISTINCT user_id) AS BIGINT)
        |    AS events_per_user_x1000
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the same midpoint cut and era-conditioned sums; epoch_us matches
    // Spark's unix_micros on the µs-truncated read; every cell BIGINT
    "dq16_field_quality_drift" ->
      """WITH ev AS (
        |  SELECT event_type, epoch_us(ts) AS us, props, value FROM events
        |),
        |b AS (SELECT (MIN(us) + MAX(us)) // 2 AS cut FROM ev),
        |f AS (
        |  SELECT event_type,
        |    CASE WHEN us >= (SELECT cut FROM b) THEN 1 ELSE 0 END AS late,
        |    CASE WHEN props IS NULL OR props = '' THEN 1 ELSE 0 END AS emp,
        |    CASE WHEN value IS NULL OR value <= 0 THEN 1 ELSE 0 END AS np
        |  FROM ev
        |),
        |g AS (
        |  SELECT event_type,
        |    SUM(1 - late) AS n_early, SUM(late) AS n_late,
        |    SUM((1 - late) * emp) AS e_empty, SUM(late * emp) AS l_empty,
        |    SUM((1 - late) * np) AS e_nonpos, SUM(late * np) AS l_nonpos
        |  FROM f GROUP BY event_type
        |)
        |SELECT event_type,
        |  CAST(n_early AS BIGINT) AS n_early, CAST(n_late AS BIGINT) AS n_late,
        |  CAST(CASE WHEN n_early = 0 THEN 0
        |    ELSE e_empty * 1000000 // n_early END AS BIGINT) AS empty_early_ppm,
        |  CAST(CASE WHEN n_late = 0 THEN 0
        |    ELSE l_empty * 1000000 // n_late END AS BIGINT) AS empty_late_ppm,
        |  CAST(CASE WHEN n_late = 0 THEN 0 ELSE l_empty * 1000000 // n_late END
        |    - CASE WHEN n_early = 0 THEN 0 ELSE e_empty * 1000000 // n_early END
        |    AS BIGINT) AS empty_drift_ppm,
        |  CAST(CASE WHEN n_early = 0 THEN 0
        |    ELSE e_nonpos * 1000000 // n_early END AS BIGINT) AS nonpos_early_ppm,
        |  CAST(CASE WHEN n_late = 0 THEN 0
        |    ELSE l_nonpos * 1000000 // n_late END AS BIGINT) AS nonpos_late_ppm,
        |  CAST(CASE WHEN n_late = 0 THEN 0 ELSE l_nonpos * 1000000 // n_late END
        |    - CASE WHEN n_early = 0 THEN 0 ELSE e_nonpos * 1000000 // n_early END
        |    AS BIGINT) AS nonpos_drift_ppm
        |FROM g ORDER BY event_type""".stripMargin,

    // the same histogram nearest-rank median/MAD, the same integer
    // fence; every cell BIGINT
    "dq15_user_rate_outliers" ->
      """WITH counts AS (
        |  SELECT event_type, user_id, COUNT(*) AS n FROM events GROUP BY 1, 2
        |),
        |hist AS (SELECT event_type, n, COUNT(*) AS u FROM counts GROUP BY 1, 2),
        |tot AS (SELECT event_type, SUM(u) AS tot, MAX(n) AS max_events
        |        FROM hist GROUP BY 1),
        |med AS (
        |  SELECT h.event_type, MIN(h.n) AS med FROM (
        |    SELECT event_type, n,
        |      SUM(u) OVER (PARTITION BY event_type ORDER BY n) AS cum
        |    FROM hist) h
        |  JOIN tot t ON t.event_type = h.event_type
        |  WHERE h.cum >= (t.tot + 1) // 2 GROUP BY 1
        |),
        |devh AS (
        |  SELECT h.event_type, abs(h.n - m.med) AS dev, SUM(h.u) AS u
        |  FROM hist h JOIN med m ON m.event_type = h.event_type
        |  GROUP BY 1, 2
        |),
        |mad AS (
        |  SELECT d.event_type, MIN(d.dev) AS mad FROM (
        |    SELECT event_type, dev,
        |      SUM(u) OVER (PARTITION BY event_type ORDER BY dev) AS cum
        |    FROM devh) d
        |  JOIN tot t ON t.event_type = d.event_type
        |  WHERE d.cum >= (t.tot + 1) // 2 GROUP BY 1
        |)
        |SELECT h.event_type,
        |  CAST(MAX(t.tot) AS BIGINT) AS n_users,
        |  CAST(MAX(m.med) AS BIGINT) AS med_events,
        |  CAST(MAX(x.mad) AS BIGINT) AS mad_events,
        |  CAST(MAX(t.max_events) AS BIGINT) AS max_events,
        |  CAST(SUM(CASE WHEN h.n - m.med > x.mad * 5 AND h.n - m.med >= 5
        |    THEN h.u ELSE 0 END) AS BIGINT) AS n_flagged,
        |  CAST(SUM(CASE WHEN h.n - m.med > x.mad * 5 AND h.n - m.med >= 5
        |    THEN h.u ELSE 0 END) * 1000000 // MAX(t.tot) AS BIGINT)
        |    AS flagged_ppm
        |FROM hist h
        |JOIN med m ON m.event_type = h.event_type
        |JOIN mad x ON x.event_type = h.event_type
        |JOIN tot t ON t.event_type = h.event_type
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the closed prefix form of the CUSUM recursion replayed with the
    // same two window passes over the same dense day spine; residuals
    // scaled by the 14-day baseline so every cell stays integer
    "dq17_cusum_drift" ->
      """WITH ev AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day FROM events
        |),
        |daily AS (SELECT event_type, day, COUNT(*) AS x FROM ev GROUP BY 1, 2),
        |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ev),
        |spine AS (
        |  SELECT t.event_type, u.day, b.d0
        |  FROM (SELECT DISTINCT event_type FROM ev) t
        |  CROSS JOIN b
        |  CROSS JOIN LATERAL (SELECT unnest(range(b.d0, b.d1 + 1)) AS day) u
        |),
        |dense AS (
        |  SELECT s.event_type, s.day, s.d0, COALESCE(d.x, 0) AS x
        |  FROM spine s LEFT JOIN daily d
        |    ON d.event_type = s.event_type AND d.day = s.day
        |),
        |ref AS (
        |  SELECT event_type, SUM(x) AS ref14 FROM dense
        |  WHERE day < d0 + 14 GROUP BY 1
        |),
        |mon AS (
        |  SELECT de.event_type, de.day, r.ref14,
        |    14 * de.x - (r.ref14 + r.ref14 // 10) AS y
        |  FROM dense de JOIN ref r USING (event_type)
        |  WHERE de.day >= de.d0 + 14
        |),
        |p1 AS (
        |  SELECT event_type, day, ref14,
        |    SUM(y) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS UNBOUNDED PRECEDING) AS p
        |  FROM mon
        |),
        |c AS (
        |  SELECT event_type, day, ref14,
        |    p - LEAST(0, MIN(p) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS UNBOUNDED PRECEDING)) AS cusum
        |  FROM p1
        |)
        |SELECT event_type, CAST(MAX(ref14) AS BIGINT) AS ref14,
        |  COUNT(*) AS n_days,
        |  CAST(MAX(cusum) AS BIGINT) AS max_cusum,
        |  CAST(SUM(CASE WHEN cusum > ref14 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_alarm_days,
        |  CAST(COALESCE(MIN(CASE WHEN cusum > ref14 THEN day END), -1) AS BIGINT)
        |    AS first_alarm_day
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    // the same dsum stabilizer, the same FLOOR(|Δ|·100) decimation to
    // cents; every cell BIGINT
    "dq14_order_reconciliation" ->
      """WITH rec AS (
        |  SELECT l_orderkey,
        |    CAST(SUM(CAST((l_extendedprice * (1 - l_discount)) * (1 + l_tax)
        |      AS DECIMAL(38,6))) AS DOUBLE) AS recomputed
        |  FROM lineitem GROUP BY 1
        |),
        |j AS (
        |  SELECT o.o_orderstatus, r.recomputed,
        |    CASE WHEN r.recomputed IS NULL THEN NULL
        |      ELSE CAST(FLOOR(ABS(r.recomputed - o.o_totalprice) * 100)
        |        AS BIGINT) END AS delta_u
        |  FROM orders o LEFT JOIN rec r ON r.l_orderkey = o.o_orderkey
        |)
        |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CASE WHEN recomputed IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_no_lines,
        |  CAST(SUM(CASE WHEN delta_u = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_exact,
        |  CAST(SUM(CASE WHEN delta_u >= 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_drift,
        |  CAST(MAX(COALESCE(delta_u, 0)) AS BIGINT) AS max_delta_cents,
        |  CAST(SUM(COALESCE(delta_u, 0)) AS BIGINT) AS sum_delta_cents
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    // same QI grouping, same log2 string identity, every cell BIGINT
    "dq13_k_anonymity" ->
      """WITH cls AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
        |    COUNT(*) AS sz
        |  FROM customer GROUP BY 1, 2, 3
        |),
        |tot AS (SELECT SUM(sz) AS tot FROM cls)
        |SELECT CAST(length(bin(sz)) AS BIGINT) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_classes,
        |  CAST(SUM(sz) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
        |    AS rows_below_k,
        |  CAST(SUM(sz) * 1000000 // tot.tot AS BIGINT) AS rows_ppm
        |FROM cls CROSS JOIN tot
        |GROUP BY bucket, tot.tot ORDER BY bucket""".stripMargin,

    // the same dense margin-cross grid, exact-int64 deviations, pinned
    // double multiply order, fsum-grid total
    "dq10_chisq_independence" ->
      s"""WITH obs AS (
        |  SELECT lang, source, COUNT(*) AS observed FROM documents GROUP BY 1, 2
        |),
        |rt AS (SELECT lang, SUM(observed) AS row_tot FROM obs GROUP BY 1),
        |ct AS (SELECT source, SUM(observed) AS col_tot FROM obs GROUP BY 1),
        |tot AS (
        |  SELECT SUM(observed) AS n, COUNT(DISTINCT lang) AS nr,
        |    COUNT(DISTINCT source) AS nc
        |  FROM obs
        |),
        |cells AS (
        |  SELECT rt.lang, ct.source,
        |    CAST(COALESCE(o.observed, 0) AS BIGINT) AS observed,
        |    CAST(rt.row_tot AS BIGINT) AS row_tot,
        |    CAST(ct.col_tot AS BIGINT) AS col_tot,
        |    CAST(t.n AS BIGINT) AS n, CAST(t.nr AS BIGINT) AS nr,
        |    CAST(t.nc AS BIGINT) AS nc
        |  FROM rt CROSS JOIN ct CROSS JOIN tot t
        |  LEFT JOIN obs o ON o.lang = rt.lang AND o.source = ct.source
        |),
        |terms AS (
        |  SELECT *, observed * n - row_tot * col_tot AS dev,
        |    (CAST(observed * n - row_tot * col_tot AS DOUBLE)
        |       * CAST(observed * n - row_tot * col_tot AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE))
        |      AS chi_term
        |  FROM cells
        |),
        |total AS (
        |  SELECT ${graft.ops.Num.fsumSql("chi_term")} AS chi2,
        |    CAST(MAX((nr - 1) * (nc - 1)) AS BIGINT) AS dof
        |  FROM terms
        |)
        |SELECT t.lang, t.source, t.observed, t.row_tot, t.col_tot, t.n,
        |  CAST(t.dev AS BIGINT) AS dev, t.chi_term, total.chi2, total.dof
        |FROM terms t CROSS JOIN total
        |ORDER BY t.lang, t.source""".stripMargin,
  )
}
