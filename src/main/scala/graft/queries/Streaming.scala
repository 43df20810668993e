package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ops.Num.dsum
import graft.sources.Tables
import graft.streaming.Streams

/** Streaming-operator batch equivalents over `events` (SURVEY.md §2.5):
  * tumbling/sliding windows, session windows, first-event dedup
  * (`dropDuplicatesWithinWatermark` analog). The DuckDB oracle works in
  * epoch arithmetic (integer division = floor for the positive epochs
  * here); `ts` is ns-precision in parquet, truncated to µs on the Spark
  * side, so the oracle truncates too (`epoch_us // 1`). The same Column
  * shapes run as genuine Structured Streaming plans in
  * [[graft.streaming.Streams]] (proven equal in StreamingSpec). */
object Streaming {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // tumbling 1-hour windows
    "s1_tumbling" -> ((s, dir) => {
      import s.implicits._
      Streams.tumblingHourly(Tables.events(s, dir))
        .orderBy($"w_start", $"event_type")
    }),

    // sliding windows: 1 hour long, every 30 minutes (each event in 2)
    "s2_sliding" -> ((s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .groupBy(window($"ts", "1 hour", "30 minutes"), $"event_type")
        .agg(count(lit(1)).as("n"), dsum($"value").as("sum_val"))
        .select(unix_timestamp($"window.start").as("w_start"),
          $"event_type", $"n", $"sum_val")
        .orderBy($"w_start", $"event_type")
    }),

    // session windows: 30-minute inactivity gap per user
    "s3_session" -> ((s, dir) => {
      import s.implicits._
      Streams.sessions(Tables.events(s, dir))
        .orderBy($"user_id", $"session_start_us")
    }),

    // first event per (user, type): dropDuplicatesWithinWatermark analog
    "s4_dedup_first" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id", $"event_type")
        .orderBy($"ts".asc, $"event_id".asc)
      Tables.events(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_first"),
             dsum($"value").as("sum_first_val"))
        .orderBy($"event_type")
    }),
    // stream-static enrichment: events joined to a broadcast customer
    // dimension, then aggregated — the stateless-join streaming pattern
    "s5_stream_static_join" -> ((s, dir) => {
      import s.implicits._
      Streams.enrichWithCustomers(Tables.events(s, dir), Tables.customer(s, dir))
        .orderBy($"event_type", $"c_mktsegment")
    }),
    // stream-stream join: click→purchase attribution within 6 hours —
    // the fully stateful join (both sides buffered, watermark-expired);
    // batch equivalent below, stream==batch proven in StreamingSpec
    "s6_stream_stream_join" -> ((s, dir) => {
      import s.implicits._
      Streams.clickPurchasePairs(Tables.events(s, dir))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_pairs"), dsum($"value").as("sum_val"))
        .orderBy($"user_id")
    }),
    // streaming dedup-ingest: arriving docs (source 'src1' plays the
    // stream) anti-joined on md5 against the static corpus index —
    // stream==batch proven in StreamingSpec with a genuine readStream
    "s7_stream_dedup_ingest" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val idx = docs.filter($"source" =!= "src1")
        .select(md5($"text").as("fp")).distinct()
      Streams.dedupIngest(docs.filter($"source" === "src1"), idx)
        .orderBy($"lang")
    }),

    // STREAMING EXPORT: a genuine readStream driven through the [REF]
    // sink surface — each micro-batch of the filtered document stream
    // is exported by the distributed NDJSON sink inside foreachBatch
    // (the canonical Structured-Streaming→batch-writer bridge), and the
    // query's result is the exported directory read back under an
    // EXPLICIT schema. The oracle is the plain batch SQL, so the gate
    // checks the whole stream → export → interchange loop, not just
    // the stream compute. Fresh temp checkpoint per invocation → the
    // single-file source replays fully and batch ids restart at 0, so
    // the per-batch output dirs overwrite idempotently. They are read
    // back as listed paths: a glob path makes Spark's sink-metadata
    // probe log a FileNotFoundException trace.
    "s8_stream_export" -> ((s, dir) => {
      import s.implicits._
      val out = graft.ops.Scratch.dir("graft_sexport", dir)
      val shape = Tables.documents(s, dir)
        .filter($"n_chars" >= 200).select($"doc_id", $"lang", $"n_chars")
      val q = Streams.fixtureStream(s, dir, "documents")
        .filter($"n_chars" >= 200).select($"doc_id", $"lang", $"n_chars")
        .writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          graft.sinks.JsonSink.writeDir(b, s"$out/b$id",
            graft.sinks.JsonOptions(newlineDelimited = true))
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      val parts = new java.io.File(out).list().filter(_.matches("b\\d+")).map(b => s"$out/$b")
      s.read.schema(shape.schema).json(parts.toSeq: _*).orderBy($"doc_id")
    }),

    // CUSTOM-STATE sessionization (flatMapGroupsWithState): imperative
    // per-user state logic — the operator family for semantics
    // session_window can't express. Batch posture emits every session
    // (incl. the trailing open one); the incremental two-micro-batch
    // state carry is proven in StreamingSpec. 30-minute gap, same
    // boundary rule as s3 (gap >= 30 min opens a new session).
    "s9_sessionize_state" -> ((s, dir) => {
      import s.implicits._
      Streams.sessionizeEvents(Tables.events(s, dir), 1800000000L,
          emitOpen = true)
        .orderBy($"user_id", $"session_start_us")
    }),

    // stream-stream LEFT OUTER join: clicks with no purchase within 30
    // minutes surface as null-padded rows — the harder outer form of s6
    // (unmatched rows can only emit once the watermark closes their
    // window; incremental emission proven in StreamingSpec). Batch
    // posture aggregates matched/unmatched attribution per user.
    "s10_stream_left_outer" -> ((s, dir) => {
      import s.implicits._
      Streams.clickPurchaseLeftOuter(Tables.events(s, dir), watermarked = false)
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_rows"),
          count($"buy_ts").as("n_matched"),
          sum(when($"buy_ts".isNull, 1L).otherwise(0L)).as("n_unmatched"),
          dsum(coalesce($"value", lit(0.0))).as("sum_val"))
        .orderBy($"user_id")
    }),

    // stream-stream FULL OUTER join — the attribution-complete matrix
    // cell: s6 inner, s10 left, this both-sided. Unmatched purchases
    // (no preceding click — organic conversions) are exactly the rows
    // a left join silently drops from revenue attribution. Per user:
    // matched pairs, click-only, purchase-only, and value mass split
    // by matched/organic. Incremental emission for BOTH null-padded
    // sides proven in StreamingSpec.
    "s18_stream_full_outer" -> ((s, dir) => {
      import s.implicits._
      Streams.clickPurchaseFullOuter(Tables.events(s, dir), watermarked = false)
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_rows"),
          sum(when($"click_ts".isNotNull && $"buy_ts".isNotNull, 1L)
            .otherwise(0L)).as("n_matched"),
          sum(when($"click_ts".isNotNull && $"buy_ts".isNull, 1L)
            .otherwise(0L)).as("n_click_only"),
          sum(when($"click_ts".isNull && $"buy_ts".isNotNull, 1L)
            .otherwise(0L)).as("n_purchase_only"),
          dsum(when($"click_ts".isNotNull, coalesce($"value", lit(0.0)))
            .otherwise(0.0)).as("attributed_val"),
          dsum(when($"click_ts".isNull, coalesce($"value", lit(0.0)))
            .otherwise(0.0)).as("organic_val"))
        .orderBy($"user_id")
    }),

    // EXACTLY-ONCE streaming upsert into a keyed SERVING TABLE: the
    // event stream maintains latest-state-per-user ([[Streams.serving]])
    // through foreachBatch on the versioned store (replays are no-ops —
    // the contract exactly-once foreachBatch sinks must implement).
    // The query streams the fixture through the upsert and returns the
    // final serving table; the oracle is the batch latest-per-user.
    // StreamingSpec proves two-batch accumulation AND replay idempotence.
    "s11_serving_upsert" -> ((s, dir) => {
      import s.implicits._
      val out = graft.ops.Scratch.dir("graft_serving", dir)
      // fresh temp checkpoint per invocation → batch ids restart at 0;
      // clear the previous marker/versions so the replay guard doesn't
      // no-op the rerun
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
      val q = Streams.fixtureStream(s, dir, "events")
        .writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          Streams.serving.step(b, out, id)
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      Streams.serving.read(s, out).orderBy($"user_id")
    }),

    // incremental DISTINCT COUNTING via mergeable sketches: the
    // monitoring widget every ingest keeps current — "distinct users
    // per event type, so far" — maintained as a per-micro-batch HLL
    // union into kilobyte persisted state ([[Streams.distinctUsers]]),
    // never a rescan. Batch posture below (the one-shot sketch, q57's
    // family — rows-only: no sketch library in the oracle engine);
    // StreamingSpec proves the 4-micro-batch incremental state lands on
    // EXACTLY the one-shot estimate (HLL register max-merge is order-
    // and partition-insensitive), that a replayed batch is a no-op,
    // and the ≤5% accuracy floor vs exact counts.
    "s13_streaming_distinct" -> ((s, dir) => {
      import s.implicits._
      Streams.distinctUsers(Tables.events(s, dir)).orderBy($"event_type")
    }),

    // s13's error envelope (q11b's posture): the one-shot sketch
    // estimate must sit within 5% of exact — oracle hashes the exact
    // count plus the literal contract, so sketch drift is driver-red.
    "s13b_streaming_distinct_bound" -> ((s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .groupBy($"event_type")
        .agg(hll_sketch_estimate(hll_sketch_agg($"user_id")).as("approx"),
             countDistinct($"user_id").as("exact_users"))
        .select($"event_type", $"exact_users",
          (abs($"approx" - $"exact_users") * 20 <= $"exact_users")
            .as("within_5pct"))
        .orderBy($"event_type")
    }),

    // STREAM-SIDE FIELD QUALITY — dq12's ingest contract as the live
    // monitor it would actually run as: per event family, event /
    // empty-payload / non-positive-value counters with ppm verdicts.
    // Batch posture below; the INCREMENTAL execution is the same
    // [[graft.streaming.Streams.fieldQuality]] summary: per-micro-batch
    // partial counts SUM-merged into versioned state (|event_type| rows
    // total regardless of volume, replay-idempotent), ppm derived at
    // read. StreamingSpec proves stream == one-shot and replay no-op.
    // Distinct-user breadth is deliberately NOT here: exact distincts
    // don't merge by SUM — that is s13's HLL-sketch state.
    "s19_stream_field_quality" -> ((s, dir) => {
      import s.implicits._
      Streams.fieldQuality(Tables.events(s, dir)).orderBy($"event_type")
    }),

    // SESSION OUTCOME MONITOR — sessionization labeled by what the
    // session ACHIEVED: per 30-min-gap user session (s3's definition,
    // the lag/cumsum island form q66 shares), did it convert
    // (purchase) or error out, rolled up by hour-of-day of the session
    // start — the abandonment/error dashboard an on-call watches, and
    // the outcome join a funnel analysis starts from. Scale shape: ONE
    // user-keyed window exchange (the same exchange every
    // sessionization pays — event volume, once), a session-grain
    // aggregate, and a 24-row rollup; the ppm columns are integer
    // division. The INCREMENTAL execution is s9's
    // sessionize-with-state posture (flatMapGroupsWithState keyed by
    // user); this registers the batch-equivalent semantics, like
    // s2/s3/s4. All-BIGINT output.
    "s21_session_outcomes" -> ((s, dir) => {
      import s.implicits._
      val wo = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
      val e = Tables.events(s, dir)
        .select($"user_id", $"event_id", $"event_type",
          expr("unix_micros(ts)").as("us"))
      val sess = e
        .withColumn("prev", lag($"us", 1).over(wo))
        .withColumn("new_s",
          when($"prev".isNull || $"us" - $"prev" >= 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("sid", sum($"new_s").over(
          wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val per = sess.groupBy($"user_id", $"sid")
        .agg(min($"us").as("start_us"), count(lit(1)).as("n_ev"),
          max(when($"event_type" === "purchase", 1L).otherwise(0L)).as("has_p"),
          max(when($"event_type" === "error", 1L).otherwise(0L)).as("has_e"))
      per.groupBy(expr("(start_us div 3600000000) % 24").as("hour_of_day"))
        .agg(count(lit(1)).as("n_sessions"),
          sum($"n_ev").as("n_events"),
          sum(lit(1L) - $"has_p").as("n_abandoned"),
          sum($"has_e").as("n_error"))
        .select($"hour_of_day", $"n_sessions", $"n_events", $"n_abandoned",
          expr("n_abandoned * 1000000 div n_sessions").as("abandoned_ppm"),
          $"n_error",
          expr("n_error * 1000000 div n_sessions").as("error_ppm"))
        .orderBy($"hour_of_day")
    }),

    // incremental CRAWL NOVELTY accounting: sources are crawl
    // increments processed in rank order; a 10-token segment is NOVEL
    // iff no earlier crawl (nor an earlier position in this one)
    // contained it — the "how much fresh content did this crawl add"
    // dedup-rate metric. Batch semantics = global first-occurrence by
    // the packed (source_rank, doc_id, seg_idx) key (bounds: rank<2^23,
    // doc_id<2^20, seg_idx<2^20); the true incremental execution —
    // per-micro-batch anti join against an accumulating segment-hash
    // index, one batch per crawl — is [[Streams.crawlNoveltyBatch]],
    // proven equal in StreamingSpec.
    "s12_crawl_novelty" -> ((s, dir) => {
      import s.implicits._
      val segs = graft.queries.LlmPipeline.segmentize(
          graft.ops.Spread.fanout(Tables.documents(s, dir)), Seq("source", "doc_id"))
        .select($"source",
          xxhash64($"seg").as("k"),
          graft.queries.LlmPipeline.crawlOrderKey(
            $"source", $"doc_id", $"seg_idx").as("okey"))
      val first = segs.groupBy($"k").agg(min($"okey").as("fkey"))
      segs.join(first, "k")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_segs"),
          sum(when($"okey" === $"fkey", 1L).otherwise(0L)).as("n_novel"))
        .orderBy($"source")
    }),

    // TRENDING TOP-K per hour window — the "what's hot right now"
    // leaderboard a monitoring surface keeps current: top-3 event types
    // by count per tumbling hour, ties to the lexicographically-smaller
    // type so the rank is a total order and replayable. Batch posture
    // below (hour counts → map-side-heap TopKPerKey — the rank never
    // sees more than k rows per window per partition); the INCREMENTAL
    // execution is the same [[Streams.hourCounts]] summary: per-micro-
    // batch counts SUM-merged into versioned state (windows × types rows,
    // not event volume), rank derived at read time, replays no-ops —
    // StreamingSpec proves multi-batch accumulation lands exactly on
    // this one-shot result and that a replayed batch id is a no-op.
    "s14_trending_topk" -> ((s, dir) => {
      import s.implicits._
      Streams.windowTopk(Streams.hourCounts(Tables.events(s, dir)), k = 3)
        .orderBy($"w_start", col("n").desc, $"event_type")
    }),

    // STREAMING LATENCY PERCENTILES (the SLO monitor): per event type,
    // p50/p95 from an INTEGER histogram — floor(value) buckets whose
    // counts are the entire monitor state (kilobytes per type, merge =
    // SUM; the reason production monitors keep histograms, not
    // samples). The percentile is nearest-rank decided on exact
    // integers (cum·100 ≥ tot·q → smallest bucket), so no float ever
    // forms; batch posture here, and the SAME Streams.latencyBuckets
    // summary serves the incremental path (versioned, replay-idempotent;
    // StreamingSpec proves accumulation == one-shot and replay no-op).
    // Scale: one (type, bucket) map-side-combining count, windows over
    // the BOUNDED bucket table, never event volume.
    "s15_latency_percentiles" -> ((s, dir) => {
      import s.implicits._
      Streams.latencyBuckets(Tables.events(s, dir)).orderBy($"event_type")
    }),

    // WATERMARK DROP ACCOUNTING — the "what would a 30-minute watermark
    // cost us" audit a streaming team runs BEFORE committing to a
    // delay: replay the stream in arrival order, track the running
    // watermark (max event time seen − 30 min, Spark's rule), and
    // count per hour window the events whose window had already been
    // evicted when they arrived. The fixture's ingest sequence is
    // time-ordered (zero late data — the audit would be vacuous), so
    // arrival is replayed under DETERMINISTIC BOUNDED DISORDER: each
    // event's arrival position is its event time plus an md5-derived
    // jitter in ±30 min — the realistic network/shard-skew model
    // watermark sizing is tested against (a full random permutation
    // drops ~everything; in-order drops nothing; bounded jitter yields
    // the informative partial-loss regime). Everything is exact
    // integer micros. The running max is inherently a sequential
    // scan — a single-partition window HERE, by design: production
    // tracks watermarks per ingest partition, which is this audit
    // applied per partition; the rollup after it is an ordinary hash
    // agg.
    // RATE ANOMALIES (the pager): hourly counts vs a trailing-6-hour
    // Poisson baseline, 3σ decided on exact integers — see
    // [[graft.streaming.Streams.rateAnomaliesFromCounts]], a second
    // report of s14's [[Streams.hourCounts]] state (the incremental
    // execution reads the same versioned state — one state table serving
    // both the leaderboard and the pager, which is how production
    // monitors actually share aggregation state).
    // StreamingSpec proves multi-batch accumulation lands on this
    // one-shot result, replay is a no-op, and the flag set equals a
    // local brute-force replay of the 3σ rule.
    "s16_rate_anomaly" -> ((s, dir) => {
      import s.implicits._
      Streams.rateAnomaliesFromCounts(Streams.hourCounts(Tables.events(s, dir)))
        .orderBy($"event_type", $"w_start")
    }),

    "s17_watermark_audit" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.events(s, dir)
        .select(expr("unix_micros(ts)").as("us"), $"event_id")
        .withColumn("w_start", expr("(us div 3600000000) * 3600000000"))
        .withColumn("w_end", $"w_start" + 3600000000L)
        .withColumn("akey", $"us" +
          expr("CAST(conv(substr(md5(CAST(event_id AS STRING)), 1, 8), 16, 10) AS BIGINT)")
            % 3600000000L - 1800000000L)
      val arrival = Window.orderBy($"akey", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.withColumn("wm", max($"us").over(arrival) - 1800000000L)
        .withColumn("dropped", $"w_end" <= $"wm")
        .groupBy($"w_start")
        .agg(count(lit(1)).as("n_events"),
          sum(when($"dropped", 1L).otherwise(0L)).as("n_dropped"))
        .withColumn("drop_ppm", expr("n_dropped * 1000000 div n_events"))
        .orderBy($"w_start")
    }),
    // STREAMING CENTROID ROUTER — the ingest half of an ANN/cluster
    // serving surface: arriving embeddings route against a FROZEN
    // k-means codebook (trained offline on the static corpus — c1's
    // exact centroids; retrain-on-ingest is an offline job, d27's
    // posture), and the per-cluster admission counters are the
    // load-balance monitor behind IVF cell sizing. Batch posture below
    // (route + one k-row aggregate); the INCREMENTAL execution is the
    // same [[graft.streaming.Streams.centroidRoute]] summary: per-micro-
    // batch routed partials merged into versioned state (k rows total,
    // SUM/MIN/MAX merges, replay-idempotent), shares derived at read.
    // StreamingSpec proves stream == one-shot and replay no-op.
    "s20_stream_centroid_route" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val cents = graft.queries.Clustering.centroids(emb, k = 8, iters = 2)
      Streams.centroidRoute(cents)(emb).orderBy($"cluster_id")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    // a2 IS the frozen-codebook routing at c1's refined centroids;
    // every cell BIGINT (the r12 portability contract)
    "s20_stream_centroid_route" ->
      (graft.queries.Clustering.kmeansCte + """,
        |tot AS (SELECT COUNT(*) AS tot FROM a2)
        |SELECT cid AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |  MIN(vec_id) AS min_vec_id, MAX(vec_id) AS max_vec_id,
        |  CAST(COUNT(*) * 1000000 // tot.tot AS BIGINT) AS share_ppm
        |FROM a2 CROSS JOIN tot
        |GROUP BY cid, tot.tot ORDER BY cluster_id""".stripMargin),

    // s13's envelope companion: exact count + literal contract verdict
    // (q11b's posture — sketch drift becomes a driver hash mismatch)
    "s13b_streaming_distinct_bound" ->
      """SELECT event_type,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  TRUE AS within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // one grouped pass; every cell BIGINT (the r12 portability contract)
    "s19_stream_field_quality" ->
      """SELECT event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CASE WHEN props IS NULL OR props = '' THEN 1 ELSE 0 END)
        |    * 1000000 // COUNT(*) AS BIGINT) AS empty_props_ppm,
        |  CAST(SUM(CASE WHEN value IS NULL OR value <= 0 THEN 1 ELSE 0 END)
        |    * 1000000 // COUNT(*) AS BIGINT) AS nonpos_value_ppm
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // s3's gap-sessionization CTEs + outcome flags; hour-of-day is
    // pure epoch integer arithmetic; every cell BIGINT
    "s21_session_outcomes" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) // 1 AS us,
        |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events
        |),
        |flagged AS (
        |  SELECT user_id, event_id, event_type, us,
        |    CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e
        |),
        |sessions AS (
        |  SELECT user_id, event_type, us,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged
        |),
        |per AS (
        |  SELECT user_id, sid, MIN(us) AS start_us, COUNT(*) AS n_ev,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_p,
        |    MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS has_e
        |  FROM sessions GROUP BY user_id, sid
        |)
        |SELECT CAST((start_us // 3600000000) % 24 AS BIGINT) AS hour_of_day,
        |  COUNT(*) AS n_sessions,
        |  CAST(SUM(n_ev) AS BIGINT) AS n_events,
        |  CAST(SUM(1 - has_p) AS BIGINT) AS n_abandoned,
        |  CAST(SUM(1 - has_p) * 1000000 // COUNT(*) AS BIGINT) AS abandoned_ppm,
        |  CAST(SUM(has_e) AS BIGINT) AS n_error,
        |  CAST(SUM(has_e) * 1000000 // COUNT(*) AS BIGINT) AS error_ppm
        |FROM per GROUP BY (start_us // 3600000000) % 24
        |ORDER BY hour_of_day""".stripMargin,

    "s1_tumbling" ->
      """SELECT (epoch_us(ts) // 1000000 // 3600) * 3600 AS w_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_val
        |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,

    "s2_sliding" ->
      """SELECT (epoch_us(ts) // 1000000 // 1800) * 1800 - 1800*k.k AS w_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_val
        |FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) k
        |GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,

    "s3_session" ->
      """WITH e AS (
        |  SELECT user_id, value, epoch_us(ts) // 1 AS us,
        |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events
        |),
        |flagged AS (
        |  SELECT user_id, value, us,
        |    CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e
        |),
        |sessions AS (
        |  SELECT user_id, value, us,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged
        |)
        |SELECT user_id, MIN(us) AS session_start_us, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_val
        |FROM sessions GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin,

    "s4_dedup_first" ->
      """WITH ranked AS (
        |  SELECT event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events
        |)
        |SELECT event_type, COUNT(*) AS n_first,
        |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_first_val
        |FROM ranked WHERE rn = 1
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "s5_stream_static_join" ->
      """SELECT event_type, c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_val
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2 ORDER BY event_type, c_mktsegment""".stripMargin,

    "s6_stream_stream_join" ->
      """WITH c AS (
        |  SELECT user_id, epoch_us(ts) // 1 AS cus FROM events WHERE event_type = 'click'
        |),
        |p AS (
        |  SELECT user_id, epoch_us(ts) // 1 AS pus, value FROM events WHERE event_type = 'purchase'
        |)
        |SELECT c.user_id, COUNT(*) AS n_pairs,
        |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_val
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND p.pus >= c.cus AND p.pus <= c.cus + 21600000000
        |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin,

    "s7_stream_dedup_ingest" ->
      """WITH idx AS (
        |  SELECT DISTINCT md5(text) AS fp FROM documents WHERE source <> 'src1'
        |)
        |SELECT lang, COUNT(*) AS n_novel FROM documents
        |WHERE source = 'src1' AND md5(text) NOT IN (SELECT fp FROM idx)
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // the streamed NDJSON export read back must equal the batch filter
    "s8_stream_export" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE n_chars >= 200 ORDER BY doc_id""".stripMargin,

    "s9_sessionize_state" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) // 1 AS us,
        |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events
        |),
        |flagged AS (
        |  SELECT user_id, event_id, us,
        |    CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e
        |),
        |sessions AS (
        |  SELECT user_id, us,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged
        |)
        |SELECT user_id, MIN(us) AS session_start_us, MAX(us) AS session_end_us,
        |  COUNT(*) AS n_events
        |FROM sessions GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin,

    "s10_stream_left_outer" ->
      """WITH c AS (
        |  SELECT user_id, epoch_us(ts) // 1 AS cus FROM events WHERE event_type = 'click'
        |),
        |p AS (
        |  SELECT user_id AS p_user, epoch_us(ts) // 1 AS pus, value
        |  FROM events WHERE event_type = 'purchase'
        |)
        |SELECT c.user_id, COUNT(*) AS n_rows,
        |  COUNT(p.pus) AS n_matched,
        |  CAST(SUM(CASE WHEN p.pus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched,
        |  CAST(SUM(CAST(COALESCE(value, 0.0) AS DECIMAL(38,6))) AS DOUBLE) AS sum_val
        |FROM c LEFT JOIN p ON c.user_id = p.p_user
        |  AND p.pus >= c.cus AND p.pus <= c.cus + 1800000000
        |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin,

    // the same two-sided interval condition, FULL OUTER
    "s18_stream_full_outer" ->
      """WITH c AS (
        |  SELECT user_id, epoch_us(ts) // 1 AS cus FROM events WHERE event_type = 'click'
        |),
        |p AS (
        |  SELECT user_id AS p_user, epoch_us(ts) // 1 AS pus, value
        |  FROM events WHERE event_type = 'purchase'
        |),
        |j AS (
        |  SELECT COALESCE(c.user_id, p.p_user) AS user_id, c.cus, p.pus, p.value
        |  FROM c FULL OUTER JOIN p ON c.user_id = p.p_user
        |    AND p.pus >= c.cus AND p.pus <= c.cus + 1800000000
        |)
        |SELECT user_id, COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN cus IS NOT NULL AND pus IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
        |  CAST(SUM(CASE WHEN cus IS NOT NULL AND pus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_click_only,
        |  CAST(SUM(CASE WHEN cus IS NULL AND pus IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase_only,
        |  CAST(SUM(CAST(CASE WHEN cus IS NOT NULL THEN COALESCE(value, 0.0) ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE) AS attributed_val,
        |  CAST(SUM(CAST(CASE WHEN cus IS NULL THEN COALESCE(value, 0.0) ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE) AS organic_val
        |FROM j GROUP BY user_id ORDER BY user_id""".stripMargin,

    "s11_serving_upsert" ->
      """SELECT user_id, us, event_id, event_type, value FROM (
        |  SELECT user_id, epoch_us(ts) // 1 AS us, event_id, event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events
        |) WHERE rn = 1 ORDER BY user_id""".stripMargin,

    // first occurrence replicated on the segment STRING (Spark groups by
    // xxhash64 — identical decisions modulo ~1e-8 collision, hash never
    // reaches the output); packed order key identical in both engines
    "s12_crawl_novelty" ->
      """WITH d AS (
        |  SELECT source, doc_id, string_split_regex(lower(text), '\s+') AS t
        |  FROM documents
        |),
        |segs AS (
        |  SELECT source, doc_id, s.i AS seg_idx,
        |    array_to_string(t[s.i*10+1 : s.i*10+10], ' ') AS seg,
        |    CAST(substr(source, 4) AS BIGINT) * 1099511627776
        |      + doc_id * 1048576 + s.i AS okey
        |  FROM d
        |  CROSS JOIN LATERAL (SELECT unnest(range(CAST(ceil(len(t)/10.0) AS INT))) AS i) s
        |),
        |firsts AS (SELECT seg, MIN(okey) AS fkey FROM segs GROUP BY seg)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_segs,
        |  CAST(SUM(CASE WHEN okey = fkey THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
        |FROM segs JOIN firsts USING (seg)
        |GROUP BY source ORDER BY source""".stripMargin,

    // ROW_NUMBER replays TopKPerKey's exact total order (n DESC,
    // event_type ASC); integer counts, so no float ever ranks a row
    "s14_trending_topk" ->
      """WITH c AS (
        |  SELECT (epoch_us(ts) // 1000000 // 3600) * 3600 AS w_start,
        |    event_type, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2
        |),
        |r AS (
        |  SELECT c.*, ROW_NUMBER() OVER (
        |    PARTITION BY w_start ORDER BY n DESC, event_type ASC) AS rn
        |  FROM c
        |)
        |SELECT w_start, event_type, n FROM r WHERE rn <= 3
        |ORDER BY w_start, n DESC, event_type""".stripMargin,

    // integer floor-buckets, exact-integer nearest-rank pick
    "s15_latency_percentiles" ->
      """WITH b AS (
        |  SELECT event_type, CAST(floor(value) AS BIGINT) AS bucket, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2
        |),
        |c AS (
        |  SELECT event_type, bucket, n,
        |    SUM(n) OVER (PARTITION BY event_type ORDER BY bucket
        |                 ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(n) OVER (PARTITION BY event_type) AS tot
        |  FROM b
        |),
        |p50 AS (SELECT event_type, MIN(bucket) AS p50_bucket
        |        FROM c WHERE cum * 100 >= tot * 50 GROUP BY 1),
        |p95 AS (SELECT event_type, MIN(bucket) AS p95_bucket
        |        FROM c WHERE cum * 100 >= tot * 95 GROUP BY 1),
        |base AS (
        |  SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_events,
        |    MAX(bucket) AS max_bucket
        |  FROM b GROUP BY 1
        |)
        |SELECT base.event_type, n_events, max_bucket, p50_bucket, p95_bucket
        |FROM base JOIN p50 USING (event_type) JOIN p95 USING (event_type)
        |ORDER BY base.event_type""".stripMargin,

    // the same dense spine / trailing-6 baseline / integer 3-sigma
    // rule; HUGEINT square with a loud BIGINT cast mirrors the
    // DECIMAL(38,0) compare
    "s16_rate_anomaly" ->
      """WITH e AS (
        |  SELECT (epoch_us(ts) // 1000000 // 3600) * 3600 AS w_start,
        |    event_type, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2
        |),
        |span AS (SELECT MIN(w_start) AS mn, MAX(w_start) AS mx FROM e),
        |spine AS (
        |  SELECT t.event_type, h.w_start
        |  FROM (SELECT DISTINCT event_type FROM e) t
        |  CROSS JOIN (SELECT unnest(range(mn, mx + 3600, 3600)) AS w_start FROM span) h
        |),
        |d AS (
        |  SELECT s.event_type, s.w_start, COALESCE(e.n, 0) AS n
        |  FROM spine s LEFT JOIN e
        |    ON e.event_type = s.event_type AND e.w_start = s.w_start
        |),
        |b AS (
        |  SELECT *,
        |    SUM(n) OVER (PARTITION BY event_type ORDER BY w_start
        |                 ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING) AS base_6h,
        |    COUNT(*) OVER (PARTITION BY event_type ORDER BY w_start
        |                   ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING) AS bn
        |  FROM d
        |)
        |SELECT event_type, CAST(w_start AS BIGINT) AS w_start,
        |  CAST(n AS BIGINT) AS n, CAST(base_6h AS BIGINT) AS base_6h
        |FROM b
        |WHERE bn = 6 AND n >= 2 AND 6 * n > base_6h
        |  AND CAST(CAST(6 * n - base_6h AS HUGEINT) * CAST(6 * n - base_6h AS HUGEINT) AS BIGINT)
        |      > 54 * base_6h
        |ORDER BY event_type, w_start""".stripMargin,

    // the same ±30-min md5-jittered arrival, running-max watermark
    "s17_watermark_audit" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) // 1 AS us, event_id FROM events
        |),
        |a AS (
        |  SELECT us, event_id,
        |    us + list_reduce(list_transform(range(8),
        |          dd -> strpos('0123456789abcdef',
        |                 substr(md5(CAST(event_id AS VARCHAR)), dd+1, 1)) - 1),
        |        (acc, v) -> acc*16 + v)::BIGINT % 3600000000 - 1800000000 AS akey
        |  FROM e
        |),
        |g AS (
        |  SELECT us, event_id,
        |    (us // 3600000000) * 3600000000 AS w_start,
        |    (us // 3600000000) * 3600000000 + 3600000000 AS w_end,
        |    MAX(us) OVER (ORDER BY akey, event_id ROWS UNBOUNDED PRECEDING)
        |      - 1800000000 AS wm
        |  FROM a
        |)
        |SELECT w_start, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CASE WHEN w_end <= wm THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  CAST(SUM(CASE WHEN w_end <= wm THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS drop_ppm
        |FROM g GROUP BY w_start
        |ORDER BY w_start""".stripMargin,
  )
}
