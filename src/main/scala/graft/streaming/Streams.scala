package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ops.Num.dsum
import graft.sources.Tables

/** A mergeable summary, the one shape of the incremental streaming
  * monitors: a partial aggregate per key, an associative merge of
  * partials, and a read-time report. Each measure is `(name, partial
  * aggregate, merge of that column)`, so a partial and its merge are
  * stated together and cannot drift. The batch posture is
  * `report(partial(events))` ([[apply]]); the foreachBatch posture
  * commits `merge(prev ∪ partial(batch))` through [[Versioned]]
  * ([[step]], a no-op on a replayed batch id) and reads
  * `report(state)` ([[read]]). `prep` maps the raw rows to what the
  * keys and measures read. The state is keys × measures, never event
  * volume. */
final case class Summary(keys: Seq[(String, Column)],
                         measures: Seq[(String, Column, Column => Column)],
                         report: DataFrame => DataFrame = identity,
                         prep: DataFrame => DataFrame = identity) {

  private def aggregate(df: DataFrame, ks: Seq[Column], ms: Seq[Column]) =
    df.groupBy(ks: _*).agg(ms.head, ms.tail: _*)

  private def partial(events: DataFrame): DataFrame =
    aggregate(prep(events), keys.map { case (k, c) => c.as(k) },
      measures.map { case (m, p, _) => p.as(m) })

  private def merge(parts: DataFrame): DataFrame =
    aggregate(parts, keys.map(k => col(k._1)),
      measures.map { case (m, _, f) => f(col(m)).as(m) })

  def apply(events: DataFrame): DataFrame = report(partial(events))

  def step(batch: DataFrame, dir: String, batchId: Long): Unit =
    Versioned.commit(dir, batchId) { (prev, out) =>
      val p = partial(batch)
      prev.fold(p)(v => merge(batch.sparkSession.read.parquet(v).unionByName(p)))
        .write.mode("overwrite").parquet(out)
    }

  def read(s: SparkSession, dir: String): DataFrame =
    report(s.read.parquet(Versioned.committed(dir)
      .getOrElse(sys.error(s"no committed state under $dir"))))
}

/** Structured Streaming surface over the `events` table. The transforms
  * are plain Column expressions shared verbatim between the batch queries
  * (oracle-checked in [[graft.queries.Streaming]]) and the streaming
  * plans here — Spark's batch/stream unification means correctness is
  * proven in batch and the same plan runs incrementally with watermarked
  * state. */
object Streams {

  /** `readStream` source over the fixture table `table` with the
    * batch-derived schema (a streaming scan cannot infer), including the
    * ns→µs normalization of `Tables.events` for `events`. */
  def fixtureStream(spark: SparkSession, dir: String, table: String): DataFrame = {
    val file = s"$dir/$table.parquet"
    // the file-stream source monitors a DIRECTORY; expose the single
    // parquet fixture through a FIXED per-source temp dir (symlink — no
    // copy; idempotent so repeated bench/verify invocations reuse it
    // instead of leaking a fresh dir per call)
    val streamDir = java.nio.file.Paths.get(
      graft.ops.Scratch.dir(s"graft_stream_$table", dir))
    java.nio.file.Files.createDirectories(streamDir)
    ensureSymlink(streamDir.resolve(s"$table.parquet"), java.nio.file.Paths.get(file))
    val raw = spark.readStream.schema(spark.read.parquet(file).schema)
      .parquet(streamDir.toString)
    if (table == "events") Tables.normalizeTs(raw) else raw
  }

  /** Tumbling 1-hour counts — shared shape of query `s1_tumbling`. */
  def tumblingHourly(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_val"))
      .select(unix_timestamp(col("window.start")).as("w_start"),
        col("event_type"), col("n"), col("sum_val"))

  /** Watermarked streaming variant of [[tumblingHourly]]. */
  def tumblingHourlyStream(events: DataFrame): DataFrame =
    tumblingHourly(events.withWatermark("ts", "10 minutes"))

  /** Session windows (30-minute gap) per user — shape of `s3_session`. */
  def sessions(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_val"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        col("n_events"), col("sum_val"))

  /** Stream-static enrichment join + aggregation — shape of
    * `s5_stream_static_join`. The static side is a broadcast dimension
    * (customers keyed to `user_id`): stream-static inner joins are
    * STATELESS in Structured Streaming — each micro-batch probes the
    * broadcast table, no watermark or join state needed; only the
    * downstream aggregation keeps state. */
  def enrichWithCustomers(events: DataFrame, customers: DataFrame): DataFrame =
    events
      .join(broadcast(customers.select(
        col("c_custkey").as("user_id"), col("c_mktsegment"))), Seq("user_id"))
      .groupBy(col("event_type"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_val"))

  /** Click→purchase attribution pairs: purchases by the same user within
    * 6 hours after a click — shape of `s6_stream_stream_join`. */
  def clickPurchasePairs(events: DataFrame): DataFrame = {
    val c = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("buy_ts"), col("value"))
    c.join(p, col("user_id") === col("p_user") &&
        col("buy_ts") >= col("click_ts") &&
        col("buy_ts") <= col("click_ts") + expr("INTERVAL 6 HOURS"))
      .select(col("user_id"), col("click_ts"), col("buy_ts"), col("value"))
  }

  /** Genuine STREAM-STREAM inner join: both sides watermarked, and the
    * two-sided time-range condition (`click_ts <= buy_ts <= click_ts+6h`)
    * is what lets Spark expire join state — click state is droppable
    * once the purchase watermark passes `click_ts+6h`, purchase state
    * once the click watermark passes `buy_ts`. Inner-join matches emit
    * immediately (append mode); the watermark only bounds state. */
  def clickPurchasePairsStream(events: DataFrame): DataFrame = {
    val c = events.withWatermark("ts", "1 hour")
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
    val p = events.withWatermark("ts", "1 hour")
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("buy_ts"), col("value"))
    c.join(p, col("user_id") === col("p_user") &&
        col("buy_ts") >= col("click_ts") &&
        col("buy_ts") <= col("click_ts") + expr("INTERVAL 6 HOURS"))
      .select(col("user_id"), col("click_ts"), col("buy_ts"), col("value"))
  }

  /** Click→purchase LEFT OUTER attribution within 30 minutes — the
    * OUTER stream-stream join, strictly harder than s6's inner form:
    * an unmatched click can only emit its null-padded row once the
    * PURCHASE-side watermark has passed `click_ts + 30min` (before
    * that, a matching purchase could still arrive), so output is
    * watermark-delayed, not just state-bounded. `watermarked = false`
    * is the batch posture (oracle-gated as `s10_stream_left_outer`);
    * `watermarked = true` runs incrementally — StreamingSpec proves
    * the null-padded rows appear only after a later micro-batch
    * advances the watermark. Both sides carry a watermark and the
    * join condition is two-sided on event time, which is exactly what
    * makes outer stream-stream joins legal in Structured Streaming. */
  def clickPurchaseLeftOuter(events: DataFrame, watermarked: Boolean): DataFrame = {
    def side(f: DataFrame) =
      if (watermarked) f.withWatermark("ts", "10 minutes") else f
    val c = side(events).filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
    val p = side(events).filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("buy_ts"), col("value"))
    c.join(p, col("user_id") === col("p_user") &&
        col("buy_ts") >= col("click_ts") &&
        col("buy_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
      "left_outer")
      .select(col("user_id"), col("click_ts"), col("buy_ts"), col("value"))
  }

  /** FULL OUTER stream-stream join — the attribution-complete form of
    * [[clickPurchaseLeftOuter]]: unmatched CLICKS (no purchase within
    * 30 min) AND unmatched PURCHASES (no preceding click — organic/
    * dark-traffic conversions, the rows a left join silently drops
    * from revenue attribution) both surface null-padded. Same
    * two-sided event-time bound + per-side watermark that makes outer
    * stream-stream joins legal; each side's null-padded rows emit only
    * after the OTHER side's watermark closes their window. */
  def clickPurchaseFullOuter(events: DataFrame, watermarked: Boolean): DataFrame = {
    def side(f: DataFrame) =
      if (watermarked) f.withWatermark("ts", "10 minutes") else f
    val c = side(events).filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
    val p = side(events).filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("buy_ts"), col("value"))
    c.join(p, col("user_id") === col("p_user") &&
        col("buy_ts") >= col("click_ts") &&
        col("buy_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
      "full_outer")
      .select(coalesce(col("user_id"), col("p_user")).as("user_id"),
        col("click_ts"), col("buy_ts"), col("value"))
  }

  /** Streaming dedup-ingest — the continuous form of the d14
    * daily-crawl posture: an arriving document stream is fingerprinted
    * (md5) and LEFT-ANTI joined against the STATIC corpus index, so
    * only never-seen documents survive into the per-language novelty
    * counts. Stream-static anti joins are STATELESS in Structured
    * Streaming (each micro-batch probes the static side, broadcast by
    * AQE when small); only the downstream aggregation keeps state —
    * exactly how a 100 TB ingest keeps the corpus index out of the
    * hot path. Works on a batch frame too (shape of `s7`). */
  def dedupIngest(docs: DataFrame, index: DataFrame): DataFrame =
    docs.withColumn("fp", md5(col("text")))
      .join(index, Seq("fp"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_novel"))

  /** Custom-state sessionization via the typed
    * `flatMapGroupsWithState` API — the ARBITRARY-STATE operator behind
    * per-key semantics `session_window` can't express (session-derived
    * metrics, custom merge/eviction rules). State per user is the open
    * session `(start_us, last_us, n_events)`; each invocation folds the
    * batch's events (sorted by event time, event_id tiebreak) into it,
    * emitting a session row whenever a >= `gapUs` gap closes one.
    *
    * `emitOpen = true` is the BATCH posture (one invocation per group,
    * state starts empty and is discarded — the still-open session must
    * be emitted to be seen; oracle-gated as `s9_sessionize_state`).
    * `emitOpen = false` is the INCREMENTAL posture: only closed
    * sessions append, the open one carries in `GroupState` to the next
    * micro-batch (proven across a two-batch file stream in
    * StreamingSpec). Scale: state is 3 longs per active user —
    * watermark-free here because session close is driven by the data
    * gap; a production stream would add an event-time timeout to expire
    * idle users. Per-group sort is bounded by a user's events per
    * micro-batch, not the corpus. */
  def sessionizeEvents(events: DataFrame, gapUs: Long,
                       emitOpen: Boolean): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val s = events.sparkSession
    import s.implicits._
    val ds = events
      .select(col("user_id"), expr("unix_micros(ts)").as("us"), col("event_id"))
      .as[(Long, Long, Long)]
    ds.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, rows: Iterator[(Long, Long, Long)],
         state: GroupState[(Long, Long, Long)]) => {
          val evs = rows.toArray.sortBy(r => (r._2, r._3))
          var open = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
          for ((_, us, _) <- evs) open match {
            case None => open = Some((us, us, 1L))
            case Some((st, last, n)) =>
              if (us - last >= gapUs) {
                out += ((user, st, last, n)); open = Some((us, us, 1L))
              } else open = Some((st, math.max(last, us), n + 1))
          }
          open.foreach(state.update)
          if (emitOpen)
            open.foreach { case (st, last, n) => out += ((user, st, last, n)) }
          out.iterator
        })
      .toDF("user_id", "session_start_us", "session_end_us", "n_events")
  }

  /** s11's serving table: the latest event per user, latest-wins by
    * (us, event_id) — the foreachBatch → serving-store maintenance
    * pattern (plain parquet has no MERGE; the store's versions give the
    * atomicity). The max of a struct orders by its fields in turn, so
    * `max(struct(us, event_id, …))` is the latest row, and it merges by
    * max again. */
  val serving: Summary = Summary(
    Seq("user_id" -> col("user_id")),
    Seq(("latest", max(struct(expr("unix_micros(ts)").as("us"), col("event_id"),
      col("event_type"), col("value"))), max)),
    report = _.select(col("user_id"), col("latest.*")))

  /** Per-(hour window, event_type) counts: one state, two reports —
    * s14's leaderboard ([[windowTopk]]) and s16's pager
    * ([[rateAnomaliesFromCounts]]). The window is `window('1 hour')`
    * itself (an integer-micros reformulation disagreed with window() on
    * pre-1970 timestamps: div truncates where window() floors). A late
    * event bumps one window's count instead of re-ranking history, and
    * the state is windows × types, not event volume. */
  val hourCounts: Summary = Summary(
    Seq("w_start" -> unix_timestamp(window(col("ts"), "1 hour")("start")),
      "event_type" -> col("event_type")),
    Seq(("n", count(lit(1)), sum)))

  /** Top-`k` event types per hour window of [[hourCounts]] (count DESC,
    * event_type ASC ties). */
  def windowTopk(counts: DataFrame, k: Int): DataFrame =
    graft.plans.TopK.perKey(counts, keys = Seq(col("w_start")),
      order = Seq(col("n").desc, col("event_type").asc), k = k)

  /** s15's latency histogram: per-(event_type, integer-bucket) counts —
    * kilobytes per type regardless of event volume, the reason
    * production percentile monitors keep histograms instead of samples.
    * Percentiles are derived at read, never stored. */
  val latencyBuckets: Summary = Summary(
    Seq("event_type" -> col("event_type"), "bucket" -> floor(col("value")).cast("long")),
    Seq(("n", count(lit(1)), sum)),
    report = percentilesFromBuckets)

  /** s19's field quality: the per-event-family ingest-contract counters
    * (events, empty/missing payloads, non-positive values), |event_type|
    * rows regardless of volume. The ppm verdicts are derived at read: a
    * stored ratio cannot merge. */
  val fieldQuality: Summary = Summary(
    Seq("event_type" -> col("event_type")),
    Seq(("n", count(lit(1)), sum),
      ("n_empty", sum(when(col("props").isNull || col("props") === "", 1L).otherwise(0L)), sum),
      ("n_nonpos", sum(when(col("value").isNull || col("value") <= 0.0, 1L).otherwise(0L)), sum)),
    report = _.select(col("event_type"), col("n").as("n_events"),
      expr("n_empty * 1000000 div n").as("empty_props_ppm"),
      expr("n_nonpos * 1000000 div n").as("nonpos_value_ppm")))

  /** s20's centroid route: embeddings routed against a FROZEN codebook
    * ([[graft.queries.Clustering.route]] — broadcast crossJoin + map-side
    * argmin, never a corpus shuffle), reduced to per-cluster (n, min id,
    * max id), which merge by SUM/MIN/MAX: k rows regardless of stream
    * volume. The codebook is NOT retrained on ingest (d27's production
    * posture: retrain is an offline job). Shares are derived at read. */
  def centroidRoute(cents: DataFrame): Summary = Summary(
    Seq("cid" -> col("cid")),
    Seq(("n_vecs", count(lit(1)), sum), ("min_vec_id", min(col("vec_id")), min),
      ("max_vec_id", max(col("vec_id")), max)),
    report = st => st.crossJoin(broadcast(st.agg(sum(col("n_vecs")).as("tot"))))
      .select(col("cid").as("cluster_id"), col("n_vecs"), col("min_vec_id"),
        col("max_vec_id"), expr("n_vecs * 1000000 div tot").as("share_ppm")),
    prep = graft.queries.Clustering.route(_, cents))

  /** s13's distinct users per type: per-type HLL user sketches merged by
    * sketch union (register max, insensitive to order and slicing).
    * The state is kilobytes per group, so incremental distinct is a
    * sketch merge per batch, never a rescan — q57's persisted-artifact
    * form kept current by the stream. */
  val distinctUsers: Summary = Summary(
    Seq("event_type" -> col("event_type")),
    Seq(("sk", hll_sketch_agg(col("user_id")), hll_union_agg)),
    report = _.select(col("event_type"), hll_sketch_estimate(col("sk")).as("approx_users")))

  /** Nearest-rank percentile pick over integer histogram buckets —
    * smallest bucket whose cumulative count reaches q% of the total,
    * decided entirely on exact integers (cum·100 ≥ tot·q): the report
    * of [[latencyBuckets]]. Input: one row per (event_type, bucket)
    * with count `n`. */
  def percentilesFromBuckets(b: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wc = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
    val wt = Window.partitionBy(col("event_type"))
    val cum = b.withColumn("cum", sum(col("n")).over(wc))
      .withColumn("tot", sum(col("n")).over(wt))
    val p50 = cum.filter(col("cum") * 100 >= col("tot") * 50)
      .groupBy(col("event_type")).agg(min(col("bucket")).as("p50_bucket"))
    val p95 = cum.filter(col("cum") * 100 >= col("tot") * 95)
      .groupBy(col("event_type")).agg(min(col("bucket")).as("p95_bucket"))
    b.groupBy(col("event_type"))
      .agg(sum(col("n")).as("n_events"), max(col("bucket")).as("max_bucket"))
      .join(p50, Seq("event_type"))
      .join(p95, Seq("event_type"))
  }

  /** RATE-ANOMALY detector over hourly (w_start, event_type, n) counts —
    * the alerting read of the SAME [[hourCounts]] state s14 ranks (one
    * state table, two monitors). A cell is anomalous when its
    * count exceeds the trailing-6-hour Poisson baseline by 3σ, decided
    * on EXACT INTEGERS: with base = Σ trailing 6 counts (mean μ =
    * base/6, Var = μ under Poisson), n − μ > 3√μ ⇔ 6n > base AND
    * (6n − base)² > 54·base — no sqrt, no float, portable everywhere.
    * The spine is DENSE (sequence over the observed span × the type
    * dimension — both bounded): without zero cells, silent hours
    * would vanish from the baseline instead of dragging it down, and
    * a burst after quiet hours would compare against the wrong mean.
    * The squared compare rides DECIMAL(38,0) so a terabyte-scale hourly
    * count cannot wrap silently (the DuckDB replay squares in HUGEINT
    * and errors loudly on its BIGINT cast instead — Num.fsum's loud-
    * overflow contract). n ≥ 2 suppresses single-event cold-start
    * flags. */
  def rateAnomaliesFromCounts(counts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val span = counts.agg(min(col("w_start")).as("mn"), max(col("w_start")).as("mx"))
    val spine = span
      .select(explode(sequence(col("mn"), col("mx"), lit(3600L))).as("w_start"))
      .crossJoin(broadcast(counts.select(col("event_type")).distinct()))
    val d = spine.join(counts, Seq("w_start", "event_type"), "left")
      .select(col("event_type"), col("w_start"),
        coalesce(col("n"), lit(0L)).as("n"))
    val wb = Window.partitionBy(col("event_type")).orderBy(col("w_start"))
      .rowsBetween(-6, -1)
    val dev = (col("n") * 6 - col("base_6h"))
      .cast(DecimalType(38, 0))
    d.withColumn("base_6h", sum(col("n")).over(wb))
      .withColumn("bn", count(lit(1)).over(wb))
      .filter(col("bn") === 6 && col("n") >= 2 &&
        col("n") * 6 > col("base_6h") &&
        dev * dev > (col("base_6h") * 54)
          .cast(DecimalType(38, 0)))
      .select(col("event_type"), col("w_start"), col("n"), col("base_6h"))
  }

  /** [[fixtureStream]]'s symlink contract: the path must be a symlink
    * to `target`. Checks the LINK ITSELF
    * (NOFOLLOW — plain exists() follows links, so a dangling one left
    * by a prior run reads as absent and createSymbolicLink would throw
    * FileAlreadyExistsException); a dangling or wrong-target link is
    * repointed, a stale regular FILE is replaced, and a non-link
    * DIRECTORY is refused — silently reading stale non-fixture data is
    * the failure mode this guards. */
  private def ensureSymlink(link: java.nio.file.Path,
                            target: java.nio.file.Path): Unit = {
    val linkOk = java.nio.file.Files.isSymbolicLink(link) &&
      java.nio.file.Files.readSymbolicLink(link) == target &&
      java.nio.file.Files.exists(link)
    if (!linkOk) {
      if (java.nio.file.Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS) &&
          !java.nio.file.Files.isSymbolicLink(link) &&
          java.nio.file.Files.isDirectory(link))
        throw new IllegalStateException(
          s"refusing to replace non-symlink directory at $link")
      java.nio.file.Files.deleteIfExists(link)
      java.nio.file.Files.createSymbolicLink(link, target)
    }
  }

  /** One micro-batch of incremental segment-novelty accounting (the
    * streaming posture of s12_crawl_novelty, driven from foreachBatch):
    * count this batch's segments that were never seen in any EARLIER
    * batch (anti join against the accumulating hash index) nor earlier
    * WITHIN this batch (p3's min-(doc_id,seg_idx) rule, batch-locally),
    * then commit the batch's novel segment hashes as its own version of
    * the index, an append log on [[Versioned]]. The read takes only the
    * committed versions below `batchId`, so a replayed batch
    * (foreachBatch is at-least-once) never anti-joins against its own
    * write: it recomputes its counts and writes nothing. When each
    * micro-batch is one crawl increment arriving in order, the union of
    * per-batch results equals the batch query exactly (StreamingSpec
    * proves it, replay included). Scale: the index is a hash-only
    * parquet dir — the 100 TB posture is d14's (persisted corpus index,
    * batch side small enough for AQE to broadcast). */
  def crawlNoveltyBatch(batch: DataFrame, indexDir: String,
                        batchId: Long): Seq[(String, Long, Long)] = {
    val s = batch.sparkSession
    import s.implicits._
    val segs = graft.queries.LlmPipeline.segmentize(batch, Seq("source", "doc_id"))
      .select($"source", $"doc_id", $"seg_idx", xxhash64($"seg").as("k"),
        graft.queries.LlmPipeline.crawlOrderKey(
          $"source", $"doc_id", $"seg_idx").as("okey"))
    val earlier = Versioned.versions(indexDir, below = batchId)
    val fresh =
      if (earlier.nonEmpty)
        segs.join(s.read.parquet(earlier: _*), Seq("k"), "left_anti")
      else segs
    val firstInBatch = fresh.groupBy($"k").agg(min($"okey").as("fkey"))
    // ONE aggregation yields both counts (a kept-flag left join back
    // onto segs instead of two separate count jobs); collected BEFORE
    // the index write so the lazy novel frame is not re-derived with
    // the index already containing this batch. firstInBatch derives
    // FROM segs, so its key is renamed — joining segs("k") to
    // firstInBatch("k") self-resolves into a trivially-true predicate
    val flags = firstInBatch
      .select($"k".as("fk"), $"fkey", lit(true).as("novel"))
    val counts = segs
      .join(flags, $"k" === $"fk" && $"okey" === $"fkey", "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("n"),
        sum(when($"novel", 1L).otherwise(0L)).as("nn"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    Versioned.commit(indexDir, batchId) { (_, out) =>
      fresh.join(firstInBatch, "k").filter($"okey" === $"fkey")
        .select($"k").write.mode("overwrite").parquet(out)
    }
    counts
  }

  /** Run a streaming plan to a memory sink synchronously (one batch of
    * the parquet source) and return the materialized result. */
  def runToMemory(spark: SparkSession, plan: DataFrame, name: String,
                  outputMode: String = "complete"): DataFrame = {
    val q = plan.writeStream
      .format("memory").queryName(name)
      .outputMode(outputMode)
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }
}
