package graft

/** Physical-plan audits: the shapes that make these queries survive a
  * 100× scale-up, asserted so a regression (lost pushdown, lost
  * broadcast, accidental cartesian) fails CI — not just a slower bench. */
class PlanSpec extends SparkTestBase {

  private def plan(name: String): String = executed(SparkEntry.queries(name)(spark, sf0001))

  private def executed(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // materialize so AQE's FINAL plan (incl. codegen spans) prints
    df.queryExecution.executedPlan.toString
  }

  test("q1_agg: filter pushed to parquet scan, whole-stage codegen, partial agg") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    // AQE prints whole-stage-codegen spans as *(n) stage markers
    assert("""\*\(\d+\)""".r.findFirstIn(p).isDefined, p)
    assert(p.contains("partial_sum"), "map-side combine must be present: " + p)
  }

  test("q3_join_broadcast: dimension joins broadcast (no fact shuffle)") {
    val p = plan("q3_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q4_join_sortmerge: fact-fact join is sort-merge") {
    assert(plan("q4_join_sortmerge").contains("SortMergeJoin"), plan("q4_join_sortmerge"))
  }

  test("q5/q6: semi and anti joins keep their no-multiplication shape") {
    assert(plan("q5_join_semi").contains("LeftSemi"))
    assert(plan("q6_join_anti").contains("LeftAnti"))
  }

  test("q17_topk_global: TakeOrderedAndProject, not a global sort") {
    val p = plan("q17_topk_global")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q2_filter_agg: predicates reach the scan (display truncates the list)") {
    val p = plan("q2_filter_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), " +
      "IsNotNull(l_quantity), GreaterThanOrEqual(l_shipda"), p)
  }

  test("scan pruning: q12 reads only the projected columns") {
    val p = plan("q12_scalar_string")
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("p_retailprice"), "unused column must be pruned: " + p)
  }

  test("q25 custom operator: partial TopK below the exchange, final above") {
    val p = plan("q25_topk_custom_op")
    assert(p.contains("TopKPerKey true"), "partial stage missing: " + p)
    assert(p.contains("TopKPerKey false"), "final stage missing: " + p)
    assert(!p.contains("Window"), "must not fall back to a window: " + p)
    // partial stage must appear BELOW the hash exchange (map-side pruning)
    val lines = p.split("\n")
    val exchangeIdx = lines.indexWhere(l => l.contains("Exchange hashpartitioning"))
    val partialIdx = lines.indexWhere(_.contains("TopKPerKey true"))
    assert(exchangeIdx >= 0 && partialIdx > exchangeIdx,
      "partial TopK must sit below the exchange: " + p)
  }

  /** AQE's plan string appends an "== Initial Plan ==" section after the
    * final plan — keep only the final section for count-based asserts. */
  private def finalPlan(name: String): String =
    plan(name).split("== Initial Plan ==").head

  test("d9/t8: sampling and scrubbing are shuffle-free pure projections") {
    // both are per-row transforms — a hash exchange means a lost 100TB
    // posture (the range exchange is the oracle-harness ORDER BY only)
    Seq("d9_stratified_sample", "t8_stopword_scrub").foreach { q =>
      assert(!finalPlan(q).contains("Exchange hashpartitioning"),
        s"$q must not hash-shuffle: " + finalPlan(q))
    }
  }

  test("q36_grouping_sets: one Expand, one aggregation exchange") {
    val p = finalPlan("q36_grouping_sets")
    assert(p.contains("Expand"), p)
    // all three grouping sets share a single hash-partitioning exchange
    // (the range exchange is the ORDER BY)
    val aggExchanges = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(aggExchanges == 1, s"expected 1 agg exchange, got $aggExchanges: $p")
  }

  test("s5_stream_static_join: static dimension broadcasts") {
    val p = plan("s5_stream_static_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q38: NOT EXISTS decorrelates to an anti join") {
    val p = finalPlan("q38_not_exists")
    assert(p.contains("LeftAnti"), p)
  }

  test("t10_pii_scrub: redaction is a shuffle-free codegen projection") {
    assert(!finalPlan("t10_pii_scrub").contains("Exchange hashpartitioning"),
      "PII scrub must not shuffle: " + finalPlan("t10_pii_scrub"))
  }

  test("q41_partitioned_pruned: lang predicate prunes to one partition dir") {
    val p = plan("q41_partitioned_pruned")
    assert(p.contains("PartitionFilters: [isnotnull(lang"), p)
    assert(p.contains("= en)"), p)
    // the predicate is pure partition pruning — nothing left to push
    // into the row groups, and lang itself is not read as data
    assert(p.contains("ReadSchema: struct<source:string,n_chars:bigint>"), p)
  }

  test("p1_clean_corpus: composite clean is projections + two aggs, no join") {
    val p = finalPlan("p1_clean_corpus")
    assert(!p.contains("Join"), "cleaning pass must not join: " + p)
    assert(!p.contains("Window"), "cleaning pass must not window: " + p)
    val aggExchanges = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(aggExchanges == 2, s"expected dedup+stats exchanges, got $aggExchanges: $p")
  }

  /** The shared bucket kernel's aggregate is in the plan: candidates come
    * from `buckets()`, not from a hand-rolled capped self-join. */
  private def assertKernel(q: String, p: String): Unit =
    assert(p.contains("cappedcollectagg("), s"$q must build its buckets with CappedCollect: " + p)

  test("LSH paths never degenerate into a cartesian product") {
    assert(!plan("d3_dedup_minhash_lsh").contains("CartesianProduct"))
    assert(!plan("d6_ann_lsh").contains("CartesianProduct"))
    assertKernel("d6_ann_lsh", finalPlan("d6_ann_lsh"))
    assertKernel("d25_winnow_match", finalPlan("d25_winnow_match"))
    // d5's sanctioned brute-force cross join now lives inside the
    // cachedKnn artifact derivation (paid once per corpus snapshot);
    // the serving read is a plain scan of the persisted lists
    val p5 = plan("d5_cosine_topk")
    assert(p5.contains("graft_knn"), "d5 must read the persisted kNN artifact: " + p5)
    assert(!p5.contains("CartesianProduct"), p5)
  }

  test("d13 simhash blocking joins on band keys, never all-pairs") {
    val p = finalPlan("d13_simhash_neardup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assertKernel("d13_simhash_neardup", p)
  }

  test("d14 incremental dedup: bipartite posting-list join, never all-pairs") {
    val p = finalPlan("d14_incremental_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("t12: packing window partitions on (lang, shard), not lang alone") {
    val p = plan("t12_sequence_pack_sharded")
    // the Window's partition spec must carry the sub-shard key — that is
    // the whole point of t12: parallelism beyond language cardinality
    val windowLine = p.linesIterator.find(_.contains("Window ")).getOrElse("")
    assert(windowLine.contains("lang") && windowLine.contains("shard"),
      "window must partition by (lang, shard): " + windowLine)
  }

  test("p1/t7 repetition uses the one-pass kernel, not re-inlined HOFs") {
    // the transform(sequence(...)) formulation was evaluated interpreted
    // and inlined into every consumer — the codegen'd kernel replaces it
    assert(!finalPlan("p1_clean_corpus").contains("transform("),
      finalPlan("p1_clean_corpus"))
    assert(finalPlan("p1_clean_corpus").toLowerCase.contains("distinctbigrams"),
      finalPlan("p1_clean_corpus"))
    assert(!finalPlan("t7_repetition").contains("transform("),
      finalPlan("t7_repetition"))
  }

  test("d15 duplicated-span detection joins on gram keys, never all-pairs") {
    val p = finalPlan("d15_dup_span_stats")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("c1/ml1: centroid and weight vectors broadcast; corpus never reshuffled") {
    // the only corpus-width joins are nested-loop against a BROADCAST
    // k-row (or 1-row) side — a hash exchange of the corpus keyed by
    // cluster would be the scale bug these audits exist to catch
    Seq("c1_kmeans", "ml1_linear_probe").foreach { q =>
      val p = finalPlan(q)
      assert(p.contains("BroadcastNestedLoopJoin"), s"$q: " + p)
      assert(!p.contains("CartesianProduct"), s"$q: " + p)
    }
  }

  test("s7 dedup-ingest: anti join against the static index, no row multiplication") {
    val p = finalPlan("s7_stream_dedup_ingest")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q50 banded range join stays an equi-join on (user, band)") {
    // the range predicate must ride an equality join as a post-filter,
    // never become a nested-loop/cartesian per-user expansion
    val p = finalPlan("q50_banded_range_join")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d18 importance weighting: B-row ratio table broadcasts, no cartesian") {
    // the corpus word stream must meet the 64-row ratio table through a
    // broadcast hash join — a shuffle-by-bucket (64 keys) would cap
    // parallelism at B and reshuffle the corpus
    val p = finalPlan("d18_importance_weights")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t19 BPE tokenization: vocab join is hash-equi, corpus never crossed") {
    val p = finalPlan("t19_bpe_tokenize")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q61 merge-upsert: full outer rides a co-partitioned equi-join") {
    val p = finalPlan("q61_merge_upsert")
    assert(p.contains("FullOuter"), p)
    // the MERGE must never expand rows: equi-join only (the sole BNLJ
    // is the 1-row max-day broadcast), no cartesian
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
  }

  test("t27 SQL macro: graft_ngrams expands to built-ins, stays codegen'd") {
    import spark.implicits._
    // value semantics through the SQL surface, including the short-text
    // guard (sequence(0, size-n) must never run on a negative end)
    val vals = Seq(Some("A b  c d"), Some("x"), Some(""), None).toDF("text")
      .selectExpr("graft_ngrams(text, 3) AS g").collect()
      .map(r => if (r.isNullAt(0)) null else r.getSeq[String](0))
    assert(vals(0) == Seq("a b c", "b c d"), vals(0))
    assert(vals(1).isEmpty && vals(2).isEmpty)
    // NULL text propagates to NULL, like every built-in string function
    assert(vals(3) == null, s"NULL text must yield NULL, got ${vals(3)}")
    // non-literal n must be rejected — it shapes the expression tree
    val err = intercept[Exception] {
      Seq((1, "a b")).toDF("n", "text").selectExpr("graft_ngrams(text, n)").collect()
    }
    assert(err.getMessage.contains("literal"), err.getMessage)
    // the registered query runs the macro through whole-stage codegen:
    // the plan holds a plain Generate explode over built-ins — no UDF
    // or interpreted function boundary survives expansion
    val p = finalPlan("t27_sql_macro_ngrams")
    assert(p.contains("Generate explode"), p)
    assert(!p.toLowerCase.contains("graft_ngrams"), "macro must expand at analysis: " + p)
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
    // graft_dot is the other SQL registration mode: a custom NATIVE
    // expression — the plan must carry VecDot itself, not a UDF
    val pd = finalPlan("d29_sql_cosine_topk")
    assert(pd.toLowerCase.contains("vecdot"), pd)
    assert(!pd.contains("ScalaUDF"), pd)
  }

  test("q72 sweep-line: boundary netting partial-aggregates before the exchange") {
    // the scalable shape: per-(type, instant) nets combine map-side —
    // the window sorts netted instants, never raw boundary rows; and
    // no interval self-join exists anywhere
    val p = finalPlan("q72_max_concurrency")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q74/q76: mark tables broadcast; the ranked frame is scanned, not crossed") {
    Seq("q74_range_partition_histogram", "q76_percentile_cont").foreach { q =>
      val p = finalPlan(q)
      assert(p.contains("BroadcastExchange"), s"$q lost its broadcast: " + p)
      assert(!p.contains("CartesianProduct"), s"$q: " + p)
    }
  }

  test("sel7: one sort carries both fills — a single window exchange on lang") {
    // the raw and dedup-aware cumsums share ONE (lang)-keyed window
    // sort (two Window operators, zero exchanges between them); a
    // second lang exchange means the conditional-cumsum trick broke
    val p = finalPlan("sel7_dedup_aware_budget")
    val langExchanges = "Exchange hashpartitioning\\(lang".r.findAllIn(p).length
    assert(langExchanges == 1, s"expected one lang exchange, got $langExchanges:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  // the shared IVF probe's posture (Clustering.ivfProbe): the cell lists
  // are size-bounded by construction and broadcast into the candidate
  // join — a shuffle on the 16-value cid key would cap parallelism at
  // k. The one cid exchange is the capping TopKPerKey's own, over home
  // rows already pruned map-side to at most the cap per cell.
  private def auditIvf(what: String, p: String): Unit = {
    assert(p.contains("BroadcastExchange"), s"$what: " + p)
    val ops = p.split("\n")
      .filterNot(l => l.contains("ShuffleQueryStage") || l.contains("AQEShuffleRead"))
    for (i <- ops.indices if ops(i).contains("Exchange hashpartitioning(cid"))
      assert(i > 0 && ops(i - 1).contains("TopKPerKey false, [cid"),
        s"$what: a cid exchange outside the capping TopKPerKey\n" + p)
  }

  test("d39: capped inverted lists broadcast; candidates never shuffle on cid") {
    // d39 checkpoints the probe's output, so the kernel is audited too
    auditIvf("d39_ivf_probe_sweep", finalPlan("d39_ivf_probe_sweep"))
    val probe = executed(graft.queries.Clustering.ivfProbe(spark, sf0001, nprobe = 8))
      .split("== Initial Plan ==").head
    auditIvf("ivfProbe", probe)
    assert(probe.contains("BroadcastHashJoin [cid"), probe)
  }

  test("d7/e12: the IVF probe keeps its posture inside ANN search and recall@k") {
    Seq("d7_ann_ivf", "e12_recall_at_k").foreach(q => auditIvf(q, finalPlan(q)))
  }

  test("gr14: mutual-kNN edges come from an equi self-join, no cartesian") {
    val p = finalPlan("gr14_link_prediction")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }


  test("plain CSV/XML/HTML exports encode in the render projection: no object round trip") {
    import graft.sinks._
    val df = graft.sources.Tables.table(spark, sf0001, "lineitem")
    for ((codec, rows) <- Seq("csv" -> CsvSink.lines(df, CsvOptions()), "xml" -> XmlSink.rows(df),
        "html" -> HtmlSink.rows(df))) {
      val p = rows.queryExecution.executedPlan.toString
      for (node <- Seq("DeserializeToObject", "MapElements", "SerializeFromObject"))
        assert(!p.contains(node), s"$codec: $node in\n$p")
      assert(p.contains("encoderow"), s"$codec: no row encoder in\n$p")
    }
  }
}
