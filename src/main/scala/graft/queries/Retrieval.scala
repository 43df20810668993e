package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ops.Num.dsum
import graft.sources.Tables

/** Retrieval / corpus-scoring operators over `documents` (the [EXT]
  * LLM-pipeline surface, next to [[LlmPipeline]]): BM25 ranking, a
  * Gopher-style multi-rule quality gate with per-rule accounting, a
  * smoothed bigram language-model score — the three score families a
  * training-data pipeline runs between dedup and mixture weighting —
  * plus corpus-level analytics (winnowing fingerprints, source-pair
  * vocabulary overlap) and blocked fuzzy entity resolution.
  *
  * Determinism conventions (same as [[LlmPipeline]]): no libm `log`/`exp`
  * (not bit-portable across engines — BM25's idf and the LM score use
  * rational forms with identical ranking behavior), every order-sensitive
  * double sum is DECIMAL(38,6)-stabilized, corpus-level scalars reach the
  * plan as SCALAR SUBQUERIES (never a driver collect), and double
  * formulas are written with the exact same literal/association shape on
  * the Spark and DuckDB sides so results hash bit-identically.
  */
object Retrieval {

  private def toks(c: Column): Column = split(lower(c), "\\s+")

  /** t21's five Gopher-style gate names in their canonical order —
    * t40's co-failure matrix and its oracle generate the 10 unordered
    * pairs from this ONE list so the two sides can never disagree on
    * pair identity. */
  private val QualityRules = Seq("len", "wordlen", "toptoken", "ttr", "stop")

  /** Winnowing selection core (t23): 3-token-gram hashes, w=4 sliding
    * windows, RIGHTMOST MINIMAL hash per window — both selections folded
    * into one doc-keyed window min over key = h*2^31 + (2^31-1-pos)
    * (orders by hash, then by descending position; docs are bounded at
    * 2^31 grams — beyond any real document). Input needs
    * (doc_id, text); output is one row per selected fingerprint:
    * (doc_id, m = #grams, wmin) with wmin div 2^31 = the selected hash.
    * Exposed for the NearDupSpec reference-implementation property. */
  def winnowSelect(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"doc_id", toks($"text").as("toks"))
      .filter(size($"toks") >= 3)
      .select($"doc_id", (size($"toks") - 2).as("m"),
        posexplode(expr(
          "transform(sequence(0, size(toks)-3), i -> concat_ws(' ', slice(toks, i+1, 3)))"))
          .as(Seq("i", "g")))
      .select($"doc_id", $"m", $"i",
        expr("cast(conv(substr(md5(g), 1, 8), 16, 10) as bigint)").as("h"))
      // position packed in 31 bits: h < 2^32, so h*2^31 + (2^31-1-i)
      // <= 2^63-1 exactly fits signed 64-bit in BOTH engines, and the
      // per-doc gram bound is 2^31 (vs 2^21 before — a 2.1M-gram doc
      // would have silently corrupted the min ordering in both engines)
      .withColumn("wmin",
        min($"h" * lit(2147483648L) + (lit(2147483647L) - $"i"))
          .over(Window.partitionBy($"doc_id").orderBy($"i").rowsBetween(0, 3)))
      // full windows only (start i <= m-w); a short doc (m < w) still
      // contributes its single truncated window at i = 0
      .filter($"i" <= greatest($"m" - 4, lit(0)))
      .select($"doc_id", $"m", $"wmin").distinct()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    queriesA ++ queriesB

  private def queriesA: Map[String, (SparkSession, String) => DataFrame] = Map(

    // SQL-surface n-gram mining THROUGH the injected macro: the query
    // text is plain `spark.sql` calling `graft_ngrams(text, 3)` — the
    // function GraftExtensions registers in the FunctionRegistry as an
    // expansion into built-in expressions (split/transform/slice), so a
    // SQL user gets the engine's tokenization semantics with the whole
    // pipeline inside whole-stage codegen (PlanSpec audits: no UDF
    // boundary, plain Generate explode). The per-source temp-view name
    // is keyed like every scratch artifact so concurrent sources can't
    // collide.
    "t27_sql_macro_ngrams" -> ((s, dir) => {
      val view = s"graft_docs_${graft.ops.Scratch.key8(dir)}"
      Tables.documents(s, dir).createOrReplaceTempView(view)
      // the REPARTITION(n) hint is the SQL spelling of Spread.fanout:
      // the gram expansion is CPU-dense but would otherwise run inside
      // the parquet scan stage, whose task count is the file split
      // count (3 at sf0.1). The explicit count matters — a bare
      // REPARTITION is AQE-coalescible by bytes, and the corpus is
      // byte-small exactly when it is CPU-dense per byte. At 100 TB the
      // scan has thousands of splits and the fanout is unnecessary.
      s.sql(
        s"""SELECT gram, count(*) AS n
           |FROM (SELECT explode(graft_ngrams(text, 3)) AS gram
           |      FROM (SELECT /*+ REPARTITION(${s.sparkContext.defaultParallelism}) */ text FROM $view))
           |GROUP BY gram
           |ORDER BY n DESC, gram
           |LIMIT 20""".stripMargin)
    }),

    // ZIPF RANK-FREQUENCY SPECTRUM: the corpus-statistics table behind
    // every "is this crawl natural language?" check — natural text
    // shows rank·freq ≈ const over the head; template/boilerplate
    // corpora flatten it. Top-30 by (freq DESC, word) with the rank
    // product; one token explode + count agg + TakeOrderedAndProject.
    "t28_zipf_spectrum" -> ((s, dir) => {
      import s.implicits._
      val freq = graft.ops.Spread.fanout(Tables.documents(s, dir))
        .select(explode(toks($"text")).as("word"))
        .filter(length($"word") >= 1)
        .groupBy($"word").agg(count(lit(1)).as("freq"))
      val top = freq.orderBy($"freq".desc, $"word".asc).limit(30)
      val w = Window.orderBy($"freq".desc, $"word".asc)
      top.withColumn("rank", row_number().over(w))
        .select($"rank", $"word", $"freq",
          ($"rank" * $"freq").as("zipf_product"))
        .orderBy($"rank")
    }),

    // CUSTOM NATIVE EXPRESSION THROUGH SQL: brute-force cosine top-3
    // neighbors of one query vector, written as plain spark.sql over
    // `graft_dot` — the codegen'd VecDot kernel GraftExtensions
    // registers (not a macro: the SQL plan carries the same
    // single-static-call expression the DataFrame queries use). The
    // query vector arrives via a scalar subquery, so the scan side
    // stays a broadcast-free single pass.
    "d29_sql_cosine_topk" -> ((s, dir) => {
      val view = s"graft_emb_${graft.ops.Scratch.key8(dir)}"
      Tables.embeddings(s, dir)
        .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
        .createOrReplaceTempView(view)
      s.sql(
        s"""WITH q AS (SELECT v AS qv FROM $view WHERE vec_id = 0)
           |SELECT vec_id, cos FROM (
           |  SELECT e.vec_id,
           |    graft_dot(e.v, (SELECT qv FROM q)) /
           |      (sqrt(graft_dot(e.v, e.v)) *
           |       (SELECT sqrt(graft_dot(qv, qv)) FROM q)) AS cos
           |  FROM $view e WHERE e.vec_id <> 0)
           |ORDER BY cos DESC, vec_id ASC LIMIT 3""".stripMargin)
    }),

    // BM25 ranking of the corpus against a fixed query-term set — the
    // classic sparse retrieval scorer (Robertson/Spärck Jones), used in
    // pipelines to pull topical subsets out of a crawl. idf is the
    // rational (N - df + 0.5)/(df + 0.5) form (no log — bit-portability;
    // same ordering). Scale shape: the token explode is pre-filtered to
    // the query terms BEFORE the (doc, term) aggregation, so the shuffle
    // carries only matching occurrences (a 3-term query touches a tiny
    // corpus slice); the 3-row df table broadcasts back; N and avgdl are
    // scalar subqueries. Docs with no query term never enter the plan.
    "t20_bm25" -> ((s, dir) => {
      import s.implicits._
      val qterms = Seq("spark", "join", "window")
      val base = Tables.documents(s, dir)
      // ONE corpus pass yields both scalars (struct-valued subquery)
      val consts = base
        .agg(struct(
          count(lit(1)).cast("double").as("n"),
          (sum(size(toks($"text"))).cast("double") / count(lit(1))).as("avgdl"))
          .as("c"))
        .scalar()
      val n = consts.getField("n")
      val avgdl = consts.getField("avgdl")
      val inList = qterms.map(t => s"'$t'").mkString(", ")
      val matched = graft.ops.Spread.fanout(base)
        .select($"doc_id", toks($"text").as("toks"))
        // filter INSIDE the array, before the explode: the generator
        // only ever emits query-term occurrences, not the token stream
        .select($"doc_id", size($"toks").cast("double").as("dl"),
          explode(expr(s"filter(toks, t -> t IN ($inList))")).as("t"))
        .groupBy($"doc_id", $"dl", $"t")
        .agg(count(lit(1)).cast("double").as("tf"))
        // materialized: feeds both the df table and the scoring join —
        // without it the tokenize+explode+agg runs twice
        .transform(graft.ops.Materialize(_))
      val dfreq = matched.groupBy($"t")
        .agg(count(lit(1)).cast("double").as("df"))
      val scored = matched.join(broadcast(dfreq), "t")
        .withColumn("idf", (n - $"df" + lit(0.5)) / ($"df" + lit(0.5)))
        // k1=1.2, b=0.75; (1-b) pre-folded to 0.25 — the SAME literal
        // shape as the oracle so the doubles match bit-for-bit
        .withColumn("tscore",
          $"idf" * ($"tf" * lit(2.2)) /
            ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * ($"dl" / avgdl))))
      scored.groupBy($"doc_id")
        .agg(dsum($"tscore").as("bm25"),
          count(lit(1)).as("n_terms_matched"))
        .orderBy($"bm25".desc, $"doc_id")
        .limit(100)
    }),

    // Gopher-style QUALITY-RULE GATE with per-rule accounting (Rae et
    // al., "Scaling Language Models" §A1.1, word-level subset — the
    // fixture has no line structure): five independent rules per doc,
    // aggregated to how many docs each rule rejects per language plus
    // the all-rules-pass count. The artifact a pipeline actually
    // reviews before committing a filter config — per-rule rejection
    // shares, not just a kept count. Scale shape: the per-doc metrics
    // are one projection (no shuffle) except top-token share, which is
    // one (doc, token)-keyed agg chained into a doc-keyed max — both
    // map-side-combining; the final per-lang rollup is 5 rows.
    "t21_quality_rules" -> ((s, dir) => {
      import s.implicits._
      val base = graft.ops.Spread.fanout(Tables.documents(s, dir))
        .select($"doc_id", $"lang", toks($"text").as("toks"))
      val flat = base.select($"doc_id", $"lang",
        size($"toks").cast("double").as("n"),
        size(array_distinct($"toks")).cast("double").as("n_distinct"),
        expr("aggregate(transform(toks, t -> length(t)), 0, (acc, x) -> acc + x)")
          .cast("double").as("sum_len"),
        expr("size(filter(toks, t -> t IN ('the', 'a')))").cast("double")
          .as("n_stop"))
      val topShare = base
        .select($"doc_id", explode($"toks").as("t"))
        .groupBy($"doc_id", $"t").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id").agg(max($"c").cast("double").as("top_c"))
      flat.join(topShare, "doc_id")
        .select($"lang",
          ($"n" < 15.0 || $"n" > 500.0).as("f_len"),
          ($"sum_len" / $"n" < 3.0 || $"sum_len" / $"n" > 10.0).as("f_wordlen"),
          ($"top_c" / $"n" > 0.15).as("f_toptoken"),
          ($"n_distinct" / $"n" < 0.4).as("f_ttr"),
          ($"n_stop" / $"n" < 0.02).as("f_stop"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"f_len", 1L).otherwise(0L)).as("n_fail_len"),
          sum(when($"f_wordlen", 1L).otherwise(0L)).as("n_fail_wordlen"),
          sum(when($"f_toptoken", 1L).otherwise(0L)).as("n_fail_toptoken"),
          sum(when($"f_ttr", 1L).otherwise(0L)).as("n_fail_ttr"),
          sum(when($"f_stop", 1L).otherwise(0L)).as("n_fail_stop"),
          sum(when(!$"f_len" && !$"f_wordlen" && !$"f_toptoken" &&
            !$"f_ttr" && !$"f_stop", 1L).otherwise(0L)).as("n_kept"))
        .orderBy($"lang")
    }),

    // QUALITY-RULE CO-FAILURE MATRIX — the redundancy audit behind a
    // filter config review: t21 reports how many docs each rule
    // rejects; THIS reports how much the rules overlap (pairwise
    // co-failure counts + Jaccard ppm over the 10 unordered rule
    // pairs). Two rules that always co-fire are one rule paid twice —
    // the matrix is what justifies dropping the expensive one; a pair
    // with near-zero overlap is two genuinely different failure modes.
    // Flag expressions are t21's verbatim (same thresholds, same
    // double arithmetic) so the two reports describe the same gate.
    // Scale shape: the flag frame is one projection + t21's
    // (doc, token) top-share agg; ALL 15 matrix cells fold in a
    // single map-side-combining aggregate over it (one pass, one
    // 1-row result), and the 10-row output explodes from that row —
    // no pair-keyed shuffle of documents ever happens.
    "t40_rule_cofailure" -> ((s, dir) => {
      import s.implicits._
      val base = graft.ops.Spread.fanout(Tables.documents(s, dir))
        .select($"doc_id", toks($"text").as("toks"))
      val flat = base.select($"doc_id",
        size($"toks").cast("double").as("n"),
        size(array_distinct($"toks")).cast("double").as("n_distinct"),
        expr("aggregate(transform(toks, t -> length(t)), 0, (acc, x) -> acc + x)")
          .cast("double").as("sum_len"),
        expr("size(filter(toks, t -> t IN ('the', 'a')))").cast("double")
          .as("n_stop"))
      val topShare = base
        .select($"doc_id", explode($"toks").as("t"))
        .groupBy($"doc_id", $"t").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id").agg(max($"c").cast("double").as("top_c"))
      val flags = flat.join(topShare, "doc_id").select(
        ($"n" < 15.0 || $"n" > 500.0).cast("long").as("len"),
        ($"sum_len" / $"n" < 3.0 || $"sum_len" / $"n" > 10.0).cast("long")
          .as("wordlen"),
        ($"top_c" / $"n" > 0.15).cast("long").as("toptoken"),
        ($"n_distinct" / $"n" < 0.4).cast("long").as("ttr"),
        ($"n_stop" / $"n" < 0.02).cast("long").as("stop"))
      val pairs = for {
        i <- QualityRules.indices
        j <- (i + 1) until QualityRules.length
      } yield (QualityRules(i), QualityRules(j))
      val aggCols = QualityRules.map(r => sum(col(r)).as(s"f_$r")) ++
        pairs.map { case (a, b) => sum(col(a) * col(b)).as(s"b_${a}_$b") }
      flags.agg(aggCols.head, aggCols.tail: _*)
        .select(explode(array(pairs.map { case (a, b) => struct(
          lit(a).as("rule_i"), lit(b).as("rule_j"),
          col(s"f_$a").as("n_fail_i"), col(s"f_$b").as("n_fail_j"),
          col(s"b_${a}_$b").as("n_both")) }: _*)).as("r"))
        .select($"r.rule_i".as("rule_i"), $"r.rule_j".as("rule_j"),
          $"r.n_fail_i".as("n_fail_i"), $"r.n_fail_j".as("n_fail_j"),
          $"r.n_both".as("n_both"),
          when($"r.n_fail_i" + $"r.n_fail_j" - $"r.n_both" === 0L, 0L)
            .otherwise(expr(
              "r.n_both * 1000000 div (r.n_fail_i + r.n_fail_j - r.n_both)"))
            .as("cofail_jaccard_ppm"))
        .orderBy($"rule_i", $"rule_j")
    }),

    // Gopher N-GRAM REPETITION gate (Rae et al. §A1.1, the n-gram
    // subset t21's word-level rules leave uncovered): per document, the
    // fraction of characters taken by the MOST FREQUENT 2-/3-/4-gram
    // (tf × gram length over doc length) and the duplicate-5-gram
    // fraction, plus the keep verdict under the published thresholds
    // (0.20 / 0.18 / 0.16 / 0.15). All four signals are ratios of exact
    // integers; the doubles are one correctly-rounded division each and
    // the keep flag compares cross-multiplied INTEGERS (rc2*5 <= nc is
    // top2 <= 0.20 exactly — no float threshold), so the whole result
    // hash-gates bit-identically. Scale shape: the 2/3/4-gram explode is
    // ~3 rows per token with a map-side-combining (doc, n, gram) count;
    // the top-1 window runs per (doc, n) partitions (never corpus-wide);
    // the 5-gram stats are a PURE PROJECTION (array_distinct inside the
    // row) — no shuffle; nothing joins across documents.
    // TEXT NORMALIZATION ACCOUNTING: the canonicalization every
    // pipeline runs before hashing/dedup (lowercase, edge-trim,
    // whitespace-run collapse), measured instead of silently applied —
    // per-doc raw vs normalized char counts, punctuation mass, and the
    // integer-ppm savings the collapse buys. Everything is a LENGTH of
    // a deterministic transform (no float, no locale: ASCII classes
    // only), so the gate is exact; at scale it's a pure projection —
    // zero shuffle before the keyed sample's sort.
    "t30_normalization_stats" -> ((s, dir) => {
      import s.implicits._
      graft.ops.Spread.fanout(Tables.documents(s, dir))
        .filter($"doc_id" % 10 === 0 && length($"text") > 0)
        .select($"doc_id",
          length($"text").cast("long").as("n_chars_raw"),
          length(regexp_replace(trim(lower($"text")), "\\s+", " "))
            .cast("long").as("n_chars_norm"),
          (length(lower($"text")) -
            length(regexp_replace(lower($"text"), "[^a-z0-9\\s]", "")))
            .cast("long").as("n_punct"))
        // sign-split so both engines divide a NON-NEGATIVE numerator:
        // lower() can EXPAND length (e.g. İ → i + combining dot), and
        // Spark's div truncates toward zero where DuckDB's // floors —
        // they disagree exactly on negative numerators
        .withColumn("saved_ppm", expr(
          "CASE WHEN n_chars_raw >= n_chars_norm" +
            " THEN (n_chars_raw - n_chars_norm) * 1000000 div n_chars_raw" +
            " ELSE -((n_chars_norm - n_chars_raw) * 1000000 div n_chars_raw) END"))
        .orderBy($"doc_id")
    }),

    "t29_gopher_ngram_repetition" -> ((s, dir) => {
      import s.implicits._
      val d = graft.ops.Spread.fanout(Tables.documents(s, dir))
        .filter($"text".isNotNull)
        .select($"doc_id", toks($"text").as("toks"),
          length($"text").cast("long").as("nc"))
        // fixture floor is 10 tokens; the guard keeps the 5-gram stats
        // well-defined (and the oracle carries the same predicate)
        .filter(size($"toks") >= 5)
      val g5 = d.select($"doc_id",
        (size($"toks") - 4).cast("long").as("tot5"),
        expr("size(array_distinct(transform(sequence(0, size(toks)-5), " +
          "i -> concat_ws(' ', slice(toks, i+1, 5)))))").cast("long").as("dis5"))
      val grams = d.select($"doc_id", $"nc",
          explode(expr(
            "flatten(transform(array(2, 3, 4), n -> " +
              "transform(sequence(0, size(toks)-n), " +
              "i -> struct(n AS n, concat_ws(' ', slice(toks, i+1, n)) AS g))))"))
            .as("x"))
        .select($"doc_id", $"nc", $"x.n".as("n"), $"x.g".as("g"))
      val tf = grams.groupBy($"doc_id", $"nc", $"n", $"g")
        .agg(count(lit(1)).as("tf"))
      // top gram per (doc, n) as an ARGMAX AGGREGATE (opt r16, er2's
      // min(struct) idiom): lexicographic min over (−tf, g) ≡ the old
      // row_number window's (tf DESC, g ASC) winner — the whole sort
      // the window paid vanishes, and the agg map-side-combines
      val top = tf.groupBy($"doc_id", $"nc", $"n")
        .agg(min(struct((-$"tf").as("ntf"), $"g".as("g"))).as("m"))
        .select($"doc_id", $"nc", $"n",
          (-$"m.ntf" * length($"m.g").cast("long")).as("rep_chars"))
      val fr = top
        .groupBy($"doc_id")
        .agg(max($"nc").as("nc"),
          max(when($"n" === 2, $"rep_chars")).as("rc2"),
          max(when($"n" === 3, $"rep_chars")).as("rc3"),
          max(when($"n" === 4, $"rep_chars")).as("rc4"))
      fr.join(g5, "doc_id")
        .select($"doc_id",
          ($"rc2".cast("double") / $"nc").as("top2_frac"),
          ($"rc3".cast("double") / $"nc").as("top3_frac"),
          ($"rc4".cast("double") / $"nc").as("top4_frac"),
          (($"tot5" - $"dis5").cast("double") / $"tot5").as("dup5_frac"),
          ($"rc2" * 5 <= $"nc" && $"rc3" * 50 <= $"nc" * 9 &&
            $"rc4" * 25 <= $"nc" * 4 &&
            ($"tot5" - $"dis5") * 20 <= $"tot5" * 3).as("keep"))
        .orderBy($"doc_id")
    }),

    // smoothed BIGRAM-LM scoring: train add-k bigram counts on the
    // corpus itself, score every document by its mean transition
    // probability — the cheap in-engine stand-in for perplexity
    // filtering (KenLM-style): low-probability docs are the quality
    // outliers. Mean-of-probabilities, not log-perplexity (libm log is
    // not bit-portable; the ordering of documents is preserved for any
    // monotone use). Scale shape: counts are two (hash-keyed) aggs over
    // the token stream; the doc's bigram stream joins the count tables
    // on xxhash64 keys (compact shuffle — d17's convention; the oracle
    // joins on the raw strings, counts identical barring a 2^-64
    // collision); V is a scalar subquery. Nothing is collected, the
    // corpus is never reshuffled except by bigram/unigram key.
    "t22_lm_score" -> ((s, dir) => {
      import s.implicits._
      lmScores(s, dir).orderBy($"doc_id")
    }),

    // PERPLEXITY BUCKETS (CCNet, Wenzek et al. 2020): split the corpus
    // into head/middle/tail thirds by the t22 LM score — the standard
    // quality-stratification a pretraining mixture consumes (train on
    // head+middle, sample tail). The thirds are decided WITHOUT a
    // corpus-wide total order (a global ntile is a single-reducer sort
    // at 100 TB): scores quantize onto a 2²⁰ integer grid, the cutoffs
    // come from the GRID-SIZED histogram via s15's nearest-rank rule
    // (cum·3 ≥ tot / cum·3 ≥ 2·tot — exact integers), and docs bucket
    // by comparing their grid cell to the two broadcast cutoffs. Ties
    // inside a cell stay together (CCNet's own cutoffs are sample-
    // derived score thresholds, not exact thirds). Shape: one score
    // pass (shared with t22), a ≤2²⁰-row histogram + window, broadcast
    // cutoffs back over the doc frame; every gated cell is BIGINT or
    // the bucket name.
    "t36_perplexity_buckets" -> ((s, dir) => {
      import s.implicits._
      val sc = graft.ops.Materialize(lmScores(s, dir)
        .select($"doc_id", $"n_bigrams",
          floor($"lm_score" * 1048576).cast("long").as("q")))
      val hist = sc.groupBy($"q").agg(count(lit(1)).as("n"))
      val wc = Window.orderBy($"q")
      val cum = hist.withColumn("cum", sum($"n").over(wc))
        .crossJoin(broadcast(hist.agg(sum($"n").as("tot"))))
      val cuts = cum
        .agg(min(when($"cum" * 3 >= $"tot", $"q")).as("cut_tail"),
          min(when($"cum" * 3 >= $"tot" * 2, $"q")).as("cut_mid"),
          first($"tot").as("tot"))
      sc.crossJoin(broadcast(cuts))
        .withColumn("bucket",
          when($"q" <= $"cut_tail", "tail")
            .when($"q" <= $"cut_mid", "middle").otherwise("head"))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_bigrams").as("sum_bigrams"),
          min($"q").as("min_qscore"), max($"q").as("max_qscore"),
          first($"tot").as("tot"))
        .select($"bucket", $"n_docs", $"sum_bigrams",
          $"min_qscore", $"max_qscore",
          expr("n_docs * 1000000 div tot").as("share_ppm"))
        .orderBy($"bucket")
    }),
  )

  /** t22's add-½-smoothed bigram LM scorer: (doc_id, n_bigrams,
    * lm_score) for every ≥2-token document. One definition shared by
    * t22 and t36 so the score and its stratification cannot drift. */
  private def lmScores(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    {
      // materialized: FOUR consumers read the tokenized frame (vocab
      // scalar, context counts, bigram counts, the scoring stream) —
      // without the checkpoint the split() pass runs four times
      val docs = graft.ops.Materialize(
        graft.ops.Spread.fanout(Tables.documents(s, dir))
          .select($"doc_id", toks($"text").as("toks")))
      val words = docs.select($"doc_id", explode($"toks").as("w"))
      val vocab = words.agg(
        count_distinct($"w").cast("double").as("v")).scalar()
      // ONE (k1, k2) bigram-dictionary aggregation carries BOTH count
      // tables (opt r16): c2 = the bigram's occurrence count; the
      // context count c1(w1) — occurrences of w1 at positions that
      // HAVE a successor — is exactly Σ over that context's bigrams of
      // c2, a dictionary-sized regroup. The old shape exploded the
      // corpus twice more (ctx pass + bigram-count pass) and shuffled
      // the full scoring stream through TWO count joins (k2 then k1);
      // now the per-position stream joins ONE probability table keyed
      // k2 alone, and the dictionary exchange is map-side-combined to
      // vocabulary size (guide §2.3 — aggregate before you shuffle).
      val pairs = docs.filter(size($"toks") >= 2)
        .select($"doc_id", explode(expr(
          "transform(sequence(0, size(toks)-2), i -> slice(toks, i+1, 2))"))
          .as("pair"))
        .select($"doc_id",
          xxhash64(element_at($"pair", 1)).as("k1"),
          xxhash64(concat_ws(" ", $"pair")).as("k2"))
      val dict = pairs.groupBy($"k1", $"k2")
        .agg(count(lit(1)).cast("double").as("c2"))
      val ctx = dict.groupBy($"k1").agg(sum($"c2").as("c1"))
      val prob = dict.join(ctx, "k1")
        .select($"k2", (($"c2" + lit(0.5)) / ($"c1" + lit(0.5) * vocab)).as("p"))
      pairs
        .join(prob, "k2")
        .select($"doc_id", $"p")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          (dsum($"p") / count(lit(1))).as("lm_score"))
    }
  }

  private def queriesB: Map[String, (SparkSession, String) => DataFrame] = Map(
    // HEAVY HITTERS via a Count-Min Sketch built by the native
    // [[graft.functions.CountMinAgg]] TypedImperativeAggregate: one
    // pass over the token stream reduces each partition to a 4×256
    // long matrix, partials merge by addition at the exchange (the
    // whole corpus crosses the wire as a few KB), and every DISTINCT
    // term probes the broadcast 1-row sketch for its min-over-rows
    // estimate. Terms whose estimate clears 1% of the stream are the
    // heavy hitters. Bucket hashing is the repo's md5 hex-fold family
    // (d9/d16), computed in codegen'd expressions on BOTH the build
    // and probe side; the sketch arithmetic is pure counting, so the
    // DuckDB replica is bit-identical (estimates may exceed true
    // counts on collision — identically in both engines).
    "t24_cms_heavy_hitters" -> ((s, dir) => {
      import s.implicits._
      val (d, w) = (4, 256)
      def bucket(j: String, t: String) =
        s"CAST(CAST(conv(substr(md5(concat($j, ':', $t)), 1, 8), 16, 10) AS BIGINT) % $w AS INT)"
      val tokens = graft.ops.Spread.fanout(Tables.documents(s, dir))
        .select(explode(toks($"text")).as("t"))
      val sketch = tokens
        .select(expr(
          s"transform(sequence(0, ${d - 1}), j -> ${bucket("CAST(j AS STRING)", "t")})")
          .as("bs"))
        .agg(graft.functions.CountMin($"bs", d, w).as("cms"),
          count(lit(1)).as("total"))
      tokens.distinct()
        .crossJoin(broadcast(sketch))
        .select($"t", array_min(expr(
          s"transform(sequence(0, ${d - 1}), j -> element_at(cms, j*$w + ${bucket("CAST(j AS STRING)", "t")} + 1))"))
          .as("est"), $"total")
        .filter($"est" * 100 >= $"total")
        .select($"t", $"est")
        .orderBy($"t")
    }),

    // WINNOWING document fingerprints (Schleimer/Wilkerson/Aiken, the
    // MOSS scheme): hash every 3-token gram, slide a w=4 window over the
    // hash sequence, select the RIGHTMOST MINIMAL hash of each window.
    // Guarantees a fingerprint in every w-gram span (coverage) with an
    // expected 2/(w+1) selection density — the local, position-robust
    // alternative to d3's MinHash for substring-level matching. The
    // rightmost-min tiebreak is folded into ONE window min: key =
    // h*2^31 + (2^31-1-pos) orders by hash then by DESCENDING position,
    // so min(key) yields both the selected hash (div) and its position
    // — one doc_id-keyed window pass, no per-window explode. Hash is
    // the repo's md5 hex-fold family (bit-identical in DuckDB). Scale:
    // everything keys on doc_id (gram window never crosses documents);
    // the distinct + rollup shuffle carries ~2 fingerprints per 5 grams.
    "t23_winnowing" -> ((s, dir) => {
      import s.implicits._
      winnowSelect(graft.ops.Spread.fanout(Tables.documents(s, dir)))
        .groupBy($"doc_id")
        .agg(max($"m").as("n_grams"), count(lit(1)).as("n_selected"),
          sum(expr("wmin div 2147483648")).as("fp_sum"))
        .orderBy($"doc_id")
    }),

    // WINNOWING MATCH (the MOSS pipeline's second half): documents
    // sharing >= 3 selected fingerprints (matched by HASH — selection
    // position is irrelevant across documents) are substring-overlap
    // candidates. Because t23's selection guarantees a fingerprint in
    // every w-gram window, any sufficiently long shared passage MUST
    // collide here — at ~2/(w+1) the index this joins is 5x smaller
    // than d2's full shingle posting list, which is the whole point of
    // winnowing at 100 TB. Hot fingerprints (df > 100) are capped out
    // of candidate generation by the family's bucket kernel, the d2
    // convention; a pair's shared-fingerprint count is its bucket-pair
    // count, the graph edges' shape.
    "d25_winnow_match" -> ((s, dir) => {
      import s.implicits._
      val fps = winnowSelect(graft.ops.Spread.fanout(Tables.documents(s, dir)))
        .select($"doc_id", expr("wmin div 2147483648").as("fp")).distinct()
      LlmPipeline.bucketPairs(LlmPipeline.buckets(fps, Seq("fp"), 100))
        .groupBy($"d1", $"d2")
        .agg(count(lit(1)).as("n_shared"))
        .filter($"n_shared" >= 3)
        .orderBy($"d1", $"d2")
    }),

    // source-pair VOCABULARY OVERLAP: exact Jaccard between the distinct
    // token sets of every source pair — the dataset-overlap audit run
    // before mixing corpora (near-identical sources inflate effective
    // epochs). Scale shape: the corpus reduces to the distinct
    // (source, term) VOCABULARY table first (one shuffle, corpus-sized
    // input but vocabulary-sized output); pairs then meet via a
    // term-keyed self-join whose per-term fanout is bounded by
    // #sources^2 BY CONSTRUCTION (a term occurs in at most all 20
    // sources) — no hot-key cap needed, unlike document-level d2; the
    // 20-row size table broadcasts back. Jaccard = one integer-derived
    // division, bit-portable.
    "d21_source_overlap" -> ((s, dir) => {
      import s.implicits._
      val v = graft.ops.Spread.fanout(Tables.documents(s, dir))
        .select($"source", explode(toks($"text")).as("t"))
        .distinct()
        .transform(graft.ops.Materialize(_))
      val sizes = v.groupBy($"source").agg(count(lit(1)).as("nv"))
      v.as("a").join(v.as("b"),
          $"a.t" === $"b.t" && $"a.source" < $"b.source")
        .groupBy($"a.source".as("s1"), $"b.source".as("s2"))
        .agg(count(lit(1)).as("n_common"))
        .join(broadcast(sizes).as("x"), $"s1" === $"x.source")
        .join(broadcast(sizes).as("y"), $"s2" === $"y.source")
        .select($"s1", $"s2", $"n_common",
          $"x.nv".as("n1"), $"y.nv".as("n2"),
          ($"n_common".cast("double") / ($"x.nv" + $"y.nv" - $"n_common"))
            .as("jaccard"))
        .orderBy($"s1", $"s2")
    }),

    // blocked FUZZY ENTITY RESOLUTION over part names: the textbook ER
    // pipeline shape — canonicalize to the DISTINCT-name dictionary
    // (vocabulary-sized, not row-sized: 64 names stand for 20k rows
    // here, and a 100 TB catalog still has a dictionary that fits in
    // one executor), generate candidates inside noun BLOCKS (same
    // second token), verify with exact Levenshtein <= 3, then map the
    // surviving pairs back to row counts via a broadcast join. The
    // all-pairs comparison only ever happens within a block of the
    // dictionary — never on the base table.
    "d22_fuzzy_match" -> ((s, dir) => {
      import s.implicits._
      val part = Tables.part(s, dir)
      val names = part.select($"p_name").distinct()
        // coalesce to '' so a single-token name blocks like DuckDB's
        // split_part (which yields '' for a missing field) instead of
        // being silently dropped by the NULL-rejecting equi-join
        .withColumn("noun", coalesce(element_at(split($"p_name", " "), 2), lit("")))
      val counts = part.groupBy($"p_name").agg(count(lit(1)).as("n"))
      names.as("a").join(names.as("b"),
          $"a.noun" === $"b.noun" && $"a.p_name" < $"b.p_name")
        .select($"a.p_name".as("name_a"), $"b.p_name".as("name_b"),
          levenshtein($"a.p_name", $"b.p_name").as("dist"))
        .filter($"dist" <= 3)
        .join(broadcast(counts).as("ca"), $"name_a" === $"ca.p_name")
        .join(broadcast(counts).as("cb"), $"name_b" === $"cb.p_name")
        .select($"name_a", $"name_b", $"dist",
          $"ca.n".as("n_rows_a"), $"cb.n".as("n_rows_b"))
        .orderBy($"name_a", $"name_b")
    }),

    // HYBRID RETRIEVAL with Reciprocal-Rank Fusion [Cormack et al.,
    // SIGIR'09]: per query, a LEXICAL ranking (t20's BM25, identical
    // constants) and a VECTOR-SPACE ranking (sparse TF cosine between
    // the query's binary term vector and the doc's full TF vector) are
    // fused by RRF(d) = Σᵢ 1/(60 + rankᵢ(d)); top 5 docs per query.
    // Rank-based fusion is scale-free — the standard way a RAG ingestion
    // pipeline combines BM25 with a vector retriever without score
    // calibration. Scale: the scoring tf frame is df-bounded (only
    // query-term postings survive the in-array filter), the doc-norm
    // pass is a map-side-combinable per-doc aggregate, rank windows
    // partition BY QUERY over candidate sets bounded by the query
    // terms' document frequency (per-query ranking is inherently a
    // per-query total order — same shape production IR eval uses), and
    // the final cut is the map-side-heap TopKPerKey operator.
    "t25_hybrid_rrf" -> ((s, dir) => {
      import s.implicits._
      val base = Tables.documents(s, dir)
      val queryTerms = Seq(
        "q1" -> Seq("spark", "join", "window"),
        "q2" -> Seq("hash", "table", "scan"),
        "q3" -> Seq("data", "fast", "merge"))
      val qdf = broadcast(
        queryTerms.flatMap { case (q, ts) => ts.map(q -> _) }.toDF("qid", "t"))
      val qterms = queryTerms.flatMap(_._2).distinct
      val consts = base.agg(struct(
          count(lit(1)).cast("double").as("n"),
          (sum(size(toks($"text"))).cast("double") / count(lit(1))).as("avgdl"))
        .as("c")).scalar()
      val n = consts.getField("n")
      val avgdl = consts.getField("avgdl")
      // ONE tokenize+explode pass: the materialized sparse (doc, term,
      // tf) frame — the standard sparse corpus representation — feeds
      // document length, the cosine norm, term document-frequency AND
      // the scoring join (a naive build tokenizes the corpus once per
      // consumer; measured 2.6 → 1.9 s at sf0.1)
      val tfAll = graft.ops.Materialize(graft.ops.Spread.fanout(base)
        .select($"doc_id", explode(toks($"text")).as("t"))
        .groupBy($"doc_id", $"t").agg(count(lit(1)).as("tf")))
      // dl and the cosine norm from the same map-side-combinable pass;
      // one row per doc crosses the exchange
      val docStats = tfAll.groupBy($"doc_id")
        .agg(sum($"tf").cast("double").as("dl"), sum($"tf" * $"tf").as("ssq"))
      val matched = tfAll.filter($"t".isin(qterms: _*))
        .join(docStats, "doc_id")
        .select($"doc_id", $"dl", $"t", $"tf".cast("double").as("tf"), $"ssq")
      val dfreq = matched.groupBy($"t").agg(count(lit(1)).cast("double").as("df"))
      // dot over integer tfs and integer ssq keep the cosine a single
      // deterministic sqrt/divide — bit-identical across engines; bm25
      // accumulates through the DECIMAL(38,6) stabilizer like t20
      val perQ = matched.join(broadcast(dfreq), "t").join(qdf, "t")
        .withColumn("idf", (n - $"df" + lit(0.5)) / ($"df" + lit(0.5)))
        .withColumn("tscore",
          $"idf" * ($"tf" * lit(2.2)) /
            ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * ($"dl" / avgdl))))
        .groupBy($"qid", $"doc_id")
        .agg(dsum($"tscore").as("bm25"), sum($"tf").cast("long").as("dot"),
          min($"ssq").as("ssq"))
        .withColumn("cosine",
          $"dot" / (sqrt(lit(3.0)) * sqrt($"ssq".cast("double"))))
      val wl = Window.partitionBy($"qid").orderBy($"bm25".desc, $"doc_id".asc)
      val wv = Window.partitionBy($"qid").orderBy($"cosine".desc, $"doc_id".asc)
      val fused = perQ
        .withColumn("r_lex", row_number().over(wl).cast("long"))
        .withColumn("r_vec", row_number().over(wv).cast("long"))
        .withColumn("rrf",
          lit(1.0) / (lit(60.0) + $"r_lex") + lit(1.0) / (lit(60.0) + $"r_vec"))
      graft.plans.TopK.perKey(fused,
          keys = Seq($"qid"), order = Seq($"rrf".desc, $"doc_id".asc), k = 5)
        .select($"qid", $"doc_id", $"r_lex", $"r_vec", $"rrf")
        .orderBy($"qid", $"rrf".desc, $"doc_id")
    }),
    // HARD-NEGATIVE MINING for contrastive retriever training (the
    // DPR-style data-prep step): per query, the docs that score HIGH on
    // BM25 yet are NOT relevant. Relevance is exact here — a doc
    // matching EVERY query term is a positive and excluded; the hard
    // negatives are the best-scoring partial matches, lexically
    // confusable with the positives, which is exactly what the
    // negative sampler wants (random negatives are trivially easy and
    // teach the bi-encoder nothing). Scale shape = t20's: the
    // query-term filter runs inside the token array BEFORE the explode
    // so only matching occurrences cross the (doc, term) exchange,
    // tiny df table broadcast, scalar-subquery constants, per-query
    // top-k via the map-side-heap TopKPerKey.
    "t26_hard_negatives" -> ((s, dir) => {
      import s.implicits._
      val base = Tables.documents(s, dir)
      val queryTerms = Seq(
        "q1" -> Seq("spark", "join", "window"),
        "q2" -> Seq("hash", "table", "scan"),
        "q3" -> Seq("data", "fast", "merge"))
      val qdf = broadcast(
        queryTerms.flatMap { case (q, ts) => ts.map(q -> _) }.toDF("qid", "t"))
      val qterms = queryTerms.flatMap(_._2).distinct
      val consts = base.agg(struct(
          count(lit(1)).cast("double").as("n"),
          (sum(size(toks($"text"))).cast("double") / count(lit(1))).as("avgdl"))
        .as("c")).scalar()
      val n = consts.getField("n")
      val avgdl = consts.getField("avgdl")
      // t20's cheap shape, not t25's: dl is size(toks) (shuffle-free)
      // and the query-term filter runs INSIDE the array BEFORE the
      // explode, so only matching occurrences ever cross the
      // (doc, term) exchange — t26 has no cosine norm, so nothing here
      // needs the full-vocabulary tf frame t25 materializes
      val inList = qterms.map(t => s"'$t'").mkString(", ")
      val matched = graft.ops.Materialize(graft.ops.Spread.fanout(base)
        .select($"doc_id", toks($"text").as("toks"))
        .select($"doc_id", size($"toks").cast("double").as("dl"),
          explode(expr(s"filter(toks, t -> t IN ($inList))")).as("t"))
        .groupBy($"doc_id", $"dl", $"t")
        .agg(count(lit(1)).cast("double").as("tf")))
      val dfreq = matched.groupBy($"t").agg(count(lit(1)).cast("double").as("df"))
      val perQ = matched.join(broadcast(dfreq), "t").join(qdf, "t")
        .withColumn("idf", (n - $"df" + lit(0.5)) / ($"df" + lit(0.5)))
        .withColumn("tscore",
          $"idf" * ($"tf" * lit(2.2)) /
            ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * ($"dl" / avgdl))))
        .groupBy($"qid", $"doc_id")
        .agg(dsum($"tscore").as("bm25"), count(lit(1)).as("n_matched"))
      // full matches are the positives — every query here has 3 terms
      val negs = perQ.filter($"n_matched" < 3)
      val top = graft.plans.TopK.perKey(negs,
        keys = Seq($"qid"), order = Seq($"bm25".desc, $"doc_id".asc), k = 5)
      val w = Window.partitionBy($"qid").orderBy($"bm25".desc, $"doc_id".asc)
      top.withColumn("rn", row_number().over(w).cast("long"))
        .select($"qid", $"rn", $"doc_id", $"bm25", $"n_matched")
        .orderBy($"qid", $"rn")
    }),
  )

  /** Shared CTE prefix of the t22/t36 oracles: tokenized docs, vocab
    * scalar, context counts, bigram counts, the scoring stream. */
  private val lmCtes =
    """WITH docs AS (
      |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents
      |),
      |vocab AS (
      |  SELECT CAST(COUNT(DISTINCT w) AS DOUBLE) AS v
      |  FROM (SELECT unnest(toks) AS w FROM docs)
      |),
      |ctx AS (
      |  SELECT w1, CAST(COUNT(*) AS DOUBLE) AS c1
      |  FROM (SELECT unnest(toks[1:len(toks)-1]) AS w1 FROM docs WHERE len(toks) >= 2)
      |  GROUP BY w1
      |),
      |c2 AS (
      |  SELECT bg, CAST(COUNT(*) AS DOUBLE) AS c2
      |  FROM (SELECT unnest(list_transform(range(len(toks)-1),
      |          i -> array_to_string(toks[i+1:i+2], ' '))) AS bg
      |        FROM docs WHERE len(toks) >= 2)
      |  GROUP BY bg
      |),
      |stream AS (
      |  SELECT doc_id, toks[i+1] AS w1, array_to_string(toks[i+1:i+2], ' ') AS bg
      |  FROM (SELECT doc_id, toks, unnest(range(len(toks)-1)) AS i
      |        FROM docs WHERE len(toks) >= 2)
      |)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "t28_zipf_spectrum" ->
      """WITH w AS (
        |  SELECT unnest(string_split_regex(lower(text), '\s+')) AS word
        |  FROM documents
        |),
        |freq AS (
        |  SELECT word, COUNT(*) AS freq FROM w
        |  WHERE length(word) >= 1 GROUP BY word
        |),
        |top AS (
        |  SELECT word, freq,
        |    ROW_NUMBER() OVER (ORDER BY freq DESC, word ASC) AS rank
        |  FROM freq ORDER BY freq DESC, word ASC LIMIT 30
        |)
        |SELECT rank, word, freq, rank * freq AS zipf_product
        |FROM top ORDER BY rank""".stripMargin,

    // list_reduce replays VecDot's left-fold-from-zero add order
    "d29_sql_cosine_topk" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
        |SELECT vec_id, cos FROM (
        |  SELECT e.vec_id,
        |    list_reduce(list_transform(range(len(e.v)), i -> e.v[i+1] * q.qv[i+1]), (x, y) -> x + y) /
        |      (sqrt(list_reduce(list_transform(e.v, x -> x*x), (x, y) -> x + y)) *
        |       sqrt(list_reduce(list_transform(q.qv, x -> x*x), (x, y) -> x + y))) AS cos
        |  FROM e, q WHERE e.vec_id <> 0)
        |ORDER BY cos DESC, vec_id ASC LIMIT 3""".stripMargin,

    "t27_sql_macro_ngrams" ->
      """WITH docs AS (
        |  SELECT string_split_regex(lower(text), '\s+') AS toks FROM documents
        |),
        |g AS (
        |  SELECT unnest(list_transform(range(len(toks)-2),
        |    i -> array_to_string(toks[i+1:i+3], ' '))) AS gram
        |  FROM docs WHERE len(toks) >= 3
        |)
        |SELECT gram, count(*) AS n FROM g
        |GROUP BY gram ORDER BY n DESC, gram LIMIT 20""".stripMargin,

    "t26_hard_negatives" ->
      """WITH q(qid, t) AS (VALUES
        |  ('q1','spark'),('q1','join'),('q1','window'),
        |  ('q2','hash'),('q2','table'),('q2','scan'),
        |  ('q3','data'),('q3','fast'),('q3','merge')),
        |d AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents),
        |consts AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(len(string_split_regex(lower(text), '\s+'))) AS DOUBLE) / COUNT(*) AS avgdl
        |  FROM documents
        |),
        |m AS (
        |  SELECT doc_id, dl, t, CAST(COUNT(*) AS DOUBLE) AS tf
        |  FROM (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, unnest(toks) AS t FROM d)
        |  WHERE t IN ('spark','join','window','hash','table','scan','data','fast','merge')
        |  GROUP BY doc_id, dl, t
        |),
        |dfreq AS (SELECT t, CAST(COUNT(*) AS DOUBLE) AS df FROM m GROUP BY t),
        |sc AS (
        |  SELECT q.qid, m.doc_id,
        |    ((c.n - dfreq.df + 0.5) / (dfreq.df + 0.5)) * (m.tf * 2.2) /
        |      (m.tf + 1.2 * (0.25 + 0.75 * (m.dl / c.avgdl))) AS tscore
        |  FROM m JOIN dfreq USING (t) JOIN q USING (t) CROSS JOIN consts c
        |),
        |agg AS (
        |  SELECT qid, doc_id,
        |    CAST(SUM(CAST(tscore AS DECIMAL(38,6))) AS DOUBLE) AS bm25,
        |    COUNT(*) AS n_matched
        |  FROM sc GROUP BY qid, doc_id HAVING COUNT(*) < 3
        |)
        |SELECT qid, rn, doc_id, bm25, n_matched FROM (
        |  SELECT qid, doc_id, bm25, n_matched,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY bm25 DESC, doc_id ASC) AS BIGINT) AS rn
        |  FROM agg) WHERE rn <= 5
        |ORDER BY qid, rn""".stripMargin,


    "t20_bm25" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(len(string_split_regex(lower(text), '\s+')) AS DOUBLE) AS dl,
        |    string_split_regex(lower(text), '\s+') AS toks
        |  FROM documents
        |),
        |consts AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(len(string_split_regex(lower(text), '\s+'))) AS DOUBLE) / COUNT(*) AS avgdl
        |  FROM documents
        |),
        |m AS (
        |  SELECT doc_id, dl, t, CAST(COUNT(*) AS DOUBLE) AS tf
        |  FROM (SELECT doc_id, dl, unnest(toks) AS t FROM d)
        |  WHERE t IN ('spark', 'join', 'window')
        |  GROUP BY doc_id, dl, t
        |),
        |dfreq AS (SELECT t, CAST(COUNT(*) AS DOUBLE) AS df FROM m GROUP BY t),
        |sc AS (
        |  SELECT m.doc_id,
        |    ((c.n - dfreq.df + 0.5) / (dfreq.df + 0.5)) * (m.tf * 2.2) /
        |      (m.tf + 1.2 * (0.25 + 0.75 * (m.dl / c.avgdl))) AS tscore
        |  FROM m JOIN dfreq USING (t) CROSS JOIN consts c
        |)
        |SELECT doc_id, CAST(SUM(CAST(tscore AS DECIMAL(38,6))) AS DOUBLE) AS bm25,
        |  COUNT(*) AS n_terms_matched
        |FROM sc GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id LIMIT 100""".stripMargin,

    "t21_quality_rules" ->
      """WITH base AS (
        |  SELECT doc_id, lang, string_split_regex(lower(text), '\s+') AS toks
        |  FROM documents
        |),
        |flat AS (
        |  SELECT doc_id, lang,
        |    CAST(len(toks) AS DOUBLE) AS n,
        |    CAST(len(list_distinct(toks)) AS DOUBLE) AS n_distinct,
        |    CAST(list_reduce(list_prepend(0, list_transform(toks, t -> len(t))),
        |      (acc, x) -> acc + x) AS DOUBLE) AS sum_len,
        |    CAST(len(list_filter(toks, t -> t IN ('the', 'a'))) AS DOUBLE) AS n_stop
        |  FROM base
        |),
        |tops AS (
        |  SELECT doc_id, CAST(MAX(c) AS DOUBLE) AS top_c FROM (
        |    SELECT doc_id, t, COUNT(*) AS c
        |    FROM (SELECT doc_id, unnest(toks) AS t FROM base)
        |    GROUP BY doc_id, t
        |  ) GROUP BY doc_id
        |),
        |rules AS (
        |  SELECT lang,
        |    (n < 15.0 OR n > 500.0) AS f_len,
        |    (sum_len / n < 3.0 OR sum_len / n > 10.0) AS f_wordlen,
        |    (top_c / n > 0.15) AS f_toptoken,
        |    (n_distinct / n < 0.4) AS f_ttr,
        |    (n_stop / n < 0.02) AS f_stop
        |  FROM flat JOIN tops USING (doc_id)
        |)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN f_len THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_len,
        |  CAST(SUM(CASE WHEN f_wordlen THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_wordlen,
        |  CAST(SUM(CASE WHEN f_toptoken THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_toptoken,
        |  CAST(SUM(CASE WHEN f_ttr THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_ttr,
        |  CAST(SUM(CASE WHEN f_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_stop,
        |  CAST(SUM(CASE WHEN NOT f_len AND NOT f_wordlen AND NOT f_toptoken
        |           AND NOT f_ttr AND NOT f_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM rules GROUP BY lang ORDER BY lang""".stripMargin,

    // t21's flag CTEs verbatim; the 10 UNION ALL arms are generated
    // from the same QualityRules list as the Spark pair spine
    "t40_rule_cofailure" -> {
      val pairs = for {
        i <- QualityRules.indices
        j <- (i + 1) until QualityRules.length
      } yield (QualityRules(i), QualityRules(j))
      val sums = (QualityRules.map(r =>
        s"SUM(CASE WHEN f_$r THEN 1 ELSE 0 END) AS f_$r") ++
        pairs.map { case (a, b) =>
          s"SUM(CASE WHEN f_$a AND f_$b THEN 1 ELSE 0 END) AS b_${a}_$b"
        }).mkString(",\n|    ")
      val arms = pairs.map { case (a, b) =>
        s"""SELECT '$a' AS rule_i, '$b' AS rule_j,
           |  CAST(f_$a AS BIGINT) AS n_fail_i, CAST(f_$b AS BIGINT) AS n_fail_j,
           |  CAST(b_${a}_$b AS BIGINT) AS n_both,
           |  CAST(CASE WHEN f_$a + f_$b - b_${a}_$b = 0 THEN 0
           |    ELSE b_${a}_$b * 1000000 // (f_$a + f_$b - b_${a}_$b) END AS BIGINT)
           |    AS cofail_jaccard_ppm
           |  FROM s""".stripMargin.linesIterator.mkString("\n|  ")
      }.mkString("\n|  UNION ALL\n|  ")
      // regex lives in the NON-interpolated part: the s-interpolator
      // processes escapes even in triple quotes, so '\s+' inside s"""
      // would throw InvalidEscape at object init
      """WITH base AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
        |  FROM documents
        |),
        |flat AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS DOUBLE) AS n,
        |    CAST(len(list_distinct(toks)) AS DOUBLE) AS n_distinct,
        |    CAST(list_reduce(list_prepend(0, list_transform(toks, t -> len(t))),
        |      (acc, x) -> acc + x) AS DOUBLE) AS sum_len,
        |    CAST(len(list_filter(toks, t -> t IN ('the', 'a'))) AS DOUBLE) AS n_stop
        |  FROM base
        |),
        |tops AS (
        |  SELECT doc_id, CAST(MAX(c) AS DOUBLE) AS top_c FROM (
        |    SELECT doc_id, t, COUNT(*) AS c
        |    FROM (SELECT doc_id, unnest(toks) AS t FROM base)
        |    GROUP BY doc_id, t
        |  ) GROUP BY doc_id
        |),
        |rules AS (
        |  SELECT
        |    (n < 15.0 OR n > 500.0) AS f_len,
        |    (sum_len / n < 3.0 OR sum_len / n > 10.0) AS f_wordlen,
        |    (top_c / n > 0.15) AS f_toptoken,
        |    (n_distinct / n < 0.4) AS f_ttr,
        |    (n_stop / n < 0.02) AS f_stop
        |  FROM flat JOIN tops USING (doc_id)
        |),
        |""".stripMargin +
      s"""s AS (
        |  SELECT
        |    $sums
        |  FROM rules
        |)
        |SELECT * FROM (
        |  $arms
        |) ORDER BY rule_i, rule_j""".stripMargin
    },

    // 'g' flag: DuckDB regexp_replace is first-match by default where
    // Spark replaces every occurrence
    "t30_normalization_stats" ->
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars_raw,
        |  CAST(length(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS BIGINT) AS n_chars_norm,
        |  CAST(length(lower(text)) - length(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g')) AS BIGINT) AS n_punct,
        |  CASE WHEN length(text) >= length(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
        |    THEN (CAST(length(text) AS BIGINT) - CAST(length(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS BIGINT)) * 1000000
        |      // CAST(length(text) AS BIGINT)
        |    ELSE -((CAST(length(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS BIGINT) - CAST(length(text) AS BIGINT)) * 1000000
        |      // CAST(length(text) AS BIGINT))
        |  END AS saved_ppm
        |FROM documents
        |WHERE doc_id % 10 = 0 AND length(text) > 0
        |ORDER BY doc_id""".stripMargin,

    "t29_gopher_ngram_repetition" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks,
        |    CAST(length(text) AS BIGINT) AS nc
        |  FROM documents WHERE text IS NOT NULL
        |),
        |d5 AS (SELECT * FROM d WHERE len(toks) >= 5),
        |grams AS (
        |  SELECT doc_id, nc, n,
        |    unnest(list_transform(range(len(toks)-n+1),
        |      i -> array_to_string(toks[i+1:i+n], ' '))) AS g
        |  FROM d5, (SELECT unnest([2, 3, 4]) AS n) ns
        |),
        |tf AS (SELECT doc_id, nc, n, g, COUNT(*) AS tf FROM grams GROUP BY ALL),
        |ranked AS (
        |  SELECT doc_id, nc, n, tf * length(g) AS rep_chars,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id, n
        |                       ORDER BY tf DESC, g ASC) AS rn
        |  FROM tf
        |),
        |fr AS (
        |  SELECT doc_id, MAX(nc) AS nc,
        |    MAX(CASE WHEN n = 2 THEN rep_chars END) AS rc2,
        |    MAX(CASE WHEN n = 3 THEN rep_chars END) AS rc3,
        |    MAX(CASE WHEN n = 4 THEN rep_chars END) AS rc4
        |  FROM ranked WHERE rn = 1 GROUP BY doc_id
        |),
        |g5 AS (
        |  SELECT doc_id,
        |    CAST(len(l5) AS BIGINT) AS tot5,
        |    CAST(len(list_distinct(l5)) AS BIGINT) AS dis5
        |  FROM (SELECT doc_id, list_transform(range(len(toks)-4),
        |          i -> array_to_string(toks[i+1:i+5], ' ')) AS l5 FROM d5)
        |)
        |SELECT f.doc_id,
        |  CAST(rc2 AS DOUBLE) / nc AS top2_frac,
        |  CAST(rc3 AS DOUBLE) / nc AS top3_frac,
        |  CAST(rc4 AS DOUBLE) / nc AS top4_frac,
        |  CAST(tot5 - dis5 AS DOUBLE) / tot5 AS dup5_frac,
        |  (rc2 * 5 <= nc AND rc3 * 50 <= nc * 9 AND rc4 * 25 <= nc * 4
        |   AND (tot5 - dis5) * 20 <= tot5 * 3) AS keep
        |FROM fr f JOIN g5 USING (doc_id) ORDER BY doc_id""".stripMargin,

    "t22_lm_score" ->
      (lmCtes + """
        |SELECT s.doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(CAST((c2.c2 + 0.5) / (ctx.c1 + 0.5 * (SELECT v FROM vocab)) AS DECIMAL(38,6))) AS DOUBLE)
        |    / COUNT(*) AS lm_score
        |FROM stream s JOIN c2 ON s.bg = c2.bg JOIN ctx ON s.w1 = ctx.w1
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin),

    // the same score, quantized to the 2^20 grid; cutoffs by the
    // nearest-rank rule over the histogram; every cell BIGINT
    "t36_perplexity_buckets" ->
      (lmCtes + """,
        |sc AS (
        |  SELECT s.doc_id, COUNT(*) AS n_bigrams,
        |    CAST(FLOOR(
        |      CAST(SUM(CAST((c2.c2 + 0.5) / (ctx.c1 + 0.5 * (SELECT v FROM vocab)) AS DECIMAL(38,6))) AS DOUBLE)
        |      / COUNT(*) * 1048576) AS BIGINT) AS q
        |  FROM stream s JOIN c2 ON s.bg = c2.bg JOIN ctx ON s.w1 = ctx.w1
        |  GROUP BY s.doc_id
        |),
        |hist AS (SELECT q, COUNT(*) AS n FROM sc GROUP BY q),
        |tot AS (SELECT SUM(n) AS tot FROM hist),
        |cum AS (SELECT q, SUM(n) OVER (ORDER BY q) AS cum FROM hist),
        |cuts AS (
        |  SELECT MIN(CASE WHEN cum * 3 >= tot.tot THEN q END) AS cut_tail,
        |    MIN(CASE WHEN cum * 3 >= tot.tot * 2 THEN q END) AS cut_mid,
        |    MAX(tot.tot) AS tot
        |  FROM cum CROSS JOIN tot
        |),
        |b AS (
        |  SELECT sc.n_bigrams, sc.q, cuts.tot,
        |    CASE WHEN sc.q <= cuts.cut_tail THEN 'tail'
        |         WHEN sc.q <= cuts.cut_mid THEN 'middle'
        |         ELSE 'head' END AS bucket
        |  FROM sc CROSS JOIN cuts
        |)
        |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_bigrams) AS BIGINT) AS sum_bigrams,
        |  CAST(MIN(q) AS BIGINT) AS min_qscore,
        |  CAST(MAX(q) AS BIGINT) AS max_qscore,
        |  CAST(COUNT(*) * 1000000 // MAX(tot) AS BIGINT) AS share_ppm
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin),

    // the same 4×256 sketch rebuilt relationally: per-(row, bucket)
    // counts, probes via the identical md5 hex-fold bucket
    "t24_cms_heavy_hitters" ->
      """WITH tokens AS (
        |  SELECT unnest(string_split_regex(lower(text), '\s+')) AS t FROM documents
        |),
        |rows_ AS (SELECT unnest(range(4)) AS j),
        |cells AS (
        |  SELECT j,
        |    CAST(list_reduce(list_transform(range(8),
        |      d -> strpos('0123456789abcdef',
        |             substr(md5(CAST(j AS VARCHAR) || ':' || t), d+1, 1)) - 1),
        |      (acc, v) -> acc*16 + v) AS BIGINT) % 256 AS b,
        |    COUNT(*) AS c
        |  FROM tokens CROSS JOIN rows_
        |  GROUP BY 1, 2
        |),
        |total AS (SELECT COUNT(*) AS total FROM tokens),
        |probes AS (
        |  SELECT dt.t, rows_.j,
        |    CAST(list_reduce(list_transform(range(8),
        |      d -> strpos('0123456789abcdef',
        |             substr(md5(CAST(rows_.j AS VARCHAR) || ':' || dt.t), d+1, 1)) - 1),
        |      (acc, v) -> acc*16 + v) AS BIGINT) % 256 AS b
        |  FROM (SELECT DISTINCT t FROM tokens) dt CROSS JOIN rows_
        |),
        |est AS (
        |  SELECT p.t, MIN(c.c) AS est
        |  FROM probes p JOIN cells c ON c.j = p.j AND c.b = p.b
        |  GROUP BY p.t
        |)
        |SELECT t, est FROM est
        |WHERE est * 100 >= (SELECT total FROM total)
        |ORDER BY t""".stripMargin,

    // the same keyed-min winnowing: list_reduce replicates the md5
    // hex-fold, // is floor division (non-negative keys here)
    "t23_winnowing" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents
        |  WHERE len(string_split_regex(lower(text), '\s+')) >= 3
        |),
        |grams AS (
        |  SELECT doc_id, len(toks) - 2 AS m, i,
        |    CAST(list_reduce(list_transform(range(8),
        |      dd -> strpos('0123456789abcdef',
        |             substr(md5(array_to_string(toks[i+1:i+3], ' ')), dd+1, 1)) - 1),
        |      (acc, v) -> acc*16 + v) AS BIGINT) AS h
        |  FROM (SELECT doc_id, toks, unnest(range(len(toks) - 2)) AS i FROM d)
        |),
        |keyed AS (
        |  SELECT doc_id, m, i,
        |    MIN(h * 2147483648 + (2147483647 - i)) OVER
        |      (PARTITION BY doc_id ORDER BY i ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
        |  FROM grams
        |),
        |sel AS (
        |  SELECT DISTINCT doc_id, m, wmin FROM keyed
        |  WHERE i <= CASE WHEN m >= 4 THEN m - 4 ELSE 0 END
        |)
        |SELECT doc_id, MAX(m) AS n_grams, COUNT(*) AS n_selected,
        |  CAST(SUM(wmin // 2147483648) AS BIGINT) AS fp_sum
        |FROM sel GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "d25_winnow_match" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents
        |  WHERE len(string_split_regex(lower(text), '\s+')) >= 3
        |),
        |grams AS (
        |  SELECT doc_id, len(toks) - 2 AS m, i,
        |    CAST(list_reduce(list_transform(range(8),
        |      dd -> strpos('0123456789abcdef',
        |             substr(md5(array_to_string(toks[i+1:i+3], ' ')), dd+1, 1)) - 1),
        |      (acc, v) -> acc*16 + v) AS BIGINT) AS h
        |  FROM (SELECT doc_id, toks, unnest(range(len(toks) - 2)) AS i FROM d)
        |),
        |keyed AS (
        |  SELECT doc_id, m, i,
        |    MIN(h * 2147483648 + (2147483647 - i)) OVER
        |      (PARTITION BY doc_id ORDER BY i ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
        |  FROM grams
        |),
        |fps AS (
        |  SELECT DISTINCT doc_id, wmin // 2147483648 AS fp FROM keyed
        |  WHERE i <= CASE WHEN m >= 4 THEN m - 4 ELSE 0 END
        |),
        |ok AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 100),
        |idx AS (SELECT fps.doc_id, fps.fp FROM fps JOIN ok USING (fp))
        |SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_shared
        |FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 3
        |ORDER BY d1, d2""".stripMargin,

    "d21_source_overlap" ->
      """WITH v AS (
        |  SELECT DISTINCT source, t FROM (
        |    SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS t
        |    FROM documents)
        |),
        |sizes AS (SELECT source, COUNT(*) AS nv FROM v GROUP BY source),
        |pairs AS (
        |  SELECT a.source AS s1, b.source AS s2, COUNT(*) AS n_common
        |  FROM v a JOIN v b ON a.t = b.t AND a.source < b.source
        |  GROUP BY 1, 2
        |)
        |SELECT s1, s2, n_common, x.nv AS n1, y.nv AS n2,
        |  CAST(n_common AS DOUBLE) / (x.nv + y.nv - n_common) AS jaccard
        |FROM pairs JOIN sizes x ON s1 = x.source JOIN sizes y ON s2 = y.source
        |ORDER BY s1, s2""".stripMargin,

    "d22_fuzzy_match" ->
      """WITH names AS (SELECT DISTINCT p_name FROM part),
        |b AS (SELECT p_name, split_part(p_name, ' ', 2) AS noun FROM names),
        |cand AS (
        |  SELECT a.p_name AS name_a, c.p_name AS name_b,
        |    levenshtein(a.p_name, c.p_name) AS dist
        |  FROM b a JOIN b c ON a.noun = c.noun AND a.p_name < c.p_name
        |  WHERE levenshtein(a.p_name, c.p_name) <= 3
        |),
        |counts AS (SELECT p_name, COUNT(*) AS n FROM part GROUP BY p_name)
        |SELECT name_a, name_b, dist, ca.n AS n_rows_a, cb.n AS n_rows_b
        |FROM cand
        |JOIN counts ca ON name_a = ca.p_name
        |JOIN counts cb ON name_b = cb.p_name
        |ORDER BY name_a, name_b""".stripMargin,

    "t25_hybrid_rrf" ->
      """WITH q(qid, t) AS (VALUES
        |  ('q1','spark'),('q1','join'),('q1','window'),
        |  ('q2','hash'),('q2','table'),('q2','scan'),
        |  ('q3','data'),('q3','fast'),('q3','merge')),
        |d AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents),
        |consts AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(len(string_split_regex(lower(text), '\s+'))) AS DOUBLE) / COUNT(*) AS avgdl
        |  FROM documents
        |),
        |norms AS (
        |  SELECT doc_id, SUM(tf * tf) AS ssq FROM (
        |    SELECT doc_id, t, COUNT(*) AS tf
        |    FROM (SELECT doc_id, unnest(toks) AS t FROM d) GROUP BY doc_id, t
        |  ) GROUP BY doc_id
        |),
        |m AS (
        |  SELECT doc_id, dl, t, CAST(COUNT(*) AS DOUBLE) AS tf
        |  FROM (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, unnest(toks) AS t FROM d)
        |  WHERE t IN ('spark','join','window','hash','table','scan','data','fast','merge')
        |  GROUP BY doc_id, dl, t
        |),
        |dfreq AS (SELECT t, CAST(COUNT(*) AS DOUBLE) AS df FROM m GROUP BY t),
        |sc AS (
        |  SELECT q.qid, m.doc_id, m.tf,
        |    ((c.n - dfreq.df + 0.5) / (dfreq.df + 0.5)) * (m.tf * 2.2) /
        |      (m.tf + 1.2 * (0.25 + 0.75 * (m.dl / c.avgdl))) AS tscore
        |  FROM m JOIN dfreq USING (t) JOIN q USING (t) CROSS JOIN consts c
        |),
        |pq AS (
        |  SELECT qid, doc_id,
        |    CAST(SUM(CAST(tscore AS DECIMAL(38,6))) AS DOUBLE) AS bm25,
        |    CAST(SUM(tf) AS BIGINT) AS dot
        |  FROM sc GROUP BY qid, doc_id
        |),
        |fused AS (
        |  SELECT pq.qid, pq.doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY pq.qid ORDER BY pq.bm25 DESC, pq.doc_id) AS r_lex,
        |    ROW_NUMBER() OVER (PARTITION BY pq.qid
        |      ORDER BY pq.dot / (sqrt(3.0) * sqrt(CAST(n.ssq AS DOUBLE))) DESC, pq.doc_id) AS r_vec
        |  FROM pq JOIN norms n USING (doc_id)
        |),
        |rr AS (
        |  SELECT qid, doc_id, r_lex, r_vec,
        |    1.0 / (60.0 + r_lex) + 1.0 / (60.0 + r_vec) AS rrf,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY 1.0 / (60.0 + r_lex) + 1.0 / (60.0 + r_vec) DESC, doc_id) AS rn
        |  FROM fused
        |)
        |SELECT qid, doc_id, CAST(r_lex AS BIGINT) AS r_lex,
        |  CAST(r_vec AS BIGINT) AS r_vec, rrf
        |FROM rr WHERE rn <= 5 ORDER BY qid, rrf DESC, doc_id""".stripMargin,
  )
}
