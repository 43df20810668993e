package graft

import graft.queries.LlmPipeline

/** Defends the d2 near-dup algebra end to end against an independent
  * brute-force implementation: capped-candidate generation (pairs sharing
  * at least one shingle with document frequency ≤ maxDf) + EXACT
  * full-set Jaccard. In particular this proves the upper-bound pruning
  * (`inter ≤ ri + min(h1,h2)`) never drops a qualifying pair — the
  * trickiest part of the fused plan. */
class NearDupSpec extends SparkTestBase {

  private def shingleSet(text: String): Set[String] = {
    val t = text.toLowerCase.split("\\s+").toIndexedSeq
    if (t.length < 3) Set.empty
    else t.sliding(3).map(_.mkString(" ")).toSet
  }

  /** Independent brute-force: capped candidates, exact Jaccard. */
  private def bruteForce(docs: Seq[(Long, String)], maxDf: Int, threshold: Double)
      : Set[(Long, Long, Double)] = {
    val sh = docs.map { case (id, txt) => id -> shingleSet(txt) }.toMap
    val df = sh.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val rare = df.collect { case (g, n) if n <= maxDf => g }.toSet
    val ids = docs.map(_._1).sorted
    (for {
      i <- ids; j <- ids if i < j
      si = sh(i); sj = sh(j)
      if (si & sj & rare).nonEmpty // capped candidate generation
      inter = (si & sj).size       // exact verification on FULL sets
      jac = inter.toDouble / (si.size + sj.size - inter)
      if jac >= threshold
    } yield (i, j, jac)).toSet
  }

  private def runPipeline(docs: Seq[(Long, String)], maxDf: Int, threshold: Double)
      : Set[(Long, Long, Double)] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(docs.map { case (id, t) => Row(id, t) }),
      schema)
    LlmPipeline.nearDupJaccard(
        LlmPipeline.withCorpusDf(LlmPipeline.shingleIndex(df)), maxDf, threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
  }

  private def corpus(seed: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    // boilerplate prefix shared by MANY docs -> its shingles go hot
    val boiler = "common header line for every document"
    val bases = (0 until 20).map { i =>
      (if (i % 2 == 0) boiler + " " else "") +
        Seq.fill(8 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    bases.zipWithIndex.flatMap { case (b, i) =>
      val id = i.toLong * 10
      val toks = b.split(" ")
      // near-dup sibling: one token swapped
      val edited = toks.updated(rnd.nextInt(toks.length), "omega").mkString(" ")
      Seq(id -> b, (id + 1) -> edited)
    }
  }

  test("exactInterFor equals brute-force full-set intersection at any hotDf") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val docs = corpus(seed = 77)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(docs.map { case (id, t) => Row(id, t) }),
      schema)
    val sh = LlmPipeline.shingleIndex(df)
    val sets = docs.map { case (id, t) => id -> shingleSet(t) }.toMap
    val ids = docs.map(_._1).filter(sets(_).nonEmpty).sorted
    // every ordered pair, including zero-overlap ones (inter must read 0)
    val pairs = for (i <- ids; j <- ids if i < j) yield (i, j)
    val pairsDf = spark.createDataFrame(
      spark.sparkContext.parallelize(pairs.map { case (a, b) => Row(a, b) }),
      StructType(Seq(StructField("d1", LongType), StructField("d2", LongType))))
    // hotDf = 1 (everything hot), 3 (mixed), 10000 (nothing hot): the
    // split must be invisible to the result
    for (hotDf <- Seq(1, 3, 10000)) {
      val got = LlmPipeline.exactInterFor(sh, pairsDf, hotDf)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      assert(got.size === pairs.size, s"hotDf=$hotDf pair count")
      pairs.foreach { case (a, b) =>
        val (inter, na, nb) = got((a, b))
        val exp = (sets(a) & sets(b)).size.toLong
        assert(inter === exp, s"hotDf=$hotDf inter($a,$b)")
        assert(na === sets(a).size.toLong && nb === sets(b).size.toLong,
          s"hotDf=$hotDf sizes($a,$b)")
      }
    }
  }

  test("incrementalDedup keeps novel batch docs, drops exact and near dups") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val indexDoc = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      // existing corpus index
      (0L, "idx", indexDoc),
      (1L, "idx", "one two three four five six seven eight"),
      // new batch: 10 = exact dup of 0; 11 = near dup of 0 (6 shingles
      // shared of the 6-shingle doc, >= minShared 5); 12 = novel
      (10L, "new", indexDoc),
      (11L, "new", indexDoc + " omega"),
      (12L, "new", "red orange yellow green blue indigo violet ultraviolet"))
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("source", StringType), StructField("text", StringType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(docs.map { case (id, s, t) => Row(id, s, t) }),
      schema)
    val kept = LlmPipeline.incrementalDedup(df, batchSource = "new",
        minShared = 5, maxDf = 100)
      .collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(12L),
      s"exact dup 10 and near dup 11 must be dropped, novel 12 kept: $kept")
  }

  test("dupSpanStats: planted spans, intra-doc repeats, interval union") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val passage = "p1 p2 p3 p4 p5" // 5 tokens, shared by docs 0 and 1
    val docs = Seq(
      (0L, s"$passage u1 u2 u3"),            // 5 of 8 tokens duplicated
      (1L, s"v1 v2 $passage v3"),            // 5 of 8
      // intra-doc repeat: "x1 x2 x3" at pos 0 and 4 -> union = 6 tokens
      (2L, "x1 x2 x3 gap x1 x2 x3"),
      // overlap union: grams "a b c" and "b c d" both duplicated via
      // doc 4 -> doc 3 covers 4 tokens (not 6)
      (3L, "a b c d w1 w2 w3 w4 w5 w6"),
      (4L, "a b c q1 q2 b c d q3 q4"),
      (5L, "n1 n2 n3 n4 n5 n6"),             // nothing duplicated
      (6L, "s1 s2"))                         // < k tokens: no grams
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(docs.map { case (id, t) => Row(id, t) }),
      schema)
    val got = LlmPipeline.dupSpanStats(df, k = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(
      0L -> (8L, 5L), 1L -> (8L, 5L), 2L -> (7L, 6L),
      3L -> (10L, 4L), 4L -> (10L, 6L), 5L -> (6L, 0L), 6L -> (2L, 0L)),
      s"got $got")
  }

  /** Independent brute-force for dupSpanStats: count every k-gram
    * occurrence corpus-wide, mark spans of grams seen >= 2 times, take
    * the per-doc union of covered token positions directly. */
  private def bruteDupSpans(docs: Seq[(Long, String)], k: Int): Map[Long, (Long, Long)] = {
    val toks = docs.map { case (id, t) => id -> t.toLowerCase.split("\\s+").toIndexedSeq }.toMap
    val grams = for {
      (id, ts) <- toks.toSeq; p <- 0 to ts.length - k
    } yield (id, p, ts.slice(p, p + k).mkString(" "))
    val freq = grams.groupBy(_._3).view.mapValues(_.size).toMap
    docs.map { case (id, _) =>
      val covered = grams.collect {
        case (d, p, g) if d == id && freq(g) >= 2 => p until (p + k)
      }.flatten.toSet
      id -> (toks(id).length.toLong, covered.size.toLong)
    }.toMap
  }

  test("dupSpanStats equals brute-force position-set coverage") {
    for (seed <- Seq(3, 11)) {
      val docs = corpus(seed)
      for (k <- Seq(3, 5)) {
        val want = bruteDupSpans(docs, k)
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType)))
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(docs.map { case (id, t) => Row(id, t) }),
          schema)
        val got = LlmPipeline.dupSpanStats(df, k)
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
        assert(got == want, s"seed=$seed k=$k\nonly-spark=${got.toSet -- want.toSet}\n" +
          s"only-brute=${want.toSet -- got.toSet}")
      }
    }
  }

  test("nearDupJaccard equals brute-force capped-candidate exact Jaccard") {
    for (seed <- Seq(1, 7, 42)) {
      val docs = corpus(seed)
      for (maxDf <- Seq(3, 100); threshold <- Seq(0.3, 0.5)) {
        val want = bruteForce(docs, maxDf, threshold)
        val got = runPipeline(docs, maxDf, threshold)
        assert(got.map(p => (p._1, p._2)) == want.map(p => (p._1, p._2)),
          s"seed=$seed maxDf=$maxDf t=$threshold: pair sets differ\n" +
            s"only-spark=${got.map(p => (p._1, p._2)) -- want.map(p => (p._1, p._2))}\n" +
            s"only-brute=${want.map(p => (p._1, p._2)) -- got.map(p => (p._1, p._2))}")
        // jaccard values bit-equal (same double arithmetic both sides)
        val wantMap = want.map(p => (p._1, p._2) -> p._3).toMap
        got.foreach { case (d1, d2, j) =>
          assert(j == wantMap((d1, d2)), s"jaccard mismatch for ($d1,$d2)")
        }
      }
    }
  }

  /** Independent containment brute-force (d24 semantics): directed
    * emission, denominator = the CONTAINED side's full shingle count. */
  private def bruteForceContainment(docs: Seq[(Long, String)], maxDf: Int,
      tau: Double): Set[(Long, Long, Double)] = {
    val sh = docs.map { case (id, txt) => id -> shingleSet(txt) }.toMap
    val df = sh.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val rare = df.collect { case (g, n) if n <= maxDf => g }.toSet
    val ids = docs.map(_._1).sorted
    (for {
      i <- ids; j <- ids if i < j
      si = sh(i); sj = sh(j)
      if (si & sj & rare).nonEmpty
      inter = (si & sj).size
      (a, b) <- Seq((i, j), (j, i))
      c = inter.toDouble / sh(a).size
      if c >= tau
    } yield (a, b, c)).toSet
  }

  private def runContainment(docs: Seq[(Long, String)], maxDf: Int, tau: Double)
      : Set[(Long, Long, Double)] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(docs.map { case (id, t) => Row(id, t) }),
      schema)
    LlmPipeline.containmentPairs(
        LlmPipeline.withCorpusDf(LlmPipeline.shingleIndex(df)), maxDf, tau)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
  }

  test("containmentPairs equals brute force; catches excerpts Jaccard misses") {
    // planted EXCERPT: doc 901 is a strict prefix slice of doc 900 —
    // containment(901→900) = 1.0 while jaccard stays far below 0.5
    val long = (1 to 40).map(i => s"w$i").mkString(" ")
    val excerpt = (1 to 10).map(i => s"w$i").mkString(" ")
    for (seed <- Seq(3, 19)) {
      val docs = corpus(seed) ++ Seq(900L -> long, 901L -> excerpt)
      for (maxDf <- Seq(3, 100); tau <- Seq(0.5, 0.8)) {
        val want = bruteForceContainment(docs, maxDf, tau)
        val got = runContainment(docs, maxDf, tau)
        assert(got.map(p => (p._1, p._2)) == want.map(p => (p._1, p._2)),
          s"seed=$seed maxDf=$maxDf tau=$tau\n" +
            s"only-spark=${got.map(p => (p._1, p._2)) -- want.map(p => (p._1, p._2))}\n" +
            s"only-brute=${want.map(p => (p._1, p._2)) -- got.map(p => (p._1, p._2))}")
        val wantMap = want.map(p => (p._1, p._2) -> p._3).toMap
        got.foreach { case (a, b, c) =>
          assert(c == wantMap((a, b)), s"containment mismatch for ($a,$b)")
        }
        // the excerpt is found whenever its shingles stay under the cap
        if (maxDf == 100)
          assert(got.exists(p => p._1 == 901L && p._2 == 900L),
            s"planted excerpt missed: $got")
      }
      // the SAME planted pair is invisible to symmetric Jaccard at 0.5
      val jac = bruteForce(docs, 100, 0.5)
      assert(!jac.exists(p => p._1 == 900L && p._2 == 901L),
        "excerpt should be a containment-only catch")
    }
  }

  /** In-memory winnowing reference: per window of 4 consecutive 3-gram
    * hashes, select the rightmost minimal hash — the textbook O(n·w)
    * loop, independent of the keyed-window-min encoding the query uses. */
  private def winnowReference(text: String): Set[(Long, Int)] = {
    val t = text.toLowerCase.split("\\s+").toIndexedSeq
    if (t.length < 3) return Set.empty
    val hashes = t.sliding(3).map { g =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(g.mkString(" ").getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(4).map(b => f"${b & 0xff}%02x").mkString, 16)
    }.toIndexedSeq
    val m = hashes.length
    val starts = if (m >= 4) 0 to (m - 4) else Seq(0)
    starts.map { i =>
      val win = (i until math.min(i + 4, m))
      // rightmost index achieving the window minimum
      val p = win.maxBy(p => (-hashes(p), p))
      (hashes(p), p)
    }.toSet
  }

  test("d32 calibration: estimator algebra exact; identical docs read err 0") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("d32_minhash_calibration")(spark, dir).collect()
    assert(rows.nonEmpty, "sf0.001 must yield LSH candidates")
    rows.foreach { r =>
      val (m, est, exact, err) = (r.getAs[Long]("matches"), r.getAs[Long]("est_ppm"),
        r.getAs[Long]("exact_ppm"), r.getAs[Long]("err_ppm"))
      assert(m >= 0L && m <= 16L, s"matches $m out of range")
      assert(est == m * 62500L, "est_ppm must be the exact rational of matches/16")
      assert(exact >= 0L && exact <= 1000000L, s"exact_ppm $exact")
      assert(err == est - exact)
      // a candidate survived banding, so at least one 4-row band agrees
      assert(m >= 4L, s"band-collided pair with only $m agreeing perms")
    }
    // exact duplicates: every permutation agrees and both ppms saturate
    val dups = rows.filter(_.getAs[Long]("exact_ppm") == 1000000L)
    dups.foreach { r =>
      assert(r.getAs[Long]("matches") == 16L && r.getAs[Long]("err_ppm") == 0L,
        s"identical shingle sets must agree on all 16 perms: $r")
    }
  }

  test("d33 sweep: four configs, consistent counts, volume grows with bands") {
    val rows = SparkEntry.queries("d33_lsh_param_sweep")(
        spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("n_cand"), r.getAs[Long]("n_verified"),
          r.getAs[Long]("n_good"), r.getAs[Long]("precision_ppm")))
      .toMap
    assert(rows.keySet == Set("2x8", "4x4", "8x2", "16x1"))
    rows.foreach { case (cfg, (cand, verified, good, ppm)) =>
      // the verify is a deterministic 1-in-16 pair lottery: verified
      // pairs are a subset of candidates, goods a subset of verified,
      // and the reported precision is over the verified sample
      assert(verified <= cand, s"$cfg: $verified > $cand")
      assert(good <= verified, s"$cfg: $good > $verified")
      assert(ppm == (if (verified == 0) 0L else good * 1000000L / verified),
        s"$cfg precision inconsistent")
    }
    // absent cap effects, more bands can only add candidate pairs; on
    // this fixture the cap never binds (buckets are tiny), so the
    // pigeonhole superset relation must hold end to end
    assert(rows("16x1")._1 >= rows("8x2")._1)
    assert(rows("8x2")._1 >= rows("4x4")._1)
    assert(rows("4x4")._1 >= rows("2x8")._1)
  }

  test("winnowSelect equals the textbook rightmost-min reference; coverage holds") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(11)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    // lengths straddle every edge: <3 tokens (no grams), 3..6 (single
    // truncated window), and long docs; small vocab forces hash TIES
    // inside windows so the rightmost tiebreak is actually exercised
    val docs: Seq[(Long, String)] = (0L until 40L).map { id =>
      val n = 1 + rnd.nextInt(30)
      id -> Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(docs.map { case (id, t) => Row(id, t) }),
      schema)
    val got = graft.queries.Retrieval.winnowSelect(df).collect()
      .map(r => r.getLong(0) -> {
        val wmin = r.getLong(2)
        (wmin / 2147483648L, (2147483647L - wmin % 2147483648L).toInt)
      })
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for ((id, text) <- docs) {
      val want = winnowReference(text)
      assert(got.getOrElse(id, Set.empty) == want,
        s"doc $id: spark=${got.getOrElse(id, Set.empty)} ref=$want text='$text'")
      // the winnowing guarantee: every full window contains a selection
      val m = math.max(0, text.split("\\s+").length - 2)
      if (m >= 4) {
        val positions = want.map(_._2)
        for (i <- 0 to m - 4)
          assert(positions.exists(p => p >= i && p < i + 4),
            s"doc $id: window $i has no fingerprint")
      }
    }
  }

  test("single-pass buckets() matches the two-pass reference (incl. over-cap groups)") {
    val s = spark
    import s.implicits._
    // synthetic index: key k appears in (k % 7 + 1) * 3 docs -> groups
    // both under and over a cap of 9; doc ids deliberately unsorted
    val rows = for {
      k <- 0L until 40L
      i <- 0L until (k % 7 + 1) * 3
    } yield (Option(37L * i % 1000 + 1000 * i), k)
    // NULL doc_ids: key 2 holds exactly `cap` ids plus a NULL, key 99
    // only a NULL. NULLs are not counted — the size(collect_list) law —
    // so key 2 stays under the cap and key 99 is an empty bucket.
    val nulls = Seq((Option.empty[Long], 2L), (Option.empty[Long], 99L))
    val index = (rows ++ nulls).toDF("doc_id", "key")
    val cap = 9
    val got = graft.queries.LlmPipeline.buckets(index, Seq("key"), cap)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // reference: group sizes and sorted lists of the non-NULL ids
    val ref = (rows ++ nulls).groupBy(_._2).map { case (k, g) => k -> g.flatMap(_._1).sorted }
      .filter(_._2.size <= cap)
    assert(got.keySet == ref.keySet)
    for ((k, ids) <- ref) assert(got(k) == ids, s"key $k")
    assert(got(2L).size == cap && got(99L).isEmpty)
    // over-cap keys must be gone
    assert(!got.contains(6L)) // k=6 -> 21 docs > 9
  }
}
