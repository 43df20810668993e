package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Degenerate corpora through the near-dup family's shared bucket kernel
  * (d2, d3, d13, d24, d25, d37, d42, d43) and the ANN family (d6, d6b,
  * d7, d7b, d26b, d39, e9, e12): an empty corpus must answer with the
  * non-empty schema and zero rows or zero counts, a bucket over the cap
  * must emit no pairs, and a corpus of identical documents
  * must report exactly the pairs a brute-force count over the same
  * sample predicates finds. Each corpus is written to its own directory,
  * so derived artifacts never leak between runs. */
class DegenerateSpec extends SparkTestBase {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Writes `docs` as `documents.parquet` of a fresh corpus dir, runs
    * `body` on it, then removes the dir and the artifacts keyed on it. */
  private def withCorpus[T](docs: Seq[(Long, String)])(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft_degenerate").toString
    writeDocs(dir, docs)
    try body(dir) finally cleanup(dir)
  }

  private def writeDocs(dir: String, docs: Seq[(Long, String)]): Unit = {
    val rows = docs.map { case (id, t) => Row(id, t, "en", "src0", t.length.toLong) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), docSchema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** Removes `dir` and every scratch path keyed on it: `Scratch.dir`
    * and `Scratch.artifact` both name theirs `<tag>_<key8(dir)>...`. */
  private def cleanup(dir: String): Unit = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val suffix = "_" + graft.ops.Scratch.key8(dir)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    Option(tmp.listFiles).foreach(_.filter(_.getName.contains(suffix)).foreach(rm))
    rm(new java.io.File(dir))
  }

  private val family = Seq("d2_dedup_ngram_jaccard", "d24_containment_dedup",
    "d37_jaccard_threshold_sweep", "d42_dfcap_sweep", "d43_shingle_width_sweep")

  /** The pair-emitting users of the kernel: one row per near-dup pair. */
  private val pairQueries = Seq("d2_dedup_ngram_jaccard", "d3_dedup_minhash_lsh",
    "d13_simhash_neardup", "d24_containment_dedup", "d25_winnow_match")

  private def run(q: String, dir: String): DataFrame = SparkEntry.queries(q)(spark, dir)

  private def pairIds(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSeq

  private val embSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))

  private def toks(t: String): IndexedSeq[String] = t.toLowerCase.split("\\s+").toIndexedSeq

  private def grams(t: String, w: Int): Set[String] =
    if (toks(t).length < w) Set.empty else toks(t).sliding(w).map(_.mkString(" ")).toSet

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  // four identical docs and one that shares nothing with them; the ids
  // pass both d42's (doc_id % 4 = 0) and d43's (md5 first hex c or d)
  // sample, so every query sees the whole corpus. The text is long
  // enough for winnowing to select the three shared fingerprints d25
  // needs to pair two docs
  private val dupText = "the quick brown fox jumps over the lazy dog twice " +
    "and then runs far away into the green hills beyond the old river"
  private val ids = Iterator.from(1).map(_ * 4L)
    .filter(i => Set('c', 'd')(md5(i.toString).head)).take(5).toSeq
  private val dupDocs = ids.take(4).map(_ -> dupText) :+
    (ids(4) -> "alpha beta gamma delta epsilon zeta eta theta iota kappa")

  /** Per-pair brute force over shingle sets `sets` with document
    * frequency `df`: (pairs sharing a shingle of df <= cap, per pair its
    * shared and full-set sizes). */
  private def pairs(sets: Map[Long, Set[String]], cap: Long)
      : Seq[(Long, Long, Int, Int, Int)] = {
    val df = sets.values.toSeq.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ks = sets.keys.toSeq.sorted
    for {
      i <- ks; j <- ks if i < j
      shared = sets(i) & sets(j)
      if shared.exists(df(_) <= cap)
    } yield (i, j, shared.size, sets(i).size, sets(j).size)
  }

  private def d42Counts(dir: String): Map[Long, (Long, Long)] =
    run("d42_dfcap_sweep", dir).collect()
      .map(r => r.getAs[Long]("cap") -> (r.getAs[Long]("n_candidates"), r.getAs[Long]("n_dups"))).toMap

  /** d42 by brute force over 3-shingle sets `sh3`: df at corpus grain; a
    * pair is a candidate at cap c when its cheapest shared shingle has
    * df <= c. */
  private def d42Brute(sh3: Map[Long, Set[String]]): Map[Long, (Long, Long)] = {
    val df3 = sh3.values.toSeq.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val sample = sh3.filter(_._1 % 4 == 0)
    val ks = sample.keys.toSeq.sorted
    Seq(16L, 32L, 64L, 128L).map { c =>
      val cand = for {
        i <- ks; j <- ks if i < j
        shared = sample(i) & sample(j)
        if shared.nonEmpty && shared.map(df3).min <= c
      } yield (shared.size, sample(i).size, sample(j).size)
      val dups = cand.count { case (it, na, nb) => it.toDouble / (na + nb - it) >= 0.5 }
      c -> (cand.size.toLong, dups.toLong)
    }.toMap
  }

  test("near-dup family on an empty corpus: same schema, zero rows or zero counts") {
    val queries = (family ++ pairQueries).distinct
    val schemas = withCorpus(dupDocs)(dir => queries.map(q => q -> run(q, dir).schema).toMap)
    withCorpus(Seq.empty) { dir =>
      for (q <- queries) {
        val df = run(q, dir)
        assert(df.schema == schemas(q), s"$q schema")
        val rows = df.collect()
        q match {
          case _ if pairQueries.contains(q) =>
            assert(rows.isEmpty, s"$q: ${rows.toSeq}")
          case _ =>
            assert(rows.nonEmpty, s"$q keeps its tier rows")
            // every count column is 0 (the tier key columns are not)
            val counts = df.schema.fieldNames.filterNot(Set("cap", "w", "t100"))
            for (r <- rows; c <- counts)
              assert(r.getAs[Long](c) == 0L, s"$q.$c in $r")
        }
      }
    }
  }

  test("near-dup family on identical docs matches brute-force pair and dup counts") {
    val text = dupDocs.toMap
    val sh3 = text.view.mapValues(grams(_, 3)).toMap
    withCorpus(dupDocs) { dir =>
      val d2 = pairs(sh3, 100).filter { case (_, _, it, na, nb) => it.toDouble / (na + nb - it) >= 0.5 }
      assert(d2.size == 6)
      assert(run("d2_dedup_ngram_jaccard", dir).count() == d2.size)
      // d3's MinHash bands meet exactly the identical docs, all verified
      assert(pairIds(run("d3_dedup_minhash_lsh", dir)) == d2.map(p => (p._1, p._2)))

      // d13: every pair of d4's fingerprints within Hamming distance 3
      val fp = run("d4_simhash", dir).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
      val near = for {
        i <- fp.keys.toSeq.sorted; j <- fp.keys.toSeq.sorted if i < j
        h = java.lang.Long.bitCount(fp(i) ^ fp(j)).toLong if h <= 3
      } yield (i, j, h)
      assert(near.size >= 6)
      assert(run("d13_simhash_neardup", dir).collect()
        .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"), r.getAs[Long]("hamming"))).toSeq == near)

      // d25: pairs sharing >= 3 selected winnow fingerprints of df <= 100
      val wfp = graft.queries.Retrieval.winnowSelect(spark.read.parquet(s"$dir/documents.parquet"))
        .selectExpr("doc_id", "wmin div 2147483648 AS fp").distinct().collect()
        .groupBy(_.getAs[Long]("doc_id")).view.mapValues(_.map(_.getAs[Long]("fp")).toSet).toMap
      val shared = pairs(wfp.view.mapValues(_.map(_.toString)).toMap, 100)
        .collect { case (i, j, it, _, _) if it >= 3 => (i, j, it.toLong) }
      assert(shared.size == 6)
      assert(run("d25_winnow_match", dir).collect()
        .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"), r.getAs[Long]("n_shared"))).toSeq == shared)

      val d24 = pairs(sh3, 100).flatMap { case (_, _, it, na, nb) =>
        Seq(it.toDouble / na, it.toDouble / nb).filter(_ >= 0.5) }
      assert(run("d24_containment_dedup", dir).count() == d24.size)

      // d37 scores RARE-shingle sets (df <= 100 — all of them here)
      val d37 = run("d37_jaccard_threshold_sweep", dir).collect()
        .map(r => r.getAs[Long]("t100") -> (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_docs"))).toMap
      for (t <- Seq(30L, 50L, 70L, 90L)) {
        val ok = pairs(sh3, 100).filter { case (_, _, it, na, nb) => it * 100 >= t * (na + nb - it) }
        assert(d37(t) == (ok.size.toLong, ok.flatMap(p => Seq(p._1, p._2)).distinct.size.toLong), s"t=$t")
      }

      val d42 = d42Counts(dir)
      assert(d42 == d42Brute(sh3))
      assert(d42(16L)._2 == 6L)

      // d43: per width, df at sample grain, cap 32, dup when 3·it >= na+nb
      val d43 = run("d43_shingle_width_sweep", dir).collect()
        .map(r => r.getAs[Long]("w") -> (r.getAs[Long]("n_shingles"),
          r.getAs[Long]("n_candidates"), r.getAs[Long]("n_dups"))).toMap
      for (w <- Seq(2, 3, 5, 8)) {
        val shw = text.filter(kv => Set('c', 'd')(md5(kv._1.toString).head))
          .view.mapValues(grams(_, w)).toMap
        val cand = pairs(shw, 32)
        val dups = cand.count { case (_, _, it, na, nb) => 3 * it >= na + nb }
        assert(d43(w.toLong) == ((shw.values.flatten.toSet.size.toLong, cand.size.toLong, dups.toLong)),
          s"w=$w")
      }
    }
  }

  test("a bucket over the cap is dropped whole: 101 identical docs or vectors give no pairs") {
    val over = graft.queries.LlmPipeline.MaxBucketSize + 1
    withCorpus((1 to over).map(_.toLong -> dupText)) { dir =>
      for (q <- Seq("d3_dedup_minhash_lsh", "d13_simhash_neardup", "d25_winnow_match"))
        assert(run(q, dir).collect().isEmpty, q)
      val v = Array.tabulate(64)(i => (i % 7 - 3).toFloat)
      spark.createDataFrame(spark.sparkContext.parallelize(
          (1 to over).map(i => Row(i.toLong, v.toSeq, i % 3)), 1), embSchema)
        .write.parquet(s"$dir/embeddings.parquet")
      assert(run("d6_ann_lsh", dir).collect().isEmpty)
    }
  }

  test("d42 on a corpus rewritten in place counts the new docs, not its old artifacts") {
    // two duplicates of a new text and three unrelated docs, against the
    // four duplicates of the first corpus: one pair at every cap, not six
    val rewritten = Seq(ids(0) -> "one two three four five six seven eight",
      ids(1) -> "one two three four five six seven eight") ++
      ids.drop(2).zipWithIndex.map { case (id, k) => id -> s"lone $k words stand apart here" }
    withCorpus(dupDocs) { dir =>
      assert(d42Counts(dir) == d42Brute(dupDocs.toMap.view.mapValues(grams(_, 3)).toMap))
      writeDocs(dir, rewritten)
      val want = d42Brute(rewritten.toMap.view.mapValues(grams(_, 3)).toMap)
      assert(want(16L)._2 == 1L)
      assert(d42Counts(dir) == want)
    }
  }

  test("ANN family on empty embeddings reports zero totals, not NULL or an exception") {
    def zero(q: String, r: Row, cols: Seq[String]): Unit =
      for (c <- cols)
        assert(!r.isNullAt(r.fieldIndex(c)) && r.getAs[Long](c) == 0L, s"$q.$c in $r")
    withCorpus(Seq.empty) { dir =>
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], embSchema)
        .write.parquet(s"$dir/embeddings.parquet")
      val d39 = run("d39_ivf_probe_sweep", dir).collect()
      assert(d39.map(_.getAs[Long]("nprobe")).toSeq == Seq(1L, 2L, 4L, 8L))
      for (r <- d39)
        zero("d39", r, Seq("n_queries", "n_hits", "recall_ppm", "total_candidates"))

      assert(run("d7_ann_ivf", dir).collect().isEmpty)

      for (q <- Seq("d6b_ann_lsh_recall", "d7b_ann_ivf_recall", "d26b_ann_pq_recall")) {
        val rows = run(q, dir).collect()
        assert(rows.length == 1, s"$q: ${rows.toSeq}")
        zero(q, rows.head, Seq("n_queries", "n_hits", "recall_ppm"))
        assert(!rows.head.isNullAt(rows.head.fieldIndex("above_floor")) &&
          !rows.head.getAs[Boolean]("above_floor"), s"$q: ${rows.head}")
      }

      val e12 = run("e12_recall_at_k", dir).collect()
      assert(e12.map(_.getAs[Long]("k")).toSeq == Seq(1L, 3L, 5L))
      for (r <- e12) zero("e12", r, Seq("n_queries", "n_overlap", "recall_ppm"))

      val e9 = run("e9_pq_rate_distortion", dir).collect()
      assert(e9.map(_.getAs[Long]("m")).toSeq == Seq(4L, 8L, 16L))
      for (r <- e9) zero("e9", r, Seq("n_vecs", "n_cells", "distortion_grid"))
    }
  }
}
