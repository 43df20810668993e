package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every registered query at the given scale factor
  * and prints the full JSON line, then a compact summary line.
  *
  * STRUCTURE (r13): the battery runs in K FRESH-JVM SHARDS (default 4),
  * coordinated by this process — each shard JVM times ~|queries|/K
  * queries and exits. Rationale: at 270 queries in one JVM the heavy
  * tail bills 1.3–2× its isolated cost from accumulated JVM context
  * (JIT/code-cache/page-cache churn across hundreds of distinct plans)
  * — measured three rounds running (PLANS.md), with per-query state
  * drops and a 24g heap already in place. Fresh JVMs are the structural
  * fix: each shard starts with a clean code cache and block manager, so
  * the billed number per query approaches its isolated BenchOne cost.
  * Shards run SEQUENTIALLY (one JVM at a time) so the numbers stay an
  * honest single-node fleet cost — no box contention between shards.
  * Shared derived artifacts (shingles/knn/wavs/edges —
  * `Scratch.artifact`) persist across shard JVMs, exactly like the
  * production posture where corpus artifacts outlive any one job.
  *
  * Set SPARK_GRAFT_SHARDS=1 (or 0) for the old single-JVM in-process
  * battery; any worker failure falls back to in-process for the
  * missing queries so the artifact is always complete. */
object Bench {
  /** (query name, all timed runs, first error if any). */
  type Result = (String, Seq[Double], Option[String])

  private def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** All registered queries; SPARK_GRAFT_ONLY (dev only, comma list)
    * restricts the battery — the driver never sets it, and the subset
    * is folded into the resume fingerprint via the names list. */
  private def allNames: Seq[String] = {
    val all = SparkEntry.queries.keys.toSeq.sorted
    sys.env.get("SPARK_GRAFT_ONLY") match {
      case Some(s) if s.nonEmpty => val want = s.split(",").toSet
        all.filter(want)
      case _ => all
    }
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "--worker" :: spec :: out :: Nil => workerMain(spec, out)
    case "--profile" :: names :: Nil => profileMain(names.split(",").toSeq)
    case _ => coordinatorMain()
  }

  /** Dev diagnostic (not a driver mode): split a query's billed wall
    * into build (DataFrame construction incl. any eager artifact work),
    * plan (analysis → physical), and execute (toRdd drain) — the
    * attribution tool for the sub-second queries' fixed-cost floor. */
  private def profileMain(names: Seq[String]): Unit = {
    val spark = newSession()
    val dir = sfDir
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    names.foreach { name =>
      // `scan:<table>[:c1,c2]` probes the raw fixture decode floor —
      // the single-row-group fixture caps every scan at one task, so
      // this isolates how much of a cheap query's bill is that decode
      val fn: (SparkSession, String) => org.apache.spark.sql.DataFrame =
        if (name.startsWith("scan:")) {
          val parts = name.drop(5).split(":")
          (s, d) => {
            val df = s.read.parquet(s"$d/${parts(0)}.parquet")
            if (parts.length > 1) df.selectExpr(parts(1).split(",").toSeq: _*)
            else df
          }
        } else SparkEntry.queries(name)
      try fn(spark, dir).queryExecution.toRdd.count()
      catch { case _: Throwable => () }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.sqlContext.clearCache(); System.gc()
      for (i <- 1 to 2) {
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        df.queryExecution.toRdd.count()
        val t3 = System.nanoTime()
        println(f"[profile] $name run$i build=${(t1 - t0) / 1e3}%.0fus " +
          f"plan=${(t2 - t1) / 1e3}%.0fus exec=${(t3 - t2) / 1e3}%.0fus " +
          f"total=${(t3 - t0) / 1e6}%.0fms")
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        spark.sqlContext.clearCache(); System.gc()
      }
    }
    spark.stop()
  }

  // ---------------------------------------------------------------------
  // shared battery core (runs inside a worker JVM or in-process fallback)
  // ---------------------------------------------------------------------

  /** The local session the `Bench`, `Verify` and `BenchOne` mains run
    * on: `local[$SPARK_GRAFT_CPUS]` (else `defaultCpus`) with as many
    * shuffle partitions, UTC, the graft extensions and AQE. */
  private[graft] def newSession(defaultCpus: String = "32"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Times `names` in order on a fresh session; calls `emit` after each
    * query so a crashed JVM loses only the in-flight query. */
  private def runBattery(names: Seq[String])(emit: Result => Unit): Unit = {
    val spark = newSession()
    val dir = sfDir
    val qmap = SparkEntry.queries

    // Session-level warmup on one cheap query so JVM/session/codegen
    // startup isn't billed to the first query's own warmup pass.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }

    // Blocks pinned by localCheckpoint (Materialize) and broadcasts are
    // only reclaimed when the ContextCleaner notices dead references
    // after a GC. Across many queries in one JVM they accumulate in
    // BlockManager storage and inflate every query that runs after a
    // checkpoint-heavy one (the r5 artifact showed 5-9x inflation on
    // untouched queries). Dropping persistent RDDs and forcing a GC
    // after each query keeps measurements independent.
    def dropQueryState(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.sqlContext.clearCache()
      System.gc()
    }

    // PLAN-PRESERVING action: df.count() wraps the query in a new
    // Aggregate, letting Catalyst dead-code-eliminate everything the
    // count doesn't need — final sorts vanish, and an agg over a
    // pushdown-capable source (g2) collapses to an empty-schema full
    // scan that CANNOT push, so the bench would bill a plan the query
    // never runs. toRdd executes the query's own optimized physical
    // plan (AQE included) and the RDD-level count just drains it.
    def run(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.toRdd.count()

    // Per query: one untimed warmup, then two timed runs keeping the
    // faster (single-run numbers on a shared box swing 2-3x on GC/JIT
    // noise). If the two timed runs disagree by >1.5x the query is
    // NOISY — take a third run so one GC pause can't be the billed
    // number; every run lands in the artifact so bimodality is visible
    // instead of hiding behind the min. dropQueryState runs BETWEEN
    // runs, not just after the query: each run materializes its OWN
    // checkpoint/broadcast blocks, so without the inter-run drop a
    // re-run executes under the dead weight of its predecessors'
    // pinned blocks.
    names.foreach { name =>
      val fn = qmap(name)
      def timed(): (Double, Option[String]) = {
        val t0 = System.nanoTime()
        val err =
          try { run(fn(spark, dir)); None }
          catch { case e: Throwable =>
            Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
          }
        val dt = (System.nanoTime() - t0) / 1e9
        dropQueryState()
        (dt, err)
      }
      try run(fn(spark, dir)) catch { case _: Throwable => () }
      dropQueryState()
      val (t1, e1) = timed()
      val (t2, e2) = timed()
      val extra =
        if (e1.isEmpty && e2.isEmpty && math.max(t1, t2) > 1.5 * math.min(t1, t2))
          Some(timed()) else None
      // the extra run is a NOISE PROBE on a query that already has two
      // clean timed runs: if it errors (transient OOM is likeliest under
      // exactly the pressure that made the query noisy), its fast-fail
      // duration must not become the billed min and its error must not
      // flip a clean query into the failure count
      val runs = Seq(t1, t2) ++ extra.filter(_._2.isEmpty).map(_._1)
      emit((name, runs, e1.orElse(e2)))
    }
    spark.stop()
  }

  // ---------------------------------------------------------------------
  // worker: one shard of the battery, results appended to a TSV
  // ---------------------------------------------------------------------

  /** One TSV line per query: `name \t run1,run2[,run3] \t err` (err
    * empty when clean; tabs/newlines in messages squashed to spaces).
    * `spec` is either the classic `i:k` mod-shard or `@<file>` naming
    * an explicit newline-separated query list (the coordinator's
    * resume path sends only the queries a killed run didn't finish).
    * A final `#telemetry` line records the shard's wall/CPU/GC totals
    * and the BOX-WIDE /proc/stat busy delta over the shard's lifetime
    * (r13 verdict #2: five dedup queries billed 1.25–1.5× their
    * builder same-code numbers ONLY in the driver's battery — this
    * line makes the artifact itself prove whether such a skew is box
    * contention or code). readTsv skips it (runs field unparseable). */
  private def workerMain(spec: String, out: String): Unit = {
    val names =
      if (spec.startsWith("@")) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get(spec.drop(1))).asScala.toSeq.filter(_.nonEmpty)
      } else {
        val Array(i, k) = spec.split(":").map(_.toInt)
        allNames.zipWithIndex.collect { case (n, j) if j % k == i => n }
      }
    val t0 = System.nanoTime()
    val stat0 = readProcStat()
    val w = new java.io.PrintWriter(new java.io.FileWriter(out, true))
    try {
      runBattery(names) { case (name, runs, err) =>
        val e = err.getOrElse("").replaceAll("[\\t\\n\\r]", " ")
        w.println(s"$name\t${runs.map(_.toString).mkString(",")}\t$e")
        w.flush()
      }
      w.println(s"#telemetry\t-\t${telemetryJson(t0, stat0)}")
      w.flush()
    } finally w.close()
  }

  /** (busy jiffies, total jiffies, steal jiffies) from /proc/stat's
    * aggregate cpu line; zeros when unreadable (non-Linux). */
  private def readProcStat(): (Long, Long, Long) = try {
    val line = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("/proc/stat")).get(0)
    // cpu user nice system idle iowait irq softirq steal guest guest_nice
    val f = line.trim.split("\\s+").drop(1).map(_.toLong)
    val total = f.take(8).sum
    val idle = f(3) + f(4)
    val steal = if (f.length > 7) f(7) else 0L
    (total - idle, total, steal)
  } catch { case _: Throwable => (0L, 0L, 0L) }

  /** Shard-lifetime telemetry as a compact JSON object: wall seconds,
    * this process's CPU seconds, GC time/count, and the box-wide busy
    * fraction + steal over the same window (from /proc/stat deltas). */
  private def telemetryJson(t0: Long, stat0: (Long, Long, Long)): String = {
    val wall = (System.nanoTime() - t0) / 1e9
    val cpuSec = try {
      java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case os: com.sun.management.OperatingSystemMXBean =>
          os.getProcessCpuTime / 1e9
        case _ => -1.0
      }
    } catch { case _: Throwable => -1.0 }
    import scala.jdk.CollectionConverters._
    val gcs = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala
    val gcMs = gcs.map(_.getCollectionTime).filter(_ >= 0).sum
    val gcN = gcs.map(_.getCollectionCount).filter(_ >= 0).sum
    val (b0, t0j, s0) = stat0
    val (b1, t1j, s1) = readProcStat()
    val busyFrac = if (t1j > t0j) (b1 - b0).toDouble / (t1j - t0j) else -1.0
    val stealFrac = if (t1j > t0j) (s1 - s0).toDouble / (t1j - t0j) else -1.0
    def r(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    s"""{"wall_s":${r(wall)},"proc_cpu_s":${r(cpuSec)},"gc_ms":$gcMs,""" +
      s""""gc_count":$gcN,"box_busy_frac":${r(busyFrac)},"box_steal_frac":${r(stealFrac)}}"""
  }

  // ---------------------------------------------------------------------
  // coordinator: spawn shard JVMs sequentially, merge, emit the artifact
  // ---------------------------------------------------------------------

  private def coordinatorMain(): Unit = {
    val k = sys.env.getOrElse("SPARK_GRAFT_SHARDS", "4").toInt
    val names = allNames
    val telemetry = scala.collection.mutable.ArrayBuffer.empty[String]
    val results: Seq[Result] =
      if (k <= 1) { // legacy single-JVM path
        val t0 = System.nanoTime()
        val stat0 = readProcStat()
        val buf = scala.collection.mutable.ArrayBuffer.empty[Result]
        runBattery(names)(buf += _)
        telemetry += telemetryJson(t0, stat0)
        buf.toSeq
      } else {
        val got = scala.collection.mutable.Map.empty[String, Result]
        // STABLE, build-fingerprinted shard TSVs: a coordinator killed
        // mid-run (wall-clock ceiling, OOM-kill) used to lose every
        // completed shard's numbers because they lived only in this
        // process's memory behind delete-on-read temp files — a 60-min
        // sf1 battery died at 3/4 shards and restarted from zero. Now
        // each shard appends to tmpdir/graft_bench_<fp>_<i>of<k>.tsv,
        // the next run RESUMES by reading it and re-timing only the
        // missing queries, and the files are deleted only after the
        // artifact is fully emitted. The fingerprint folds in the
        // sorted query list, the sf dir, the build stamp and the sf
        // dir's input stamp (Scratch's artifact key), and the env, so a
        // recompile, a dataset regenerated in place under the same path,
        // or a changed thread-count/heap can never serve stale numbers
        // as a resume.
        val classesStamp = graft.ops.Scratch.buildStamp
        val dataStamp = graft.ops.Scratch.inputStamp(sfDir)
        val envStamp = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32") + ":" +
          Runtime.getRuntime.maxMemory()
        val fp = graft.ops.Scratch.key8(
          s"${names.mkString(",")}|$sfDir|$classesStamp|$dataStamp|$envStamp")
        def shardTsv(i: Int) = new java.io.File(
          System.getProperty("java.io.tmpdir"), s"graft_bench_${fp}_${i}of$k.tsv")
        System.err.println(s"[bench] shard TSVs: ${shardTsv(0).getAbsolutePath}" +
          s" (classes=$classesStamp data=$dataStamp env=$envStamp src=" +
          getClass.getProtectionDomain.getCodeSource.getLocation + ")")
        // COORDINATOR LOCK, held for the whole sharded run: killing the
        // sbt client does NOT kill its bg-job JVM, so a "killed" run's
        // coordinator can survive as a zombie, finish its battery
        // minutes later, and delete the shared-fp shard TSVs out from
        // under the live resume (observed: a resumed worker's appends
        // went to an unlinked inode — rc=0, 19 s of work, no file).
        // The OS releases the FileLock on process death, so there are
        // no stale locks; a live holder means a same-fp battery really
        // is still running and our numbers would be contention garbage
        // anyway — wait for it.
        val lockCh = java.nio.channels.FileChannel.open(
          new java.io.File(System.getProperty("java.io.tmpdir"),
            s"graft_bench_$fp.lock").toPath,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        val coordLock = {
          val tl = lockCh.tryLock()
          if (tl != null) tl
          else {
            System.err.println("[bench] WARNING: another coordinator holds " +
              s"the $fp lock (zombie from a killed run, or a concurrent " +
              "battery) — waiting for it to exit")
            lockCh.lock()
          }
        }
        try {
        (0 until k).foreach { i =>
          val out = shardTsv(i)
          val prior = readTsv(out.getAbsolutePath)
          prior.foreach(r => got(r._1) = r)
          val shardNames = names.zipWithIndex
            .collect { case (n, j) if j % k == i => n }
          // an errored prior row does NOT count as done: a transient
          // failure (OOM just before the coordinator was killed) would
          // otherwise be baked into the resumed artifact's failure
          // count where a fresh run would likely succeed
          val todo = shardNames.filterNot(n =>
            prior.exists(r => r._1 == n && r._3.isEmpty))
          if (todo.isEmpty) {
            System.err.println(s"[bench] shard $i/$k fully resumed from ${out.getName}")
          } else {
            if (prior.nonEmpty)
              System.err.println(s"[bench] shard $i/$k resuming: " +
                s"${prior.size} done, ${todo.size} to run")
            val spec =
              if (prior.isEmpty) s"$i:$k"
              else {
                val f = java.io.File.createTempFile(s"graft_bench_names_$i", ".txt")
                java.nio.file.Files.write(f.toPath,
                  todo.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
                f.deleteOnExit()
                "@" + f.getAbsolutePath
              }
            val rc = spawnWorker(spec, out.getAbsolutePath, i)
            readTsv(out.getAbsolutePath).foreach(r => got(r._1) = r)
            if (rc != 0)
              System.err.println(s"[bench] shard $i/$k exited rc=$rc " +
                s"(${got.size} results so far; missing queries rerun in-process)")
          }
          telemetry ++= readTelemetry(out.getAbsolutePath)
        }
        // completeness guarantee: anything a crashed/unspawnable worker
        // didn't report is re-timed in-process so the artifact always
        // covers the full registry
        val missing = names.filterNot(got.contains)
        if (missing.nonEmpty) {
          System.err.println(s"[bench] in-process fallback for ${missing.size} queries")
          runBattery(missing)(r => got(r._1) = r)
        }
        // the run is complete — drop the resume files so the NEXT run
        // measures fresh (they only ever outlive a killed coordinator)
        (0 until k).foreach(i => shardTsv(i).delete())
        names.map(got)
        } finally { coordLock.release(); lockCh.close() }
      }
    emitArtifacts(results, telemetry.toSeq)
  }

  /** Launch one shard JVM with this JVM's own options (add-opens, heap,
    * -D props) and classpath; stdout/stderr go to a per-shard log under
    * tmp so the coordinator's stdout stays its two JSON lines. */
  private def spawnWorker(spec: String, out: String, idx: Int): Int = {
    import scala.jdk.CollectionConverters._
    val javaBin = java.nio.file.Paths.get(
      System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toSeq
    val cp = System.getProperty("java.class.path")
    val cmd = Seq(javaBin) ++ jvmArgs ++
      Seq("-cp", cp, "graft.Bench", "--worker", spec, out)
    val log = new java.io.File(
      System.getProperty("java.io.tmpdir"), s"graft_bench_shard_$idx.log")
    try {
      val pb = new ProcessBuilder(cmd: _*)
      pb.redirectErrorStream(true)
      pb.redirectOutput(ProcessBuilder.Redirect.to(log))
      val t0 = System.nanoTime()
      val rc = pb.start().waitFor()
      System.err.println(f"[bench] shard $spec rc=$rc in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      rc
    } catch { case e: Throwable =>
      System.err.println(s"[bench] shard $spec spawn failed: $e"); -1
    }
  }

  /** The raw JSON payloads of a shard TSV's `#telemetry` lines (one per
    * completed worker run of that shard, in order). */
  private def readTelemetry(path: String): Seq[String] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) return Seq.empty
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(p).asScala.toSeq.collect {
      case line if line.startsWith("#telemetry\t") =>
        line.split("\t", -1).last
    }
  }

  private def readTsv(path: String): Seq[Result] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) return Seq.empty
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(p).asScala.toSeq.flatMap { line =>
      line.split("\t", -1) match {
        case Array(name, runs, err) if runs.nonEmpty =>
          val rs = runs.split(",").toSeq.flatMap(s => s.toDoubleOption)
          if (rs.isEmpty) None
          else Some((name, rs, Option(err).filter(_.nonEmpty)))
        case _ => None
      }
    }
  }

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }

  private def emitArtifacts(results: Seq[Result],
                            telemetry: Seq[String] = Seq.empty): Unit = {
    // ms precision keeps the line short, and the headline total goes LAST:
    // the round artifact stores only the TAIL of this process's output, so
    // a long queries map must not push the total out of the window. The
    // per-query map is sorted by ASCENDING cost: truncation cuts the HEAD
    // of the line, so the entries that vanish are the cheap ones and
    // every expensive query's number sits near the preserved tail.
    // Locale.ROOT: the default-locale f-interpolator renders "1,234" on
    // comma-decimal locales, which is invalid JSON.
    def r(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val mins = results.map { case (k, runs, e) => (k, runs.min, e) }
    val qs = mins.sortBy(_._2).map { case (k, v, _) => s""""${esc(k)}":${r(v)}""" }
      .mkString("{", ",", "}")
    val errs = mins.collect { case (k, _, Some(e)) => s""""${esc(k)}":"${esc(e)}"""" }
      .mkString("{", ",", "}")
    val failures = mins.count(_._3.isDefined)
    val total = mins.map(_._2).sum
    val line = s"""{"queries":$qs,"errors":$errs,"failures":$failures,"sf":"${esc(sfDir)}","metric":"total","unit":"sec","value":${r(total)}}"""
    // Full artifact on disk as well: the driver's captured tail can
    // truncate long stdout lines, but BENCH_full.json always has every
    // per-query number — including EVERY timed run ("runs"), so a
    // stable 1.2s query and a bimodal 0.8s/4s one are distinguishable
    // in the artifact even though both bill their min.
    val runsJson = results.sortBy(_._2.min).map { case (k, runs, _) =>
      s""""${esc(k)}":[${runs.map(r).mkString(",")}]""" }.mkString("{", ",", "}")
    // per-shard wall/CPU/GC + box-busy telemetry (raw worker JSON, in
    // shard order): lets the artifact itself distinguish box contention
    // from a code regression (r13's driver-only dedup drift)
    val tele = telemetry.mkString("[", ",", "]")
    val full = s"""{"queries":$qs,"runs":$runsJson,"errors":$errs,"failures":$failures,"shard_telemetry":$tele,"sf":"${esc(sfDir)}","metric":"total","unit":"sec","value":${r(total)}}"""
    def save(name: String, text: String): Unit =
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(name),
        text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case _: Throwable => () } // read-only CWD must not fail the bench
    save("BENCH_full.json", full)
    // the EXACT stdout line, verbatim on disk: r13's round artifact
    // recorded "parsed": null because the 281-query stdout line got
    // wrapped/truncated in transit — the driver (or anyone) can ingest
    // this file instead of scraping stdout
    save("BENCH_line.json", line)
    println(line)
    // a compact summary LAST (under 500 chars): a reader of a truncated
    // or line-limited capture still parses the headline
    println(s"""{"metric":"total","unit":"sec","value":${r(total)},"failures":$failures,"sf":"${esc(sfDir)}","n_queries":${mins.size}}""")
  }
}
