package graft

/** Dev probe: time one registered query (one untimed warm run, then 3
  * timed runs) or ad-hoc stages.
  * Usage: Test/runMain graft.BenchOne <query_name> [sfDir]
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Bench.newSession()
    def time(label: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = body
      println(f"[benchone] $label: ${(System.nanoTime() - t0) / 1e9}%.3f s ($n rows)")
    }
    // the bench's plan-preserving action: df.count() would let Catalyst
    // dead-code-eliminate aggregates/sorts and time a plan the bench
    // never bills (dq1 measured 0.65 s under count() vs 7.5 s billed)
    def act(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.toRdd.count()
    // per-run state drop: no checkpoint, cached plan or garbage from one
    // run is billed to the next
    def drop(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.sqlContext.clearCache()
      System.gc()
    }
    if (name.startsWith("_jobs:")) {
      // per-stage attribution: warm once, then run instrumented
      val q = name.stripPrefix("_jobs:")
      val fn = SparkEntry.queries(q)
      (1 to 2).foreach { i => time(s"$q warm$i")(act(fn(spark, sfDir))) }
      import org.apache.spark.scheduler._
      import scala.collection.mutable
      val stages = mutable.ArrayBuffer[(Int, String, Long, Int)]()
      val listener = new SparkListener {
        override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val dur = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L))
          // RDD scope names identify the physical operators in the stage
          // (the stage name itself is just the AQE callsite)
          val ops = si.rddInfos.flatMap(_.scope).map(_.name)
            .filterNot(_.startsWith("WholeStageCodegen")).distinct.mkString("|").take(90)
          stages += ((si.stageId, ops, dur, si.numTasks))
        }
      }
      spark.sparkContext.addSparkListener(listener)
      time(s"$q instrumented")(act(fn(spark, sfDir)))
      spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(500)
      stages.sortBy(-_._3).foreach { case (id, nm, dur, nt) =>
        println(f"[benchone] stage $id%4d ${dur}%6d ms $nt%4d tasks  $nm")
      }
      println(f"[benchone] stage total: ${stages.map(_._3).sum} ms over ${stages.size} stages")
    } else if (name.startsWith("_seq:")) {
      // battery-context reproduction: run the listed queries in order
      // in ONE JVM with the bench's plan-preserving action, to
      // separate isolated-vs-in-battery cost (e.g. dq1's 0.85 s
      // isolated vs 7.5-8.3 s billed in the 149-query battery)
      val qs = name.stripPrefix("_seq:").split(",").toSeq
      qs.foreach { q =>
        val fn = SparkEntry.queries(q)
        (1 to 2).foreach { i =>
          time(s"$q seq$i")(act(fn(spark, sfDir)))
          drop()
        }
      }
    } else if (name.startsWith("_explain:")) {
      // the deliverable plan artifact: .explain("formatted") exactly as
      // the optimization guide §7.2 prescribes (initial plan, pushed
      // filters, read schema, join strategies, exchange placement)
      val q = name.stripPrefix("_explain:")
      val df = SparkEntry.queries(q)(spark, sfDir)
      println(s"== $q @ $sfDir ==")
      df.explain("formatted")
    } else if (name.startsWith("_aqe:")) {
      // final ADAPTIVE plan: execute first (AQE re-plans at runtime,
      // so the pre-execution plan hides coalesced exchanges), then
      // print with per-exchange partition specs visible
      val q = name.stripPrefix("_aqe:")
      val df = SparkEntry.queries(q)(spark, sfDir)
      act(df)
      println(df.queryExecution.executedPlan.toString)
    } else {
      val fn = SparkEntry.queries(name)
      // run 0 is untimed: it pays artifact derivation and JIT warm-up,
      // so the three timed runs compare warm against warm
      act(fn(spark, sfDir))
      drop()
      (1 to 3).foreach { i => time(s"$name run$i")(act(fn(spark, sfDir))); drop() }
    }
    spark.stop()
  }
}
