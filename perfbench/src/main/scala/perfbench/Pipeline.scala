package perfbench

import scala.collection.mutable

import graft.SparkEntry
import graft.sources.Tables

/** `pipeline_dedup`: a near-duplicate detection query over the shingle
  * artifact, drained through its own physical plan
  * (`queryExecution.toRdd`), in a fresh `java.io.tmpdir` so every derived
  * artifact is built in set-up, never read warm from an earlier run. */
object Pipeline {
  /** The two-pass capped-bucket df-cap sweep (d42) on the shingle
    * artifact. A run of it takes 1.4–2.4 s at 4 cores, mostly per-stage
    * overhead. A second query would halve the warm and timed runs that
    * fit a run of the benchmark: with d3 beside it, two timed passes of
    * 5 s, still on the JIT's slope, spread by a quarter from run to run.
    * Its one result partition gives the first-row time. */
  val queries = Seq("d42_dfcap_sweep")

  /** Untimed passes after the one that derives the artifacts: d42's pass
    * times fall from 2.4 to 1.5 s over its first ten to fourteen runs in
    * a JVM; more warm passes would not leave the run time for a window. */
  val warmPasses = 8

  /** One query run: seconds, (rows, content hash), seconds to the first
    * result partition, and the seconds of its build (DataFrame
    * construction), plan (physical planning) and exec (drain). */
  final case class QRun(t: Double, result: (Long, Long), first: Double, split: Seq[(String, Double)])

  def run(ctx: Ctx): Seq[(String, Any)] = {
    import ctx.{a, spark, tmp}
    val qmap = SparkEntry.queries
    val docRows = a.rows("documents")
    val in = s"$tmp/input"
    val (_, resolveS) = Time(Tables.documents(spark, in).schema)

    def runQ(q: String, dir: String, tag: String): QRun = ctx.span(s"queries.$q", tag) {
      val t0 = System.nanoTime()
      val (df, b) = Time(ctx.span("queries.build", tag)(qmap(q)(spark, dir)))
      val (_, p) = Time(ctx.span("queries.plan", tag)(df.queryExecution.executedPlan))
      val ((n, h, first), e) = Time(ctx.span("queries.exec", tag)(Drain.hashed(df)))
      val t = (System.nanoTime() - t0) / 1e9
      ctx.dropState()
      QRun(t, (n, h), (first - t0) / 1e9, Seq("build" -> b, "plan" -> p, "exec" -> e))
    }

    // set-up ends with untimed passes: the first derives every artifact
    // and gives the results every later pass must reproduce; the others
    // let the JIT settle on these many-stage plans before timing
    val warm = mutable.LinkedHashMap.empty[String, (Double, (Long, Long))]
    def same(tag: String, q: String, got: (Long, Long)): Unit = warm.get(q).foreach { case (_, want) =>
      ctx.expect(s"$tag.$q", got._1 == want._1 && (got._2 == want._2 || !a.stableHashes(q)),
        s"rows/hash $got differ from the warm pass $want")
    }
    def timedPass(tag: String): Map[String, QRun] = {
      val rs = queries.flatMap { q =>
        ctx.op(s"$tag.$q")(runQ(q, in, tag)).map { r => same(tag, q, r.result); q -> r }
      }.toMap
      System.gc()
      rs
    }

    val (_, warmS) = Time {
      queries.foreach(q => ctx.op(s"warm.$q")(runQ(q, in, "warm")).foreach(r => warm(q) = (r.t, r.result)))
      System.gc()
      (2 to warmPasses + 1).foreach(j => timedPass(s"warm$j"))
    }

    // query layers come from the traced replica's build / plan / exec
    // split; the scan is drained on its own after it
    val (untraced, traced) = ctx.measure(minPasses = 5)(timedPass)(_.values.map(_.t).sum) { (op, rs, m) =>
      var scanS = 0.0
      m("sources.scan_tasks") = ctx.tasksIn {
        scanS = Time(ctx.span("sources.scan", op)(Drain.count(Tables.documents(spark, in))))._2
      }
      m("sources.scan_s") = scanS
      for ((q, r) <- rs; (k, v) <- r.split) {
        m(s"queries.${k}_s.$q") = v
        m(s"queries.${k}_s") = m.getOrElse(s"queries.${k}_s", 0.0) + v
      }
    }

    // results on a fixed corpus, compared with the rows and hashes
    // recorded at the seed commit (perfbench/golden.json)
    val goldenOut = ctx.golden(queries) { q =>
      val (n, h) = runQ(q, s"$tmp/golden", "golden").result
      Json.obj("rows" -> n, "hash" -> h)
    }

    val perQuery = queries.map(q => q -> Time.median(untraced.flatMap(_.get(q).map(_.t)))).toMap
    val wallS = Time.median(untraced.map(_.values.map(_.t).sum))
    val artifact = queries.map(q => q -> (warm.get(q).map(_._1).getOrElse(0.0) - perQuery(q))).toMap
    val perLayer = if (traced.isEmpty) traced else traced + ("ops.artifact_s" -> artifact.values.sum)
    Seq(
      "queries" -> queries,
      "setup" -> Json.obj("session_s" -> ctx.sessionS, "resolve_s" -> resolveS,
        "warm_s" -> warmS),
      "end_to_end" -> Map(
        "setup_s" -> (ctx.sessionS + resolveS + warmS),
        "rows_per_s" -> queries.size * docRows / wallS,
        "wall_s" -> wallS,
        "first_row_s" -> Time.median(untraced.flatMap(_.get(queries.head).map(_.first)))),
      "per_layer" -> perLayer,
      "per_query" -> queries.map(q => q -> Json.obj("warm_s" -> warm.get(q).map(_._1), "median_s" -> perQuery(q),
        "artifact_s" -> artifact(q), "rows" -> warm.get(q).map(_._2._1))).toMap,
      "passes" -> untraced.map(rs => Json.obj("wall_s" -> rs.values.map(_.t).sum,
        "query_s" -> rs.map { case (q, r) => q -> r.t })),
      "golden" -> goldenOut)
  }
}
