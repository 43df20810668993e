package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** One benchmark run in one JVM: set up, warm, measure for `--seconds`,
  * check every output, then write the full result as JSON to `--out`.
  * Inputs are generated beforehand (perfbench/gen.py) into
  * `java.io.tmpdir`: `input/` from the seed and, when `--golden 1`, the
  * fixed `golden/` set.
  * A closed loop: one client issues each op after the previous one ends;
  * the only concurrency is Spark's own `local[nproc]` task threads. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        toy: Boolean, golden: Boolean, out: String, t0Ms: Long,
                        rows: Map[String, Long], stableHashes: Set[String])

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m.get("size").contains("toy"), m("golden") == "1", m("out"), m("t0-ms").toLong,
      m("rows").split(",").map(_.split("=")).map(kv => kv(0) -> kv(1).toLong).toMap,
      m.getOrElse("stable-hashes", "").split(",").filter(_.nonEmpty).toSet)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", System.getProperty("java.io.tmpdir"))
      .config("spark.sql.warehouse.dir", System.getProperty("java.io.tmpdir") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ctx = new Ctx(spark, a, (System.currentTimeMillis() - a.t0Ms) / 1000.0)
    val body =
      try a.workload match {
        case "export_stream" => Exports.run(ctx)
        case "pipeline_dedup" => Pipeline.run(ctx)
      } catch { case NonFatal(e) => ctx.fail("run", e.toString); Seq.empty }
    val posture = Seq(
      "nproc" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "size" -> (if (a.toy) "toy" else "full"))
    val out = Json.obj((Seq(
      "workload" -> a.workload,
      "posture" -> Json.obj(posture: _*),
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "failures" -> ctx.failures.toSeq) ++ body): _*)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out), out.s)
    ctx.spans.foreach { sp =>
      java.nio.file.Files.write(java.nio.file.Paths.get(a.out.stripSuffix(".json") + ".spans.jsonl"),
        sp.jsonLines.map(_.s).toSeq.asJava)
    }
    spark.stop()
  }
}

/** Run state: op accounting, timers, and (traced runs only) spans and the
  * engine listener. */
final class Ctx(val spark: SparkSession, val a: Main.Args, val sessionS: Double) {
  val tmp: String = System.getProperty("java.io.tmpdir")
  private val origin: Long = System.nanoTime()
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  val spans: Option[Spans] = if (a.trace) Some(new Spans(origin)) else None

  def fail(op: String, msg: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += s"$op: ${msg.take(300)}"
  }

  /** The fixed-input outputs, or the error that replaced them; run.py
    * compares them with golden.json and does the accounting. */
  def golden[T](names: Seq[String])(body: String => T): Map[String, Any] =
    if (!a.golden) Map.empty
    else names.map(n => n -> (try body(n) catch { case NonFatal(e) => s"error: $e" })).toMap

  /** One attempted op; an exception counts it as failed. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body) catch { case NonFatal(e) => fail(name, e.toString); None }
  }

  /** An output check on an op already counted: a mismatch fails the op. */
  def expect(name: String, ok: Boolean, msg: => String): Unit = if (!ok) fail(name, msg)

  /** Spans are recorded only inside a traced pass, so the untraced
    * passes of a traced run pay nothing for them. */
  private var tracing = false
  def span[T](name: String, op: String)(body: => T): T = spans match {
    case Some(s) if tracing => s(name, op)(body)
    case _ => body
  }

  private lazy val engine = { Jvm.watchHeap(); new Engine(spark.sparkContext) }

  /** Tasks the traced `body` ran. */
  def tasksIn(body: => Unit): Double = {
    val mark = engine.mark()
    body
    engine.since(mark).map(_.tasks).sum.toDouble
  }

  /** The measuring window. Each untraced pass `pass("pass<i>")` gives the
    * end-to-end numbers. On a traced run each is paired with a traced
    * replica: the same ops, `pass("traced<i>")`, with spans and the engine
    * listener attached; then `layers` times the layers and may read the
    * replica's result. Engine and JVM counters cover the replica. Every
    * per-layer metric is the median over the traced iterations, except
    * `trace.overhead_s`: the replica's `wall` minus the untraced pass's,
    * averaged over the pairs. The pair swaps order every iteration, so a
    * steady drift of pass times across the window cancels out of it. */
  def measure[U](minPasses: Int)(pass: String => U)(wall: U => Double)
                (layers: (String, U, mutable.Map[String, Double]) => Unit)
      : (Seq[U], Map[String, Double]) = {
    val traced = ArrayBuffer.empty[Map[String, Double]]
    val overhead = ArrayBuffer.empty[Double]
    // a traced iteration runs the pass twice and then the layer
    // prefixes, so three of them already outlast the window
    val us = Time.window(a.seconds, if (a.trace) minPasses.min(3) else minPasses) { i =>
      if (!a.trace) pass(s"pass$i")
      else {
        val (u, r) =
          if (i % 2 == 0) { val u = pass(s"pass$i"); (u, replica(s"traced$i", pass, wall)) }
          else { val r = replica(s"traced$i", pass, wall); (pass(s"pass$i"), r) }
        r.foreach { case (ru, m) =>
          overhead += wall(ru) - wall(u)
          traced ++= withTracing(op(s"layers$i") { layers(s"traced$i", ru, m); m.toMap })
        }
        u
      }
    }
    val medians = traced.flatMap(_.keys).distinct.map(k => k -> Time.median(traced.flatMap(_.get(k)))).toMap
    (us, if (overhead.isEmpty) medians else medians + ("trace.overhead_s" -> overhead.sum / overhead.size))
  }

  private def withTracing[T](body: => T): T = {
    val sc = spark.sparkContext
    sc.addSparkListener(engine)
    tracing = true
    try body finally {
      tracing = false
      sc.removeSparkListener(engine)
    }
  }

  /** The traced replica of a pass, with the engine and JVM counters over it. */
  private def replica[U](tag: String, pass: String => U, wall: U => Double)
      : Option[(U, mutable.Map[String, Double])] = withTracing(op(tag) {
    val mark = engine.mark()
    val gc0 = Jvm.gcMs
    Jvm.takeHeapPeakMb()
    val u = pass(tag)
    val w = wall(u)
    val gcS = (Jvm.gcMs - gc0) / 1000.0
    System.gc() // the live heap at the end of the replica counts too
    val ss = engine.since(mark)
    (u, mutable.Map(
      "engine.tasks" -> ss.map(_.tasks).sum.toDouble,
      "engine.busy_frac" -> ss.map(_.runMs).sum / 1000.0 / (w * spark.sparkContext.defaultParallelism),
      "engine.task_skew" -> Engine.skew(ss),
      "engine.shuffle_write_bytes" -> ss.map(_.shuffleWrite).sum.toDouble,
      "engine.spill_bytes" -> ss.map(_.spill).sum.toDouble,
      "engine.gc_s" -> gcS,
      "jvm.live_heap_peak_mb" -> Jvm.takeHeapPeakMb()))
  })

  /** Drop what one op pinned (checkpoints, cached plans) so the next op
    * runs on a clean block manager. */
  def dropState(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.sqlContext.clearCache()
  }
}

object Time {
  def apply[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Starts passes until `seconds` have elapsed and at least `min` have
    * run; the last one may end after the window. A fixed minimum keeps the
    * median from depending on how many passes happened to fit. */
  def window[T](seconds: Double, min: Int)(pass: Int => T): Seq[T] = {
    val t0 = System.nanoTime()
    val out = ArrayBuffer.empty[T]
    while (out.size < min || (System.nanoTime() - t0) / 1e9 < seconds) out += pass(out.size)
    out.toSeq
  }
}

/** Drains a plan without collecting it. */
object Drain {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
  import org.apache.spark.sql.types.StructType

  def count(ds: Dataset[_]): Long = ds.queryExecution.toRdd.count()

  /** Rows, an order-independent content hash (the sum of per-row hashes
    * of the rows' binary form), and the `System.nanoTime` at which the
    * first result partition reached the driver. */
  def hashed(df: DataFrame): (Long, Long, Long) = {
    val rdd = df.queryExecution.toRdd
    var n, h = 0L
    var first = 0L
    df.sparkSession.sparkContext.runJob(rdd, rowHash(df.schema), (_: Int, r: (Long, Long)) => {
      if (first == 0L) first = System.nanoTime()
      n += r._1
      h += r._2
    })
    (n, h, first)
  }

  private def rowHash(schema: StructType): Iterator[InternalRow] => (Long, Long) = { it =>
    val proj = UnsafeProjection.create(schema)
    var n, h = 0L
    it.foreach { r => n += 1; h += proj(r).hashCode() }
    (n, h)
  }
}

/** Minimal JSON writer: a `Json.Raw` is already-encoded JSON. */
object Json {
  final case class Raw(s: String)

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + value(x) }.sorted.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
