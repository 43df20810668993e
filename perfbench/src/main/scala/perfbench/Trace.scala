package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Spans recorded from outside the program, around each call into a
  * layer: name, start, end, parent span and op id. Kept in memory and
  * written out when the run ends. */
final class Spans(origin: Long) {
  private final case class Span(id: Int, parent: Int, name: String, op: String, start: Long, end: Long)
  private val done = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var next = 0

  def apply[T](name: String, op: String)(body: => T): T = {
    val id = next; next += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val t0 = System.nanoTime()
    try body finally {
      done += Span(id, parent, name, op, t0 - origin, System.nanoTime() - origin)
      open = open.tail
    }
  }

  def jsonLines: Iterator[Json.Raw] = done.iterator.map(s => Json.obj(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
    "start_ns" -> s.start, "end_ns" -> s.end))
}

/** Per-stage task, shuffle, spill and GC counts from a listener the
  * benchmark registers only on traced runs. */
final class Engine(sc: SparkContext) extends SparkListener {
  import Engine.Stage
  private val stages = new ConcurrentHashMap[Int, Stage]()
  private val maxTask = new ConcurrentHashMap[Int, AtomicLong]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null)
    maxTask.computeIfAbsent(e.stageId, _ => new AtomicLong())
      .accumulateAndGet(e.taskMetrics.executorRunTime, math.max)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages.put(i.stageId, Stage(i.stageId, i.name, i.numTasks, m.executorRunTime,
      Option(maxTask.get(i.stageId)).map(_.get).getOrElse(0L),
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled, m.jvmGCTime))
  }

  /** Stages completed since `mark`, after the bus has delivered them. */
  def since(mark: Set[Int]): Seq[Stage] = {
    org.apache.spark.BenchBus.drain(sc)
    stages.values.asScala.filterNot(s => mark(s.id)).toSeq.sortBy(_.id)
  }
  def mark(): Set[Int] = { org.apache.spark.BenchBus.drain(sc); stages.keySet.asScala.toSet }
}

object Engine {
  final case class Stage(id: Int, name: String, tasks: Int, runMs: Long, maxTaskMs: Long,
                         shuffleWrite: Long, spill: Long, gcMs: Long)

  /** Heaviest stage's longest task over its mean task; 1 when no stage ran. */
  def skew(ss: Seq[Stage]): Double =
    if (ss.isEmpty) 1.0
    else {
      val s = ss.maxBy(_.runMs)
      if (s.runMs <= 0) 1.0 else s.maxTaskMs * s.tasks / s.runMs.toDouble
    }
}

/** JVM-wide GC time and the largest post-GC heap seen. */
object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum

  @volatile private var peak = 0L
  private lazy val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val onGc: NotificationListener = (n: Notification, _: AnyRef) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      if (after > peak) peak = after
    }

  def watchHeap(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(onGc, null, null)
    case _ => ()
  }

  /** Resets the peak; returns the peak since the previous reset in MB. */
  def takeHeapPeakMb(): Double = { val p = peak; peak = 0L; p / 1048576.0 }
}
