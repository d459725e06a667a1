package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spans around each call the benchmark makes into a layer, kept in
  * memory and handed to the report when the run ends. Times are epoch
  * milliseconds read off one monotonic clock, so they line up with the
  * task launch/finish times Spark's listener reports.
  *
  * With `enabled` false only operation boundaries are recorded (the
  * untraced run): no spans, no local properties. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val nano0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis().toDouble
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  val spans = ArrayBuffer.empty[Map[String, Any]]
  private var stack = List.empty[Int]
  private var op = -1

  /** Run `f` as operation `id`: every job it launches carries the id. */
  def operation[T](id: Int, name: String)(f: => T): T = {
    op = id
    if (enabled) spark.sparkContext.setLocalProperty("perfbench.op", id.toString)
    try span("op:" + name)(f)
    finally {
      op = -1
      if (enabled) spark.sparkContext.setLocalProperty("perfbench.op", null)
    }
  }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val sc = spark.sparkContext
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      val outer = sc.getLocalProperty("perfbench.span")
      spans += null
      stack = id :: stack
      sc.setLocalProperty("perfbench.span", name)
      val start = nowMs
      try f
      finally {
        spans(id) = Map("id" -> id, "parent" -> parent, "op" -> op,
          "name" -> name, "start" -> start, "end" -> nowMs)
        stack = stack.tail
        sc.setLocalProperty("perfbench.span", outer)
      }
    }
}

/** Listener for the traced run: one record per job, completed stage
  * and finished task, each tied to the operation (and span) that
  * launched it through the job's local properties. Read only after
  * `GraftShim.drainListenerBus`. */
final class TaskListener extends SparkListener {
  val jobs = ArrayBuffer.empty[Map[String, Any]]
  val stages = ArrayBuffer.empty[Map[String, Any]]
  val tasks = ArrayBuffer.empty[Map[String, Any]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    jobs += Map("job" -> e.jobId, "time" -> e.time,
      "op" -> prop("perfbench.op").map(_.toInt).getOrElse(-1),
      "span" -> prop("perfbench.span").getOrElse(""),
      "stages" -> e.stageIds)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stages += Map("stage" -> e.stageInfo.stageId,
        "attempt" -> e.stageInfo.attemptNumber(),
        "tasks" -> e.stageInfo.numTasks)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def metric(f: org.apache.spark.executor.TaskMetrics => Long) =
      m.map(f).getOrElse(0L)
    tasks += Map("stage" -> e.stageId, "launch" -> i.launchTime,
      "finish" -> i.finishTime, "attempt" -> i.attemptNumber,
      "ok" -> i.successful,
      "run_ms" -> metric(_.executorRunTime),
      "cpu_ns" -> metric(_.executorCpuTime),
      "gc_ms" -> metric(_.jvmGCTime),
      "shuffle_write_bytes" -> metric(_.shuffleWriteMetrics.bytesWritten),
      "shuffle_read_bytes" -> metric(_.shuffleReadMetrics.totalBytesRead),
      "fetch_wait_ms" -> metric(_.shuffleReadMetrics.fetchWaitTime),
      "spill_bytes" -> metric(_.diskBytesSpilled),
      "scan_bytes" -> metric(_.inputMetrics.bytesRead),
      "scan_rows" -> metric(_.inputMetrics.recordsRead))
  }
}

/** Peak heap in use after a collection while armed: the live set the
  * session and (in local mode) its executors hold, read from the JVM's
  * GC notifications. The heap in use between collections mostly
  * measures when the collector last ran; after a collection it is the
  * data the run actually keeps. (A full collection to start from a
  * clean heap would throw away caches the timed queries then rebuild:
  * it slowed the first pass after it by a third.) */
final class HeapPeak extends NotificationListener {
  @volatile private var armed = false
  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(this, null, null))

  def arm(): Unit = { peak = 0L; armed = true }

  /** The peak in MiB; the heap in use now if no collection ran. */
  def disarm(): Double = {
    armed = false
    val p = if (peak > 0) peak
      else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    p / (1024.0 * 1024.0)
  }

  def close(): Unit = emitters.foreach(e =>
    scala.util.Try(e.removeNotificationListener(this)))

  override def handleNotification(n: Notification, hb: AnyRef): Unit =
    if (armed && n.getType ==
        GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { if (used > peak) peak = used }
    }
}
