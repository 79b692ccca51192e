package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Interval arithmetic over [start, end) pairs. */
object Intervals {

  /** Length covered by the union of `xs`, clipped to [lo, hi). Jobs of
    * one operation overlap under adaptive execution, so summing their
    * lengths overcounts; this does not.
    */
  def unionLength(xs: Seq[(Long, Long)], lo: Long = Long.MinValue, hi: Long = Long.MaxValue): Long = {
    val clipped = xs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE != Long.MinValue) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE != Long.MinValue) total += curE - curS
    total
  }
}

/** One timed region of the client: a public call, or an operation. */
final case class Span(id: Int, name: String, parent: Int, op: Int, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans nest by call structure; each one is
  * tagged with the operation that was current when it opened.
  */
final class Spans {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0
  /** The operation spans opened from now on belong to (-1: set-up). */
  var op: Int = -1

  def apply[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    val tag = op
    open = id :: open
    val t0 = System.nanoTime()
    try body
    finally {
      open = open.tail
      done += Span(id, name, parent, tag, t0, System.nanoTime())
    }
  }

  def all: Seq[Span] = done.toSeq
}

object Spans {

  /** Self time of each span: its length minus the union of its direct
    * children's intervals.
    */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = Intervals.unionLength(
        kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)), s.startNs, s.endNs)
      s.id -> (s.durNs - covered)
    }.toMap
  }
}

/** Maps a Spark call-site stack to the repo module that launched it. */
object Attribution {

  /** The innermost `graft.*` frame of a call-site long form, as a module
    * name without the `graft.` prefix (`aragon.HhsLoad`, `ExtQueries4`),
    * or None when no engine frame is on the stack.
    */
  def module(callSite: String): Option[String] =
    if (callSite == null) None
    else callSite.linesIterator.map(frameClass).collectFirst {
      case c if c.startsWith("graft.") => c.stripPrefix("graft.").takeWhile(_ != '$')
    }

  /** `loader/module/pkg.Cls$.method(File.scala:12)` → `pkg.Cls$`. */
  private def frameClass(line: String): String = {
    val call = line.trim.takeWhile(_ != '(')
    val noLoader = call.substring(call.lastIndexOf('/') + 1)
    val dot = noLoader.lastIndexOf('.')
    if (dot < 0) noLoader else noLoader.substring(0, dot)
  }
}

/** Per-window totals collected by [[LayerListener]]. */
final class LayerTotals {
  val sums = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  val jobs = mutable.ArrayBuffer.empty[LayerListener.Job]
  var cachedPeak = 0L
  def add(k: String, v: Long): Unit = sums(k) = sums(k) + v.toDouble
}

object LayerListener {
  final case class Job(id: Int, start: Long, var end: Long, module: Option[String])
}

/** Spark- and Catalyst-side layer counters for the traced run: jobs with
  * their module, stages, task metrics, cached block bytes, and the
  * planning phases of every query execution. Needs no UI. Reads happen
  * after the listener bus drains, under this object's lock.
  */
final class LayerListener extends SparkListener with QueryExecutionListener {
  import LayerListener.Job

  private val execDetails = mutable.HashMap.empty[Long, String]
  private val cached = mutable.HashMap.empty[String, Long]
  private var cachedNow = 0L
  private var w = new LayerTotals

  /** Starts a new window and returns the finished one. `blocks` are the
    * RDD blocks stored right now (`BenchBridge.rddBlocks`): the listener
    * is detached between windows and misses what was freed meanwhile.
    */
  def cut(blocks: Map[String, Long] = Map.empty): LayerTotals = synchronized {
    val out = w
    w = new LayerTotals
    cached.clear()
    cached ++= blocks
    cachedNow = blocks.values.sum
    w.cachedPeak = cachedNow
    out
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { execDetails(s.executionId) = s.details }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val execId = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val details = execId.flatMap(execDetails.get)
      .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.details))
    w.jobs += Job(e.jobId, e.time, e.time, details.flatMap(Attribution.module))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    w.jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (e.stageInfo.failureReason.isEmpty) w.add("stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    w.add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      w.add("task_run_ms", m.executorRunTime)
      w.add("task_cpu_ns", m.executorCpuTime)
      w.add("gc_ms", m.jvmGCTime)
      w.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      w.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      w.add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      w.add("spill_bytes", m.diskBytesSpilled)
      w.add("input_bytes", m.inputMetrics.bytesRead)
      w.add("input_rows", m.inputMetrics.recordsRead)
      w.add("output_bytes", m.outputMetrics.bytesWritten)
      w.add("output_rows", m.outputMetrics.recordsWritten)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val key = s"${b.blockManagerId.executorId}/${b.blockId.name}"
      val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      cachedNow += size - cached.getOrElse(key, 0L)
      if (size == 0L) cached.remove(key) else cached(key) = size
      w.cachedPeak = math.max(w.cachedPeak, cachedNow)
    }
  }

  // unpersist and the context cleaner remove blocks without posting a
  // block update for each
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val prefix = s"rdd_${e.rddId}_"
    cached.keys.filter(k => k.substring(k.indexOf('/') + 1).startsWith(prefix)).toSeq.foreach { k =>
      cachedNow -= cached.remove(k).getOrElse(0L)
    }
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { k =>
      p.get(k).foreach(s => w.add(s"${k}_ms", s.durationMs))
    }
    w.add("executions", 1)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
}

/** Heap used right after a collection: every collection the JVM runs
  * inside an operation (young, mixed, concurrent-cycle pauses and full)
  * is caught by notification, so the live set while an operation holds
  * its cached frames is seen. The client also forces full collections
  * at each operation boundary (`sample`).
  */
final class HeapWatch extends NotificationListener {
  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  beans.foreach { case e: NotificationEmitter => e.addNotificationListener(this, null, null); case _ => }

  override def handleNotification(n: Notification, hb: Any): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      // the client's own System.gc() calls are read in `sample`
      if (info.getGcCause != "System.gc()") {
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        record(used)
      }
    }

  private def record(used: Long): Unit = synchronized { peak = math.max(peak, used) }

  /** Full GCs now; record the heap still in use. Later collections
    * reclaim what Spark's context cleaner released after the first one
    * cleared its weak references, so the smaller of two readings is the
    * live heap.
    */
  def sample(): Unit = {
    def collect(): Long = {
      Thread.sleep(50)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    System.gc()
    record(math.min(collect(), collect()))
  }

  def reset(): Unit = synchronized { peak = 0L }
  def peakBytes: Long = synchronized(peak)

  def close(): Unit =
    beans.foreach { case e: NotificationEmitter => e.removeNotificationListener(this); case _ => }
}
