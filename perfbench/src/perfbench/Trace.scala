package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wraps each call into a layer. The untraced form only runs the call. */
trait Spans {
  def apply[T](name: String)(body: => T): T
}

object NoTrace extends Spans {
  def apply[T](name: String)(body: => T): T = body
}

/** What the listeners saw while one span was open. */
final class SpanRecord(val name: String) {
  var wallNs = 0L
  var startMs = 0L
  var endMs = 0L
  /** Query executions by the API call that ran them (`head`, `save`, ...). */
  val actionsBy = mutable.HashMap.empty[String, Int].withDefaultValue(0)
  def actions: Int = actionsBy.values.sum
  var planMs = 0L
  var jobs = 0
  var tasks = 0
  var cpuNs = 0L
  var runMs = 0L
  var shuffleBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def wallS: Double = wallNs / 1e9

  /** Span wall time during which none of the span's jobs was running. */
  def driverS: Double = {
    val clipped = jobIntervals.toSeq
      .map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = 0L
    var curE = -1L
    for ((s, e) <- clipped) {
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s
        curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    math.max(0.0, wallS - covered / 1e3)
  }

  /** The nine metrics every span reports, by name. */
  def metrics(cores: Int): Seq[(String, Double, String)] = Seq(
    ("wall_s", wallS, "s"),
    ("driver_s", driverS, "s"),
    ("plan_s", planMs / 1e3, "s"),
    ("actions", actions.toDouble, "count"),
    ("jobs", jobs.toDouble, "count"),
    ("tasks", tasks.toDouble, "count"),
    ("exec_cpu_s", cpuNs / 1e9, "s"),
    ("shuffle_mb", shuffleBytes / 1e6, "MB"),
    ("core_busy", if (wallNs == 0) 0.0 else runMs / 1e3 / (wallS * cores), "ratio"))
}

/** Listener-backed [[Spans]]: attributes every job, task and query
  * execution that happens while a span is open to that span. Spans run
  * one at a time from the benchmark thread; the listener bus is drained at
  * both edges of a span, so the attribution is exact even though events
  * arrive asynchronously. Queries run from pool threads inside a span
  * (the k-means sweep's concurrent fits) are attributed to it as well. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with Spans {
  @volatile private var current: SpanRecord = null
  private val jobStarts = new ConcurrentHashMap[Int, java.lang.Long]()
  val records = mutable.ArrayBuffer.empty[SpanRecord]

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def uninstall(): Unit = {
    Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def apply[T](name: String)(body: => T): T = {
    Bus.drain(spark.sparkContext)
    val r = new SpanRecord(name)
    current = r
    r.startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      r.wallNs = System.nanoTime() - t0
      r.endMs = System.currentTimeMillis()
      Bus.drain(spark.sparkContext)
      current = null
      records += r
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val r = current
    if (r != null) {
      r.synchronized(r.jobs += 1)
      jobStarts.put(e.jobId, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val start = jobStarts.remove(e.jobId)
    val r = current
    if (r != null && start != null)
      r.synchronized(r.jobIntervals += ((start.longValue, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val r = current
    val m = e.taskMetrics
    if (r != null && m != null) r.synchronized {
      r.tasks += 1
      r.cpuNs += m.executorCpuTime
      r.runMs += m.executorRunTime
      r.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordQuery(funcName, qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordQuery(funcName, qe)

  private def recordQuery(funcName: String, qe: QueryExecution): Unit = {
    val r = current
    if (r != null) r.synchronized {
      r.actionsBy(funcName) += 1
      r.planMs += qe.tracker.phases.values.map(_.durationMs).sum
    }
  }
}

/** Peak bytes of cached RDD blocks (memory plus disk) in the block
  * manager, from block-update events. Checkpoints and persisted frames
  * that a layer keeps past their use show up here. */
final class StoragePeak extends SparkListener {
  private val sizes = mutable.HashMap.empty[org.apache.spark.storage.BlockId, Long]
  private var current = 0L
  private var peak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD) synchronized {
      val size = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
      current += size - sizes.getOrElse(i.blockId, 0L)
      if (size == 0L) sizes.remove(i.blockId) else sizes(i.blockId) = size
      peak = math.max(peak, current)
    }
  }

  /** Starts a new window; returns the bytes stored at its start. */
  def reset(): Long = synchronized { peak = current; current }

  def peakBytes: Long = synchronized(peak)
}
