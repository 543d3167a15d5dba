package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/**
 * Span recorder for the traced run. A span wraps one call from the
 * benchmark into an engine layer and records name, start, end, parent
 * span and the id of the operation it belongs to. Spans and counters
 * are kept in memory and written once, when the run ends. While no
 * operation is traced every call is a plain pass-through.
 */
object Trace {

  final case class Span(id: Int, parent: Int, op: Long, name: String, start: Long, end: Long) {
    def ms: Double = (end - start) / 1e6
  }

  private var on = false
  private var opId = -1L
  private var stack: List[Int] = Nil
  private val spans = ArrayBuffer.empty[Span]
  private val counts = mutable.LinkedHashMap.empty[String, Double]

  def active: Boolean = on

  /** Run one operation; when `traced`, its spans and counters are kept. */
  def op[A](id: Long, name: String, traced: Boolean)(f: => A): A = {
    on = traced
    opId = id
    try span(name)(f) finally on = false
  }

  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val id = spans.size
      spans += null
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        spans(id) = Span(id, parent, opId, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Add `v` to a counter; callers count only for traced operations. */
  def count(name: String, v: Double): Unit = counts(name) = counts.getOrElse(name, 0.0) + v

  def counter(name: String): Double = counts.getOrElse(name, 0.0)

  /** Durations in ms of every span with this name. */
  def ms(name: String): Seq[Double] = spans.iterator.filter(_.name == name).map(_.ms).toSeq

  /** Per operation holding any of these spans, their summed duration in ms. */
  def opMs(names: String*): Seq[Double] =
    spans.iterator.filter(s => names.contains(s.name)).toSeq.groupBy(_.op).values.map(_.map(_.ms).sum).toSeq

  /** Self time per layer (span-name prefix up to the first dot), in ms:
    * each span's duration minus the part its child spans cover. */
  def selfMsByLayer: Map[String, Double] = {
    val childMs = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) childMs(s.parent) += s.ms)
    spans.groupBy(_.name.takeWhile(_ != '.'))
      .map { case (layer, ss) => layer -> ss.map(s => s.ms - childMs(s.id)).sum }
  }

  def write(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val out = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      out.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}""")
    } finally out.close()
  }
}

/** Spark-side counts for traced operations: jobs are tagged through a
  * local property set while a traced operation runs. */
final class SparkObserver extends SparkListener {
  private val tracedStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  @volatile var jobs = 0L
  @volatile var tasks = 0L
  @volatile var runMs = 0L
  @volatile var gcMs = 0L
  @volatile var delayMs = 0L
  @volatile var shuffleWriteBytes = 0L
  @volatile var lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    lastEventNs = System.nanoTime()
    if (Option(e.properties).exists(_.getProperty(SparkObserver.Key) == "1")) {
      jobs += 1
      e.stageIds.foreach(s => tracedStages.add(s))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    lastEventNs = System.nanoTime()
    val m = e.taskMetrics
    if (tracedStages.contains(e.stageId) && m != null) {
      tasks += 1
      runMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      val i = e.taskInfo
      delayMs += math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime)
    }
  }

  /** Wait until the listener bus has been quiet for 300 ms (at most 5 s). */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (System.nanoTime() - lastEventNs < 300000000L && System.nanoTime() < deadline)
      Thread.sleep(50)
  }
}

object SparkObserver {
  val Key = "perfbench.traced"
}

/** SQL metrics of an executed plan, looking through adaptive query stages. */
object PlanMetrics extends AdaptiveSparkPlanHelper {

  def nodes(p: SparkPlan): Seq[SparkPlan] = collect(p) { case n => n }

  def metric(n: SparkPlan, key: String): Long = n.metrics.get(key).map(_.value).getOrElse(0L)

  def sum(p: SparkPlan, nodeName: String, key: String): Long =
    nodes(p).filter(_.nodeName.startsWith(nodeName)).map(metric(_, key)).sum

  /** Rows that reach the broadcast nested-loop branches (the size split). */
  def broadcastLoopRows(p: SparkPlan): Long =
    nodes(p).filter(_.nodeName.startsWith("BroadcastNestedLoopJoin"))
      .map(j => sum(j, "BroadcastExchange", "numOutputRows")).sum
}

/** Machine state at either end of a run: load average plus a fixed
  * single-thread calibration loop (one pass, the loop graft.Bench runs), so a run on a busy
  * machine can be told apart from a slow program. */
object Machine {
  def loadavg(): Seq[Double] =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+").take(3).toSeq.map(_.toDouble) finally src.close()
    } catch { case _: Exception => Seq(-1.0, -1.0, -1.0) }

  def calibrateMs(): Double = {
    val t0 = System.nanoTime()
    var h = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < (1 << 27)) {
      h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
      h ^= h >>> 29; h += i
      i += 1
    }
    if (h == 42L) System.err.println("")
    (System.nanoTime() - t0) / 1e6
  }

  /** CPU time counters of the whole machine from /proc/stat: (steal, total). */
  def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.sum)
      } finally src.close()
    } catch { case _: Exception => (0L, 0L) }

  def json(): String = {
    val (steal, total) = cpuTicks()
    s"""{"loadavg":[${loadavg().mkString(",")}],"calib_ms":${calibrateMs()},""" +
      s""""cpu_steal_ticks":$steal,"cpu_total_ticks":$total}"""
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
      finally src.close()
    } catch { case _: Exception => -1.0 }
}
