package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan

final case class Config(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        smoke: Boolean, corrupt: Boolean, work: String, spans: String)

final case class Metric(name: String, value: Double, unit: String)

/** Bookkeeping shared by every workload: attempted/failed operations,
  * per-operation latencies split by traced/untraced, and the Spark
  * observer of the traced run. */
final class Runner(val cfg: Config, val spark: SparkSession, val obs: Option[SparkObserver]) {
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  private var nextOp = 0L
  private val latencies = mutable.LinkedHashMap.empty[(String, Boolean), ArrayBuffer[Double]]
  /** Wall time of traced operations, for the Spark busy fraction. */
  var tracedWallMs = 0.0

  /** Time one operation. `traced` selects the traced half of a trace run;
    * a thrown exception or a failed check counts the operation as failed. */
  def op[A](kind: String, traced: Boolean)(f: => A)(check: A => Option[String]): Option[A] = {
    val id = nextOp
    nextOp += 1
    val t = traced && cfg.trace
    if (t) spark.sparkContext.setLocalProperty(SparkObserver.Key, "1")
    val t0 = System.nanoTime()
    val res = try Right(Trace.op(id, kind, t)(f)) catch { case e: Exception => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    if (t) { spark.sparkContext.setLocalProperty(SparkObserver.Key, null); tracedWallMs += ms }
    attempted += 1
    val problem = res match {
      case Left(e) => Some(s"$kind threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(a) => check(a).map(m => s"$kind: $m")
    }
    problem.foreach { p => failed += 1; if (failures.size < 10) failures += p }
    if (problem.isEmpty) latencies.getOrElseUpdate((kind, t), ArrayBuffer.empty) += ms
    res.toOption.filter(_ => problem.isEmpty)
  }

  /** Latencies (ms) of successful untraced operations of these kinds. */
  def ms(kinds: String*): Seq[Double] =
    kinds.flatMap(k => latencies.getOrElse((k, false), Nil))

  def tracedMs(kinds: String*): Seq[Double] =
    kinds.flatMap(k => latencies.getOrElse((k, true), Nil))

  /** Tracing overhead: per operation kind, the traced median over the
    * untraced median, minus one; the median over kinds. */
  def overhead: Double = {
    val ratios = latencies.keys.map(_._1).toSeq.distinct.flatMap { k =>
      val a = latencies.get((k, false)); val b = latencies.get((k, true))
      if (a.exists(_.nonEmpty) && b.exists(_.nonEmpty)) Some(Stats.median(b.get.toSeq) / Stats.median(a.get.toSeq) - 1)
      else None
    }
    if (ratios.isEmpty) 0.0 else Stats.median(ratios)
  }

  /** Traced operations alternate with untraced ones; the phase flips every
    * cycle so each operation kind of a fixed cycle lands on both halves. */
  def traced(i: Long, cycle: Long): Boolean = cfg.trace && (i + cycle) % 2 == 1

  /** Run `df` as a count action. In a traced operation, planning is the
    * span `<prefix>.plan` and execution the span `spark.exec.<prefix>`;
    * the executed plan is returned for its SQL metrics. */
  def count(prefix: String, df: DataFrame): (Long, SparkPlan) = {
    val agg = df.groupBy().count()
    if (Trace.active) Trace.span(s"$prefix.plan")(agg.queryExecution.executedPlan)
    val n = Trace.span(s"spark.exec.$prefix")(agg.collect()(0).getLong(0))
    (n, agg.queryExecution.executedPlan)
  }
}

object Stats {
  def min(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.min
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

trait Workload {
  /** Set-ups per run; setup_s is their median (the first runs on a cold JVM). */
  def setupReps: Int = 3
  /** Generate the inputs and build what the workload reads, into `dir`. */
  def setup(dir: String): Unit
  /** Expected outputs by a slow path, from the last set-up. */
  def expect(): Unit
  def warm(r: Runner): Unit
  def measure(r: Runner, deadlineNs: Long): Unit
  /** op_min_ms and work_per_s (setup_s and peak_rss_mb come from Main):
    * the fastest operation of the run, which a burst of contention on a
    * shared machine cannot move the way it moves a median. */
  def endToEnd(r: Runner): Seq[Metric]
  def named(r: Runner): Seq[Metric]
  def perLayer(r: Runner): Seq[Metric]
  /** JSON object describing the inputs (expected counts), for the info line. */
  def describe: String = "{}"
}

object Main {

  val Workloads = Seq("join_tile", "sql_join", "table_reads", "ingest_mutate")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cfg = Config(a("workload"), a("seed").toLong, a("seconds").toDouble,
      a.get("trace").contains("1"), a.get("smoke").contains("1"), a.get("corrupt").contains("1"),
      a("work"), a("spans"))
    require(Workloads.contains(cfg.workload), s"unknown workload ${cfg.workload}")
    val machineStart = Machine.json()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
      .config("spark.local.dir", s"${cfg.work}/spark-local")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.StFunctions.register(spark)
    val out = try run(cfg, spark) finally spark.stop()
    val (r, e2e, named, layers, setupMs, phases, inputs) = out
    val layerSelf = Trace.selfMsByLayer.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${fmt(v)}""" }.mkString("{", ",", "}")
    println(s"""{"perfbench":{"workload":"${cfg.workload}","seed":${cfg.seed},""" +
      s""""trace":${if (cfg.trace) 1 else 0},"cores":$cores,""" +
      s""""setup_s_each":[${setupMs.map(v => fmt(v / 1000)).mkString(",")}],""" +
      s""""phase_s":{${phases.map { case (k, v) => s""""$k":${fmt(v)}""" }.mkString(",")}},""" +
      s""""machine_start":$machineStart,"machine_end":${Machine.json()},""" +
      s""""inputs":$inputs,"named":${metricsJson(named)},"layer_self_ms":$layerSelf,""" +
      s""""failures":[${r.failures.map(f => "\"" + esc(f) + "\"").mkString(",")}]}}""")
    val metrics = if (cfg.trace) layers else e2e
    println(s"""{"correct":${r.failed == 0},"attempted":${r.attempted},""" +
      s""""failed":${r.failed},"metrics":${metricsJson(metrics)}}""")
    System.out.flush()
    System.exit(0)
  }

  private def run(cfg: Config, spark: SparkSession) = {
    val obs = if (cfg.trace) Some(new SparkObserver) else None
    obs.foreach(spark.sparkContext.addSparkListener)
    val r = new Runner(cfg, spark, obs)
    val w: Workload = cfg.workload match {
      case "join_tile" => new JoinTile(spark, cfg)
      case "sql_join" => new SqlJoin(spark, cfg)
      case "table_reads" => new TableReads(spark, cfg)
      case "ingest_mutate" => new IngestMutate(spark, cfg)
    }
    // set-up runs several times into fresh directories; the median is
    // setup_s and the last one is what the run measures
    val setupMs = (1 to w.setupReps).map { i =>
      val t0 = System.nanoTime()
      w.setup(s"${cfg.work}/setup$i")
      (System.nanoTime() - t0) / 1e6
    }
    val phases = mutable.LinkedHashMap.empty[String, Double]
    def phase(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f; phases(name) = (System.nanoTime() - t0) / 1e9
    }
    phase("expect")(w.expect())
    phase("warm")(w.warm(r))
    // a full collection before timing, so garbage left by the set-ups does
    // not land in the measured window of one run and not another
    System.gc()
    phase("measure") {
      w.measure(r, System.nanoTime() + (cfg.seconds * 1e9).toLong)
      obs.foreach(_.settle())
    }
    val setup = Metric("setup_s", Stats.median(setupMs) / 1000, "s")
    val rss = Metric("peak_rss_mb", Machine.peakRssMb(), "MB")
    val e2e = Seq(setup, rss) ++ w.endToEnd(r)
    val named = Seq(setup, rss) ++ w.named(r)
    val layers = Layers.complete(cfg.workload, w.perLayer(r) ++ sparkLayer(r) :+
      Metric("trace.overhead_frac", r.overhead, "ratio"))
    if (cfg.trace) Trace.write(cfg.spans)
    (r, e2e, named, layers, setupMs, phases, w.describe)
  }

  private def sparkLayer(r: Runner): Seq[Metric] = r.obs.toSeq.flatMap { o =>
    val cores = Runtime.getRuntime.availableProcessors()
    Seq(Metric("spark.jobs", o.jobs, "count"), Metric("spark.tasks", o.tasks, "count"),
      Metric("spark.task_run_s", o.runMs / 1000.0, "s"),
      Metric("spark.busy_frac", if (r.tracedWallMs > 0) o.runMs / (r.tracedWallMs * cores) else 0, "ratio"),
      Metric("spark.gc_s", o.gcMs / 1000.0, "s"),
      Metric("spark.scheduler_delay_s", o.delayMs / 1000.0, "s"),
      Metric("spark.shuffle_write_bytes", o.shuffleWriteBytes, "bytes"))
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ")

  def metricsJson(ms: Seq[Metric]): String =
    ms.map(m => s""""${m.name}":{"value":${fmt(m.value)},"unit":"${m.unit}"}""").mkString("{", ",", "}")
}

/** The per-layer metric names every traced run prints (BENCHMARK.json's
  * per_layer list). A workload fills the ones its layers produce; a layer
  * the workload never calls, or a span with no traced sample, reads 0. */
object Layers {
  val All: Seq[(String, String)] = Seq(
    "operators.sql_join_s" -> "s", "operators.sql_tile_s" -> "s",
    "operators.sql_density_s" -> "s",
    "join.cover_rows" -> "count", "join.candidate_pairs" -> "count",
    "join.output_pairs" -> "count", "join.refine_keep_ratio" -> "ratio",
    "join.huge_rows" -> "count",
    "plans.decide_ms" -> "ms", "plans.cql_parse_ms" -> "ms",
    "plans.strategy.zscan" -> "count", "plans.strategy.attr_equals" -> "count",
    "plans.strategy.attr_range" -> "count", "plans.strategy.id_lookup" -> "count",
    "table.manifest_ms" -> "ms", "table.layouts_ms" -> "ms", "table.plan_ms" -> "ms",
    "table.exec_ms" -> "ms", "table.files_read" -> "count", "table.files_total" -> "count",
    "table.bytes_read" -> "bytes", "table.rows_scanned_per_hit" -> "ratio",
    "read.bbox_ms" -> "ms", "read.bbox_time_ms" -> "ms", "read.attr_eq_ms" -> "ms",
    "read.id_ms" -> "ms", "read.cql_residual_ms" -> "ms", "read.geom_bbox_ms" -> "ms",
    "read.geom_bbox_time_ms" -> "ms", "read.sql_intersects_ms" -> "ms",
    "read.stats_count_ms" -> "ms",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_run_s" -> "s",
    "spark.busy_frac" -> "ratio", "spark.gc_s" -> "s", "spark.scheduler_delay_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes",
    "trace.overhead_frac" -> "ratio")

  /** Metrics of the workloads outside BENCHMARK.json (run by name), printed
    * only by their own traced runs: the BoxOps operators of join_tile and
    * the write side of the table layer of ingest_mutate. */
  val JoinTile: Seq[(String, String)] = Seq(
    "operators.join_s" -> "s", "operators.tile_s" -> "s", "operators.density_s" -> "s",
    "operators.scan_s" -> "s")

  val Ingest: Seq[(String, String)] = Seq(
    "ingest.point_write_s" -> "s", "ingest.geom_write_s" -> "s",
    "ingest.bytes_written" -> "bytes", "ingest.files_written" -> "count",
    "ingest.rows_per_s" -> "1/s",
    "mutate.upsert_ms" -> "ms", "mutate.update_ms" -> "ms", "mutate.delete_ms" -> "ms",
    "mutate.files_written_per_commit" -> "count",
    "mutate.bytes_written_per_changed_row" -> "bytes",
    "mutate.chain_depth" -> "count", "mutate.readback_ms" -> "ms", "stats.count_ms" -> "ms",
    "mutate.expire_ms" -> "ms", "mutate.files_deleted" -> "count",
    "mutate.stored_bytes_per_row" -> "bytes")

  def complete(workload: String, got: Seq[Metric]): Seq[Metric] = {
    val names = workload match {
      case "join_tile" => JoinTile ++ All
      case "ingest_mutate" => All ++ Ingest
      case _ => All
    }
    val byName = got.map(m => m.name -> m).toMap
    val unknown = byName.keySet -- names.map(_._1)
    require(unknown.isEmpty, s"per-layer metrics missing from Layers: $unknown")
    names.map { case (n, u) =>
      val v = byName.get(n).map(_.value).filterNot(_.isNaN).getOrElse(0.0)
      Metric(n, v, u)
    }
  }

  /** Median of a span's durations in ms (0 when the span never ran). */
  def spanMs(name: String): Double = {
    val xs = Trace.ms(name)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }
}
