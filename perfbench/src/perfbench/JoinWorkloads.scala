package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.locationtech.jts.geom.Geometry
import org.locationtech.jts.index.strtree.STRtree
import graft.operators.{BoxOps, Density, TileAssign}

/** Parquet writers for the generated inputs. Rows are produced inside
  * Spark tasks from (seed, index) alone, so nothing but primitives is
  * shipped to the executors. */
object Inputs {
  private val D = DoubleType

  def boxes(spark: SparkSession, path: String, n: Long, parts: Int, idCol: String,
            cols: Seq[String], f: Long => Gen.Box): Unit = {
    val schema = StructType(StructField(idCol, LongType) +: cols.map(StructField(_, D)))
    val rdd = spark.sparkContext.range(0, n, 1, parts).map { i =>
      val b = f(i); Row(i, b.x0, b.y0, b.x1, b.y1)
    }
    spark.createDataFrame(rdd, schema).write.parquet(path)
  }

  def geoms(spark: SparkSession, path: String, n: Long, parts: Int, idCol: String,
            geomCol: String, f: Long => Geometry): Unit = {
    val schema = StructType(Seq(StructField(idCol, LongType), StructField(geomCol, BinaryType)))
    val rdd = spark.sparkContext.range(0, n, 1, parts).map(i => Row(i, Gen.wkb(f(i))))
    spark.createDataFrame(rdd, schema).write.parquet(path)
  }
}

/** Shared shape of the two join workloads: a job of several operator
  * calls, run back to back; each job's counts must match the expected
  * ones and the first job's. */
abstract class JoinJobs(spark: SparkSession, cfg: Config) extends Workload {
  protected var dir = ""
  protected val expected = mutable.LinkedHashMap.empty[String, Long]
  private var reference: Option[Map[String, Long]] = None
  protected val layerCounts = mutable.LinkedHashMap.empty[String, Double]
  /** Pair counts of a seeded sample of images, from the slow path. */
  protected var sample: Map[Long, Long] = Map.empty
  def images: Long
  /** The workload name, which names its jobs. */
  def jobKind: String

  /** The engine's pair count per sampled image. */
  def samplePairs(): Map[Long, Long]

  /** One job: operator name -> output count. */
  def job(r: Runner): Map[String, Long]

  /** Wall time of each step of the timed jobs, in ms. */
  private val stepMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var measuring = false

  /** A step of a job: a span in a traced run, a timed step while measuring. */
  protected def step[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val a = Trace.span(name)(f)
    if (measuring) stepMs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
    a
  }

  /** Uncontended job latency: the sum over the steps of each step's
    * fastest run. CPU steal on a shared host lengthens some steps of a
    * run; a step's fastest run is the one it missed. */
  private def bestJobMs: Double =
    if (stepMs.isEmpty) Double.NaN else stepMs.values.map(_.min).sum

  def setup(d: String): Unit = { dir = d; write(d) }
  def write(d: String): Unit

  /** Every expected count must hold on every job; counts without a slow
    * path must equal the first job's. A corrupt run adds one to every
    * expectation, so the check has to fail. */
  protected def verify(got: Map[String, Long]): Option[String] = {
    val exp = if (cfg.corrupt) expected.map { case (k, v) => k -> (v + 1) } else expected
    val bad = exp.collect { case (k, v) if got.get(k).exists(_ != v) => s"$k=${got(k)} expected $v" } ++
      reference.toSeq.flatMap(_.collect {
        case (k, v) if got.get(k).exists(_ != v) => s"$k=${got(k)} differs from first job's $v"
      })
    if (reference.isEmpty) reference = Some(got)
    if (bad.isEmpty) None else Some(bad.mkString("; "))
  }

  /** One untimed job, so the timed ones run on a warm JVM. */
  def warm(r: Runner): Unit = job(r)

  /** Jobs back to back until the deadline, then the sampled pairs. */
  def measure(r: Runner, deadlineNs: Long): Unit = {
    var i = 0L
    measuring = true
    while (System.nanoTime() < deadlineNs || i < 2) {
      r.op(jobKind, r.traced(i, 0))(job(r))(verify)
      i += 1
    }
    measuring = false
    r.op("sample_check", traced = false)(samplePairs()) { got =>
      val exp = if (cfg.corrupt) sample.map { case (k, v) => k -> (v + 1) } else sample
      val bad = exp.filter { case (k, v) => got.getOrElse(k, 0L) != v }
      if (bad.isEmpty) None else Some(s"${bad.size} sampled images have wrong pair counts")
    }
  }

  override def describe: String =
    expected.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  def endToEnd(r: Runner): Seq[Metric] =
    Seq(Metric("op_min_ms", bestJobMs, "ms"), Metric("work_per_s", images * 1000.0 / bestJobMs, "1/s"))

  /** The median job, under the workload's own names. */
  def named(r: Runner): Seq[Metric] = {
    val ms = r.ms(jobKind)
    Seq(Metric(s"${jobKind}_images_per_s", Stats.median(ms.map(images * 1000.0 / _)), "1/s"),
      Metric("op_p50_ms", Stats.median(ms), "ms"), Metric("jobs", ms.size, "count"))
  }

  /** Join-layer counts from the executed plan of the join action. */
  protected def joinPlanCounts(plan: org.apache.spark.sql.execution.SparkPlan, pairs: Long,
                               candidates: Long): Unit = if (Trace.active) {
    val gens = PlanMetrics.nodes(plan).filter(_.nodeName == "Generate")
    val inner = gens.flatMap(g => g.children.flatMap(PlanMetrics.nodes)).filter(_.nodeName == "Generate")
    val outer = gens.filterNot(g => inner.exists(_ eq g))
    layerCounts("join.cover_rows") = outer.map(PlanMetrics.metric(_, "numOutputRows")).sum.toDouble
    layerCounts("join.huge_rows") = PlanMetrics.broadcastLoopRows(plan).toDouble
    layerCounts("join.output_pairs") = pairs.toDouble
    layerCounts("join.candidate_pairs") = candidates.toDouble
    layerCounts("join.refine_keep_ratio") = pairs.toDouble / math.max(1L, candidates)
  }
}

/**
 * join_tile: the flagship box path. Each job runs BoxOps.intersectsJoin
 * at res 7 with broadcast zones, BoxOps.tiles at res 9, BoxOps.density
 * at res 7 and a plain count of the input.
 */
final class JoinTile(spark: SparkSession, cfg: Config) extends JoinJobs(spark, cfg) {
  val images: Long = if (cfg.smoke) 20000L else 250000L
  val zones: Int = if (cfg.smoke) 200 else 2000
  val hugeEvery: Long = if (cfg.smoke) 5000L else 25000L
  val jobKind = "join_tile"
  private val bounds = ("fxmin", "fymin", "fxmax", "fymax")
  private val zbounds = ("zxmin", "zymin", "zxmax", "zymax")
  private var candidates = 0L

  def write(d: String): Unit = {
    val (seed, huge) = (cfg.seed, hugeEvery)
    Inputs.boxes(spark, s"$d/images", images, 16, "image_id",
      Seq(bounds._1, bounds._2, bounds._3, bounds._4), i => Gen.imageBox(seed, i, huge))
    Inputs.boxes(spark, s"$d/zones", zones, 1, "zone_id",
      Seq(zbounds._1, zbounds._2, zbounds._3, zbounds._4), i => Gen.zoneBox(seed, i))
  }

  /** Slow path: pair totals through a 2-degree bucket grid with
    * reference-point dedup, per-image pairs for a seeded sample by a
    * plain nested loop, tile and density counts from the cover formula. */
  def expect(): Unit = {
    val imgs = Array.tabulate(images.toInt)(i => Gen.imageBox(cfg.seed, i, hugeEvery))
    val zs = Array.tabulate(zones)(i => Gen.zoneBox(cfg.seed, i))
    val buckets = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Int]]
    def b(v: Double) = math.floor(v / 2).toInt
    zs.indices.foreach { j =>
      val z = zs(j)
      for (x <- b(z.x0) to b(z.x1); y <- b(z.y0) to b(z.y1))
        buckets.getOrElseUpdate((x, y), mutable.ArrayBuffer.empty) += j
    }
    var pairs = 0L
    imgs.foreach { im =>
      for (x <- b(im.x0) to b(im.x1); y <- b(im.y0) to b(im.y1); j <- buckets.getOrElse((x, y), Nil)) {
        val z = zs(j)
        if (im.overlaps(z) && b(math.max(im.x0, z.x0)) == x && b(math.max(im.y0, z.y0)) == y) pairs += 1
      }
    }
    val tiles = imgs.map(Gen.coverCount(_, 9)).sum
    val cells = mutable.HashSet.empty[Long]
    imgs.foreach { im =>
      for (x <- Gen.gx(im.x0, 7) to Gen.gx(im.x1, 7); y <- Gen.gy(im.y0, 7) to Gen.gy(im.y1, 7))
        cells += (x << 20) | y
    }
    // candidate pairs of the cell equi-join: shared cover cells of the
    // non-huge rows on both sides
    val zoneCells = mutable.HashMap.empty[Long, Int].withDefaultValue(0)
    zs.filter(Gen.coverCount(_, 7) <= 4096).foreach { z =>
      for (x <- Gen.gx(z.x0, 7) to Gen.gx(z.x1, 7); y <- Gen.gy(z.y0, 7) to Gen.gy(z.y1, 7))
        zoneCells((x << 20) | y) += 1
    }
    candidates = imgs.filter(Gen.coverCount(_, 7) <= 4096).map { im =>
      var c = 0L
      for (x <- Gen.gx(im.x0, 7) to Gen.gx(im.x1, 7); y <- Gen.gy(im.y0, 7) to Gen.gy(im.y1, 7))
        c += zoneCells((x << 20) | y)
      c
    }.sum
    expected ++= Seq("join" -> pairs, "tile" -> tiles, "density" -> cells.size.toLong, "scan" -> images)
    val rnd = new java.util.Random(cfg.seed)
    val ids = (0 until 200).map(_ => (rnd.nextDouble() * images).toLong).distinct
    sample = ids.map(i => i -> zs.count(imgs(i.toInt).overlaps).toLong).toMap
  }

  private def join(imgs: org.apache.spark.sql.DataFrame) =
    BoxOps.intersectsJoin(imgs, bounds, spark.read.parquet(s"$dir/zones"), zbounds,
      res = 7, broadcastRight = true)

  /** The join restricted to the sampled images, counted per image. */
  def samplePairs(): Map[Long, Long] =
    join(spark.read.parquet(s"$dir/images").where(col("image_id").isin(sample.keys.toSeq: _*)))
      .groupBy("image_id").count().collect().map(x => x.getLong(0) -> x.getLong(1)).toMap

  def job(r: Runner): Map[String, Long] = {
    val imgs = step("input.images")(spark.read.parquet(s"$dir/images"))
    val (pairs, plan) = step("operators.join")(r.count("operators.join", join(imgs)))
    joinPlanCounts(plan, pairs, candidates)
    val (tiles, _) = step("operators.tile")(r.count("operators.tile",
      BoxOps.tiles(imgs, bounds._1, bounds._2, bounds._3, bounds._4, 9)))
    val (dens, _) = step("operators.density")(r.count("operators.density",
      BoxOps.density(imgs, bounds._1, bounds._2, bounds._3, bounds._4, 7)))
    val (n, _) = step("operators.scan")(r.count("operators.scan", imgs))
    Map("join" -> pairs, "tile" -> tiles, "density" -> dens, "scan" -> n)
  }


  def perLayer(r: Runner): Seq[Metric] =
    Seq("join", "tile", "density", "scan").map(k =>
      Metric(s"operators.${k}_s", Layers.spanMs(s"operators.$k") / 1000, "s")) ++
      layerCounts.map { case (k, v) => Metric(k, v, "") }
}

/**
 * sql_join: WKB footprints joined to star-shaped zones by SQL
 * `JOIN ... ON st_intersects(footprint, zone)` (rewritten by
 * SpatialJoinRewrite into the cell equi-join), then TileAssign.atRes at
 * res 9 and Density.extents at res 7.
 */
final class SqlJoin(spark: SparkSession, cfg: Config) extends JoinJobs(spark, cfg) {
  val images: Long = if (cfg.smoke) 5000L else 30000L
  val zones: Int = if (cfg.smoke) 500 else 6000
  val hugeEvery: Long = if (cfg.smoke) 500L else 1500L
  val jobKind = "sql_join"
  private var candidates = 0L
  private val JoinSql =
    "SELECT i.image_id, z.zone_id FROM imgs i JOIN zones z ON st_intersects(i.footprint, z.zone)"

  def write(d: String): Unit = {
    val (seed, huge) = (cfg.seed, hugeEvery)
    Inputs.geoms(spark, s"$d/images", images, 16, "image_id", "footprint",
      i => Gen.footprint(seed, i, huge))
    Inputs.geoms(spark, s"$d/zones", zones, 2, "zone_id", "zone", i => Gen.zonePolygon(seed, i))
  }

  /** Slow path: JTS intersects over an STR-tree of zone envelopes for
    * the pair total, a plain nested loop for a seeded sample. */
  def expect(): Unit = {
    val fps = Array.tabulate(images.toInt)(i => Gen.footprint(cfg.seed, i, hugeEvery))
    val zs = Array.tabulate(zones)(i => Gen.zonePolygon(cfg.seed, i))
    val tree = new STRtree()
    zs.foreach(z => tree.insert(z.getEnvelopeInternal, z))
    val pairs = fps.map { f =>
      val it = tree.query(f.getEnvelopeInternal).iterator()
      var c = 0L
      while (it.hasNext) if (f.intersects(it.next().asInstanceOf[Geometry])) c += 1
      c
    }.sum
    def cover(g: Geometry) = {
      val e = g.getEnvelopeInternal
      Gen.Box(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
    }
    val zoneCells = mutable.HashMap.empty[Long, Int].withDefaultValue(0)
    zs.map(cover).filter(Gen.coverCount(_, 7) <= 64).foreach { z =>
      for (x <- Gen.gx(z.x0, 7) to Gen.gx(z.x1, 7); y <- Gen.gy(z.y0, 7) to Gen.gy(z.y1, 7))
        zoneCells((x << 20) | y) += 1
    }
    candidates = fps.map(cover).filter(Gen.coverCount(_, 7) <= 64).map { f =>
      var c = 0L
      for (x <- Gen.gx(f.x0, 7) to Gen.gx(f.x1, 7); y <- Gen.gy(f.y0, 7) to Gen.gy(f.y1, 7))
        c += zoneCells((x << 20) | y)
      c
    }.sum
    expected ++= Seq("join" -> pairs)
    val rnd = new java.util.Random(cfg.seed)
    val ids = (0 until 100).map(_ => (rnd.nextDouble() * images).toLong).distinct
    sample = ids.map(i => i -> zs.count(z => fps(i.toInt).intersects(z)).toLong).toMap
  }

  override def warm(r: Runner): Unit = {
    spark.read.parquet(s"$dir/images").createOrReplaceTempView("imgs")
    spark.read.parquet(s"$dir/zones").createOrReplaceTempView("zones")
    job(r)
  }

  /** The SQL join restricted to the sampled footprints, counted per image. */
  def samplePairs(): Map[Long, Long] =
    spark.sql(JoinSql + s" WHERE i.image_id IN (${sample.keys.mkString(",")})")
      .groupBy("image_id").count().collect().map(x => x.getLong(0) -> x.getLong(1)).toMap

  def job(r: Runner): Map[String, Long] = {
    val (pairs, plan) = step("operators.sql_join")(r.count("plans.sql_join", spark.sql(JoinSql)))
    joinPlanCounts(plan, pairs, candidates)
    val (tiles, _) = step("operators.sql_tile")(r.count("operators.sql_tile",
      TileAssign.atRes(spark.table("imgs"), "footprint", 9)))
    val (dens, _) = step("operators.sql_density")(r.count("operators.sql_density",
      Density.extents(spark.table("imgs"), "footprint", res = 7)))
    Map("join" -> pairs, "tile" -> tiles, "density" -> dens)
  }


  def perLayer(r: Runner): Seq[Metric] =
    Seq("sql_join", "sql_tile", "sql_density").map(k =>
      Metric(s"operators.${k}_s", Layers.spanMs(s"operators.$k") / 1000, "s")) ++
      layerCounts.map { case (k, v) => Metric(k, v, "") }
}
