package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.locationtech.jts.geom.Geometry
import org.locationtech.jts.io.{WKBReader, WKTReader}
import graft.functions.StFunctions
import graft.plans.{Cql, StrategyDecider}
import graft.table.{GeomTable, Sft, SpatialTable, TableStats}
import Gen.{Box, Ext, Pt}

/** Row encodings, table builds and on-disk accounting shared by the two
  * table workloads. */
object Tables {
  val PointSchema = StructType(Seq(StructField("id", StringType), StructField("lon", DoubleType),
    StructField("lat", DoubleType), StructField("dtg", TimestampType),
    StructField("kind", StringType), StructField("score", LongType)))
  val ExtSchema = StructType(Seq(StructField("id", LongType), StructField("kind", StringType),
    StructField("dtg", TimestampType), StructField("geom", BinaryType)))
  val Sft1: Sft.Schema = Sft.parse("pts",
    "id:String,kind:String:index=true,score:Long,dtg:Date,*geom:Point:srid=4326")

  def pointRow(p: Pt): Row = Row(p.id, p.lon, p.lat, new java.sql.Timestamp(p.dtg), p.kind, p.score)
  def extRow(e: Ext): Row = Row(e.id, e.kind, new java.sql.Timestamp(e.dtg), e.bytes)

  def writePoints(spark: SparkSession, path: String, n: Long, seed: Long, stream: Int): Unit = {
    val rdd = spark.sparkContext.range(0, n, 1, 4).map(i => pointRow(Gen.point(seed, stream, i)))
    spark.createDataFrame(rdd, PointSchema).write.parquet(path)
  }

  def writeExtents(spark: SparkSession, path: String, n: Long, seed: Long, stream: Int): Unit = {
    val rdd = spark.sparkContext.range(0, n, 1, 4).map(i => extRow(Gen.extent(seed, stream, i)))
    spark.createDataFrame(rdd, ExtSchema).write.parquet(path)
  }

  def pointsDf(spark: SparkSession, ps: Seq[Pt]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(ps.map(pointRow), 1), PointSchema)
  def extentsDf(spark: SparkSession, es: Seq[Ext]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(es.map(extRow), 1), ExtSchema)

  def buildPoints(spark: SparkSession, src: DataFrame, root: String, dtg: Boolean): Unit =
    SpatialTable.writeConfigured(spark, src, root, "s1", Sft1, "id", "lon", "lat",
      res = 9, prefixRes = 2, partitions = 4, dtgCol = if (dtg) Some("dtg") else None,
      period = "month")

  def buildExtents(spark: SparkSession, src: DataFrame, root: String, dtg: Boolean): Unit =
    GeomTable.write(spark, src, root, "s1", geomCol = "geom",
      dtgCol = if (dtg) Some("dtg") else None, res = 12, period = "month", partitions = 4,
      chunkRes = 2)

  /** Regular files under a directory: path -> size. */
  def files(root: String): Map[String, Long] = {
    val base = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(base)) Map.empty
    else {
      val s = java.nio.file.Files.walk(base)
      try {
        val it = s.iterator()
        val out = Map.newBuilder[String, Long]
        while (it.hasNext) {
          val p = it.next()
          if (java.nio.file.Files.isRegularFile(p)) out += p.toString -> java.nio.file.Files.size(p)
        }
        out.result()
      } finally s.close()
    }
  }

  def parquetFiles(root: String): Int = files(root).keys.count(_.endsWith(".parquet"))

  def pointIn(p: Pt, b: Box): Boolean = p.lon >= b.x0 && p.lon <= b.x1 && p.lat >= b.y0 && p.lat <= b.y1

  def cqlBox(b: Box): String = s"BBOX(geom, ${b.x0}, ${b.y0}, ${b.x1}, ${b.y1})"

  def iso(ms: Long): String = java.time.Instant.ofEpochMilli(ms).toString

  /** Scan-level SQL metrics of an executed plan into the current op. */
  def scanCounts(plan: SparkPlan, hits: Long): Unit = if (Trace.active) {
    val scans = PlanMetrics.nodes(plan).filter(_.nodeName.startsWith("Scan"))
    Trace.count("table.files_read", scans.map(PlanMetrics.metric(_, "numFiles")).sum)
    Trace.count("table.bytes_read", scans.map(PlanMetrics.metric(_, "filesSize")).sum)
    Trace.count("table.rows_scanned", scans.map(PlanMetrics.metric(_, "numOutputRows")).sum)
    Trace.count("table.hits", hits)
    Trace.count("table.queries", 1)
  }
}

/**
 * table_reads: one client in a closed loop sends a seeded mix of
 * selective queries to prebuilt tables: a temporal point table with
 * attribute and id indexes (queryPlanned), a temporal extent table
 * (readBBox / readBBoxTime, and SQL st_intersects over format("graft")),
 * and cached counts (TableStats.getCount).
 */
final class TableReads(spark: SparkSession, cfg: Config) extends Workload {
  val points: Int = if (cfg.smoke) 3000 else 60000
  val extents: Int = if (cfg.smoke) 1000 else 20000
  val Rounds = 12
  val Types = Seq("bbox", "bbox_time", "attr_eq", "id", "cql_residual", "geom_bbox",
    "geom_bbox_time", "sql_intersects", "stats_count")
  private var dir = ""
  private def pRoot = s"$dir/points"
  private def eRoot = s"$dir/extents"
  private var pFiles = 0
  private var eFiles = 0

  /** A query: its type, what to run, and the row count it must return. */
  final case class Q(kind: String, text: String, run: Runner => Long, expected: Long)
  private var pool: IndexedSeq[IndexedSeq[Q]] = IndexedSeq.empty

  /** Two set-ups, not three: building the tables takes 6-13 s warm and
    * 17-29 s cold, and a third would not fit the benchmark's time budget. */
  override def setupReps: Int = 2

  def setup(d: String): Unit = {
    dir = d
    Tables.writePoints(spark, s"$d/src_points", points, cfg.seed, 30)
    Tables.writeExtents(spark, s"$d/src_extents", extents, cfg.seed, 31)
    Tables.buildPoints(spark, spark.read.parquet(s"$d/src_points"), pRoot, dtg = true)
    Tables.buildExtents(spark, spark.read.parquet(s"$d/src_extents"), eRoot, dtg = true)
    TableStats.collectGeom(spark, eRoot, "s1", Seq("kind"))
  }

  private def pointQuery(cql: String)(r: Runner): Long = {
    if (Trace.active) {
      Trace.span("table.manifest")(SpatialTable.manifestInfo(spark, pRoot, "s1"))
      val layouts = Trace.span("table.layouts")(SpatialTable.indexedColumns(spark, pRoot, "s1"))
      val d = Trace.span("plans.decide")(StrategyDecider.decide(cql, "id",
        layouts.keySet - "id", layouts.contains("id"), Some("dtg")))
      Trace.count("plans.strategy." + (d.strategy match {
        case StrategyDecider.ZScan => "zscan"
        case _: StrategyDecider.AttrEquals => "attr_equals"
        case _: StrategyDecider.AttrRange => "attr_range"
        case _: StrategyDecider.IdLookup => "id_lookup"
      }), 1)
      Trace.span("plans.cql_parse")(Cql.parse(cql,
        Map("geom" -> StFunctions.fn("st_makePoint")(col("lon"), col("lat")))))
    }
    planned(SpatialTable.queryPlanned(spark, pRoot, "s1", cql), r)
  }

  private def extentRead(build: => DataFrame)(r: Runner): Long = {
    if (Trace.active) Trace.span("table.manifest")(GeomTable.manifest(spark, eRoot, "s1"))
    planned(build, r)
  }

  private def planned(build: => DataFrame, r: Runner): Long = {
    val df = Trace.span("table.build")(build)
    val (n, plan) = r.count("table", df)
    Tables.scanCounts(plan, n)
    n
  }

  def expect(): Unit = {
    val ps = (0 until points).map(i => Gen.point(cfg.seed, 30, i))
    val es = (0 until extents).map(i => Gen.extent(cfg.seed, 31, i))
    val day = 86400000L
    pool = (0 until Rounds).map { k =>
      def win(t: Int, w: Double, h: Double) = Gen.window(cfg.seed, 40 + t, k, w, h)
      def days(t: Int, n: Int) = {
        val d0 = Gen.T0 + (Gen.u(cfg.seed, 50 + t, k, 0) * (Gen.Days - n)).toLong * day
        (d0, d0 + n * day)
      }
      def kindOf(t: Int) = f"k${(Gen.u(cfg.seed, 60 + t, k, 0) * Gen.Kinds).toInt}%02d"
      val bbox = { val b = win(0, 3, 2); Q("bbox", Tables.cqlBox(b), pointQuery(Tables.cqlBox(b)),
        ps.count(Tables.pointIn(_, b))) }
      val bboxTime = {
        val b = win(1, 6, 4); val (t0, t1) = days(1, 3)
        val cql = s"${Tables.cqlBox(b)} AND dtg DURING ${Tables.iso(t0)}/${Tables.iso(t1)}"
        Q("bbox_time", cql, pointQuery(cql),
          ps.count(p => Tables.pointIn(p, b) && p.dtg > t0 && p.dtg < t1))
      }
      val attrEq = {
        val b = win(2, 10, 8); val kd = kindOf(2)
        val cql = s"kind = '$kd' AND ${Tables.cqlBox(b)}"
        Q("attr_eq", cql, pointQuery(cql), ps.count(p => p.kind == kd && Tables.pointIn(p, b)))
      }
      val ids = {
        val want = (0 until 8).map(j => (Gen.u(cfg.seed, 70, k, j) * points * 1.1).toLong)
          .map(i => f"p$i%07d").distinct
        val cql = s"id IN (${want.map(w => s"'$w'").mkString(", ")})"
        Q("id", cql, pointQuery(cql), want.count(w => w.drop(1).toLong < points).toLong)
      }
      val residual = {
        val k0 = (Gen.u(cfg.seed, 71, k, 0) * (Gen.Kinds - 3)).toInt
        val (lo, hi) = (f"k$k0%02d", f"k${k0 + 2}%02d")
        val s = 100 + (Gen.u(cfg.seed, 71, k, 1) * 400).toLong
        val cql = s"kind BETWEEN '$lo' AND '$hi' AND score < $s"
        Q("cql_residual", cql, pointQuery(cql),
          ps.count(p => p.kind >= lo && p.kind <= hi && p.score < s))
      }
      val geomBox = {
        val b = win(5, 4, 3); val box = Gen.boxPolygon(b)
        Q("geom_bbox", s"readBBox $b",
          extentRead(GeomTable.readBBox(spark, eRoot, "s1", b.x0, b.y0, b.x1, b.y1)),
          es.count(_.geom.intersects(box)))
      }
      val geomBoxTime = {
        val b = win(6, 8, 6); val box = Gen.boxPolygon(b); val (t0, t1) = days(6, 5)
        Q("geom_bbox_time", s"readBBoxTime $b $t0 $t1",
          extentRead(GeomTable.readBBoxTime(spark, eRoot, "s1", b.x0, b.y0, b.x1, b.y1, t0, t1)),
          es.count(e => e.dtg >= t0 && e.dtg < t1 && e.geom.intersects(box)))
      }
      val sqlIntersects = {
        val (cx, cy) = Gen.centre(cfg.seed, 72, k)
        val r = 1.5 + 2 * Gen.u(cfg.seed, 73, k, 0)
        val pts = (0 until 3).map { j =>
          val a = 2 * math.Pi * j / 3 + Gen.u(cfg.seed, 73, k, 1)
          (math.rint((cx + r * math.cos(a)) * 1000) / 1000, math.rint((cy + r * math.sin(a)) * 1000) / 1000)
        }
        val wkt = s"POLYGON((${(pts :+ pts.head).map { case (x, y) => s"$x $y" }.mkString(", ")}))"
        val tri = new WKTReader().read(wkt)
        val sql = s"SELECT * FROM extents WHERE st_intersects(geom, st_geomFromWKT('$wkt'))"
        Q("sql_intersects", sql, extentRead(spark.sql(sql)), es.count(_.geom.intersects(tri)))
      }
      val stats = {
        val (root, n) = if (k % 2 == 0) (pRoot, points) else (eRoot, extents)
        Q("stats_count", s"getCount $root", { _ =>
          TableStats.getCount(spark, root, "s1").getOrElse(-1L)
        }, n.toLong)
      }
      Vector(bbox, bboxTime, attrEq, ids, residual, geomBox, geomBoxTime, sqlIntersects, stats)
    }
    pFiles = Tables.parquetFiles(pRoot)
    eFiles = Tables.parquetFiles(eRoot)
  }

  private def run(r: Runner, q: Q, traced: Boolean): Unit =
    r.op(q.kind, traced)(q.run(r)) { n =>
      val exp = if (cfg.corrupt) q.expected + 1 else q.expected
      if (n == exp) None else Some(s"${q.text} returned $n rows, expected $exp")
    }

  def warm(r: Runner): Unit = {
    spark.read.format("graft").option("snapshot", "s1").load(eRoot).createOrReplaceTempView("extents")
    pool(0).foreach(q => q.run(r))
  }

  /** Wall time of each round of nine queries, in ms. */
  private val roundMs = mutable.ArrayBuffer.empty[Double]

  def measure(r: Runner, deadlineNs: Long): Unit = {
    var round = 0
    while (System.nanoTime() < deadlineNs || round == 0) {
      val qs = pool(round % Rounds)
      val order = new scala.util.Random(cfg.seed * 1000 + round).shuffle(qs.indices.toVector)
      val t0 = System.nanoTime()
      order.zipWithIndex.foreach { case (qi, i) => run(r, qs(qi), r.traced(i, round)) }
      roundMs += (System.nanoTime() - t0) / 1e6
      round += 1
    }
  }

  /** Uncontended query latency: the mean over the nine query types of
    * each type's fastest run (see JoinJobs.bestJobMs for why). */
  def endToEnd(r: Runner): Seq[Metric] = {
    val best = Types.map(t => Stats.min(r.ms(t))).sum / Types.size
    Seq(Metric("op_min_ms", best, "ms"), Metric("work_per_s", 1000.0 / best, "1/s"))
  }

  /** Per-query latencies of the whole run, under the workload's own names. */
  def named(r: Runner): Seq[Metric] = {
    val ms = r.ms(Types: _*)
    Seq(Metric("read_p50_ms", Stats.median(ms), "ms"),
      Metric("read_p90_ms", Stats.quantile(ms, 0.9), "ms"),
      Metric("read_queries", ms.size, "count"),
      Metric("queries_per_s", Stats.median(roundMs.toSeq.map(Types.size * 1000.0 / _)), "1/s")) ++
      Types.map(t => Metric(s"read_${t}_ms", Stats.median(r.ms(t)), "ms"))
  }

  def perLayer(r: Runner): Seq[Metric] = {
    val queries = math.max(1.0, Trace.counter("table.queries"))
    Seq(Metric("plans.decide_ms", Layers.spanMs("plans.decide"), "ms"),
      Metric("plans.cql_parse_ms", Layers.spanMs("plans.cql_parse"), "ms"),
      Metric("table.manifest_ms", Layers.spanMs("table.manifest"), "ms"),
      Metric("table.layouts_ms", Layers.spanMs("table.layouts"), "ms"),
      Metric("table.plan_ms", Stats.median(Trace.opMs("table.build", "table.plan")), "ms"),
      Metric("table.exec_ms", Layers.spanMs("spark.exec.table"), "ms"),
      Metric("table.files_read", Trace.counter("table.files_read") / queries, "count"),
      Metric("table.files_total", pFiles + eFiles, "count"),
      Metric("table.bytes_read", Trace.counter("table.bytes_read") / queries, "bytes"),
      Metric("table.rows_scanned_per_hit",
        Trace.counter("table.rows_scanned") / math.max(1.0, Trace.counter("table.hits")), "ratio")) ++
      Seq("zscan", "attr_equals", "attr_range", "id_lookup").map(s =>
        Metric(s"plans.strategy.$s", Trace.counter(s"plans.strategy.$s"), "count")) ++
      Types.map(t => Metric(s"read.${t}_ms", Stats.median(r.tracedMs(t)), "ms"))
  }
}

/**
 * ingest_mutate: initial writes (SpatialTable.writeConfigured with
 * attribute and id indexes and stats, GeomTable.write), then a seeded
 * chain of upsert / updateWhere / deleteWhere commits on both table
 * kinds, each followed by a read-back, with expireSnapshots once per
 * cycle. The same mutations applied to in-memory rows are the slow path.
 */
final class IngestMutate(spark: SparkSession, cfg: Config) extends Workload {
  val points: Int = if (cfg.smoke) 2000 else 20000
  val extents: Int = if (cfg.smoke) 1000 else 8000
  val IngestReps = 2
  val Commits = Seq("p_upsert", "p_update", "p_delete", "g_upsert", "g_update", "g_delete")
  private var dir = ""
  private var pRoot = ""
  private var gRoot = ""
  private var pSnap = "s1"
  private var gSnap = "s1"
  private val pState = mutable.LinkedHashMap.empty[String, Pt]
  private val gState = mutable.LinkedHashMap.empty[Long, Ext]
  private val ingestRowsPerS = mutable.ArrayBuffer.empty[Double]
  private var storedBytesPerRow = Double.NaN

  def setup(d: String): Unit = {
    dir = d
    Tables.writePoints(spark, s"$d/src_points", points, cfg.seed, 32)
    Tables.writeExtents(spark, s"$d/src_extents", extents, cfg.seed, 33)
  }

  def expect(): Unit = ()

  /** In-memory replica of the committed state, rebuilt from the inputs. */
  private def resetState(): Unit = {
    pState.clear(); gState.clear()
    (0 until points).foreach { i => val p = Gen.point(cfg.seed, 32, i); pState(p.id) = p }
    (0 until extents).foreach { i => val e = Gen.extent(cfg.seed, 33, i); gState(e.id) = e }
  }

  private def ingest(r: Runner, k: Int, traced: Boolean): Unit = {
    val (p, g) = (s"$dir/tables$k/points", s"$dir/tables$k/extents")
    val t0 = System.nanoTime()
    r.op("ingest", traced) {
      Trace.span("ingest.point_write")(
        Tables.buildPoints(spark, spark.read.parquet(s"$dir/src_points"), p, dtg = false))
      Trace.span("ingest.geom_write")(
        Tables.buildExtents(spark, spark.read.parquet(s"$dir/src_extents"), g, dtg = false))
      if (Trace.active) {
        val fs = Tables.files(s"$dir/tables$k")
        Trace.count("ingest.bytes_written", fs.values.sum)
        Trace.count("ingest.files_written", fs.size)
      }
    } { _ =>
      val n = TableStats.getCount(spark, p, "s1").getOrElse(-1L)
      val m = GeomTable.read(spark, g, "s1").count()
      val (ep, eg) = if (cfg.corrupt) (points + 1L, extents + 1L) else (points.toLong, extents.toLong)
      if (n == ep && m == eg) None else Some(s"ingest counts $n/$m, expected $ep/$eg")
    }.foreach(_ => ingestRowsPerS += (points + extents) / ((System.nanoTime() - t0) / 1e9))
    pRoot = p; gRoot = g; pSnap = "s1"; gSnap = "s1"
  }

  def warm(r: Runner): Unit = {
    // one ingest before timing, so the timed ones run on a warm JVM
    ingest(r, 0, traced = false)
    ingestRowsPerS.clear()
  }

  private def u(c: Int, k: Int) = Gen.u(cfg.seed, 80, c, k)

  /** Commit `c` of the chain: the engine call plus its in-memory twin;
    * returns the rows it changed. */
  private def commit(kind: String, c: Int, to: String): Long = kind match {
    case "p_upsert" =>
      val live = pState.keys.toIndexedSeq
      val old = (0 until 100).map(j => live((u(c, j) * live.size).toInt)).distinct
      val fresh = (0 until 100).map(j => f"n${c * 1000 + j}%07d")
      val rows = (old ++ fresh).zipWithIndex.map { case (id, j) =>
        Gen.point(cfg.seed, 90 + c, j).copy(id = id)
      }
      SpatialTable.upsert(spark, pRoot, pSnap, to, Tables.pointsDf(spark, rows))
      rows.foreach(p => pState(p.id) = p)
      rows.size
    case "p_update" =>
      val b = Gen.window(cfg.seed, 81, c, 12, 9)
      val kd = f"k${(u(c, 200) * Gen.Kinds).toInt}%02d"
      val v = (u(c, 201) * 1000).toLong
      SpatialTable.updateWhere(spark, pRoot, pSnap, to, s"${Tables.cqlBox(b)} AND kind = '$kd'",
        Map("score" -> lit(v)))
      val hit = pState.values.filter(p => Tables.pointIn(p, b) && p.kind == kd).toSeq
      hit.foreach(p => pState(p.id) = p.copy(score = v))
      hit.size
    case "p_delete" =>
      val b = Gen.window(cfg.seed, 82, c, 3, 2)
      val s = (u(c, 202) * 1000).toLong
      SpatialTable.deleteWhere(spark, pRoot, pSnap, to, s"${Tables.cqlBox(b)} AND score < $s")
      val hit = pState.values.filter(p => Tables.pointIn(p, b) && p.score < s).map(_.id).toSeq
      hit.foreach(pState.remove)
      hit.size
    case "g_upsert" =>
      val live = gState.keys.toIndexedSeq
      val old = (0 until 50).map(j => live((u(c, 300 + j) * live.size).toInt)).distinct
      val fresh = (0 until 50).map(j => 10000000L + c * 1000L + j)
      val rows = (old ++ fresh).zipWithIndex.map { case (id, j) =>
        Gen.extent(cfg.seed, 90 + c, j).copy(id = id)
      }
      GeomTable.upsert(spark, gRoot, gSnap, to, Tables.extentsDf(spark, rows))
      rows.foreach(e => gState(e.id) = e)
      rows.size
    case "g_update" =>
      val b = Gen.window(cfg.seed, 83, c, 12, 9); val box = Gen.boxPolygon(b)
      val kd = f"k${(u(c, 400) * Gen.Kinds).toInt}%02d"
      GeomTable.updateWhere(spark, gRoot, gSnap, to, s"${Tables.cqlBox(b)} AND kind = '$kd'",
        Map("kind" -> lit("upd")))
      val hit = gState.values.filter(e => e.kind == kd && e.geom.intersects(box)).toSeq
      hit.foreach(e => gState(e.id) = e.copy(kind = "upd"))
      hit.size
    case "g_delete" =>
      val b = Gen.window(cfg.seed, 84, c, 3, 2); val box = Gen.boxPolygon(b)
      GeomTable.deleteWhere(spark, gRoot, gSnap, to, Tables.cqlBox(b))
      val hit = gState.values.filter(_.geom.intersects(box)).map(_.id).toSeq
      hit.foreach(gState.remove)
      hit.size
  }

  /** Read-back after a commit, with its expected count from the replica. */
  private def readback(point: Boolean, c: Int, r: Runner): (Long, Long) =
    if (point) {
      val b = Gen.window(cfg.seed, 85, c, 20, 15)
      val kd = f"k${(u(c, 500) * Gen.Kinds).toInt}%02d"
      val cql = s"kind = '$kd' AND ${Tables.cqlBox(b)}"
      if (Trace.active)
        Trace.count("mutate.chain_depth", Trace.span("table.snapshots")(SpatialTable.snapshots(spark, pRoot)).size)
      val n = Trace.span("table.readback")(
        r.count("table", SpatialTable.queryPlanned(spark, pRoot, pSnap, cql))._1)
      val cnt = Trace.span("stats.count")(TableStats.getCount(spark, pRoot, pSnap).getOrElse(-1L))
      (n * 1000000L + cnt,
        pState.values.count(p => p.kind == kd && Tables.pointIn(p, b)) * 1000000L + pState.size)
    } else {
      val b = Gen.window(cfg.seed, 86, c, 20, 15); val box = Gen.boxPolygon(b)
      if (Trace.active)
        Trace.count("mutate.chain_depth", Trace.span("table.snapshots")(GeomTable.snapshots(spark, gRoot)).size)
      val n = Trace.span("table.readback")(
        r.count("table", GeomTable.readBBox(spark, gRoot, gSnap, b.x0, b.y0, b.x1, b.y1))._1)
      (n, gState.values.count(_.geom.intersects(box)).toLong)
    }

  def measure(r: Runner, deadlineNs: Long): Unit = {
    (1 to IngestReps).foreach(k => ingest(r, k, r.traced(k, 0)))
    resetState()
    var c = 0
    var cycle = 0
    while (System.nanoTime() < deadlineNs || cycle == 0) {
      Commits.zipWithIndex.foreach { case (kind, i) =>
        val traced = r.traced(i, cycle)
        val point = kind.startsWith("p_")
        val root = if (point) pRoot else gRoot
        val to = s"c$c"
        val before = if (traced) Tables.files(root) else Map.empty[String, Long]
        var changed = 0L
        val ok = r.op(kind, traced) { changed = commit(kind, c, to) }(_ => None).isDefined
        if (ok) { if (point) pSnap = to else gSnap = to }
        if (ok && traced) {
          val added = Tables.files(root) -- before.keys
          Trace.count("mutate.files_written", added.size)
          Trace.count("mutate.bytes_written", added.values.sum)
          Trace.count("mutate.changed_rows", changed)
          Trace.count("mutate.commits", 1)
        }
        r.op("readback", traced)(readback(point, c, r)) { case (got, exp) =>
          val e = if (cfg.corrupt) exp + 1 else exp
          if (got == e) None else Some(s"read-back after $kind c$c: $got, expected $e")
        }
        c += 1
      }
      val traced = r.traced(0, cycle)
      val before = if (traced) Tables.files(pRoot).size + Tables.files(gRoot).size else 0
      r.op("expire", traced) {
        SpatialTable.expireSnapshots(spark, pRoot, Seq(pSnap))
        GeomTable.expireSnapshots(spark, gRoot, Seq(gSnap))
      }(_ => None)
      if (traced) Trace.count("mutate.files_deleted",
        before - Tables.files(pRoot).size - Tables.files(gRoot).size)
      cycle += 1
    }
    finalCheck(r)
  }

  /** The final snapshots against the replica, by count and an
    * order-independent hash; then the stored bytes per live row. */
  private def finalCheck(r: Runner): Unit = {
    def h(s: String): Long = scala.util.hashing.MurmurHash3.stringHash(s).toLong & 0xffffffffL
    def pKey(id: String, lon: Double, lat: Double, dtg: Long, kind: String, score: Long) =
      h(s"$id|$lon|$lat|$dtg|$kind|$score")
    def gKey(id: Long, kind: String, dtg: Long, g: Geometry) = h(s"$id|$kind|$dtg|${g.toText}")
    r.op("final_check", traced = false) {
      val ps = SpatialTable.read(spark, pRoot, pSnap)
        .select("id", "lon", "lat", "dtg", "kind", "score").collect()
      val gs = GeomTable.read(spark, gRoot, gSnap).select("id", "kind", "dtg", "geom").collect()
      val reader = new WKBReader()
      (ps.length.toLong, ps.map(x => pKey(x.getString(0), x.getDouble(1), x.getDouble(2),
        x.getTimestamp(3).getTime, x.getString(4), x.getLong(5))).sum,
        gs.length.toLong, gs.map(x => gKey(x.getLong(0), x.getString(1), x.getTimestamp(2).getTime,
        reader.read(x.getAs[Array[Byte]](3)))).sum)
    } { got =>
      val exp = (pState.size.toLong + (if (cfg.corrupt) 1 else 0),
        pState.values.map(p => pKey(p.id, p.lon, p.lat, p.dtg, p.kind, p.score)).sum,
        gState.size.toLong, gState.values.map(e => gKey(e.id, e.kind, e.dtg, e.geom)).sum)
      if (got == exp) None else Some(s"final snapshots (count, hash) $got, expected $exp")
    }
    val bytes = Tables.files(pRoot).values.sum + Tables.files(gRoot).values.sum
    storedBytesPerRow = bytes.toDouble / (pState.size + gState.size)
  }

  private def commitMs(r: Runner) = r.ms(Commits: _*)

  def endToEnd(r: Runner): Seq[Metric] = Seq(
    Metric("op_min_ms", Stats.min(commitMs(r)), "ms"),
    Metric("work_per_s", if (ingestRowsPerS.isEmpty) Double.NaN else ingestRowsPerS.max, "1/s"))

  def named(r: Runner): Seq[Metric] = Seq(
    Metric("ingest_rows_per_s", Stats.median(ingestRowsPerS.toSeq), "1/s"),
    Metric("commit_p50_ms", Stats.median(commitMs(r)), "ms"),
    Metric("readback_p50_ms", Stats.median(r.ms("readback")), "ms"),
    Metric("stored_bytes_per_row", storedBytesPerRow, "bytes"),
    Metric("commits", commitMs(r).size, "count"))

  def perLayer(r: Runner): Seq[Metric] = {
    val commits = math.max(1.0, Trace.counter("mutate.commits"))
    Seq(Metric("ingest.point_write_s", Layers.spanMs("ingest.point_write") / 1000, "s"),
      Metric("ingest.geom_write_s", Layers.spanMs("ingest.geom_write") / 1000, "s"),
      Metric("ingest.bytes_written", Trace.counter("ingest.bytes_written") /
        math.max(1, Trace.ms("ingest.point_write").size), "bytes"),
      Metric("ingest.files_written", Trace.counter("ingest.files_written") /
        math.max(1, Trace.ms("ingest.point_write").size), "count"),
      Metric("ingest.rows_per_s", Stats.median(r.tracedMs("ingest").map((points + extents) * 1000.0 / _)), "1/s"),
      Metric("mutate.upsert_ms", Stats.median(r.tracedMs("p_upsert", "g_upsert")), "ms"),
      Metric("mutate.update_ms", Stats.median(r.tracedMs("p_update", "g_update")), "ms"),
      Metric("mutate.delete_ms", Stats.median(r.tracedMs("p_delete", "g_delete")), "ms"),
      Metric("mutate.files_written_per_commit", Trace.counter("mutate.files_written") / commits, "count"),
      Metric("mutate.bytes_written_per_changed_row", Trace.counter("mutate.bytes_written") /
        math.max(1.0, Trace.counter("mutate.changed_rows")), "bytes"),
      Metric("mutate.chain_depth", Trace.counter("mutate.chain_depth") /
        math.max(1, Trace.ms("table.snapshots").size), "count"),
      Metric("mutate.readback_ms", Stats.median(r.tracedMs("readback")), "ms"),
      Metric("stats.count_ms", Layers.spanMs("stats.count"), "ms"),
      Metric("mutate.expire_ms", Stats.median(r.tracedMs("expire")), "ms"),
      Metric("mutate.files_deleted", Trace.counter("mutate.files_deleted"), "count"),
      Metric("mutate.stored_bytes_per_row", storedBytesPerRow, "bytes"))
  }
}
