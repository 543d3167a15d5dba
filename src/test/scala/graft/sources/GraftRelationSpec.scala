package graft.sources

import java.sql.{Date, Timestamp}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.datasources.FileScanRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThanOrEqual, LessThan, LessThanOrEqual,
  PrunedFilteredScan}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest
import graft.geom.GeomOps
import graft.table.{GeomTable, SpatialTable}

/**
 * The one `format("graft")` relation for both table kinds: repeated
 * pushed bounds combine to the tightest window (never last-wins), the
 * indexed-equality and `time_bin` routes serve both kinds, and a seeded
 * differential holds every routed answer to the same predicate over the
 * direct read.
 */
class GraftRelationSpec extends AnyFunSuite with SparkTest {

  import GraftRelationSpec.Fixture
  import spark.implicits._

  private def newRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-relation").toString

  private def box(x: Double, y: Double, w: Double, h: Double): Array[Byte] =
    GeomOps.toWkb(new org.locationtech.jts.io.WKTReader().read(
      s"POLYGON(($x $y, ${x + w} $y, ${x + w} ${y + h}, $x ${y + h}, $x $y))"))

  private def ts(s: String) = Timestamp.valueOf(s)

  private def ids(df: DataFrame): Seq[String] =
    df.select(col("id").cast("string")).as[String].collect().toSeq.sorted

  /** One pushed conjunct and the same predicate as a column. */
  private type Bound = (Filter, Column)
  private def ge(c: String, v: Any): Bound = (GreaterThanOrEqual(c, v), col(c) >= lit(v))
  private def le(c: String, v: Any): Bound = (LessThanOrEqual(c, v), col(c) <= lit(v))
  private def lt(c: String, v: Any): Bound = (LessThan(c, v), col(c) < lit(v))

  /**
   * The relation's scan for the pushed conjuncts, in this order: the ids
   * it answers and the data files it lists. The files come from the
   * scan's own listing (the FileScanRDD under the relation's RDD):
   * input_file_name() names only files that produced a matching row, so
   * it cannot tell a tight window from a looser one whose extra files
   * hold no matches.
   */
  private def scan(root: String, bounds: Seq[Bound]): (Seq[String], Set[String]) = {
    val rel = new GraftDataSource().createRelation(spark.sqlContext, Map("path" -> root))
      .asInstanceOf[PrunedFilteredScan]
    val rdd = rel.buildScan(Array("id"), bounds.map(_._1).toArray)
    def files(r: RDD[_]): Seq[String] = r match {
      case f: FileScanRDD => f.filePartitions.flatMap(_.files.map(_.urlEncodedPath))
      case other => other.dependencies.flatMap(d => files(d.rdd))
    }
    (rdd.collect().map(_.get(0).toString).toSeq.sorted, files(rdd).toSet)
  }

  /** The directories `keyCol` names for the rows of `df` matching `pred`. */
  private def dirsOf(df: DataFrame, keyCol: String, pred: Column): Set[String] =
    df.where(pred).select(keyCol).distinct().collect().map(r => s"$keyCol=${r.get(0)}/").toSet

  /** Every conjunct order answers exactly — through the relation's scan
    * and through the front door — and lists no directory in `far`. */
  private def assertTight(root: String, direct: DataFrame, far: Set[String],
                          orders: Seq[Seq[Bound]]): Unit = {
    assert(far.nonEmpty)
    orders.foreach { bounds =>
      val pred = bounds.map(_._2).reduce(_ && _)
      val want = ids(direct.where(pred))
      val (got, files) = scan(root, bounds)
      assert(got == want && want.nonEmpty, s"wrong rows for $pred")
      assert(ids(spark.read.format("graft").load(root).where(pred)) == want)
      assert(files.nonEmpty && files.forall(f => !far.exists(f.contains)),
        s"$pred lists directories outside its window:\n${files.mkString("\n")}")
    }
  }

  /** A contradictory window (the tightest lower bound above the upper
    * one) still answers exactly: nothing. */
  private def assertEmpty(root: String, direct: DataFrame, bounds: Seq[Bound]): Unit = {
    val pred = bounds.map(_._2).reduce(_ && _)
    assert(direct.where(pred).isEmpty && scan(root, bounds)._1.isEmpty)
    assert(spark.read.format("graft").load(root).where(pred).isEmpty)
  }

  /** Three clusters: the queries' window holds `e`; a looser lower x
    * bound reaches `w` (same latitudes), a looser upper y bound reaches
    * `n` (same longitudes). */
  private val clusters = Seq(("w", -120.0, -20.0), ("e", 140.0, -20.0), ("n", 140.0, 50.0))

  test("repeated lon/lat bounds route the tightest window on a point table") {
    val root = newRoot()
    val rows = for ((c, x, y) <- clusters; i <- 0 until 40)
      yield (s"$c$i", x + i * 0.05, y + (i % 4) * 0.1)
    SpatialTable.write(spark, rows.toDF("id", "lon", "lat"), root, "s1", "id", "lon", "lat",
      res = 9, prefixRes = 3, salts = 1, partitions = 2)
    val direct = SpatialTable.read(spark, root, "s1")
    val far = dirsOf(direct, "cell_prefix", $"lon" < 0 || $"lat" > 0)
    val rest = Seq(le("lon", 142.0), ge("lat", -21.0), le("lat", -19.0))
    assertTight(root, direct, far, Seq(
      Seq(ge("lon", -170.0), ge("lon", 139.0)) ++ rest,
      Seq(ge("lon", 139.0), ge("lon", -170.0)) ++ rest,
      Seq(ge("lon", 139.0), le("lon", 142.0), ge("lat", -21.0), le("lat", 80.0), le("lat", -19.0)),
      Seq(ge("lon", 139.0), le("lon", 142.0), ge("lat", -21.0), le("lat", -19.0), le("lat", 80.0))))
    assertEmpty(root, direct, Seq(ge("lon", 139.0), ge("lon", 150.0)) ++ rest)
  }

  test("repeated envelope bounds route the tightest window on an extent table") {
    val root = newRoot()
    val rows = for ((c, x, y) <- clusters; i <- 0 until 20)
      yield (s"$c$i", box(x + i * 0.01, y, 0.3, 0.2))
    GeomTable.write(spark, rows.toDF("id", "geom"), root, "s1", partitions = 2)
    val direct = GeomTable.read(spark, root, "s1")
    val far = dirsOf(direct, "xz_chunk", $"minx" < 0 || $"miny" > 0)
    val (x0, x1, y0, y1) = (ge("maxx", 139.0), le("minx", 142.0), ge("maxy", -21.0), le("miny", -19.0))
    assertTight(root, direct, far, Seq(
      Seq(ge("maxx", -200.0), x0, x1, y0, y1),
      Seq(x0, ge("maxx", -200.0), x1, y0, y1),
      Seq(x0, x1, le("minx", 200.0), y0, y1),
      Seq(x0, le("minx", 200.0), x1, y0, y1),
      Seq(x0, x1, ge("maxy", -90.0), y0, le("miny", 90.0), y1),
      Seq(x0, x1, y0, ge("maxy", -90.0), y1, le("miny", 90.0))))
    assertEmpty(root, direct, Seq(x0, ge("maxx", 150.0), x1, y0, y1))
  }

  test("repeated dtg bounds prune to the tightest time bins, for Timestamp " +
    "and Date literals") {
    val month = graft.cells.BinnedTime.period("month")
    def dirOf(s: String) = s"time_bin=${graft.cells.BinnedTime.toBinned(month, ts(s).getTime).bin}/"
    val rows = (0 until 60).map { i =>
      (s"id$i", 10.0 + (i % 10) * 0.01, 20.0, ts(f"2024-${1 + i % 3}%02d-10 12:00:00"))
    }
    // one table per literal kind: a Timestamp dtg column takes Timestamp
    // bounds, a DateType one Date bounds
    val literals = Seq[(String => Any, DataFrame)](
      (ts, rows.toDF("id", "lon", "lat", "dtg")),
      (s => Date.valueOf(s.take(10)), rows.toDF("id", "lon", "lat", "t")
        .withColumn("dtg", to_date($"t")).drop("t")))
    literals.foreach { case (at, df) =>
      val root = newRoot()
      SpatialTable.writeTemporal(spark, df, root, "t1", "id", "lon", "lat", "dtg",
        period = "month", prefixRes = 3, salts = 1, partitions = 2)
      val direct = SpatialTable.read(spark, root, "t1")
      val far = Set(dirOf("2024-01-10 00:00:00"), dirOf("2024-03-10 00:00:00"))
      // bounds route inclusively, strict ones too: every upper bound here
      // lies inside February, so only February's bin may be listed
      val (jan, feb, febEnd, feb29, dec) = (ge("dtg", at("2024-01-01 00:00:00")),
        ge("dtg", at("2024-02-01 00:00:00")), le("dtg", at("2024-02-28 00:00:00")),
        lt("dtg", at("2024-02-29 00:00:00")), le("dtg", at("2024-12-01 00:00:00")))
      assertTight(root, direct, far, Seq(
        Seq(jan, feb, feb29), Seq(feb, jan, feb29), Seq(feb, dec, febEnd), Seq(feb, febEnd, dec)))
      assertEmpty(root, direct, Seq(feb, ge("dtg", at("2024-03-01 00:00:00")), febEnd))
    }
  }

  test("an indexed equality on a point table reads only the index layout") {
    val root = newRoot()
    val rows = (0 until 60).map(i => (s"p$i", s"n${i % 6}", -10.0 + i, (i % 20) - 10.0))
    SpatialTable.write(spark, rows.toDF("id", "name", "lon", "lat"), root, "s1", "id", "lon", "lat",
      res = 9, prefixRes = 3, salts = 1, partitions = 2)
    SpatialTable.writeAttributeIndex(spark, root, "s1", "name", buckets = 4)
    val (got, files) = scan(root, Seq((EqualTo("name", "n2"), $"name" === "n2")))
    assert(files.nonEmpty && files.forall(_.contains("/index_name/")),
      s"equality must route through the attribute layout: $files")
    val want = ids(SpatialTable.read(spark, root, "s1").where($"name" === "n2"))
    assert(got == want && want.size == 10)
    assert(ids(spark.read.format("graft").load(root).where($"name" === "n2")) == want)
  }

  test("pushed dtg bounds prune time_bin directories on a temporal extent table") {
    val root = newRoot()
    val rows = (0 until 30).map { i =>
      (s"g$i", box(10.0 + i * 0.01, 20.0, 0.2, 0.2), ts(f"2024-${1 + i % 3}%02d-10 12:00:00"))
    }
    GeomTable.write(spark, rows.toDF("id", "geom", "dtg"), root, "s1", dtgCol = Some("dtg"),
      period = "month", partitions = 2)
    val bounds = Seq(ge("dtg", ts("2024-02-01 00:00:00")), lt("dtg", ts("2024-02-29 00:00:00")))
    val (got, files) = scan(root, bounds)
    val feb = graft.cells.BinnedTime.toBinned(graft.cells.BinnedTime.period("month"),
      ts("2024-02-10 12:00:00").getTime).bin
    assert(files.nonEmpty && files.forall(_.contains(s"/time_bin=$feb/")), files.mkString("\n"))
    val pred = bounds.map(_._2).reduce(_ && _)
    val want = ids(GeomTable.read(spark, root, "s1").where(pred))
    assert(got == want && want.size == 10)
    assert(ids(spark.read.format("graft").load(root).where(pred)) == want)
  }

  // ---- seeded differential: the front door against the direct read ------

  private lazy val fixtures: Seq[Fixture] = {
    val rnd = new scala.util.Random(20261017L)
    val t0 = ts("2024-01-01 00:00:00").getTime
    val rows = (0 until 300).map { i =>
      (s"r$i", s"n${rnd.nextInt(6)}", rnd.nextInt(100), rnd.nextDouble() * 120 - 60,
        rnd.nextDouble() * 80 - 40, rnd.nextDouble() * 3, rnd.nextDouble() * 3,
        new Timestamp(t0 + (rnd.nextDouble() * 180 * 86400000L).toLong))
    }
    val points = rows.map { case (id, n, s, x, y, _, _, t) => (id, n, s, x, y, t) }
      .toDF("id", "name", "score", "lon", "lat", "dtg")
    val extents = rows.map { case (id, n, s, x, y, w, h, t) => (id, n, s, box(x, y, w, h), t) }
      .toDF("id", "name", "score", "geom", "dtg")
    def point(name: String, temporal: Boolean) = {
      val r = newRoot()
      if (temporal) SpatialTable.writeTemporal(spark, points, r, "s1", "id", "lon", "lat", "dtg",
        period = "month", prefixRes = 2, salts = 1, partitions = 2)
      else SpatialTable.write(spark, points, r, "s1", "id", "lon", "lat",
        prefixRes = 2, salts = 1, partitions = 2)
      SpatialTable.writeAttributeIndex(spark, r, "s1", "name", buckets = 4)
      Fixture(name, r, SpatialTable.read(spark, r, "s1").cache(), point = true, temporal)
    }
    // the temporal extent table stores its dtg as a DATE, so Date
    // literals push down on it and Timestamp ones do not
    def extent(name: String, temporal: Boolean) = {
      val r = newRoot()
      if (temporal) GeomTable.write(spark, extents.withColumn("dtg", to_date($"dtg")), r, "s1",
        dtgCol = Some("dtg"), period = "month", partitions = 2, chunkRes = 3)
      else GeomTable.write(spark, extents, r, "s1", partitions = 2, chunkRes = 3)
      GeomTable.writeAttributeIndex(spark, r, "s1", "name", buckets = 4)
      Fixture(name, r, GeomTable.read(spark, r, "s1").cache(), point = false, temporal)
    }
    Seq(point("points", temporal = false), point("points-temporal", temporal = true),
      extent("extents", temporal = false), extent("extents-temporal", temporal = true))
  }

  /** A random conjunction over a fixture's columns. */
  private def conjunction(rnd: scala.util.Random, f: Fixture): Column = {
    def pick[T](xs: T*): T = xs(rnd.nextInt(xs.size))
    def lower(c: String, v: Double) = if (rnd.nextBoolean()) col(c) > v else col(c) >= v
    def upper(c: String, v: Double) = if (rnd.nextBoolean()) col(c) < v else col(c) <= v
    def span(lo: Double, hi: Double) = {
      val a = lo + rnd.nextDouble() * (hi - lo)
      // a negative width now and then: a contradictory window
      (a, a + (rnd.nextDouble() * 0.6 - 0.05) * (hi - lo))
    }
    // a window on the routed columns, with a repeated looser bound
    // mixed in on either side now and then
    def window: Seq[Column] = {
      val (x0, x1) = span(-70, 70)
      val (y0, y1) = span(-45, 45)
      val (lx, hx, ly, hy) =
        if (f.point) ("lon", "lon", "lat", "lat") else ("maxx", "minx", "maxy", "miny")
      val core = Seq(lower(lx, x0), upper(hx, x1), lower(ly, y0), upper(hy, y1))
      val extra = Seq(lower(lx, x0 - 10), upper(hx, x1 + 10), lower(ly, y0 - 5), upper(hy, y1 + 5))
        .filter(_ => rnd.nextInt(3) == 0)
      rnd.shuffle(core.take(if (rnd.nextInt(5) == 0) 3 else 4) ++ extra)
    }
    def dtgBounds: Seq[Column] = {
      val day = 86400000L
      val t0 = ts("2024-01-01 00:00:00").getTime
      def at(ms: Long): Any =
        if (rnd.nextBoolean()) new Timestamp(ms) else new Date(ms)
      val a = t0 + rnd.nextInt(180) * day
      val b = a + (rnd.nextInt(90) - 10) * day
      val sides = pick(Seq(true, true), Seq(true, false), Seq(false, true))
      (if (sides.head) Seq(if (rnd.nextBoolean()) col("dtg") >= lit(at(a)) else col("dtg") > lit(at(a)))
       else Nil) ++
        (if (sides(1)) Seq(if (rnd.nextBoolean()) col("dtg") <= lit(at(b)) else col("dtg") < lit(at(b)))
         else Nil) ++
        (if (rnd.nextInt(3) == 0) Seq(col("dtg") >= lit(at(a - 40 * day))) else Nil)
    }
    def attr: Column = pick(
      col("name") === s"n${rnd.nextInt(7)}",
      col("score") === rnd.nextInt(100),
      col("name").isin((0 until 1 + rnd.nextInt(3)).map(_ => s"n${rnd.nextInt(7)}"): _*),
      col("score").isin((0 until 1 + rnd.nextInt(5)).map(_ => rnd.nextInt(100)): _*),
      col("score") < rnd.nextInt(100))
    val parts =
      (if (rnd.nextInt(4) != 0) window else Nil) ++
        (if (f.temporal && rnd.nextBoolean()) dtgBounds else Nil) ++
        (if (rnd.nextBoolean()) Seq(attr) else Nil) ++
        (if (rnd.nextInt(4) == 0) Seq(attr) else Nil)
    rnd.shuffle(if (parts.isEmpty) Seq(attr) else parts).reduce(_ && _)
  }

  test("seeded differential: 300 random conjunctions through format(\"graft\") " +
    "equal the same predicate over the direct read, on all four table shapes") {
    val rnd = new scala.util.Random(424242L)
    val results = (0 until 300).map { i =>
      val f = fixtures(i % fixtures.size)
      val pred = conjunction(rnd, f)
      val got = ids(spark.read.format("graft").load(f.root).where(pred))
      val want = ids(f.direct.where(pred))
      assert(got == want, s"${f.name}: $pred\nformat: $got\ndirect: $want")
      want.nonEmpty
    }
    // the draw must exercise non-empty answers, not only empty ones
    assert(results.count(identity) > 100, s"${results.count(identity)} non-empty answers")
  }
}

object GraftRelationSpec {
  /** One differential table: its root and the slow-path frame. */
  private final case class Fixture(name: String, root: String, direct: DataFrame,
                                   point: Boolean, temporal: Boolean)
}
