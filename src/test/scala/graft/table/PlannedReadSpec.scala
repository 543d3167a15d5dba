package graft.table

import java.sql.Timestamp

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.datasources.FileScanRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest
import graft.functions.StFunctions
import graft.geom.GeomOps
import graft.plans.{Cql, StrategyDecider}

/**
 * The one cost-planned read, on both table kinds: every strategy answers
 * the snapshot's read columns, extent tables route through their index
 * layouts, and a seeded differential holds every planned answer to the
 * same CQL over the full scan.
 */
class PlannedReadSpec extends AnyFunSuite with SparkTest {

  import PlannedReadSpec.Fixture
  import spark.implicits._

  private def newRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-planned").toString

  private def box(x: Double, y: Double, w: Double, h: Double): Array[Byte] =
    GeomOps.toWkb(new org.locationtech.jts.io.WKTReader().read(
      s"POLYGON(($x $y, ${x + w} $y, ${x + w} ${y + h}, $x ${y + h}, $x $y))"))

  private def ids(df: DataFrame): Seq[String] = df.select("id").as[String].collect().toSeq.sorted

  /** The data files a frame's scan lists (the FileScanRDDs under it). */
  private def files(df: DataFrame): Set[String] = {
    def of(r: RDD[_]): Seq[String] = r match {
      case f: FileScanRDD => f.filePartitions.flatMap(_.files.map(_.urlEncodedPath))
      case other => other.dependencies.flatMap(d => of(d.rdd))
    }
    of(df.rdd).toSet
  }

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private val day = 86400000L
  private val n = 320

  /** Four tables over the same rows — point and extent, each plain and
    * temporal — each with a `name` attribute index and an id index. */
  private lazy val fixtures: Seq[Fixture] = {
    val rnd = new scala.util.Random(20261018L)
    val rows = (0 until n).map { i =>
      (s"r$i", s"n${rnd.nextInt(8)}", rnd.nextInt(100), rnd.nextDouble() * 120 - 60,
        rnd.nextDouble() * 80 - 40, rnd.nextDouble() * 3, rnd.nextDouble() * 3,
        new Timestamp(t0 + (rnd.nextDouble() * 120 * day).toLong))
    }
    val points = rows.map { case (id, nm, s, x, y, _, _, t) => (id, nm, s, x, y, t) }
      .toDF("id", "name", "score", "lon", "lat", "dtg")
    val extents = rows.map { case (id, nm, s, x, y, w, h, t) => (id, nm, s, box(x, y, w, h), t) }
      .toDF("id", "name", "score", "geom", "dtg")
    def point(name: String, temporal: Boolean) = {
      val r = newRoot()
      if (temporal) SpatialTable.writeTemporal(spark, points, r, "s1", "id", "lon", "lat", "dtg",
        period = "month", prefixRes = 2, salts = 1, partitions = 2)
      else SpatialTable.write(spark, points, r, "s1", "id", "lon", "lat",
        prefixRes = 2, salts = 1, partitions = 2)
      SpatialTable.writeAttributeIndex(spark, r, "s1", "name", buckets = 4)
      SpatialTable.writeIdIndex(spark, r, "s1", "id", buckets = 4)
      val read = SpatialTable.read(spark, r, "s1").cache()
      Fixture(name, r, read, Map("geom" -> StFunctions.fn("st_makePoint")(col("lon"), col("lat"))),
        point = true, SpatialTable.queryPlanned(spark, r, "s1", _),
        SpatialTable.queryCql(spark, r, "s1", _))
    }
    def extent(name: String, temporal: Boolean) = {
      val r = newRoot()
      GeomTable.write(spark, extents, r, "s1", dtgCol = if (temporal) Some("dtg") else None,
        period = "month", partitions = 2, chunkRes = 3)
      GeomTable.writeAttributeIndex(spark, r, "s1", "name", buckets = 4)
      GeomTable.writeIdIndex(spark, r, "s1", "id", buckets = 4)
      Fixture(name, r, GeomTable.read(spark, r, "s1").cache(), Map("geom" -> col("geom")),
        point = false, GeomTable.queryPlanned(spark, r, "s1", _),
        GeomTable.queryCql(spark, r, "s1", _))
    }
    Seq(point("points", temporal = false), point("points-temporal", temporal = true),
      extent("extents", temporal = false), extent("extents-temporal", temporal = true))
  }

  private def strategy(cql: String): String =
    StrategyDecider.decide(cql, "id", Set("name"), hasIdIndex = true).strategy match {
      case _: StrategyDecider.IdLookup => "IdLookup"
      case _: StrategyDecider.AttrEquals => "AttrEquals"
      case _: StrategyDecider.AttrRange => "AttrRange"
      case StrategyDecider.ZScan => "ZScan"
    }

  private val during = "dtg DURING 2024-01-20T00:00:00Z/2024-03-10T00:00:00Z"
  private val bbox = "BBOX(geom, -30, -20, 30, 20)"

  test("every planned route answers the snapshot's read columns, on both kinds") {
    val routes = Seq(
      "IdLookup" -> "id IN ('r1', 'r2', 'r3') AND score < 90",
      "AttrEquals" -> s"name = 'n1' AND $bbox",
      "AttrRange" -> "name BETWEEN 'n2' AND 'n4'",
      "ZScan" -> s"$bbox AND $during AND name BETWEEN 'n2' AND 'n4'")
    fixtures.foreach { f =>
      routes.foreach { case (want, cql) =>
        assert(strategy(cql) == want, cql)
        val planned = f.planned(cql)
        val full = f.cql(cql)
        assert(planned.schema == full.schema, s"${f.name} $want:\n${planned.schema}\n${full.schema}")
        assert(ids(planned) == ids(full) && ids(full).nonEmpty, s"${f.name}: $cql")
      }
    }
  }

  test("an extent table's planned read lists only the index layout it routes to") {
    val f = fixtures.find(_.name == "extents").get
    val byName = f.planned(s"name = 'n3' AND $bbox")
    assert(files(byName).nonEmpty && files(byName).forall(_.contains("/index_name/")),
      files(byName).mkString("\n"))
    assert(ids(byName) == ids(Cql.filter(f.direct, s"name = 'n3' AND $bbox", f.props)))
    val byId = f.planned("id IN ('r5', 'r17', 'r300', 'missing')")
    assert(files(byId).nonEmpty && files(byId).forall(_.contains("/index_id/")),
      files(byId).mkString("\n"))
    assert(ids(byId) == Seq("r17", "r300", "r5"))
  }

  /** A random CQL conjunction over a fixture's columns. */
  private def conjunction(rnd: scala.util.Random): String = {
    def pick[T](xs: T*): T = xs(rnd.nextInt(xs.size))
    def name = s"'n${rnd.nextInt(9)}'"
    def idList(k: Int) = (0 until k).map(_ => s"'r${rnd.nextInt(n + 20)}'").mkString(", ")
    def window = {
      val (x, y) = (rnd.nextDouble() * 100 - 50, rnd.nextDouble() * 60 - 30)
      f"BBOX(geom, $x%.3f, $y%.3f, ${x + 5 + rnd.nextDouble() * 40}%.3f, ${y + 5 + rnd.nextDouble() * 30}%.3f)"
    }
    def interval = {
      val a = t0 + rnd.nextInt(110) * day
      def iso(ms: Long) = java.time.Instant.ofEpochMilli(ms).toString
      s"dtg DURING ${iso(a)}/${iso(a + (1 + rnd.nextInt(40)) * day)}"
    }
    def attr = pick(
      s"name = $name",
      s"name IN (${(0 until 1 + rnd.nextInt(3)).map(_ => name).mkString(", ")})",
      s"name BETWEEN 'n${rnd.nextInt(4)}' AND 'n${4 + rnd.nextInt(5)}'",
      s"score < ${rnd.nextInt(100)}")
    def orGroup = s"(${attr} OR score > ${50 + rnd.nextInt(50)})"
    val idDraw = rnd.nextInt(6) match {
      case 0 => Seq(s"id IN (${idList(1 + rnd.nextInt(12))})")
      case 1 => Seq(s"id IN (${idList(257 + rnd.nextInt(60))})")
      case _ => Nil
    }
    val parts = idDraw ++
      (if (rnd.nextInt(3) != 0) Seq(window) else Nil) ++
      (if (rnd.nextBoolean()) Seq(interval) else Nil) ++
      (if (rnd.nextInt(3) != 0) Seq(attr) else Nil) ++
      (if (rnd.nextInt(4) == 0) Seq(orGroup) else Nil)
    rnd.shuffle(if (parts.isEmpty) Seq(attr) else parts).mkString(" AND ")
  }

  test("seeded differential: 300 planned reads equal the same CQL over the full scan, " +
    "with every strategy exercised on both kinds") {
    val rnd = new scala.util.Random(7177L)
    val used = (0 until 300).map { i =>
      val f = fixtures(i % fixtures.size)
      val cql = conjunction(rnd)
      val planned = f.planned(cql)
      val want = Cql.filter(f.direct, cql, f.props)
      assert(planned.schema == want.schema, s"${f.name}: $cql")
      val got = ids(planned)
      assert(got == ids(want), s"${f.name}: $cql")
      (f.point, strategy(cql), got.nonEmpty, cql.count(_ == ',') > 256)
    }
    // the id-index semi-join behind the literal limit is reached
    assert(used.exists(u => u._2 == "IdLookup" && u._4))
    Seq(true, false).foreach { point =>
      val kind = used.filter(_._1 == point)
      assert(kind.map(_._2).toSet == Set("IdLookup", "AttrEquals", "AttrRange", "ZScan"),
        kind.groupBy(_._2).map { case (s, xs) => s -> xs.size })
    }
    assert(used.count(_._3) > 100, s"${used.count(_._3)} non-empty answers")
  }
}

object PlannedReadSpec {
  /** One differential table: its slow-path frame and `geom` mapping, and
    * its kind's planned and full-scan CQL entry points. */
  private final case class Fixture(name: String, root: String, direct: DataFrame,
                                   props: Map[String, Column], point: Boolean,
                                   planned: String => DataFrame, cql: String => DataFrame)
}
