package graft.table

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.SparkTest
import graft.geom.GeomOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.locationtech.jts.io.WKTReader
import org.scalatest.funsuite.AnyFunSuite

/**
 * The shared snapshot-store core ([[Snapshots]]) behind both table kinds:
 * the on-disk format it writes for point and extent tables (pinned field
 * by field), the atomic put, the per-snapshot artifact list expiry
 * deletes, and the id-index probe's native typing.
 */
class SnapshotStoreSpec extends AnyFunSuite with SparkTest {

  import spark.implicits._

  private val mapper = new ObjectMapper()
  private def newRoot(): String = Files.createTempDirectory("graft-store").toString
  private def text(path: String): String =
    new String(Files.readAllBytes(new File(path).toPath), "UTF-8")
  private def json(path: String): JsonNode = mapper.readTree(text(path))
  private def fieldNames(n: JsonNode): Set[String] = n.fieldNames().asScala.toSet

  private def writeViaHadoop(path: String, content: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
    out.write(content.getBytes("UTF-8")); out.close()
  }

  /** Every file and directory under `root`. */
  private def walk(root: String): Seq[File] = {
    def go(f: File): Seq[File] =
      f +: Option(f.listFiles()).toSeq.flatten.flatMap(go)
    go(new File(root)).tail
  }

  private def tempFiles(root: String): Seq[String] =
    walk(root).map(_.getName).filter(n => n.endsWith(".tmp") || n.endsWith(".tmp.crc"))

  private val t0 = java.sql.Timestamp.valueOf("2020-01-15 00:00:00").getTime
  private val day = 86400000L

  /** Two far-apart clusters over three months. */
  private def points: DataFrame =
    (0 until 40).map { i =>
      val west = i < 20
      (s"p$i", if (west) "west" else "east", i.toLong,
        if (west) -120.0 + i * 0.01 else 140.0 + i * 0.01, if (west) 35.0 else -20.0,
        new java.sql.Timestamp(t0 + (i % 3) * 31 * day))
    }.toDF("id", "name", "age", "lon", "lat", "dtg")

  private val reader = new WKTReader()
  private def box(x: Double, y: Double): Array[Byte] = GeomOps.toWkb(reader.read(
    s"POLYGON(($x $y, ${x + 0.3} $y, ${x + 0.3} ${y + 0.2}, $x ${y + 0.2}, $x $y))"))

  private def extents: DataFrame =
    points.collect().toSeq.map(r => (r.getString(0), r.getString(1), r.getLong(2),
      box(r.getDouble(3), r.getDouble(4)), r.getTimestamp(5)))
      .toDF("id", "name", "age", "geom", "dtg")

  // the format the engine has always written (pinned against the
  // pre-core writers): top-level manifest fields, partition-entry
  // fields, sources-key shapes, index marker text, sidecar shape
  private val pointTop = Set("snapshot", "res", "prefix_res", "salts", "schema", "partitions")
  private val extentTop = Set("snapshot", "res", "chunk_res", "period", "geom", "schema",
    "partitions")

  private def assertFormat(root: String, top: Set[String], entry: Set[String],
                           temporal: Boolean, marker: String): Unit = {
    val s1 = json(s"$root/_manifests/s1.json")
    val s2 = json(s"$root/_manifests/s2.json")
    assert(fieldNames(s1) == top)
    assert(fieldNames(s2) == top + "sources", "a scoped snapshot adds only `sources`")
    for (m <- Seq(s1, s2); e <- m.get("partitions").elements().asScala)
      assert(fieldNames(e) == entry)
    val keyShape = if (temporal) "^\\d+/-?\\d+$" else "^-?\\d+$"
    val sources = s2.get("sources").properties().asScala.toSeq
    assert(sources.nonEmpty)
    sources.foreach { e =>
      assert(e.getKey.matches(keyShape), s"sources key ${e.getKey}")
      assert(Set("s1", "s2").contains(e.getValue.asText))
    }
    assert(sources.exists(_.getValue.asText == "s1"), "untouched partitions inherit by reference")
    for (id <- Seq("s1", "s2"))
      assert(text(s"$root/_manifests/$id.attr_name.committed") == marker)
    val sidecar = json(s"$root/_manifests/s2.attr_name.sources")
    assert(fieldNames(sidecar) == Set("sources"))
    sidecar.get("sources").properties().asScala.foreach { e =>
      assert(e.getKey.matches("^\\d+$") && Set("s1", "s2").contains(e.getValue.asText))
    }
    assert(text(s"$root/_manifests/s2.committed").isEmpty)
    assert(json(s"$root/_stats/s2.json").get("snapshot").asText == "s2")
    assert(tempFiles(root).isEmpty, s"temp files left: ${tempFiles(root)}")
  }

  test("point tables keep their on-disk format: plain and temporal manifests, " +
    "sources keys, index markers (with tier) and sidecars") {
    val plain = newRoot()
    SpatialTable.write(spark, points.drop("dtg"), plain, "s1", "id", "lon", "lat",
      res = 9, prefixRes = 3, salts = 2, partitions = 4)
    SpatialTable.writeAttributeIndex(spark, plain, "s1", "name")
    TableStats.collect(spark, plain, "s1", Seq("name"))
    SpatialTable.updateWhere(spark, plain, "s1", "s2", "name = 'west'", Map("age" -> lit(-1L)))
    assertFormat(plain, pointTop, Set("cell_prefix", "rows", "min_cell", "max_cell"),
      temporal = false, marker = "16")

    val temporal = newRoot()
    SpatialTable.writeTemporal(spark, points, temporal, "s1", "id", "lon", "lat", "dtg",
      period = "month", res = 9, prefixRes = 3, salts = 2, partitions = 4)
    SpatialTable.writeAttributeIndex(spark, temporal, "s1", "name", buckets = 8,
      tierCol = Some("dtg"))
    TableStats.collect(spark, temporal, "s1", Seq("name"))
    SpatialTable.deleteWhere(spark, temporal, "s1", "s2", "name = 'west' AND age < 5")
    assertFormat(temporal, pointTop ++ Set("period", "dtg"),
      Set("time_bin", "cell_prefix", "rows", "min_cell", "max_cell"),
      temporal = true, marker = "8\ndtg")
    assert(SpatialTable.read(spark, temporal, "s2").count() == 35)
  }

  test("extent tables keep their on-disk format and never write prefix_res " +
    "(format(\"graft\") routes on it)") {
    val plain = newRoot()
    GeomTable.write(spark, extents.drop("dtg"), plain, "s1", partitions = 4)
    GeomTable.writeAttributeIndex(spark, plain, "s1", "name")
    TableStats.collectGeom(spark, plain, "s1", Seq("name"))
    GeomTable.updateWhere(spark, plain, "s1", "s2", "name = 'west'", Map("age" -> lit(-1L)))
    assertFormat(plain, extentTop, Set("xz_chunk", "rows"), temporal = false, marker = "16")

    val temporal = newRoot()
    GeomTable.write(spark, extents, temporal, "s1", dtgCol = Some("dtg"), period = "month",
      partitions = 4)
    GeomTable.writeAttributeIndex(spark, temporal, "s1", "name")
    TableStats.collectGeom(spark, temporal, "s1", Seq("name"))
    GeomTable.deleteWhere(spark, temporal, "s1", "s2", "name = 'west' AND age < 5")
    assertFormat(temporal, extentTop + "dtg", Set("time_bin", "xz_chunk", "rows"),
      temporal = true, marker = "16")
    assert(GeomTable.read(spark, temporal, "s2").count() == 35)
    for (root <- Seq(plain, temporal))
      assert(spark.read.format("graft").option("snapshot", "s2").load(root)
        .columns.contains("xz_chunk"), "extent roots still route to the extent relation")
  }

  test("a crashed put's temp file is invisible to listing, latest and reads; " +
    "upgradeManifest leaves a parsable manifest and no temp file") {
    val root = newRoot()
    SpatialTable.writeTemporal(spark, points, root, "s1", "id", "lon", "lat", "dtg",
      period = "month", res = 9, prefixRes = 3, salts = 1, partitions = 2)
    // leftovers of crashed puts: a new snapshot's manifest and marker,
    // and a truncated overwrite of the committed manifest
    writeViaHadoop(s"$root/_manifests/.s2.json.tmp", """{"snapshot":"s2","re""")
    writeViaHadoop(s"$root/_manifests/.s2.committed.tmp", "")
    writeViaHadoop(s"$root/_manifests/.s1.json.tmp", """{"snap""")
    assert(SpatialTable.snapshots(spark, root) == Seq("s1"))
    assert(SpatialTable.latestSnapshot(spark, root).contains("s1"))
    assert(SpatialTable.read(spark, root, "s1").count() == 40)
    assert(spark.read.format("graft").load(root).count() == 40)

    // forge the legacy (pre-partitions) temporal manifest, then upgrade it
    val clean = newRoot()
    SpatialTable.writeTemporal(spark, points, clean, "s1", "id", "lon", "lat", "dtg",
      period = "month", res = 9, prefixRes = 3, salts = 1, partitions = 2)
    val node = json(s"$clean/_manifests/s1.json")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.remove("partitions")
    writeViaHadoop(s"$clean/_manifests/s1.json", mapper.writeValueAsString(node))
    assert(SpatialTable.upgradeManifest(spark, clean, "s1"))
    assert(SpatialTable.manifestInfo(spark, clean, "s1").tpartitions.values.sum == 40)
    assert(tempFiles(clean).isEmpty, s"temp files left: ${tempFiles(clean)}")
  }

  /** Nothing under the root may be named for an expired snapshot. */
  private def assertGone(root: String, expired: Seq[String]): Unit = {
    assert(expired.nonEmpty)
    val leftovers = walk(root).map(f => f.getPath.stripPrefix(root)).filter { p =>
      val n = new File(p).getName
      expired.exists(id => n == s"snapshot=$id" || n.startsWith(s"$id.") ||
        n.startsWith(s".$id.") || n.startsWith(s"..$id."))
    }
    assert(leftovers.isEmpty, s"artifacts of expired $expired remain: $leftovers")
  }

  private def plantTemps(root: String): Unit = {
    writeViaHadoop(s"$root/_manifests/.s1.json.tmp", "{")
    writeViaHadoop(s"$root/_stats/.s2.json.tmp", "{")
  }

  test("expiry deletes every artifact of a point snapshot: data, metrics, stats, " +
    "index layouts, markers, sidecars and temp files") {
    val root = newRoot()
    SpatialTable.write(spark, points.drop("dtg"), root, "s1", "id", "lon", "lat",
      res = 9, prefixRes = 3, salts = 2, partitions = 4)
    SpatialTable.writeAttributeIndex(spark, root, "s1", "name")
    SpatialTable.writeIdIndex(spark, root, "s1", "id")
    TableStats.collect(spark, root, "s1", Seq("name"))
    SpatialTable.updateWhere(spark, root, "s1", "s2", "name = 'west'", Map("age" -> lit(-1L)))
    SpatialTable.rewrite(spark, root, "s2", "s3", identity)
    SpatialTable.deleteWhere(spark, root, "s3", "s4", "name = 'east' AND age < 25")
    plantTemps(root)
    val expired = SpatialTable.expireSnapshots(spark, root, Seq("s4"))
    assert(expired == Seq("s1", "s2"))
    assertGone(root, expired)
    assert(SpatialTable.read(spark, root, "s4").count() == 35)
    assert(SpatialTable.readByIds(spark, root, "s4", "id", Seq("p1", "p30")).count() == 2)
  }

  test("expiry deletes every artifact of an extent snapshot through the same list") {
    val root = newRoot()
    GeomTable.write(spark, extents.drop("dtg"), root, "s1", partitions = 4)
    GeomTable.writeAttributeIndex(spark, root, "s1", "name")
    TableStats.collectGeom(spark, root, "s1", Seq("name"))
    GeomTable.updateWhere(spark, root, "s1", "s2", "name = 'west'", Map("age" -> lit(-1L)))
    GeomTable.rewrite(spark, root, "s2", "s3", identity)
    GeomTable.deleteWhere(spark, root, "s3", "s4", "name = 'east' AND age < 25")
    plantTemps(root)
    val expired = GeomTable.expireSnapshots(spark, root, Seq("s4"))
    assert(expired == Seq("s1", "s2"))
    assertGone(root, expired)
    assert(GeomTable.read(spark, root, "s4").count() == 35)
    assert(GeomTable.readByAttribute(spark, root, "s4", "name", "west").count() == 20)
  }

  test("readByIds above the literal limit probes with the id column's own type: " +
    "binary ids match the chunked literal path") {
    val root = newRoot()
    def idOf(i: Int): Array[Byte] = Array(i.toByte, (i >> 8).toByte, 7.toByte)
    val df = (0 until 400).map(i => (idOf(i), s"n$i", -120.0 + i * 0.001, 35.0))
      .toDF("id", "name", "lon", "lat")
    SpatialTable.write(spark, df, root, "s1", "id", "lon", "lat",
      res = 9, prefixRes = 3, salts = 2, partitions = 4)
    SpatialTable.writeIdIndex(spark, root, "s1", "id")
    val ids = (0 until 300).map(idOf)
    val semiJoin = SpatialTable.readByIds(spark, root, "s1", "id", ids)
      .select("name").as[String].collect().toSet
    val literal = ids.grouped(100).flatMap { chunk =>
      SpatialTable.readByIds(spark, root, "s1", "id", chunk).select("name").as[String].collect()
    }.toSet
    assert(literal.size == 300)
    assert(semiJoin == literal)
  }
}
