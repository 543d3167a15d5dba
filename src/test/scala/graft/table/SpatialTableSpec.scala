package graft.table

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTest
import graft.images.SyntheticImages

/** Table layer: snapshot write/read, bbox pruning correctness, idempotent
  * resume, lineage metrics (north rule: checkpoint-resumable with
  * per-partition lineage + metrics). */
class SpatialTableSpec extends AnyFunSuite with SparkTest {

  private lazy val root = {
    val d = java.nio.file.Files.createTempDirectory("graft_table").toString
    val df = SyntheticImages.geoTable(spark, 2000, partitions = 4).drop("bytes")
    SpatialTable.write(spark, df, d, "s1", "image_id", "lon", "lat",
      res = 9, prefixRes = 3, salts = 4, partitions = 8)
    d
  }

  test("write -> read round-trips all rows with index columns") {
    val back = SpatialTable.read(spark, root, "s1")
    assert(back.count() == 2000)
    assert(back.columns.toSet.contains("cell") && back.columns.toSet.contains("salt"))
    assert(back.select("cell_prefix").distinct().count() > 1)
  }

  test("schema evolution: a later snapshot adds an attribute; old rows read " +
    "null for it and only committed snapshots are visible (AlterSchemaTest)") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_alter").toString
    val v1 = Seq(("f1", 51.0, 50.0), ("f2", 52.0, 50.0)).toDF("id", "lon", "lat")
    SpatialTable.write(spark, v1, d, "v1", "id", "lon", "lat",
      res = 9, prefixRes = 3, salts = 1, partitions = 1)
    // the alter: subsequent writes carry attr1
    val v2 = Seq(("f3", 53.0, 50.0, "1")).toDF("id", "lon", "lat", "attr1")
    SpatialTable.write(spark, v2, d, "v2", "id", "lon", "lat",
      res = 9, prefixRes = 3, salts = 1, partitions = 1)
    // an uncommitted snapshot directory (a crashed write: same layout,
    // no commit marker) must stay invisible
    val stray = new java.io.File(s"$d/data/snapshot=stray"); stray.mkdirs()
    Seq(("f9", 0.0, 0.0, "x")).toDF("id", "lon", "lat", "attr1")
      .withColumn("cell_prefix", lit(1L))
      .write.mode("overwrite").partitionBy("cell_prefix").parquet(stray.getAbsolutePath)

    val all = SpatialTable.readAll(spark, d)
    val rows = all.select("id", "attr1").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(rows == Map("f1" -> None, "f2" -> None, "f3" -> Some("1")))
    // transforms over the evolved view, reference-style id IN query
    val q = graft.plans.Cql.filter(all, "IN ('f1', 'f3')").select("id", "attr1")
      .collect().sortBy(_.getString(0)).map(r => (r.getString(0), Option(r.getString(1))))
    assert(q.toSeq == Seq(("f1", None), ("f3", Some("1"))))
  }

  test("config-driven layouts: geomesa.indices.enabled picks layouts, " +
    "geomesa.z.splits picks the shard count (ConfigurableIndexes/ConfigureShards)") {
    import spark.implicits._
    val df = (0 until 100).map(i => (s"f-$i", (i % 36) * 10.0 - 175.0, (i % 17) * 10.0 - 80.0,
      s"name-${i % 7}")).toDF("id", "lon", "lat", "name")

    // enabled='z3' -> primary only, no secondary layouts; z.splits='8' -> 8 shards
    val d1 = java.nio.file.Files.createTempDirectory("graft_cfg1").toString
    val sft1 = Sft.parse("t1",
      "id:String,name:String:index=true,*geom:Point:srid=4326;geomesa.indices.enabled='z3',geomesa.z.splits='8'")
    SpatialTable.writeConfigured(spark, df, d1, "s", sft1, "id", "lon", "lat",
      res = 9, prefixRes = 3, partitions = 2)
    assert(SpatialTable.read(spark, d1, "s").select("salt").distinct().count() == 8)
    assert(!new java.io.File(s"$d1/index_name").exists())
    assert(!new java.io.File(s"$d1/index_id").exists())

    // no user data -> all layouts: attribute index for 'name', id index
    val d2 = java.nio.file.Files.createTempDirectory("graft_cfg2").toString
    val sft2 = Sft.parse("t2", "id:String,name:String:index=true,*geom:Point:srid=4326")
    SpatialTable.writeConfigured(spark, df, d2, "s", sft2, "id", "lon", "lat",
      res = 9, prefixRes = 3, partitions = 2)
    assert(new java.io.File(s"$d2/index_name").exists())
    assert(new java.io.File(s"$d2/index_id").exists())
    assert(SpatialTable.read(spark, d2, "s").select("salt").distinct().count() == 4)
    val hit = SpatialTable.readByAttribute(spark, d2, "s", "name", "name-3")
      .select("id").collect().map(_.getString(0)).toSet
    assert(hit == (0 until 100).filter(_ % 7 == 3).map(i => s"f-$i").toSet)
  }

  test("bbox read equals brute-force filter (pruning is sound)") {
    val bbox = (-80.0, 30.0, -70.0, 45.0) // includes the NYC hotspot
    val pruned = SpatialTable.readBBox(spark, root, "s1", bbox)
      .select("image_id").collect().map(_.getString(0)).toSet
    val brute = SpatialTable.read(spark, root, "s1")
      .where(col("lon").between(bbox._1, bbox._3) && col("lat").between(bbox._2, bbox._4))
      .select("image_id").collect().map(_.getString(0)).toSet
    assert(pruned == brute)
    assert(brute.nonEmpty)
  }

  test("high prefixRes + near-world bbox: pruning is SKIPPED, not silently wrong") {
    // at prefixRes 8 a world-sized bbox needs 65536 prefix cells > the
    // 4096 cap; coverBBox would coarsen and the coarse cells (packed at
    // a lower res) match NO stored cell_prefix — the guard must fall
    // back to an unpruned scan instead of returning an empty result
    val d = java.nio.file.Files.createTempDirectory("graft_table_hr").toString
    val df = SyntheticImages.geoTable(spark, 500, partitions = 2).drop("bytes")
    SpatialTable.write(spark, df, d, "hr", "image_id", "lon", "lat",
      res = 12, prefixRes = 8, salts = 2, partitions = 4)
    val bbox = (-179.0, -89.0, 179.0, 89.0)
    val got = SpatialTable.readBBox(spark, d, "hr", bbox)
      .select("image_id").collect().map(_.getString(0)).toSet
    val brute = SpatialTable.read(spark, d, "hr")
      .where(col("lon").between(bbox._1, bbox._3) && col("lat").between(bbox._2, bbox._4))
      .select("image_id").collect().map(_.getString(0)).toSet
    assert(got == brute)
    assert(brute.nonEmpty)
    // a small bbox at the same prefixRes still prunes
    val small = SpatialTable.readBBox(spark, d, "hr", (-80.0, 30.0, -70.0, 45.0))
    val brute2 = SpatialTable.read(spark, d, "hr")
      .where(col("lon").between(-80.0, -70.0) && col("lat").between(30.0, 45.0))
    assert(small.count() == brute2.count())
  }

  test("bbox read scans fewer files than a full scan (partition pruning)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    def filesScanned(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collect {
        case s: FileSourceScanExec => s.metrics("numFiles").value
      }.sum
    }
    val bbox = (-80.0, 30.0, -70.0, 45.0)
    val prunedFiles = filesScanned(SpatialTable.readBBox(spark, root, "s1", bbox))
    val allFiles = filesScanned(SpatialTable.read(spark, root, "s1"))
    assert(prunedFiles < allFiles, s"pruned=$prunedFiles all=$allFiles")
  }

  test("resume: re-write with same snapshot id is a no-op") {
    val before = SpatialTable.read(spark, root, "s1").count()
    val df2 = SyntheticImages.geoTable(spark, 50, partitions = 2).drop("bytes")
    SpatialTable.write(spark, df2, root, "s1", "image_id", "lon", "lat") // ignored
    assert(SpatialTable.read(spark, root, "s1").count() == before)
    assert(SpatialTable.isCommitted(spark, root, "s1"))
  }

  test("temporal layout: readBBoxTime equals brute force and prunes time_bin dirs first") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_temporal").toString
    // 2000 rows spread over ~40 days, lon/lat decorrelated from time
    val df = (0 until 2000).map { i =>
      (i.toLong, (i * 7 % 360) - 180.0, (i * 13 % 160) - 80.0,
        new java.sql.Timestamp(1704067200000L + (i.toLong * 29 % 40) * 86400000L + i * 1234L))
    }.toDF("id", "lon", "lat", "dtg")
    SpatialTable.writeTemporal(spark, df, d, "s1", "id", "lon", "lat", "dtg",
      period = "day", res = 9, prefixRes = 2, salts = 2, partitions = 8)

    val bbox = (-60.0, -30.0, 60.0, 40.0)
    val t0 = 1704067200000L + 5L * 86400000L  // day 5
    val t1 = 1704067200000L + 12L * 86400000L // day 12 (exclusive)
    val got = SpatialTable.readBBoxTime(spark, d, "s1", bbox, t0, t1)
      .select("id").as[Long].collect().sorted.toSeq
    val expect = df.where(col("lon").between(bbox._1, bbox._3) &&
        col("lat").between(bbox._2, bbox._4) &&
        unix_millis(col("dtg").cast("timestamp")).between(t0, t1 - 1))
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == expect && expect.nonEmpty)

    // the 7-day window over 40 days of data must scan far fewer files
    def files(q: org.apache.spark.sql.DataFrame): Long = {
      q.collect()
      q.queryExecution.executedPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value
      }.sum
    }
    val narrow = files(SpatialTable.readBBoxTime(spark, d, "s1", bbox, t0, t1))
    val all = files(SpatialTable.read(spark, d, "s1"))
    assert(narrow * 3 < all, s"time pruning ineffective: narrow=$narrow all=$all")

    // resume: idempotent re-write
    SpatialTable.writeTemporal(spark, df, d, "s1", "id", "lon", "lat", "dtg")
    assert(SpatialTable.read(spark, d, "s1").count() == 2000)
  }

  test("metrics table carries per-partition lineage") {
    val m = SpatialTable.metricsTable(spark, root)
    assert(m.columns.toSet == Set("cell_prefix", "salt", "rows", "min_cell", "max_cell", "snapshot"))
    val total = m.agg(sum("rows")).head.getLong(0)
    assert(total == 2000)
    // min_cell <= max_cell everywhere
    assert(m.where(col("min_cell") > col("max_cell")).count() == 0)
  }

  test("manifest parses back and snapshots() lists committed ids") {
    val snap = SpatialTable.manifest(spark, root, "s1")
    assert(snap.res == 9 && snap.prefixRes == 3 && snap.salts == 4)
    assert(SpatialTable.snapshots(spark, root) == Seq("s1"))
  }

  test("salting bounds per-task skew: hot prefix split across salts") {
    val m = SpatialTable.metricsTable(spark, root)
    val hot = m.groupBy("cell_prefix").agg(sum("rows").as("rows"), countDistinct("salt").as("nsalts"))
      .orderBy(desc("rows")).head
    assert(hot.getLong(2) > 1, "hot prefix not distributed over salts")
  }

  test("attribute index: equality scan equals full-scan filter and prunes buckets") {
    SpatialTable.writeAttributeIndex(spark, root, "s1", "fmt", buckets = 16)
    val full = SpatialTable.read(spark, root, "s1").where(col("fmt") === "png")
      .select("image_id").collect().map(_.getString(0)).sorted.toSeq
    val q = SpatialTable.readByAttribute(spark, root, "s1", "fmt", "png")
    val viaIdx = q.select("image_id").collect().map(_.getString(0)).sorted.toSeq
    assert(viaIdx == full && full.nonEmpty)
    // bucket-directory pruning: only fmt's hash bucket is scanned
    val scanned = q.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }.sum
    assert(scanned == 1, s"expected 1 pruned bucket, scanned $scanned")
    // range scan parity too
    val rangeFull = SpatialTable.read(spark, root, "s1")
      .where(col("w").between(100, 160)).count()
    assert(SpatialTable.readAttributeRange(spark, root, "s1", "fmt", "jpg", "png")
      .count() == SpatialTable.read(spark, root, "s1").count())
    assert(rangeFull >= 0)
    // idempotent resume
    SpatialTable.writeAttributeIndex(spark, root, "s1", "fmt", buckets = 16)
  }

  test("tiered attribute index: files sort (attr, tier, cell) and answer exactly") {
    // the reference's AttributeIndex tiering (rows are attr ++ date ++ z):
    // a tier column between the attribute and the cell gives attr-equality
    // + tier-range scans row-group min/max skipping on the tier
    val d = java.nio.file.Files.createTempDirectory("graft_tiered").toString
    val df = SyntheticImages.geoTable(spark, 1000, partitions = 4).drop("bytes")
    SpatialTable.write(spark, df, d, "s1", "image_id", "lon", "lat",
      res = 9, prefixRes = 3, salts = 2, partitions = 4)
    SpatialTable.writeAttributeIndex(spark, d, "s1", "fmt", buckets = 8,
      tierCol = Some("w"))
    // equality scan parity through the tiered layout
    val full = SpatialTable.read(spark, d, "s1").where(col("fmt") === "png")
      .select("image_id").collect().map(_.getString(0)).sorted.toSeq
    val viaIdx = SpatialTable.readByAttribute(spark, d, "s1", "fmt", "png")
      .select("image_id").collect().map(_.getString(0)).sorted.toSeq
    assert(viaIdx == full && full.nonEmpty)
    // physical ordering: within every file, rows are sorted by (fmt, w)
    val ordering = spark.read.parquet(s"$d/index_fmt/snapshot=s1")
      .select(input_file_name().as("f"), col("fmt"), col("w"))
      .collect().groupBy(_.getString(0))
    ordering.values.foreach { rows =>
      val pairs = rows.map(r => (r.getString(1), r.getInt(2))).toSeq
      assert(pairs == pairs.sorted, "file not sorted by (attr, tier)")
    }
  }

  test("id index: direct multi-id lookup equals full-scan filter and prunes buckets") {
    SpatialTable.writeIdIndex(spark, root, "s1", "image_id", buckets = 16)
    val ids = Seq("img000000007", "img000000123", "img_missing")
    val full = SpatialTable.read(spark, root, "s1").where(col("image_id").isin(ids: _*))
      .select("image_id").collect().map(_.getString(0)).sorted.toSeq
    val q = SpatialTable.readByIds(spark, root, "s1", "image_id", ids)
    val viaIdx = q.select("image_id").collect().map(_.getString(0)).sorted.toSeq
    assert(viaIdx == full && viaIdx.size == 2) // missing id matches nothing
    // bucket-directory pruning: at most one bucket per looked-up id
    val scanned = q.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }.sum
    assert(scanned >= 1 && scanned <= ids.size, s"expected <= ${ids.size} pruned buckets, scanned $scanned")
    // idempotent resume
    SpatialTable.writeIdIndex(spark, root, "s1", "image_id", buckets = 16)
  }

  test("index probe with a differently-typed literal still hashes to the right bucket") {
    // xxhash64 hashes by the literal's TYPE: probing an IntegerType
    // column with a Long value must still find the write-time bucket
    SpatialTable.writeAttributeIndex(spark, root, "s1", "w", buckets = 16)
    val some = SpatialTable.read(spark, root, "s1").select("w").head.getInt(0)
    val full = SpatialTable.read(spark, root, "s1").where(col("w") === some).count()
    val viaLong = SpatialTable.readByAttribute(spark, root, "s1", "w", some.toLong).count()
    assert(viaLong == full && full > 0, s"full=$full viaLong=$viaLong")
    val viaIds = SpatialTable.readByIds(spark, root, "s1", "w", Seq(some.toLong)).count()
    assert(viaIds == full)
  }

  test("bucketed co-located cell join: zero shuffle on either side, same answer") {
    import spark.implicits._
    def pts(seed: Int) = {
      val r = new scala.util.Random(seed)
      (0 until 3000).map(i => (i.toLong, r.nextDouble() * 80 - 40, r.nextDouble() * 80 - 40))
        .toDF("id", "lon", "lat")
    }
    SpatialTable.writeBucketed(spark, pts(1), "graft_bkt_a", "lon", "lat", res = 5, buckets = 8)
    SpatialTable.writeBucketed(spark, pts(2), "graft_bkt_b", "lon", "lat", res = 5, buckets = 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = spark.table("graft_bkt_a").select(col("id").as("a_id"), col("cell"))
      val b = spark.table("graft_bkt_b").select(col("id").as("b_id"), col("cell"))
      val j = a.join(b, "cell")
      val n = j.count()
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n${plan.take(1500)}")
      // parity vs a plain (shuffled) join on the same data
      val a2 = pts(1).withColumn("cell", expr("st_cellOfXY(lon, lat, 5)")).select(col("id").as("a_id"), col("cell"))
      val b2 = pts(2).withColumn("cell", expr("st_cellOfXY(lon, lat, 5)")).select(col("id").as("b_id"), col("cell"))
      assert(n == a2.join(b2, "cell").count() && n > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
