package graft.table

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/**
 * The snapshot-store core both table kinds call: the reference keeps one
 * index machinery into which each key space (Z3IndexKeySpace,
 * XZ2IndexKeySpace, XZ3IndexKeySpace) plugs only its key, and this is
 * graft's. It owns:
 *
 *  - the one table-kind dispatch, [[open]]: one manifest parse hands
 *    back the kind's [[Opened]] snapshot;
 *  - metadata I/O: reading and parsing a manifest once, and [[put]], the
 *    ONLY writer of a manifest, commit marker, index marker, sources
 *    sidecar or stats sidecar (temp file, then rename over the target);
 *  - the commit marker, committed-snapshot listing and `latest`;
 *  - the bucketed attribute/id index: build, marker (bucket modulus plus
 *    tier), per-bucket physical resolution, read, delta rebuild and its
 *    sources sidecar;
 *  - the scoped commit: source-row read, mover closure, partition-keyed
 *    write, sources map, cached removed/added frames, index and stats
 *    deltas, marker last — and the mutation entry points around it;
 *  - the by-reference edge set, the per-snapshot artifact list, expiry
 *    and table drop.
 *
 * A table kind supplies a [[KeySpace]]: its derived placement columns
 * and partition column (`cell_prefix` + salt + `cell` sort for points,
 * `xz_chunk` + `xz` sort for extents, `time_bin` above either on
 * temporal layouts), its extra manifest fields and its partition stats.
 * Read-side pruning stays with the kind.
 *
 * Layout contract: `<root>/_manifests/<id>.json` plus an `<id>.committed`
 * marker written LAST; index layouts under `<root>/index_<attr>/`, their
 * markers `<id>.attr_<attr>.committed` and sidecars
 * `<id>.attr_<attr>.sources` beside the manifests.
 */
private[graft] object Snapshots {

  private val mapper = new ObjectMapper()

  def fs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---- metadata I/O ----------------------------------------------------

  def readText(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in),
      java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Atomic put: write `.<name>.tmp` beside the target, then rename it
    * over the target. A crash leaves the old file or the new one —
    * never a truncated one behind a commit marker — plus at worst an
    * orphan temp file that no listing or read looks at (hidden name,
    * `.tmp` suffix) and that expiry deletes. */
  def put(spark: SparkSession, path: String, text: String): Unit = {
    val dst = new Path(path)
    val f = fs(spark, path)
    val tmp = new Path(dst.getParent, s".${dst.getName}.tmp")
    val out = f.create(tmp, true)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8)) finally out.close()
    FileContext.getFileContext(f.getUri, spark.sparkContext.hadoopConfiguration)
      .rename(f.makeQualified(tmp), f.makeQualified(dst), Options.Rename.OVERWRITE)
  }

  private def manifestPath(root: String, id: String): String = s"$root/_manifests/$id.json"
  private def markerPath(root: String, id: String) = s"$root/_manifests/$id.committed"

  /** The raw manifest JSON, read and parsed once per call site. */
  def manifestNode(spark: SparkSession, root: String, id: String): JsonNode = {
    val p = new Path(manifestPath(root, id))
    val f = fs(spark, root)
    require(f.exists(p), s"no manifest for snapshot $id under $root")
    mapper.readTree(readText(f, p))
  }

  /** A snapshot opened by [[open]]: one manifest parse serves its schema
    * and every scan. The kind supplies only its full scan, its CQL
    * `geom` mapping, its spatial window route and its partition-stats
    * estimate; everything else is shared. */
  abstract class Opened(val root: String, val parts: Parts) {
    /** The full snapshot scan. */
    def read(spark: SparkSession): DataFrame
    /** What the CQL `geom` property resolves to on `df`. */
    def geomProps(df: DataFrame): Map[String, Column]
    /** The kind's pruned read for a window of pushed bounds, given the
      * tightest (lower, upper) bound on each column; None when the
      * bounds do not form a window the kind routes on. The caller
      * re-applies the exact predicates on top. */
    def window(spark: SparkSession,
               bound: String => (Option[Double], Option[Double])): Option[DataFrame]
    /** Rows in the partitions a bbox touches, from partition stats alone. */
    def estimate(spark: SparkSession, bbox: (Double, Double, Double, Double),
                 maxCells: Int): Long

    /** `df` under a CQL filter, with the kind's `geom` mapping. */
    def filter(df: DataFrame, cql: String, idCol: String,
               props: Map[String, Column] = Map.empty): DataFrame =
      graft.plans.Cql.filter(df, cql, geomProps(df) ++ props, idCol)

    /** The cost-planned read (the reference's QueryPlanner,
      * StrategyDecider.scala:47-63): the cheapest scan the committed
      * layouts offer for the filter's conjuncts, then the rest of the
      * filter as the residual. Every route answers the read columns. */
    def planned(spark: SparkSession, cql: String, idCol: String,
                dtgCol: Option[String] = Some("dtg"),
                props: Map[String, Column] = Map.empty): DataFrame = {
      import graft.plans.StrategyDecider.{AttrEquals, AttrRange, IdLookup, ZScan}
      // only layouts with a commit marker: a crashed index write leaves
      // a directory the planner must never route through
      val indexed = indexedColumns(spark, root, parts.snapshot)
      val d = graft.plans.StrategyDecider.decide(cql, idCol, indexed.keySet - idCol,
        indexed.contains(idCol), dtgCol)
      def index(attr: String) = Index(root, parts, attr, indexed(attr))
      val base = d.strategy match {
        case IdLookup(vs) => index(idCol).lookup(spark, vs)
        // ONE scan: a per-value union would duplicate rows for repeated
        // or cast-equal values
        case AttrEquals(a, vs) => index(a).lookup(spark, vs.distinct)
        case AttrRange(a, lo, hi) => index(a).range(spark, lo, hi)
        case ZScan => read(spark)
      }
      d.residual.fold(base)(filter(base, _, idCol, props))
    }
  }

  /** The one table-kind dispatch. Extent (GeomTable) manifests never
    * carry a top-level prefix_res; point manifests always do. A
    * TOP-LEVEL field test, not a substring probe: both embed the Spark
    * schema JSON, so a user column named "prefix_res" must not misroute
    * the table. `lonCol`/`latCol` name a point table's coordinates. */
  def open(spark: SparkSession, root: String, id: String,
           lonCol: String = "lon", latCol: String = "lat"): Opened = {
    val n = manifestNode(spark, root, id)
    if (n.has("prefix_res")) SpatialTable.opened(root, n, id, lonCol, latCol)
    else GeomTable.opened(root, n, id)
  }

  def isCommitted(spark: SparkSession, root: String, id: String): Boolean =
    fs(spark, root).exists(new Path(markerPath(root, id)))

  /** The commit marker — every commit's LAST write. */
  def commit(spark: SparkSession, root: String, id: String): Unit =
    put(spark, markerPath(root, id), "")

  /** Snapshot ids present under the root, committed only: a marker
    * counts only with its matching manifest (secondary index layouts
    * commit markers in the same directory without one). */
  def committed(spark: SparkSession, root: String): Seq[String] = {
    val f = fs(spark, root)
    val dir = new Path(s"$root/_manifests")
    if (!f.exists(dir)) Seq.empty
    else {
      val names = f.listStatus(dir).map(_.getPath.getName).toSet
      names.filter(_.endsWith(".committed")).map(_.stripSuffix(".committed"))
        .filter(id => names.contains(s"$id.json")).toSeq.sorted
    }
  }

  /** The latest COMMITTED snapshot by commit-marker modification time.
    * Bare lexical id order is wrong across mixed id schemes — a
    * persistence-drain id like "b000000042-a" sorts before a bootstrap
    * "s1" forever (ADVICE r4); the marker's mtime is the order the
    * commits actually happened in. */
  def latest(spark: SparkSession, root: String): Option[String] = {
    val f = fs(spark, root)
    val dir = new Path(s"$root/_manifests")
    if (!f.exists(dir)) None
    else {
      val statuses = f.listStatus(dir)
      val names = statuses.map(_.getPath.getName).toSet
      // mtime ties happen on coarse-clock stores (object stores report
      // second granularity): a chained drain id must outrank a
      // bootstrap in a tie — lexical order alone would pick 's1' over
      // 'b000000001-a' and reintroduce the stale read (review r5 #4);
      // among drains the zero-padded ids make lexical = chain order
      val chained = "^b\\d{9}-[a-z]$".r
      statuses.toSeq
        .filter { st =>
          val n = st.getPath.getName
          n.endsWith(".committed") && names.contains(n.stripSuffix(".committed") + ".json")
        }
        .sortBy { st =>
          val id = st.getPath.getName.stripSuffix(".committed")
          (st.getModificationTime, if (chained.findFirstIn(id).isDefined) 1 else 0, id)
        }
        .lastOption.map(_.getPath.getName.stripSuffix(".committed"))
    }
  }

  // ---- manifests -------------------------------------------------------

  /** A data-partition key: the kind's partition column (`cell_prefix` on
    * points, `xz_chunk` on extents) under a time bin on temporal
    * layouts. `relpath` is the directory fragment under a snapshot's
    * data dir; `sourceKey` the manifest sources-map key (the bare value
    * on plain layouts, "bin/value" on temporal ones).
    *
    * Scale note: driver-side key lists and the manifest partitions
    * array are bounded by the PARTITION count, which the kind's coarse
    * key resolution (and the time period) set deliberately — a sane
    * config keeps bins×keys in the 10^5-10^6 range, the same order
    * Iceberg carries in its manifests. */
  final case class Key(col: String, bin: Option[Int], value: Long) {
    def relpath: String = bin.map(b => s"time_bin=$b/").getOrElse("") + s"$col=$value"
    def sourceKey: String = bin.map(b => s"$b/$value").getOrElse(value.toString)
  }

  /** A layout's partition-key shape: `keyCol`, below `time_bin` on
    * temporal layouts. */
  trait KeyShape {
    def keyCol: String
    def temporal: Boolean
    /** The partition (directory) columns, outermost first. */
    def partitionCols: Seq[String] = if (temporal) Seq("time_bin", keyCol) else Seq(keyCol)
    /** The key of a row that leads with [[partitionCols]]. */
    def keyOf(r: Row): Key =
      Key(keyCol, if (temporal) Some(r.getInt(0)) else None, r.getLong(partitionCols.size - 1))
  }

  /** The kind-independent half of a parsed manifest. `schema` None marks
    * a legacy extent snapshot (no schema, no chunk directories).
    * `partitions` keeps each entry's numeric fields besides its key
    * (`rows`, plus `min_cell`/`max_cell` on points). `sources` is the
    * file-granular-mutation inheritance map — live key -> the snapshot
    * whose data directory PHYSICALLY holds it, kept flattened so chains
    * resolve in one hop; present only on scoped snapshots. `tier` is
    * (period, dtg column) on temporal layouts: both kinds bin the dtg
    * with BinnedTime into the `time_bin` directory column. */
  final case class Parts(snapshot: String, keyCol: String, temporal: Boolean,
                         schema: Option[StructType],
                         partitions: Map[Key, Seq[(String, Long)]],
                         sources: Map[Key, String], scoped: Boolean,
                         tier: Option[(String, String)]) extends KeyShape {
    /** File columns first, partition columns last in directory order
      * (what plain partition discovery yields). */
    def readOrder: Seq[String] =
      schema.get.fieldNames.filterNot(partitionCols.contains).toSeq ++ partitionCols
    /** Key -> physical holder for every live partition. */
    def physicalKeys: Map[Key, String] =
      if (scoped) sources else partitions.keys.map(_ -> snapshot).toMap
    def rows(k: Key): Long = partitions(k).collectFirst { case ("rows", n) => n }.get
  }

  def parse(node: JsonNode, id: String, keyCol: String, temporal: Boolean): Parts = {
    def keyOf(bin: Option[Int], v: Long) = Key(keyCol, bin, v)
    val parts = Option(node.get("partitions")).toSeq.flatMap(_.elements().asScala).map { e =>
      keyOf(Option(e.get("time_bin")).map(_.asInt), e.get(keyCol).asLong) ->
        e.properties().asScala.toSeq.filterNot(f => f.getKey == "time_bin" || f.getKey == keyCol)
          .map(f => f.getKey -> f.getValue.asLong)
    }.toMap
    val sources = Option(node.get("sources")).toSeq.flatMap(_.properties().asScala).map { e =>
      val k = e.getKey.split('/') match {
        case Array(b, v) => keyOf(Some(b.toInt), v.toLong)
        case Array(v) => keyOf(None, v.toLong)
        case other => throw new IllegalStateException(s"bad sources key '${other.mkString("/")}'")
      }
      k -> e.getValue.asText
    }.toMap
    Parts(id, keyCol, temporal,
      Option(node.get("schema")).map(s => DataType.fromJson(s.toString).asInstanceOf[StructType]),
      parts, sources, scoped = node.has("sources"),
      for (p <- Option(node.get("period")); d <- Option(node.get("dtg")) if temporal)
        yield (p.asText, d.asText))
  }

  private def putPartitions(node: com.fasterxml.jackson.databind.node.ObjectNode,
                            partitions: Map[Key, Seq[(String, Long)]]): Unit = {
    val arr = node.putArray("partitions")
    partitions.toSeq.sortBy(_._1.relpath).foreach { case (k, stats) =>
      val e = arr.addObject()
      k.bin.foreach(e.put("time_bin", _))
      e.put(k.col, k.value)
      stats.foreach { case (n, v) => e.put(n, v) }
    }
  }

  /** Serialize a manifest: the kind's layout fields, the schema, one
    * entry per partition, and — on scoped snapshots only — the sources
    * map. */
  def putManifest(spark: SparkSession, root: String, id: String, fields: Seq[(String, Any)],
                  schema: StructType, partitions: Map[Key, Seq[(String, Long)]],
                  sources: Option[Map[Key, String]]): Unit = {
    val node = mapper.createObjectNode()
    node.put("snapshot", id)
    fields.foreach {
      case (k, v: Int) => node.put(k, v)
      case (k, v) => node.put(k, v.toString)
    }
    node.set[JsonNode]("schema", mapper.readTree(schema.json))
    putPartitions(node, partitions)
    sources.foreach { m =>
      val s = node.putObject("sources")
      m.toSeq.sortBy(_._1.relpath).foreach { case (k, v) => s.put(k.sourceKey, v) }
    }
    put(spark, manifestPath(root, id), mapper.writeValueAsString(node))
  }

  /** Replace a committed manifest's partitions array, every other field
    * verbatim — through [[put]], so a crash leaves the old manifest or
    * the new one. */
  def replacePartitions(spark: SparkSession, root: String, id: String,
                        partitions: Map[Key, Seq[(String, Long)]]): Unit = {
    val node = manifestNode(spark, root, id).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    putPartitions(node, partitions)
    put(spark, manifestPath(root, id), mapper.writeValueAsString(node))
  }

  private def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** Read explicit leaf directories under `base` with a known schema
    * (plus the `snapshot` directory column) — no footer inference, and
    * partition columns keep their written types whatever value subset
    * the listing holds. */
  private def readPaths(spark: SparkSession, base: String, schema: StructType,
                        paths: Seq[String], order: Seq[String]): DataFrame =
    spark.read.schema(StructType(schema.fields :+ StructField("snapshot", StringType)))
      .option("basePath", base).parquet(paths: _*)
      .select(order.map(col): _*)

  /** Manifest-resolved snapshot scan: each live partition's directory is
    * listed from the snapshot that physically holds it, under one shared
    * basePath, so directory pruning and row-group skipping behave the
    * same whether files are owned or inherited. A fully-deleted snapshot
    * reads schema-only. */
  def readData(spark: SparkSession, root: String, parts: Parts): DataFrame = {
    val phys = parts.physicalKeys
    if (phys.isEmpty) empty(spark, StructType(parts.readOrder.map(parts.schema.get(_))))
    else readPaths(spark, s"$root/data", parts.schema.get,
      phys.toSeq.sortBy(_._1.relpath).map { case (k, s) => s"$root/data/snapshot=$s/${k.relpath}" },
      parts.readOrder)
  }

  /** The distinct partition keys a DataFrame's rows occupy. */
  def keysIn(parts: Parts, df: DataFrame): Seq[Key] =
    df.select(parts.partitionCols.map(col): _*).distinct().collect().toSeq.map(parts.keyOf)

  // ---- the kind's key space and the commits built on it ----------------

  /** What a table kind plugs into the core for one layout. */
  trait KeySpace extends KeyShape {
    /** The in-file sort column (row-group min/max skipping). */
    def sortCol: String
    /** Extra shuffle columns and the tasks per touched partition they
      * buy (the salt on points: hot prefixes split across tasks). */
    def saltCols: Seq[String]
    def fanout: Int
    /** Engine-derived columns, never user data. */
    def derivedCols: Set[String]
    /** Add the placement columns. ONE implementation per kind: writes,
      * mutations and upsert's key probes must agree byte-for-byte or a
      * probe misses partitions a write creates. */
    def derive(df: DataFrame): DataFrame
    /** Manifest fields between `snapshot` and `schema`. */
    def fields: Seq[(String, Any)]
    /** Partition entries for every live key of the snapshot just
      * written at `to`: `written` are its own files, `carried` the keys
      * inherited by reference from `from`. */
    def partitionStats(spark: SparkSession, root: String, to: String, written: DataFrame,
                       carried: Seq[Key], from: Option[Parts]): Map[Key, Seq[(String, Long)]]
    /** The writer-maintained stats delta of a scoped mutation. */
    def statsDelta(spark: SparkSession, root: String, from: String, to: String,
                   removed: DataFrame, added: DataFrame): Unit
  }

  /** Partition-keyed data write: the sort MUST lead with the partition
    * columns — partitionBy's writer re-sorts any task whose rows are not
    * already ordered by them, which would silently destroy the in-file
    * ordering (and its row-group stats). */
  private def writeData(keyed: DataFrame, ks: KeySpace, nParts: Int, path: String): Unit =
    keyed.repartition(nParts, (ks.partitionCols ++ ks.saltCols).map(col): _*)
      .sortWithinPartitions((ks.partitionCols :+ ks.sortCol).map(col): _*)
      .write.mode("overwrite").partitionBy(ks.partitionCols: _*).parquet(path)

  /** A self-contained snapshot of `df`: data, partition stats, manifest,
    * commit marker LAST. Idempotent per (root, id): an existing marker
    * makes it a no-op, and every output is deterministic given the input,
    * so a failed job simply re-runs. */
  def writeSnapshot(spark: SparkSession, root: String, id: String, ks: KeySpace,
                    df: DataFrame, partitions: Int): Unit = {
    if (isCommitted(spark, root, id)) return
    val keyed = ks.derive(df)
    val dataPath = s"$root/data/snapshot=$id"
    writeData(keyed, ks, partitions, dataPath)
    // the schema is KNOWN (we just wrote it): passing it skips footer
    // inference and keeps an empty write (no data files) valid
    val written = spark.read.schema(keyed.schema).parquet(dataPath)
    putManifest(spark, root, id, ks.fields, keyed.schema,
      ks.partitionStats(spark, root, id, written, Nil, None), sources = None)
    commit(spark, root, id)
  }

  /** A committed snapshot a mutation starts from: its parsed manifest and
    * key space, whether the scoped engine can serve it, and the kind's
    * whole-table fallback for when it cannot. */
  final case class Source(parts: Parts, ks: KeySpace, scopable: Boolean,
                          read: () => DataFrame,
                          rewrite: (DataFrame => DataFrame) => Unit)

  /** Mutations commit forward only: from a committed snapshot to a new id. */
  def requireMutable(spark: SparkSession, root: String, from: String, to: String): Unit = {
    require(from != to, "mutation must target a NEW snapshot id")
    require(isCommitted(spark, root, from), s"source snapshot $from not committed")
  }

  /**
   * The scoped (file-granular) commit. A one-row mutation must not
   * rewrite the table: only the partitions the mutation touches are
   * rewritten, every untouched one is carried into the new manifest BY
   * REFERENCE (`sources`), so cost scales with |touched data|.
   *
   * `p0` — the keys whose source rows feed `transform` (every partition
   * holding a mutated row). `removed`/`addedUser` are the old and new
   * versions of the mutated rows, for the index and stats deltas.
   * `mayMove` runs the mover closure: a transformed row whose re-derived
   * key lands OUTSIDE p0 pulls that partition into the rewrite (its
   * untouched rows merge in), so a moved row is never lost or
   * duplicated.
   *
   * Commit order: data, partition stats, manifest, index layouts, stats,
   * then the commit marker LAST — a crash anywhere re-runs idempotently.
   */
  def commitScoped(spark: SparkSession, root: String, src: Source, to: String,
                   p0: Seq[Key], transform: DataFrame => DataFrame,
                   removed: DataFrame, addedUser: Option[DataFrame], mayMove: Boolean,
                   idCol: String, partitions: Int): Unit = {
    val info = src.parts
    val ks = src.ks
    require(info.snapshot != to, "mutation must target a NEW snapshot id")
    if (isCommitted(spark, root, to)) return
    val schema = info.schema.get
    val srcPhys = info.physicalKeys
    val p0live = p0.distinct.filter(srcPhys.contains)
    val userFields = schema.fields.filterNot(f => ks.derivedCols(f.name))
    def emptyUser = empty(spark, StructType(userFields))
    def srcRows(keys: Seq[Key]): DataFrame =
      if (keys.isEmpty) emptyUser
      else readPaths(spark, s"$root/data", schema, keys.sortBy(_.relpath)
        .map(k => s"$root/data/snapshot=${srcPhys(k)}/${k.relpath}"), userFields.map(_.name).toSeq)

    val out0 = ks.derive(transform(srcRows(p0live)))
    val (newData, pTouched) =
      if (!mayMove) (out0, p0.distinct)
      else {
        // mover closure: one tiny aggregate over the transformed rows
        val p1 = keysIn(info, out0)
        val extra = (p1.toSet -- p0live.toSet).toSeq.filter(srcPhys.contains)
        (if (extra.isEmpty) out0 else out0.unionByName(ks.derive(srcRows(extra))),
          (p0 ++ p1).distinct)
      }
    // shuffle width scales with |touched partitions|, never the table
    val dataPath = s"$root/data/snapshot=$to"
    writeData(newData, ks, math.max(1, math.min(partitions, pTouched.size.max(1) * ks.fanout)),
      dataPath)

    val inherited = (srcPhys.keySet -- pTouched.toSet).toSeq.sortBy(_.relpath)
    val stats = ks.partitionStats(spark, root, to,
      spark.read.schema(schema).parquet(dataPath), inherited, Some(info))
    // an emptied partition simply drops out of both maps
    val sourcesMap = inherited.map(k => k -> srcPhys(k)).toMap ++
      (stats.keySet -- inherited).map(_ -> to)
    putManifest(spark, root, to, ks.fields, schema, stats, Some(sourcesMap))

    // the removed/added plans are lazy match scans the index loop and the
    // stats delta would otherwise re-execute several times (review r5b
    // #5) — cache them for the duration; both deltas see the same frames
    val addedIndexed = ks.derive(addedUser.getOrElse(emptyUser))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val removedC = removed.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      indexedColumns(spark, root, info.snapshot).keys.toSeq.sorted.foreach { a =>
        rebuildIndex(spark, root, info, to, a, removedC, addedIndexed, idCol, ks.sortCol)
      }
      ks.statsDelta(spark, root, info.snapshot, to, removedC, addedIndexed)
    } finally {
      removedC.unpersist()
      addedIndexed.unpersist()
    }
    commit(spark, root, to)
  }

  /** A CQL predicate, null-safe for mutation routing: rows where the
    * filter evaluates NULL (e.g. `name = 'x'` with a null name) are NOT
    * matched, per filter semantics. */
  def cqlMatch(df: DataFrame, cql: String, props: Map[String, Column], idCol: String): Column =
    coalesce(graft.plans.Cql.parse(cql, props, idCol, graft.plans.Cql.arrayProps(df)), lit(false))

  /** removeFeatures(filter): the new snapshot keeps the rows `pred` does
    * not match. Scoped: only the partitions holding matched rows are
    * rewritten (a spatial conjunct finds them through the pruned scan). */
  def deleteWhere(spark: SparkSession, root: String, src: Source, to: String,
                  pred: DataFrame => Column, idCol: String, partitions: Int): Unit = {
    def remove(df: DataFrame): DataFrame = df.where(!pred(df))
    if (!src.scopable) src.rewrite(remove)
    else {
      val matched = { val s = src.read(); s.where(pred(s)) }
      commitScoped(spark, root, src, to, keysIn(src.parts, matched), remove,
        removed = matched, addedUser = None, mayMove = false, idCol, partitions)
    }
  }

  /** modifyFeatures(attrs, values, filter): set columns on the matched
    * rows, preserving ids. A set may move a row (its geometry, or the
    * dtg on a temporal layout), so the mover closure runs. */
  def updateWhere(spark: SparkSession, root: String, src: Source, to: String,
                  pred: DataFrame => Column, sets: Map[String, Column],
                  idCol: String, partitions: Int): Unit = {
    require(sets.nonEmpty, "updateWhere needs at least one column to set")
    // materialize the match ONCE: the predicate may reference columns
    // being set, and folding withColumn would re-evaluate it against
    // already-updated values for the later sets
    def update(df: DataFrame): DataFrame = {
      require(sets.keys.forall(df.columns.contains),
        s"unknown columns: ${sets.keys.filterNot(df.columns.contains).mkString(", ")}")
      sets.foldLeft(df.withColumn("__match", pred(df))) { case (d, (name, value)) =>
        d.withColumn(name, when(col("__match"), value).otherwise(col(name)))
      }.drop("__match")
    }
    if (!src.scopable) src.rewrite(update)
    else {
      val matched = { val s = src.read(); s.where(pred(s)) }
      // every matched row matches: the added versions apply the sets
      // unconditionally (the values `update` produces for them)
      val added = sets.foldLeft(matched.drop(src.ks.derivedCols.toSeq: _*)) {
        case (d, (name, value)) => d.withColumn(name, value)
      }
      commitScoped(spark, root, src, to, keysIn(src.parts, matched), update,
        removed = matched, addedUser = Some(added), mayMove = true, idCol, partitions)
    }
  }

  /**
   * Writer-with-existing-fids semantics: rows of `updates` whose id
   * already exists REPLACE the stored row; new ids append. The replaced
   * rows' old versions are found by [[locate]] from the (cached,
   * derived-column-free) batch; new rows' homes derive without touching
   * the table.
   */
  def upsert(spark: SparkSession, root: String, src: Source, to: String,
             updates: DataFrame, idCol: String, partitions: Int): Unit = {
    // the caller's batch feeds several passes (dup check, old-row
    // location, key derivation, the merge itself) — cache it so an
    // expensive upstream plan runs once
    val incoming = updates.drop(src.ks.derivedCols.toSeq: _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // a DataFrame has no row order, so "last write wins" is undefined
      // for duplicate ids within ONE batch — reject them loudly instead
      // of committing duplicate feature ids
      val dups = incoming.groupBy(idCol).agg(count(lit(1)).as("n"))
        .where(col("n") > 1).select(idCol).limit(5)
        .collect().map(_.get(0)).toSeq
      require(dups.isEmpty,
        s"upsert batch has duplicate ids (unordered rows — last-wins is " +
          s"undefined): ${dups.mkString(", ")}")
      def mismatch(table: Array[String]) =
        s"upsert schema mismatch: table has [${table.sorted.mkString(",")}], " +
          s"updates have [${incoming.columns.sorted.mkString(",")}]"
      def merge(df: DataFrame): DataFrame = {
        require(df.columns.sorted.sameElements(incoming.columns.sorted), mismatch(df.columns))
        df.join(incoming.select(idCol).distinct(), Seq(idCol), "left_anti")
          .unionByName(incoming)
      }
      if (!src.scopable) src.rewrite(merge)
      else {
        val userCols = src.parts.schema.get.fieldNames.filterNot(src.ks.derivedCols)
        require(userCols.sorted.sameElements(incoming.columns.sorted), mismatch(userCols))
        val oldRows = locate(spark, root, src, incoming, idCol)
        commitScoped(spark, root, src, to,
          keysIn(src.parts, oldRows) ++ keysIn(src.parts, src.ks.derive(incoming)), merge,
          removed = oldRows, addedUser = Some(incoming), mayMove = false, idCol, partitions)
      }
    } finally incoming.unpersist()
  }

  /** The stored rows whose id appears in `ids`: through the id layout
    * when one is committed (the literal lookup for a small batch, the
    * semi-join for a larger one), else one semi-join scan. */
  private[table] def locate(spark: SparkSession, root: String, src: Source, ids: DataFrame,
                            idCol: String): DataFrame = {
    val wanted = ids.select(idCol).distinct()
    indexedColumns(spark, root, src.parts.snapshot).get(idCol) match {
      case None => src.read().join(wanted, Seq(idCol), "left_semi")
      case Some(buckets) =>
        val index = Index(root, src.parts, idCol, buckets)
        val few = wanted.limit(LiteralLimit + 1).collect()
        if (few.length > LiteralLimit) index.lookupDf(spark, wanted)
        else index.lookup(spark, few.map(_.get(0)).toSeq)
    }
  }

  // ---- bucketed attribute / id index ----------------------------------

  private def bucketOf(c: Column, n: Int): Column = pmod(xxhash64(c), lit(n)).cast("int")

  private def indexMarkerPath(root: String, id: String, attr: String) =
    s"$root/_manifests/$id.attr_$attr.committed"
  // NOT ".json": committed() recognizes a snapshot by the
  // (<id>.committed, <id>.json) pair — a .json sidecar here would make
  // the layout masquerade as a snapshot
  private def indexSourcesPath(root: String, id: String, attr: String) =
    s"$root/_manifests/$id.attr_$attr.sources"

  private def indexDirs(f: FileSystem, root: String): Seq[String] =
    if (!f.exists(new Path(root))) Seq.empty
    else f.listStatus(new Path(root)).toSeq.map(_.getPath.getName).filter(_.startsWith("index_"))

  /**
   * Build an index layout over `data` — the reference's AttributeIndex /
   * IdIndex: a copy bucketed by hash(attr) and SORTED (attr, tier,
   * sortCol) inside each file, so a selective predicate is bucket-
   * directory pruning plus row-group min/max skipping on the sorted
   * attribute. The tier (typically the dtg — the reference's attr ++
   * date ++ z rows) lets attr + time scans skip on its stats too.
   */
  def writeIndex(spark: SparkSession, root: String, id: String, data: => DataFrame,
                 attr: String, buckets: Int, tier: Option[String], sortCol: String): Unit = {
    if (fs(spark, root).exists(new Path(indexMarkerPath(root, id, attr)))) return // resume
    data.withColumn("attr_bucket", bucketOf(col(attr), buckets))
      .repartition(buckets, col("attr_bucket"))
      .sortWithinPartitions((Seq("attr_bucket", attr) ++ tier.toSeq :+ sortCol).map(col): _*)
      .write.mode("overwrite").partitionBy("attr_bucket")
      .parquet(s"$root/index_$attr/snapshot=$id")
    putIndexMarker(spark, root, id, attr, buckets, tier)
  }

  /** The marker records the WRITTEN bucket modulus (readers must hash
    * with it — a mismatched modulus probes the wrong bucket and silently
    * finds nothing) and, on a second line, the tier column, so mutation
    * rebuilds keep the tiered sort. */
  private def putIndexMarker(spark: SparkSession, root: String, id: String, attr: String,
                             buckets: Int, tier: Option[String]): Unit =
    put(spark, indexMarkerPath(root, id, attr), (buckets.toString +: tier.toSeq).mkString("\n"))

  /** (bucket modulus, tier column) from an index layout's marker. None
    * when uncommitted or a pre-marker layout — callers must then skip
    * bucket pruning rather than probe with a guessed modulus. */
  def indexMarker(spark: SparkSession, root: String, id: String,
                  attr: String): Option[(Int, Option[String])] = {
    val p = new Path(indexMarkerPath(root, id, attr))
    val f = fs(spark, root)
    if (!f.exists(p)) None
    else {
      val lines = readText(f, p).trim.linesIterator.toSeq.filter(_.nonEmpty)
      lines.headOption.map(b => (b.toInt, lines.lift(1)))
    }
  }

  /** Index layouts committed for a snapshot: column -> bucket modulus.
    * A layout counts only once its marker exists — a crashed index
    * write leaves a directory no planner may route through. */
  def indexedColumns(spark: SparkSession, root: String, id: String): Map[String, Option[Int]] = {
    val f = fs(spark, root)
    indexDirs(f, root).map(_.stripPrefix("index_"))
      .filter(a => f.exists(new Path(indexMarkerPath(root, id, a))))
      .map(a => a -> indexMarker(spark, root, id, a).map(_._1))
      .toMap
  }

  /** attr_bucket -> physical snapshot: the sources sidecar when the
    * layout was delta-rebuilt, else its own directory listing. */
  private def indexPhysical(spark: SparkSession, root: String, id: String,
                            attr: String): Map[Int, String] = {
    val f = fs(spark, root)
    val jp = new Path(indexSourcesPath(root, id, attr))
    if (f.exists(jp))
      mapper.readTree(readText(f, jp)).get("sources").properties().asScala
        .map(e => e.getKey.toInt -> e.getValue.asText).toMap
    else {
      val dir = new Path(s"$root/index_$attr/snapshot=$id")
      if (!f.exists(dir)) Map.empty
      else f.listStatus(dir).toSeq.map(_.getPath.getName)
        .collect { case s if s.startsWith("attr_bucket=") =>
          s.stripPrefix("attr_bucket=").toInt -> id }
        .toMap
    }
  }

  private def withBucket(schema: StructType) =
    StructType(schema.fields :+ StructField("attr_bucket", IntegerType))

  /** Resolution-aware index scan: a plain directory read for
    * self-contained layouts, per-bucket path resolution for delta-rebuilt
    * ones. Always with the manifest schema, never inference: an index
    * built on an EMPTY snapshot is a directory without parquet files, and
    * inference would crash every later lookup instead of answering empty
    * (review r5b #1). Legacy extent manifests carry no schema; their
    * layouts predate empty-write support. */
  private def readIndex(spark: SparkSession, root: String, parts: Parts, attr: String): DataFrame = {
    val id = parts.snapshot
    val dir = s"$root/index_$attr/snapshot=$id"
    if (parts.schema.isEmpty) spark.read.parquet(dir)
    else {
      val order = parts.readOrder :+ "attr_bucket"
      if (!fs(spark, root).exists(new Path(indexSourcesPath(root, id, attr))))
        spark.read.schema(withBucket(parts.schema.get)).parquet(dir).select(order.map(col): _*)
      else {
        val phys = indexPhysical(spark, root, id, attr)
        if (phys.isEmpty) empty(spark, withBucket(StructType(parts.readOrder.map(parts.schema.get(_)))))
        else readPaths(spark, s"$root/index_$attr", withBucket(parts.schema.get),
          phys.toSeq.sortBy(_._1).map { case (b, s) => s"$root/index_$attr/snapshot=$s/attr_bucket=$b" },
          order)
      }
    }
  }

  /** Above this many values a lookup's literal predicate flips to a
    * semi-join (ADVICE r4: a ~10k-disjunct Catalyst predicate risks
    * codegen fallback long before any documented limit). */
  private val LiteralLimit = 256

  /** A committed index layout of a snapshot and the lookups through it,
    * each answering the snapshot's read columns. `buckets` is the
    * modulus the layout's marker records, the only authority: a probe
    * hashed with another modulus silently drops rows. None marks a
    * pre-marker layout, probed without bucket pruning. */
  final case class Index(root: String, parts: Parts, attr: String, buckets: Option[Int]) {

    /** Equality on any of `values`. Up to [[LiteralLimit]] values become
      * `(bucket = hash(v) AND attr = v)` disjuncts: plan-time bucket
      * constants prune bucket directories (which the semi-join cannot),
      * and sorted-attr row-group stats skip inside them. The probe hashes
      * the literal cast to the column's type: xxhash64 hashes by TYPE, so
      * an Int literal on a BIGINT column would probe the wrong bucket. */
    def lookup(spark: SparkSession, values: Seq[Any]): DataFrame =
      if (values.size > LiteralLimit) {
        // the probe keeps each value's own type (the type its literal
        // would have) and lookupDf casts it to the column's type — the
        // same cast(lit(v), type) the literal path hashes and compares.
        // A string rendering would be lossy (a binary id renders as
        // "[B@...") and silently match nothing
        val probes = values.distinct.filter(_ != null).groupBy(v => Literal(v).dataType).map {
          case (t, vs) => spark.createDataFrame(spark.sparkContext.parallelize(vs.map(Row(_)), 1),
            StructType(Seq(StructField(attr, t))))
        }
        lookupDf(spark, probes.reduceOption(_ unionByName _).getOrElse(
          empty(spark, StructType(Seq(StructField(attr, LongType))))))
      } else {
        val idx = readIndex(spark, root, parts, attr)
        val dt = idx.schema(attr).dataType
        idx.where(graft.plans.Cql.disjunction(values.map { v =>
          val eq = col(attr) === lit(v)
          buckets.fold(eq)(n => col("attr_bucket") === bucketOf(lit(v).cast(dt), n) && eq)
        })).drop("attr_bucket")
      }

    /** Equality on the values of `ids`' `attr` column, with no driver-side
      * list: a left-semi join on (bucket, attr), the probe hashed with the
      * SAME hash-of-cast the writer used. */
    def lookupDf(spark: SparkSession, ids: DataFrame): DataFrame = {
      val idx = readIndex(spark, root, parts, attr)
      val probe = ids.select(col(attr).cast(idx.schema(attr).dataType).as(attr)).distinct()
      val joined = buckets match {
        case Some(n) =>
          idx.join(probe.withColumn("attr_bucket", bucketOf(col(attr), n)),
            Seq("attr_bucket", attr), "left_semi")
        case None => idx.join(probe, Seq(attr), "left_semi")
      }
      // a using-columns join fronts the join keys — restore the read order
      joined.select(idx.columns.filterNot(_ == "attr_bucket").toSeq.map(col): _*)
    }

    /** `lo <= attr <= hi`, skipping on every bucket's sorted row groups.
      * The bounds cast to the column's type, so a string "10" against a
      * BIGINT column compares numerically. */
    def range(spark: SparkSession, lo: Any, hi: Any): DataFrame = {
      val idx = readIndex(spark, root, parts, attr)
      val dt = idx.schema(attr).dataType
      idx.where(col(attr).between(lit(lo).cast(dt), lit(hi).cast(dt))).drop("attr_bucket")
    }
  }

  /** `attr`'s committed index layout in snapshot `id`. */
  def index(spark: SparkSession, root: String, id: String, attr: String): Index =
    Index(root, open(spark, root, id).parts, attr, indexMarker(spark, root, id, attr).map(_._1))

  /**
   * Delta-scoped index rebuild: only the buckets where a mutated row's
   * value hashes (old OR new) are rewritten — the source bucket minus
   * removed ids plus the added rows — and every untouched bucket is
   * inherited by reference through the sources sidecar. Bucket modulus
   * and tier carry over from the source layout's marker.
   */
  private def rebuildIndex(spark: SparkSession, root: String, info: Parts, to: String,
                           attr: String, removed: DataFrame, addedIndexed: DataFrame,
                           idCol: String, sortCol: String): Unit = {
    val f = fs(spark, root)
    if (f.exists(new Path(indexMarkerPath(root, to, attr)))) return // resume: done
    val (n, tier) = indexMarker(spark, root, info.snapshot, attr) match {
      case Some((b, t)) => (b, t)
      case None => (16, None)
    }
    val affected: Set[Int] =
      removed.select(bucketOf(col(attr), n).as("b"))
        .unionByName(addedIndexed.select(bucketOf(col(attr), n).as("b")))
        .distinct().collect().map(_.getInt(0)).toSet
    val phys = indexPhysical(spark, root, info.snapshot, attr)
    val order = info.readOrder :+ "attr_bucket"
    val outDir = s"$root/index_$attr/snapshot=$to"
    if (affected.nonEmpty) {
      val rebuildOld = affected.intersect(phys.keySet).toSeq.sorted
      val added = addedIndexed.withColumn("attr_bucket", bucketOf(col(attr), n))
        .select(order.map(col): _*)
      val union =
        if (rebuildOld.isEmpty) added
        else readPaths(spark, s"$root/index_$attr", withBucket(info.schema.get),
          rebuildOld.map(b => s"$root/index_$attr/snapshot=${phys(b)}/attr_bucket=$b"), order)
          .join(removed.select(col(idCol)).distinct(), Seq(idCol), "left_anti")
          .select(order.map(col): _*)
          .unionByName(added)
      union.repartition(math.max(1, affected.size), col("attr_bucket"))
        .sortWithinPartitions((Seq("attr_bucket", attr) ++ tier.toSeq :+ sortCol).map(col): _*)
        .write.mode("overwrite").partitionBy("attr_bucket").parquet(outDir)
    }
    // which affected buckets actually got files (an emptied bucket is
    // simply dropped from the map)?
    val written: Set[Int] =
      if (!f.exists(new Path(outDir))) Set.empty
      else f.listStatus(new Path(outDir)).toSeq.map(_.getPath.getName)
        .collect { case s if s.startsWith("attr_bucket=") => s.stripPrefix("attr_bucket=").toInt }
        .toSet
    val node = mapper.createObjectNode()
    val srcs = node.putObject("sources")
    ((phys -- affected) ++ written.map(_ -> to)).toSeq.sortBy(_._1)
      .foreach { case (b, s) => srcs.put(b.toString, s) }
    put(spark, indexSourcesPath(root, to, attr), mapper.writeValueAsString(node))
    putIndexMarker(spark, root, to, attr, n, tier)
  }

  // ---- reachability, artifacts, expiry ---------------------------------

  /** Every snapshot whose PHYSICAL files snapshot `id` still reads: the
    * data sources map plus each delta-rebuilt index layout's sidecar
    * (excluding `id` itself). The complete by-reference edge set that
    * overwrite-safety and GC must both consult (ADVICE r4: checking only
    * the data map let an overwrite delete index buckets a descendant
    * inherited). */
  def referencedSnapshots(spark: SparkSession, root: String, id: String): Set[String] = {
    val dataRefs = Option(manifestNode(spark, root, id).get("sources")).toSeq
      .flatMap(_.elements().asScala).map(_.asText).toSet
    val idxRefs = indexedColumns(spark, root, id).keys
      .flatMap(a => indexPhysical(spark, root, id, a).values).toSet
    (dataRefs ++ idxRefs) - id
  }

  /** Everything snapshot `id` owns besides its commit marker: data,
    * lineage metrics, stats sidecar, each index layout's directory, the
    * manifest, index markers and sidecars, and any temp file a crashed
    * put left behind. */
  def artifacts(spark: SparkSession, root: String, id: String): Seq[String] = {
    val f = fs(spark, root)
    // the files in `dir` that `own` names, plus the `.<name>.tmp` a
    // crashed put of one of them left behind
    def owned(dir: String, own: String => Boolean): Seq[String] =
      if (!f.exists(new Path(dir))) Seq.empty
      else f.listStatus(new Path(dir)).toSeq.map(_.getPath.getName)
        .filter(n => own(n) || (n.startsWith(".") && n.endsWith(".tmp") && own(n.slice(1, n.length - 4))))
        .map(n => s"$dir/$n")
    Seq(s"$root/data/snapshot=$id", s"$root/_metrics/snapshot=$id") ++
      indexDirs(f, root).map(d => s"$root/$d/snapshot=$id") ++
      owned(s"$root/_manifests",
        n => n == s"$id.json" || n == s"$id.committed" || n.startsWith(s"$id.attr_")) ++
      owned(s"$root/_stats", _ == s"$id.json")
  }

  /** Delete one snapshot: the commit marker FIRST, so a crash midway
    * leaves an uncommitted (invisible) snapshot, never a committed one
    * missing files. */
  def dropSnapshot(spark: SparkSession, root: String, id: String): Unit = {
    val f = fs(spark, root)
    f.delete(new Path(markerPath(root, id)), false)
    artifacts(spark, root, id).foreach(p => f.delete(new Path(p), true))
  }

  /**
   * Snapshot GC — the Iceberg `expire_snapshots` analog: every snapshot
   * NOT in `keep` and NOT (transitively) referenced by a retained one is
   * deleted. Reachability closes to a FIXPOINT over the retained set
   * (ADVICE r4): a snapshot retained only because a kept one reads its
   * files may itself reference a third, and every listed snapshot must
   * keep answering. Returns the expired ids.
   */
  def expire(spark: SparkSession, root: String, keep: Seq[String]): Seq[String] = {
    val all = committed(spark, root)
    val missing = keep.filterNot(all.contains)
    require(missing.isEmpty, s"cannot keep unknown snapshot(s): ${missing.mkString(", ")}")
    require(keep.nonEmpty, "keep at least one snapshot (use dropTable to delete everything)")
    var retain = keep.toSet
    var frontier = keep.toSet
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(referencedSnapshots(spark, root, _)) -- retain
      retain ++= next
      frontier = next
    }
    val drop = all.filterNot(retain)
    drop.foreach(dropSnapshot(spark, root, _))
    drop
  }

  /** removeSchema analog: drop the whole table root. */
  def dropTable(spark: SparkSession, root: String): Unit = {
    val f = fs(spark, root)
    val p = new Path(root)
    if (f.exists(p)) require(f.delete(p, true), s"failed to delete $root")
  }
}
