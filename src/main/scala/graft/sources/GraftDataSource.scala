package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import graft.table.{Snapshots, SpatialTable}

/**
 * The `spark.read.format("graft")` front door — the packaging analog of
 * the reference's GeoMesaDataSource (geomesa-spark/geomesa-spark-sql/
 * .../GeoMesaSparkSQL.scala:64-95, a DSv1 RelationProvider family), so
 * SQL users get the one-liner and `CREATE TABLE ... USING graft`
 * without touching the programmatic SpatialTable API:
 *
 * {{{
 *   spark.read.format("graft").option("snapshot", "s1").load(root)
 *   df.write.format("graft").option("snapshot", "s2")
 *     .option("id", "event_id").save(root)
 *   CREATE TABLE events_g USING graft OPTIONS (path '/data/events')
 * }}}
 *
 * Read options: `snapshot` (default: latest committed), `lon` / `lat`
 * (geometry columns, default "lon"/"lat"), `cql` (an ECQL filter
 * compiled into the scan — the reference's `geomesa.filter` query
 * param). Write options: `snapshot` (default "s1"), `id`, `lon`,
 * `lat`, `res`, `prefixRes`, `salts`, `partitions`.
 *
 * Catalog semantics: a `CREATE TABLE`d relation resolves its snapshot
 * when the catalog instantiates it and is cached by Spark like any
 * DSv1 table — after external mutations/expiry run `REFRESH TABLE t`
 * (the same contract Spark's own parquet tables have for external
 * writes). `spark.read.format("graft")` reads resolve fresh per load.
 *
 * Pushdown parity with the programmatic path, for point and extent
 * tables alike (one [[GraftRelation]]): relational filters translate
 * onto the inner columnar scan (they appear as PushedFilters on the
 * parquet relation) and always re-apply exactly; on top of that the
 * pushed conjuncts pick the cheapest base:
 *  - an equality on an attribute with a committed index layout reads
 *    that layout (bucket-directory pruning + sorted row groups);
 *  - else a spatial window: on point tables lon/lat bounds on both
 *    sides route to the cell_prefix + z-range scan
 *    ([[SpatialTable.readBBox]]); on extent tables the envelope idiom
 *    `maxx >= a AND minx <= b AND maxy >= c AND miny <= d` routes to
 *    [[graft.table.GeomTable.readEnvelope]] (xz_chunk pruning);
 *  - on temporal layouts of either kind, dtg bounds prune `time_bin`
 *    directories.
 * Repeated bounds on a column combine to the tightest one. Snapshots
 * produced by scoped mutations resolve transparently (the relation
 * reads through the manifest like [[SpatialTable.read]]).
 */
class GraftDataSource extends DataSourceRegister
    with RelationProvider with SchemaRelationProvider with CreatableRelationProvider {

  override def shortName(): String = "graft"

  /** Both table kinds serve through the one relation: the snapshot's
    * manifest decides whether this root is a point table
    * (SpatialTable, cell_prefix layout) or an extent table (GeomTable,
    * xz_chunk layout — lines/polygons). */
  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val root = GraftRelation.rootOf(parameters)
    // "latest" resolves by commit-marker mtime
    val snap = parameters.getOrElse("snapshot", SpatialTable.latestSnapshot(sqlContext.sparkSession,
      root).getOrElse(throw new IllegalArgumentException(s"no committed snapshots under $root")))
    GraftRelation(sqlContext, parameters + ("snapshot" -> snap))
  }

  /** User-supplied schemas are refused rather than silently ignored:
    * the snapshot manifest is the schema authority. */
  override def createRelation(sqlContext: SQLContext, parameters: Map[String, String],
                              schema: StructType): BaseRelation = {
    val rel = createRelation(sqlContext, parameters)
    require(schema == rel.schema,
      s"graft tables carry their schema in the snapshot manifest; got $schema, " +
        s"manifest says ${rel.schema}")
    rel
  }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val root = GraftRelation.rootOf(parameters)
    val snapshot = parameters.getOrElse("snapshot", "s1")
    val committed = SpatialTable.isCommitted(spark, root, snapshot)
    mode match {
      case SaveMode.ErrorIfExists if committed =>
        throw new IllegalArgumentException(
          s"snapshot $snapshot already committed under $root (snapshots are " +
            "immutable — pick a new snapshot id, or SaveMode.Ignore)")
      case SaveMode.Ignore if committed => // no-op
      case SaveMode.Append =>
        throw new IllegalArgumentException(
          "graft snapshots are immutable — append via SpatialTable.upsert " +
            "against a new snapshot id")
      case m =>
        if (m == SaveMode.Overwrite && committed) {
          // refuse when any OTHER snapshot inherits this one's files (a
          // scoped-mutation descendant): deleting the directory would
          // silently break its resolved reads. The edge set covers BOTH
          // the data sources maps and every delta-rebuilt index layout's
          // sources sidecar (ADVICE r4: a descendant can rewrite all its
          // data prefixes yet still inherit index buckets from here)
          val refs = SpatialTable.snapshots(spark, root).filter(_ != snapshot)
            .filter(Snapshots.referencedSnapshots(spark, root, _).contains(snapshot))
          require(refs.isEmpty,
            s"cannot overwrite snapshot $snapshot: snapshot(s) ${refs.mkString(", ")} " +
              "reference its files (scoped-mutation descendants) — mutate forward or " +
              "drop the descendants first")
          // drop ALL of this snapshot's artifacts — data, metrics,
          // manifest, every index layout + its markers/sidecars, stats —
          // so nothing stale answers for the rewritten id
          Snapshots.dropSnapshot(spark, root, snapshot)
        }
        val idCol = parameters.getOrElse("id", "id")
        val lonCol = parameters.getOrElse("lon", "lon")
        val latCol = parameters.getOrElse("lat", "lat")
        val res = parameters.getOrElse("res", "9").toInt
        // DSv1 may hand options through a CaseInsensitiveMap whose
        // iteration lowercases keys — accept both spellings for the
        // camelCase option names rather than silently defaulting
        def camel(name: String): Option[String] =
          parameters.get(name).orElse(parameters.get(name.toLowerCase))
        val prefixRes = camel("prefixRes").getOrElse("4").toInt
        val indexed = parameters.get("indexed").toSeq
          .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
        val salts = parameters.getOrElse("salts", "4").toInt
        val nParts = parameters.getOrElse("partitions", "32").toInt
        // sft-style options route the save through writeConfigured, so
        // `geomesa.indices.enabled` / `geomesa.z.splits` / stats-on-write
        // work from the packaged front door exactly like the
        // programmatic API (VERDICT r4 #4: the format path previously
        // skipped secondary indexes and stats). `sft` carries a full
        // reference spec string; bare `geomesa.*` options and an
        // `indexed` column list compose with or replace it.
        val dtg = parameters.get("dtg")
        val period = parameters.getOrElse("period", "day")
        val sftStyle = parameters.contains("sft") || parameters.contains("indexed") ||
          parameters.keys.exists(_.startsWith("geomesa."))
        if (parameters.contains("geom")) {
          // extent (line/polygon) save path: a WKB geometry column
          // selects the GeomTable chunked XZ layout (temporal with dtg);
          // `indexed` and stats-on-write compose like the point path
          // (review r5c #3: the geom branch previously skipped both)
          import graft.table.{GeomTable, TableStats}
          GeomTable.write(spark, data, root, snapshot,
            parameters("geom"), dtg,
            parameters.getOrElse("res", "12").toInt,
            parameters.getOrElse("period", "week"),
            parameters.getOrElse("partitions", "8").toInt,
            camel("chunkRes").getOrElse("4").toInt)
          val present = indexed.filter(data.columns.contains)
          present.foreach(a => GeomTable.writeAttributeIndex(spark, root, snapshot, a))
          val wantStats = parameters.get("geomesa.stats.enable") match {
            case Some(v) => v.toBoolean
            case None => present.nonEmpty // configured-style write defaults on
          }
          if (wantStats && !TableStats.exists(spark, root, snapshot))
            TableStats.collectGeom(spark, root, snapshot, present)
        } else if (sftStyle) {
          import graft.table.Sft
          val typeName = camel("typeName").getOrElse("features")
          val sft0 = parameters.get("sft") match {
            case Some(spec) => Sft.parse(typeName, spec)
            case None =>
              // synthesized from the DataFrame schema — columns whose
              // types have no sft name (structs etc.) still write; they
              // just carry no sft-level options
              Sft.Schema(typeName, None,
                data.schema.fields.toSeq.flatMap { f =>
                  sftTypeName(f.dataType).map(t => Sft.Field(f.name, t, Nil, defaultGeom = false))
                }, Nil)
          }
          // `indexed` marks extra columns index=true; explicit options
          // append LAST so they override the spec's user data
          val userOpts = parameters.toSeq.filter { case (k, _) =>
            k.startsWith("geomesa.") || k == "override.reserved.words"
          } ++ (if (parameters.contains("salts") &&
              !parameters.contains("geomesa.z.splits") &&
              !sft0.userDataMap.contains("geomesa.z.splits"))
            Seq("geomesa.z.splits" -> salts.toString) else Nil)
          val sft = sft0.copy(
            fields = sft0.fields.map { f =>
              if (indexed.contains(f.name) && !f.options.exists(_._1 == "index"))
                f.copy(options = f.options :+ ("index" -> "true"))
              else f
            },
            userData = sft0.userData ++ userOpts)
          SpatialTable.writeConfigured(spark, data, root, snapshot, sft, idCol,
            lonCol, latCol, res, prefixRes, nParts, dtg, period)
        } else dtg match {
          // a dtg option selects the temporal (time_bin, cell_prefix)
          // layout — the FS datastore's `daily,z2`-style config as
          // format options
          case Some(dtgCol) =>
            SpatialTable.writeTemporal(spark, data, root, snapshot, idCol, lonCol, latCol,
              dtgCol, period, res, prefixRes, salts, nParts)
          case None =>
            SpatialTable.write(spark, data, root, snapshot, idCol, lonCol, latCol,
              res, prefixRes, salts, nParts)
        }
    }
    createRelation(sqlContext, parameters + ("snapshot" -> snapshot))
  }

  /** Spark type -> sft canonical type name, for synthesizing an sft
    * from a DataFrame schema when no `sft` spec option is given. */
  private def sftTypeName(dt: org.apache.spark.sql.types.DataType): Option[String] = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType => Some("String")
      case IntegerType => Some("Integer")
      case LongType => Some("Long")
      case DoubleType => Some("Double")
      case FloatType => Some("Float")
      case BooleanType => Some("Boolean")
      case TimestampType => Some("Date")
      case BinaryType => Some("Bytes")
      case _ => None
    }
  }
}

object GraftRelation {
  private[sources] def rootOf(parameters: Map[String, String]): String =
    parameters.get("path").orElse(parameters.get("root")).getOrElse(
      throw new IllegalArgumentException(
        "graft format needs a table root: load(root) / OPTIONS (path '...')"))

  /** The filter subset the relation translates onto the inner scan;
    * everything the translation does not cover is declared unhandled,
    * so Spark re-applies it above (never dropped). */
  private[sources] def translate(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) => for (cl <- translate(l); cr <- translate(r)) yield cl && cr
    case Or(l, r) => for (cl <- translate(l); cr <- translate(r)) yield cl || cr
    case Not(c) => translate(c).map(!_)
    case _ => None
  }

  /** The pushed filters as one flat list of conjuncts. */
  private[sources] def conjuncts(filters: Seq[Filter]): Seq[Filter] = filters.flatMap {
    case And(l, r) => conjuncts(Seq(l, r))
    case f => Seq(f)
  }

  /** The tightest bounds the conjuncts put on `column`: the max of the
    * lower bounds and the min of the upper ones, so a repeated bound
    * never loosens the window (whichever order it comes in). `value`
    * maps a literal into the bound's domain, `below` a strict upper
    * bound's literal; literals they do not map are ignored. Other strict
    * bounds count as inclusive: routing on a superset is sound because
    * the translated filters re-apply exactly. */
  private[sources] def bounds[T](conjuncts: Seq[Filter], column: String,
                                 value: Any => Option[T], below: Any => Option[T])
                                (implicit ord: Ordering[T]): (Option[T], Option[T]) = {
    val lo = conjuncts.collect {
      case GreaterThan(`column`, v) => value(v)
      case GreaterThanOrEqual(`column`, v) => value(v)
    }.flatten
    val hi = conjuncts.collect {
      case LessThan(`column`, v) => below(v)
      case LessThanOrEqual(`column`, v) => value(v)
    }.flatten
    (lo.reduceOption(ord.max(_, _)), hi.reduceOption(ord.min(_, _)))
  }
}

/**
 * The one relation behind `format("graft")`, for both table kinds. It
 * opens the snapshot once: that manifest parse decides the kind and
 * serves the schema and every scan. Each scan picks the cheapest base —
 * an indexed attribute equality reads the bucket-pruned index layout,
 * else the kind's spatial window route (see [[Snapshots.Opened.window]]),
 * else the full snapshot — then prunes `time_bin` from pushed dtg
 * bounds on temporal layouts, applies the `cql` option with the kind's
 * `geom` mapping, and re-applies every translated filter exactly.
 */
case class GraftRelation(sqlContext: SQLContext,
                         parameters: Map[String, String])
    extends BaseRelation with PrunedFilteredScan {

  import GraftRelation._

  private def spark = sqlContext.sparkSession
  private val root = rootOf(parameters)
  private val table = Snapshots.open(spark, root, parameters("snapshot"),
    parameters.getOrElse("lon", "lon"), parameters.getOrElse("lat", "lat"))
  // attr -> bucket modulus, read once (like the manifest) so the indexed
  // route costs no metadata round-trips per scan
  private val indexed: Map[String, Option[Int]] =
    Snapshots.indexedColumns(spark, root, table.parts.snapshot)

  // nullable-normalized: the parquet scan underneath reports every
  // column nullable regardless of how the writing plan typed it. Legacy
  // extent snapshots carry no schema in the manifest.
  override val schema: StructType = StructType(table.parts.schema match {
    case Some(s) => table.parts.readOrder.map(f => s(f).copy(nullable = true))
    case None => table.read(spark).schema.map(_.copy(nullable = true))
  })

  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters.filter(translate(_).isEmpty)

  /** A dtg literal as epoch millis. Date literals are calendar days:
    * start-of-day in the SESSION timezone (what time_bin's
    * cast-to-timestamp uses) — Date.getTime uses the JVM default zone
    * and could shift the bound across a bin boundary, pruning matching
    * rows. `strict` asks for the last millisecond a strict `dtg < v`
    * admits: one before a whole-millisecond `v`, so `dtg < 2024-03-01`
    * stays out of March's bin; a sub-millisecond `v` keeps its truncated
    * millisecond, which still holds rows below it. */
  private def millis(v: Any, strict: Boolean): Option[Long] = {
    def day(d: java.time.LocalDate) = d.atStartOfDay(
      java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))).toInstant.toEpochMilli
    (v match {
      case t: java.sql.Timestamp => Some((t.getTime, t.getNanos % 1000000 == 0))
      case t: java.time.Instant => Some((t.toEpochMilli, t.getNano % 1000000 == 0))
      case d: java.sql.Date => Some((day(d.toLocalDate), true))
      case d: java.time.LocalDate => Some((day(d), true))
      case _ => None
    }).map { case (ms, whole) => if (strict && whole) ms - 1 else ms }
  }

  override def buildScan(requiredColumns: Array[String], filters: Array[Filter]): RDD[Row] = {
    val cs = conjuncts(filters.toSeq)
    val base = cs.collectFirst { case EqualTo(a, v) if indexed.contains(a) => (a, v) } match {
      case Some((a, v)) => Snapshots.Index(root, table.parts, a, indexed(a)).lookup(spark, Seq(v))
      case None =>
        val number: Any => Option[Double] = {
          case n: Number => Some(n.doubleValue())
          case _ => None
        }
        table.window(spark, bounds(cs, _, number, number)).getOrElse(table.read(spark))
    }
    // bins are monotone in the date, so pushed dtg bounds prune whole
    // time_bin directories; an open end prunes one side only
    val binned = table.parts.tier.fold(base) { case (period, dtg) =>
      val p = graft.cells.BinnedTime.period(period)
      def bin(ms: Option[Long], open: Int) =
        ms.fold(open)(graft.cells.BinnedTime.toBinned(p, _).bin.toInt)
      bounds(cs, dtg, millis(_, strict = false), millis(_, strict = true)) match {
        case (None, None) => base
        case (lo, hi) => base.where(col("time_bin").between(bin(lo, Int.MinValue), bin(hi, Int.MaxValue)))
      }
    }
    val withCql = parameters.get("cql").fold(binned)(table.filter(binned, _,
      parameters.getOrElse("id", "id")))
    val filtered = filters.flatMap(translate).foldLeft(withCql)(_ where _)
    val projected =
      if (requiredColumns.isEmpty) filtered.select()
      else filtered.select(requiredColumns.toSeq.map(col): _*)
    projected.rdd
  }
}
