package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.plans.Cql

/**
 * The engine's one-stop query object — the analog of the reference's
 * GeoTools `Query` + GeoMesa query hints (geomesa-index-api/.../conf/
 * QueryHints.scala:23-62), which is how every reference client asks for
 * filtering, projection ("transforms"), sorting, limits, sampling, and
 * the scan-time aggregations (density / stats / BIN). The reference's
 * QueryPlanner interprets the hints into Accumulo iterator configs;
 * here each hint maps onto the engine's DataFrame operators, so the
 * whole request stays ONE Catalyst plan (filter pushdown, partial
 * aggregation, AQE all apply).
 *
 * Semantics per hint (reference file:line):
 *  - `cql`: ECQL filter (plans/Cql) — ECQL.toFilter analog.
 *  - `transforms`: "name" or "name=cqlExpression" projections
 *    (QueryHints.Internal.TRANSFORMS; the reference evaluates GeoTools
 *    expressions per feature — here they compile to Catalyst columns).
 *  - `sortBy`: (field, descending) pairs (Internal.SORT_FIELDS).
 *  - `maxFeatures`: GeoTools Query.getMaxFeatures → limit.
 *  - `sampling`/`sampleBy`: SAMPLING + SAMPLE_BY (QueryHints.scala:38-39;
 *    SamplingIterator keeps ~fraction of rows, optionally per key).
 *    Deterministic analog: every-nth by row_number over (key, id order),
 *    n = round(1/fraction) — same guarantee the reference documents
 *    ("at least one per key", stable under re-run).
 *  - `statsString`: STATS_STRING (QueryHints.scala:31) → StatDsl.parse,
 *    one aggregated row like StatsScan.
 *  - `density`: DENSITY_BBOX/WIDTH/HEIGHT/WEIGHT (QueryHints.scala:26-29)
 *    → Density.grid: EXACTLY width x height raster pixels over the
 *    bbox, snapped to GridSnap cell centers — the same grid the
 *    reference's DensityScan renders (output columns i, j, n, weight,
 *    x, y).
 *  - `binTrack`...: BIN_TRACK/BIN_GEOM/BIN_DTG (QueryHints.scala:41-46)
 *    → the wire-compact BIN projection (Stats.binRecords).
 * Density, stats and BIN are terminal (mutually exclusive), as in the
 * reference's QueryPlanner.
 */
final case class GraftQuery(
    cql: String = "INCLUDE",
    transforms: Seq[String] = Nil,
    sortBy: Seq[(String, Boolean)] = Nil,
    maxFeatures: Option[Int] = None,
    sampling: Option[Double] = None,
    sampleBy: Option[String] = None,
    statsString: Option[String] = None,
    density: Option[DensityHint] = None,
    binTrack: Option[BinHint] = None)

/** DENSITY_* hints: render bbox + pixel grid + optional weight expression. */
final case class DensityHint(bbox: (Double, Double, Double, Double),
                             width: Int = 256, height: Int = 256,
                             weight: Option[String] = None,
                             lon: String = "lon", lat: String = "lat")

/** BIN_* hints: track id, dtg and geometry columns. */
final case class BinHint(track: String, dtg: String,
                         lon: String = "lon", lat: String = "lat")

object QueryRunner {

  /** Java `value.hashCode` of a column, per runtime type, with the
    * reference's null -> 0 rule (BinaryOutputEncoder.convertToTrack):
    * String.hashCode for strings (native JavaHashString), identity for
    * int-width integrals, `(int)(v ^ (v >>> 32))` for longs and
    * Date/Timestamp millis, Boolean.hashCode's 1231/1237. Other types
    * fall back to the stringified hash (the exotic-track case; the
    * reference's tracks are strings or integers). */
  private[graft] def javaValueHash(df: DataFrame, field: String): Column = {
    import org.apache.spark.sql.types._
    def longHash(v: Column): Column = {
      val x = shiftrightunsigned(v, 32).bitwiseXOR(v)
      // Java (int) truncation, not ANSI cast (which overflows): keep the
      // low 32 bits sign-extended via shift-left/shift-right
      coalesce(shiftright(shiftleft(x, 32), 32).cast("int"), lit(0))
    }
    df.schema(field).dataType match {
      case ByteType | ShortType | IntegerType => coalesce(col(field).cast("int"), lit(0))
      case LongType => longHash(col(field))
      case TimestampType | TimestampNTZType | DateType =>
        longHash(unix_millis(col(field).cast("timestamp")))
      case BooleanType =>
        when(col(field).isNull, 0).when(col(field), 1231).otherwise(1237)
      case _ => operators.Transforms.javaHash(col(field))
    }
  }

  /** Run a GraftQuery against a DataFrame (any source: raw parquet,
    * SpatialTable scan, converter output). `props` resolves CQL
    * properties (e.g. "geom" -> st_makePoint(lon, lat)); `idColumn`
    * anchors feature-ID filters and the sampling order. */
  def run(df: DataFrame, q: GraftQuery,
          props: Map[String, Column] = Map.empty,
          idColumn: String = "id"): DataFrame = {
    require(Seq(q.statsString, q.density, q.binTrack).count(_.isDefined) <= 1,
      "stats / density / BIN hints are mutually exclusive (reference QueryPlanner semantics)")

    var out = if (q.cql.trim.equalsIgnoreCase("INCLUDE")) df
              else Cql.filter(df, q.cql, props, idColumn) // schema-aware (array-attr semantics)

    q.sampling.foreach { frac =>
      require(frac > 0 && frac <= 1, s"sampling fraction out of (0,1]: $frac")
      val n = math.max(1, math.round(1.0 / frac).toInt)
      // (__rn - 1) % n == 0 keeps rows 1, n+1, 2n+1, ... and — unlike
      // `__rn % n == 1` — still keeps EVERY row when n == 1 (fractions
      // in (2/3, 1] round to n = 1, where x % 1 == 1 never holds)
      if (n > 1) out = q.sampleBy match {
        case Some(key) =>
          // per-key every-nth: the window distributes across keys
          val w = Window.partitionBy(col(key)).orderBy(col(idColumn))
          out.withColumn("__rn", row_number().over(w))
            .where(((col("__rn") - 1) % n) === 0).drop("__rn")
        case None =>
          // global every-nth by id order. A keyless window would funnel
          // the whole table through ONE task; instead range-partition by
          // id and derive the global position as partition-prefix offset
          // + local index (zipWithIndex's two-pass scheme) — exact same
          // row set, computed distributively.
          val spark = out.sparkSession
          val schema = out.schema
          val parts = math.max(out.rdd.getNumPartitions, 1)
          val sorted = out.repartitionByRange(parts, col(idColumn))
            .sortWithinPartitions(idColumn)
          spark.createDataFrame(
            sorted.rdd.zipWithIndex().collect { case (r, i) if i % n == 0 => r },
            schema)
      }
    }

    (q.statsString, q.density, q.binTrack) match {
      case (Some(stat), _, _) =>
        operators.StatDsl.parse(out, stat)

      case (_, Some(d), _) =>
        val (x0, y0, x1, y1) = d.bbox
        require(x1 > x0 && y1 > y0, s"degenerate density bbox: ${d.bbox}")
        // EXACTLY width x height raster pixels over the hint's bbox,
        // snapped to cell centers — the reference's DensityScan renders
        // precisely this grid (GridSnap); Density.grid is the pure
        // Catalyst form (was: nearest hierarchical cell grid, an
        // approximation from before Density.grid existed)
        val weight = d.weight.map(e => Cql.parseExpression(e, props, idColumn))
        operators.Density.grid(out, d.lon, d.lat, x0, y0, x1, y1,
          d.width, d.height, weight)

      case (_, _, Some(b)) =>
        // reference wire parity: BinaryOutputEncoder writes trackId as
        // the attribute VALUE's Java hashCode (convertToTrack — NOT the
        // stringified hash: Integer(21).hashCode is 21, "21".hashCode is
        // 1599), with null -> 0. Per-type columnar replicas below.
        val trackHash = QueryRunner.javaValueHash(out, b.track)
        operators.Stats.binRecords(
          out.withColumn("__millis", unix_millis(col(b.dtg).cast("timestamp")))
            .withColumn("__track_jh", trackHash),
          "__track_jh", "__millis", b.lon, b.lat, hashTrack = false)

      case _ =>
        if (q.transforms.nonEmpty) {
          val cols = q.transforms.map { t =>
            t.indexOf('=') match {
              // bare names resolve through `props` first — "geom" names
              // the derived geometry on point tables, like a reference
              // transform naming a real attribute of the feature type
              case -1 =>
                val name = t.trim
                props.get(name).map(_.as(name)).getOrElse(col(name))
              case i =>
                val name = t.substring(0, i).trim
                Cql.parseExpression(t.substring(i + 1).trim, props, idColumn).as(name)
            }
          }
          out = out.select(cols: _*)
        }
        if (q.sortBy.nonEmpty)
          out = out.orderBy(q.sortBy.map { case (f, desc) =>
            if (desc) col(f).desc else col(f).asc }: _*)
        q.maxFeatures.foreach(n => out = out.limit(n))
        out
    }
  }

  /** Run against a table snapshot of either kind (the reference's
    * DataStore.getFeatureSource(type).getFeatures(query) path), with the
    * kind's `geom` mapping: on point tables the CQL spatial conjuncts
    * drive SpatialFilterRule pushdown over the snapshot scan. */
  def run(spark: SparkSession, root: String, snapshotId: String, q: GraftQuery,
          lonCol: String, latCol: String, idColumn: String): DataFrame = {
    val t = table.Snapshots.open(spark, root, snapshotId, lonCol, latCol)
    val base = t.read(spark)
    run(base, q, t.geomProps(base), idColumn)
  }
}
