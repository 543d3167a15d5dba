package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.StFunctions

/**
 * Driver contract (see SURVEY.md §7 + builder prompt): one entry per
 * implemented operator, each with a DuckDB-runnable oracle where the
 * semantics are ANSI-SQL-expressible.
 *
 * Float-parity rules used throughout (so Spark and DuckDB hash-match):
 *  - per-row scalar arithmetic uses the SAME expression shape on both
 *    sides (identical IEEE op order => bitwise-identical doubles);
 *  - multi-row SUMs go through DECIMAL (exact, order-independent), then
 *    cast back to double; MIN/MAX/COUNT are order-independent already;
 *  - no libm-divergent functions (trig) in oracle-checked queries —
 *    planar sqrt distances only (haversine is covered by ScalaTest).
 */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Deterministic lon/lat derivation from event ids — same SQL fragment
    * evaluated by Spark and DuckDB (keeps the oracle self-contained). */
  private val LonExpr = "((event_id * 7919) % 36000) / 100.0 - 180.0"
  private val LatExpr = "((event_id * 104729) % 18000) / 100.0 - 90.0"
  private val PtsSql =
    s"SELECT event_id, $LonExpr AS lon, $LatExpr AS lat, value, ts FROM events"
  private val ZonesSql =
    "SELECT n_nationkey AS zone_key, (n_nationkey % 5) * 72.0 - 180.0 AS lon0, " +
      "floor(n_nationkey / 5) * 36.0 - 90.0 AS lat0 FROM nation"

  /** Planted-boilerplate construction shared by the substring-dedup
    * family (q_dup_spans / q_strip_spans / q_dup_stats): 25 corpus
    * tokens + one of 3 fixed sentences + 15 more tokens, so cross-doc
    * duplicated 6-gram runs exist by construction. The Spark projection
    * and the oracle CTEs below must stay in lockstep — ONE definition
    * each. */
  private val PlantedSpanExpr =
    """concat(
      |  array_join(slice(filter(split(text, ' '), x -> x != ''), 1, 25), ' '),
      |  CASE CAST(doc_id % 3 AS INT)
      |    WHEN 0 THEN ' pack the shard and ship the batch to the far node '
      |    WHEN 1 THEN ' scan the table then merge the rows into one block '
      |    ELSE ' hash the key and route the value to a live bucket ' END,
      |  array_join(slice(filter(split(text, ' '), x -> x != ''), 26, 15), ' '))
      |AS text2""".stripMargin

  private def plantedSpanDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").selectExpr("doc_id", PlantedSpanExpr)

  private val PlantedSpanBaseCte =
    """base AS (SELECT doc_id, concat(
      |    array_to_string(list_filter(string_split(text, ' '), x -> x <> '')[1:25], ' '),
      |    CASE CAST(doc_id % 3 AS INT)
      |      WHEN 0 THEN ' pack the shard and ship the batch to the far node '
      |      WHEN 1 THEN ' scan the table then merge the rows into one block '
      |      ELSE ' hash the key and route the value to a live bucket ' END,
      |    array_to_string(list_filter(string_split(text, ' '), x -> x <> '')[26:40], ' ')) AS text2
      |  FROM documents)""".stripMargin

  /** The k=6 duplicated-gram island pipeline over `base` (the DuckDB
    * twin of Dedup.duplicateSpans): yields `toks` (lowered `t` + raw
    * tokens), `i2` (island-tagged duplicated-gram positions). */
  private val SpanIslandsCte =
    """toks AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text2), '\s+'), x -> x <> '') AS t,
      |    list_filter(string_split_regex(text2, '\s+'), x -> x <> '') AS raw
      |  FROM base),
      |g AS (SELECT doc_id, i - 1 AS pos,
      |    array_to_string(t[CAST(i AS INT):CAST(i AS INT) + 5], ' ') AS gram
      |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 5)) AS i
      |        FROM toks WHERE len(t) >= 6)),
      |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
      |h AS (SELECT doc_id, pos FROM g JOIN dup USING (gram)),
      |isl AS (SELECT doc_id, pos,
      |    CASE WHEN pos <= COALESCE(MAX(pos + 6) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 0 ELSE 1 END AS brk
      |  FROM h),
      |i2 AS (SELECT doc_id, pos,
      |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM isl)""".stripMargin

  /** Deterministic raster chunks derived from the event points — one
    * chunk per occupied grid cell at two resolutions (even event ids
    * seed 8-degree chunks at res 0.5 deg/px, odd ids 2-degree chunks at
    * res 0.125), color = min event id mod 251. The SAME text runs as
    * Spark SQL (engine ingest) and inside the DuckDB oracle CTE, so the
    * chunk metadata is bit-identical on both sides (grid edges and both
    * resolutions are exact binary doubles). */
  private val RasterChunksSql =
    """SELECT concat('c', CAST(CAST(span AS INT) AS STRING), '_',
      |              CAST(gx AS STRING), '_', CAST(gy AS STRING)) AS rid,
      |       gx * span AS minx, gy * span AS miny,
      |       (gx + 1) * span AS maxx, (gy + 1) * span AS maxy,
      |       span / 16.0 AS res,
      |       CAST(seed % 251 AS INT) AS color
      |FROM (
      |  SELECT span, CAST(floor(lon / span) AS BIGINT) AS gx,
      |         CAST(floor(lat / span) AS BIGINT) AS gy, MIN(event_id) AS seed
      |  FROM (SELECT CAST(CASE WHEN event_id % 2 = 0 THEN 8.0 ELSE 2.0 END AS DOUBLE) AS span,
      |               lon, lat, event_id FROM pts) raw
      |  GROUP BY 1, 2, 3
      |) cells""".stripMargin
  /** Deterministic BOX geometries derived from the event points — the
    * non-point ingest for the XZ2/XZ3 GeomTable entries. For boxes, JTS
    * st_intersects equals the inclusive envelope-overlap test, so the
    * SAME text runs as Spark SQL (ingest) and inside the DuckDB oracle
    * and the refine is SQL-replicable exactly (least/+/% are identical
    * IEEE arithmetic on both engines). */
  private val BoxesSql =
    """SELECT event_id, ts, lon AS bminx, lat AS bminy,
      |  least(lon + 0.4 + (event_id % 7) * 0.45, 180.0) AS bmaxx,
      |  least(lat + 0.3 + (event_id % 5) * 0.35, 90.0) AS bmaxy
      |FROM pts""".stripMargin

  /** Mixed zone sizes: every 3rd zone is continent-sized (300 x 150 deg,
    * ~2900 cover cells at res 6 — far over the join budget, exercising
    * the size-split broadcast branch); the rest are small grid-join
    * zones. */
  private val BigZonesSql =
    """SELECT n_nationkey AS zone_key,
      |  CASE WHEN n_nationkey % 3 = 0 THEN -170.0 + (n_nationkey % 5) * 3.0
      |       ELSE (n_nationkey % 6) * 50.0 - 150.0 END AS lon0,
      |  CASE WHEN n_nationkey % 3 = 0 THEN -80.0 + (n_nationkey % 5) * 4.0
      |       ELSE (n_nationkey % 4) * 40.0 - 80.0 END AS lat0,
      |  CASE WHEN n_nationkey % 3 = 0 THEN 300.0 ELSE 20.0 END AS w,
      |  CASE WHEN n_nationkey % 3 = 0 THEN 150.0 ELSE 15.0 END AS h
      |FROM nation""".stripMargin

  /** The two convex clockwise quads the IDL test polygon splits into
    * (the reference's FilterHelperTest expected output, exact doubles). */
  private val IdlWestQuad = Seq(
    (-180.0, 12.271523178807946), (-180.0, 24.304347826086957), (-150.0, 23.0), (-164.0, 11.0))
  private val IdlEastQuad = Seq(
    (180.0, 24.304347826086957), (180.0, 12.271523178807946), (45.0, 23.0), (49.0, 30.0))

  /** Point-in-convex-clockwise-polygon as pure SQL over (lon, lat):
    * every edge cross product <= 0 (boundary inclusive, matching JTS
    * intersects). */
  private def quadSql(vs: Seq[(Double, Double)]): String =
    vs.indices.map { i =>
      val (ax, ay) = vs(i); val (bx, by) = vs((i + 1) % vs.size)
      s"(($bx - ($ax)) * (lat - ($ay)) - ($by - ($ay)) * (lon - ($ax))) <= 0"
    }.mkString("(", " AND ", ")")

  private def pts(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events").createOrReplaceTempView("events")
    s.sql(PtsSql)
  }

  private def tableRoot(prefix: String, dir: String): String =
    s"/tmp/graft_${prefix}_tbl_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"

  /** The polygon-boxes fixture the extent-table entries share (ONE
    * definition — it must stay in lockstep with the oracle CTEs): box
    * features derived from the event points, typed by event_type. */
  private def geomBoxes(s: SparkSession, dir: String): DataFrame = {
    pts(s, dir) // registers the `events` temp view the SQL reads
    s.sql(s"WITH pts AS ($PtsSql) $BoxesSql")
      .join(t(s, dir, "events").select("event_id", "event_type"), "event_id")
      .withColumn("geom", StFunctions.fn("st_makeBBOX")(
        col("bminx"), col("bminy"), col("bmaxx"), col("bmaxy")))
      .select("event_id", "event_type", "geom")
  }

  /** 9-dp HALF_UP rounding shared by the cached-stats entries (DuckDB's
    * reciprocal-multiply rewrite of /100.0 sits 1 ULP off Spark). */
  private def r9(x: Double): Double = BigDecimal(x)
    .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Run `body` with spark.graft.index.res set, materialize its result
    * via localCheckpoint WHILE the conf is set, then restore the prior
    * value. Session-global conf leaking res into later queries was the
    * cross-table hazard SpatialFilterRule's scaladoc warns about (now
    * also self-guarded by the res band escape). localCheckpoint, not
    * cache(): both materialize under the conf, but checkpoint blocks are
    * GC-cleanable once the result is dropped — cache() pins executor
    * storage until an unpersist no consumer of `queries` would issue. */
  private def withIndexRes(s: SparkSession, res: Int)(body: => DataFrame): DataFrame = {
    val prevRes = s.conf.getOption("spark.graft.index.res")
    s.conf.set("spark.graft.index.res", res.toString)
    try body.localCheckpoint(true)
    finally prevRes match {
      case Some(v) => s.conf.set("spark.graft.index.res", v)
      case None => s.conf.unset("spark.graft.index.res")
    }
  }

  /**
   * Build the three SpatialTable snapshot roots that q_rule_scan /
   * q_attr_scan / q_id_scan read (idempotent — commit markers make
   * re-calls no-ops). The query entries call this themselves, so Verify
   * is unchanged; Bench ALSO calls it up front and reports the wall time
   * as "ingest_tables", so those three query timings measure the scan
   * path against a built index — the reference likewise benchmarks
   * queries against an already-ingested (Accumulo) index, with ingest
   * cost accounted separately.
   */
  def prepareTables(s: SparkSession, dir: String): Unit = {
    import graft.table.SpatialTable
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    StFunctions.register(s)
    // shared inputs resolved ONCE on this thread (temp-view registration
    // is not written from the workers below; DataFrames are safe for
    // concurrent actions)
    val p = pts(s, dir)
    val withType = p.join(t(s, dir, "events").select("event_id", "event_type"), "event_id")
    // the four snapshot chains are independent job DAGs; running them on
    // the shared FIFO scheduler concurrently overlaps their fixed stage
    // latencies (each chain is small at bench scale, so the cluster is
    // otherwise underfilled during a sequential cold ingest)
    val chains: Seq[() => Unit] = Seq(
      () => SpatialTable.write(s, p, tableRoot("rule", dir), "s1",
        "event_id", "lon", "lat", res = 9, prefixRes = 3, salts = 2, partitions = 8),
      () => {
        SpatialTable.write(s, withType, tableRoot("attr", dir), "s1",
          "event_id", "lon", "lat", res = 9, prefixRes = 3, salts = 2, partitions = 8)
        SpatialTable.writeAttributeIndex(s, tableRoot("attr", dir), "s1", "event_type", buckets = 8)
      },
      () => {
        SpatialTable.write(s, p, tableRoot("idix", dir), "s1",
          "event_id", "lon", "lat", res = 9, prefixRes = 3, salts = 2, partitions = 8)
        SpatialTable.writeIdIndex(s, tableRoot("idix", dir), "s1", "event_id", buckets = 8)
      },
      () => {
        // GeoJSON document store for q_geojson_query — the one-time
        // serialization of events into line-delimited GeoJSON, so the
        // query entry measures the document-store QUERY path (parse +
        // predicate), not corpus construction; idempotent via _SUCCESS
        val gjRoot = tableRoot("geojson", dir)
        val gjPath = new org.apache.hadoop.fs.Path(gjRoot)
        val gjFs = gjPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (!gjFs.exists(new org.apache.hadoop.fs.Path(gjPath, "_SUCCESS"))) {
          withType
            .selectExpr("""concat('{"type":"Feature","geometry":',
              st_asGeoJSON(st_makePoint(lon, lat)),
              ',"properties":',
              to_json(named_struct('event_id', event_id, 'event_type', event_type, 'value', value)),
              '}') AS value""")
            .write.mode("overwrite").text(gjRoot)
        }
        // indexed form of the same document store (GeoJsonGtIndex analog)
        // — q_geojson_indexed serves from this snapshot's pruned scan
        sources.GeoJsonQuery.index(s, sources.GeoJsonQuery.read(s, gjRoot),
          tableRoot("gjidx", dir), "docs", res = 9, prefixRes = 3, salts = 2, partitions = 8)
      },
      () => {
        // non-point GeomTable snapshots (XZ2 flat + XZ3 temporal) for
        // q_geom_bbox / q_geom_bbox_time — box features derived from the
        // event points, one row per feature keyed by the envelope's XZ
        // sequence code (idempotent via the commit marker)
        val boxes = s.sql(s"WITH pts AS ($PtsSql) $BoxesSql")
          .withColumn("geom", StFunctions.fn("st_makeBBOX")(
            col("bminx"), col("bminy"), col("bmaxx"), col("bmaxy")))
          .select("event_id", "ts", "geom")
        graft.table.GeomTable.write(s, boxes, tableRoot("geomxz2", dir), "s1", partitions = 8)
        graft.table.GeomTable.write(s, boxes, tableRoot("geomxz3", dir), "s1",
          dtgCol = Some("ts"), partitions = 8)
      })
    val pool = java.util.concurrent.Executors.newFixedThreadPool(chains.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      // wait for EVERY chain (success or failure) before returning, so a
      // failed call never leaves background threads still writing the
      // table roots under a caller that retries; then rethrow the first
      // failure
      val outcomes = chains.map(c => Future(c()))
        .map(f => scala.util.Try(Await.result(f, Duration.Inf)))
      outcomes.collectFirst { case scala.util.Failure(e) => throw e }
    } finally pool.shutdown()
  }
  private def zones(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "nation").createOrReplaceTempView("nation")
    s.sql(ZonesSql)
  }

  /** JTS Distance.pointToSegment replicated in ANSI SQL (projection
    * parameter r, endpoint branches, perpendicular formula) — the
    * oracle side of the planar tube/route refines. p=(px,py), segment
    * (x0,y0)-(x1,y1); len2 must be provided as a column named len2. */
  private def pointToSegSql(px: String, py: String,
                            x0: String, y0: String, x1: String, y1: String): String =
    s"""CASE WHEN len2 = 0.0 THEN sqrt(($px-$x0)*($px-$x0)+($py-$y0)*($py-$y0))
       | WHEN (($px-$x0)*($x1-$x0) + ($py-$y0)*($y1-$y0)) / len2 <= 0.0
       |   THEN sqrt(($px-$x0)*($px-$x0)+($py-$y0)*($py-$y0))
       | WHEN (($px-$x0)*($x1-$x0) + ($py-$y0)*($y1-$y0)) / len2 >= 1.0
       |   THEN sqrt(($px-$x1)*($px-$x1)+($py-$y1)*($py-$y1))
       | ELSE abs((($y0-$py)*($x1-$x0) - ($x0-$px)*($y1-$y0)) / len2) * sqrt(len2)
       |END""".stripMargin.replace("\n", " ")

  /** DuckDB-side Morton interleave of `res`-bit tx/ty (bit-op SQL) —
    * independently recomputes our cell packing for tile-id parity. */
  private def mortonSql(tx: String, ty: String, res: Int): String = {
    val terms = (0 until res).flatMap { i =>
      Seq(s"((($tx >> $i) & 1) << ${2 * i})", s"((($ty >> $i) & 1) << ${2 * i + 1})")
    }
    terms.mkString("(", " + ", ")")
  }

  /** Flagship: spatial point-in-polygon join on sf=0.001 via cell equi-join. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_pip_join")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- relational core (built-in operators; GeoMesa delegates these
    // to Spark, SURVEY.md §2.4 note) ------------------------------------
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql("""
        SELECT l_returnflag, l_linestatus,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
          COUNT(*) AS count_order
        FROM lineitem GROUP BY l_returnflag, l_linestatus""")
    }),

    "q3_join" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer")
      t(s, dir, "orders").createOrReplaceTempView("orders")
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql("""
        SELECT o.o_orderkey,
          CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
          COUNT(*) AS n_items
        FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
          JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
        GROUP BY o.o_orderkey""")
    }),

    "q_enum" -> ((s, dir) => {
      // EnumerationStat analog (exact value->count, stats/EnumerationStat.scala)
      t(s, dir, "lineitem").groupBy("l_returnflag").count()
        .withColumnRenamed("count", "n")
    }),

    "q_hist" -> ((s, dir) => {
      // Histogram stat analog: fixed-width bins (stats/Histogram.scala)
      t(s, dir, "lineitem")
        .selectExpr("CAST(floor(l_extendedprice / 1000.0) AS BIGINT) AS bucket")
        .groupBy("bucket").count().withColumnRenamed("count", "n")
    }),

    "q_hist_date" -> ((s, dir) => {
      // BinnedDateArray histogram (stats/BinnedArray.scala:202-207 via
      // WholeNumberBinnedArray:130-186): 24 exact 1.25-day bins over the
      // events month; median/bounds are the reference's integral-edge
      // formulas. Pure Column arithmetic — codegen, map-side combine.
      val lo = 1704067200000L // 2024-01-01T00:00:00Z
      graft.operators.Binned.dateHistogram(
        t(s, dir, "events"), "ts", lo, lo + 30L * 86400000L, 24)
    }),

    "q_minmax" -> ((s, dir) => {
      // MinMax stat analog (stats/MinMax.scala; HLL part is non-oracle)
      t(s, dir, "lineitem").agg(
        min("l_quantity").as("min_qty"), max("l_quantity").as("max_qty"),
        min("l_shipdate").cast("date").cast("string").as("min_ship"),
        max("l_shipdate").cast("date").cast("string").as("max_ship"),
        countDistinct("l_partkey").as("n_parts"))
    }),

    "q_sample" -> ((s, dir) => {
      // per-key every-nth sampling (SamplingIterator/FeatureSampler analog)
      t(s, dir, "events").createOrReplaceTempView("events")
      s.sql("""
        SELECT event_id FROM (
          SELECT event_id, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
          FROM events) WHERE rn % 10 = 1""")
    }),

    "q_window_track" -> ((s, dir) => {
      // Point2PointProcess analog: consecutive positions per user (lag),
      // planar hop distances, exact decimal sum
      pts(s, dir).createOrReplaceTempView("pts")
      t(s, dir, "events").createOrReplaceTempView("events")
      s.sql("""
        SELECT user_id, COUNT(px) AS hops,
          CAST(SUM(CAST(round(sqrt((lon - px)*(lon - px) + (lat - py)*(lat - py)), 6) AS DECIMAL(18,6))) AS DOUBLE) AS total_dist
        FROM (
          SELECT e.user_id, p.lon, p.lat,
            LAG(p.lon) OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS px,
            LAG(p.lat) OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS py
          FROM events e JOIN pts p ON e.event_id = p.event_id)
        GROUP BY user_id""")
    }),

    "q_point2point" -> ((s, dir) => {
      // the REAL Point2Point operator (TrackOps.point2point): per-user
      // consecutive position pairs with [start, end] time windows;
      // (user_id, ts) is unique in the data so the sort is total
      val f = pts(s, dir)
        .join(t(s, dir, "events").select("event_id", "user_id"), "event_id")
        .selectExpr("user_id", "event_id", "CAST(lon AS DOUBLE) AS lon",
          "CAST(lat AS DOUBLE) AS lat", "CAST(ts AS TIMESTAMP) AS dtg")
      operators.TrackOps.point2point(f, "user_id", "lon", "lat", "dtg",
          tieBreakCols = Seq("event_id")) // ts ties within a user exist
        .selectExpr("user_id",
          "round(x0, 6) AS x0", "round(y0, 6) AS y0", // lon/lat are computed
          "round(x1, 6) AS x1", "round(y1, 6) AS y1", // doubles: ulp-proof both sides
          "unix_millis(dtg_start) AS t0", "unix_millis(dtg_end) AS t1")
    }),

    // ---- spatial operators over the cell index ------------------------
    "q_pip_join" -> ((s, dir) => {
      // point-in-polygon join: zone extents explode to covering cells
      // (gridIdMapper analog), points hash to their single cell, equi-join
      // + exact JTS refine (GeoMesaJoinRelation semantics, Spark-native)
      StFunctions.register(s)
      val p = pts(s, dir).withColumn("cell", expr("st_cellOfXY(lon, lat, 4)"))
      val z = zones(s, dir)
        .withColumn("zgeom", expr("st_makeBBOX(lon0, lat0, lon0 + 72.0, lat0 + 36.0)"))
        .withColumn("zcell", explode(expr("st_cellCover(zgeom, 4, 256)")))
      p.join(broadcast(z), p("cell") === z("zcell"))
        .where(expr("st_intersects(st_makePoint(lon, lat), zgeom)"))
        .select("event_id", "zone_key")
    }),

    "q_pip_join_bigzones" -> ((s, dir) => {
      // point-in-polygon join where some zones are continent-sized: the
      // old cover coarsened these (packed res mismatch -> silent pair
      // loss); the size-split routes them through the exact-predicate
      // broadcast branch. Runs through the REAL operator (SpatialJoin),
      // not an inline plan.
      StFunctions.register(s)
      val p = pts(s, dir).selectExpr("event_id", "st_makePoint(lon, lat) AS p_geom")
      t(s, dir, "nation").createOrReplaceTempView("nation")
      val z = s.sql(BigZonesSql)
        .selectExpr("zone_key", "st_makeBBOX(lon0, lat0, lon0 + w, lat0 + h) AS z_geom")
      operators.SpatialJoin.intersects(p, "p_geom", z, "z_geom",
          res = 6, leftPoint = true, broadcastRight = true)
        .select("event_id", "zone_key")
    }),

    "q_rule_scan" -> ((s, dir) => {
      // automatic spatial-filter pushdown (SpatialFilterRule): a plain
      // SQL WHERE st_intersects(...) over a SpatialTable — no manual
      // ZQuery/readBBox call — must still answer exactly. The injected
      // rule derives lon/lat envelope bounds (PushedFilters), cell
      // z-ranges (row-group skipping), and cell_prefix partition pruning;
      // plan shape asserted in ExtensionsSpec.
      StFunctions.register(s)
      val root = tableRoot("rule", dir)
      prepareTables(s, dir)
      withIndexRes(s, 9) {
        graft.table.SpatialTable.read(s, root, "s1").createOrReplaceTempView("graft_rule_tbl")
        s.sql("""SELECT event_id FROM graft_rule_tbl
              |WHERE st_intersects(st_makePoint(lon, lat),
              |  st_geomFromWKT('POLYGON((-50 -20, 30 -20, 30 25, -50 25, -50 -20))'))""".stripMargin)
      }
    }),

    "q_format_scan" -> ((s, dir) => {
      // the spark.read.format("graft") front door (GeoMesaSparkSQL
      // :64-95 UX, DSv1 like the reference): relational filters push to
      // the inner columnar scan, and the conjunctive lon/lat box routes
      // through the fully-pruned readBBox path — same answer as the
      // programmatic API, through the packaged one-liner
      StFunctions.register(s)
      val root = tableRoot("rule", dir)
      prepareTables(s, dir)
      s.read.format("graft").option("snapshot", "s1").load(root)
        .where("""lon >= -60.005 AND lon <= 0.005
                 |AND lat >= -30.005 AND lat <= 30.005 AND value >= 3.0""".stripMargin)
        .selectExpr("event_id", "value")
    }),

    "q_attr_scan" -> ((s, dir) => {
      // attribute-index scan (AttributeIndex analog): a second layout
      // bucketed by attr hash + sorted by (attr, cell); equality lookup
      // prunes to one bucket directory (plan asserted in
      // SpatialTableSpec), answer must equal the plain filter
      StFunctions.register(s)
      val root = tableRoot("attr", dir)
      prepareTables(s, dir)
      graft.table.SpatialTable.readByAttribute(s, root, "s1", "event_type", "click")
        .select("event_id")
    }),

    "q_planned_scan" -> ((s, dir) => {
      // cost-based strategy selection (StrategyDecider.scala:47-63): the
      // CQL's attr-equality conjunct routes the scan through the
      // attribute-index layout (static cost 100 beats a full scan), the
      // numeric conjunct refines as the residual — picked automatically
      // from the layouts the snapshot actually has
      StFunctions.register(s)
      prepareTables(s, dir)
      graft.table.SpatialTable.queryPlanned(s, tableRoot("attr", dir), "s1",
          "event_type = 'click' AND value > 50.0", idColumn = "event_id")
        .select("event_id")
    }),

    "q_id_scan" -> ((s, dir) => {
      // ID-index lookup (IdIndex analog): direct feature-id fetch through
      // the id-bucketed sorted layout — bucket-directory pruning + sorted
      // row-group skipping instead of a full scan (pruning asserted in
      // SpatialTableSpec); a missing id matches nothing
      val root = tableRoot("idix", dir)
      prepareTables(s, dir)
      graft.table.SpatialTable.readByIds(s, root, "s1", "event_id",
          Seq(5L, 77L, 1234L, 4321L, 999999999L))
        .selectExpr("event_id")
    }),

    "q_mutation_replay" -> ((s, dir) => {
      // FeatureWriter / removeFeatures semantics as copy-on-write
      // snapshot rewrites (AccumuloFeatureWriterTest:52-171): modify by
      // CQL (fids preserved), remove by CQL (null attrs survive), then
      // upsert (existing ids replace, new ids append) — each commits a
      // new snapshot and rebuilds the derived cells, so the chain is
      // idempotent across re-runs via the commit markers
      import org.apache.spark.sql.functions.{col, lit}
      import graft.table.SpatialTable
      StFunctions.register(s)
      val root = tableRoot("mut", dir)
      val base = pts(s, dir).drop("ts")
        .join(t(s, dir, "events").select("event_id", "event_type"), "event_id")
      SpatialTable.write(s, base, root, "s1", "event_id", "lon", "lat",
        res = 9, prefixRes = 3, salts = 2, partitions = 8)
      SpatialTable.updateWhere(s, root, "s1", "s2", "event_type = 'click'",
        Map("value" -> lit(-1.5)), idCol = "event_id")
      SpatialTable.deleteWhere(s, root, "s2", "s3", "event_type = 'view'",
        idCol = "event_id")
      val planted = Seq(1L, 2L, 3L, 900000001L, 900000002L)
      import s.implicits._
      val ups = planted.toDF("event_id")
        .withColumn("lon", lit(10.0)).withColumn("lat", lit(10.0))
        .withColumn("value", lit(7.25)).withColumn("event_type", lit("planted"))
      SpatialTable.upsert(s, root, "s3", "s4", ups, idCol = "event_id")
      SpatialTable.read(s, root, "s4").select("event_id", "event_type", "value")
    }),

    "q_mutation_scoped" -> ((s, dir) => {
      // File-granular mutation chain (VERDICT r3 #1): the spatially
      // scoped update and delete rewrite ONLY the covered cell_prefix
      // directories — every untouched prefix is inherited by reference
      // through the manifest sources map (proven file-identical in
      // MutationScopedSpec) — the upsert finds its old rows through the
      // id index (bucket-pruned, no table scan), and the final read
      // goes through the DELTA-REBUILT attribute index, certifying
      // data, inheritance resolution, and index consistency end-to-end.
      import org.apache.spark.sql.functions.lit
      import graft.table.SpatialTable
      StFunctions.register(s)
      val root = tableRoot("mutscope", dir)
      val base = pts(s, dir).drop("ts")
        .join(t(s, dir, "events").select("event_id", "event_type"), "event_id")
      SpatialTable.write(s, base, root, "s1", "event_id", "lon", "lat",
        res = 9, prefixRes = 3, salts = 2, partitions = 8)
      SpatialTable.writeAttributeIndex(s, root, "s1", "event_type", buckets = 8)
      SpatialTable.writeIdIndex(s, root, "s1", "event_id", buckets = 8)
      SpatialTable.updateWhere(s, root, "s1", "s2",
        "BBOX(geom, -60.005, -30.005, 0.005, 30.005) AND event_type = 'click'",
        Map("value" -> lit(-2.0)), idCol = "event_id")
      SpatialTable.deleteWhere(s, root, "s2", "s3",
        "BBOX(geom, 60.005, -60.005, 150.005, 30.005) AND event_type = 'view'",
        idCol = "event_id")
      import s.implicits._
      val ups = Seq(11L, 22L, 900000077L).toDF("event_id")
        .withColumn("lon", lit(12.5)).withColumn("lat", lit(-33.25))
        .withColumn("value", lit(3.5)).withColumn("event_type", lit("planted"))
      SpatialTable.upsert(s, root, "s3", "s4", ups, idCol = "event_id")
      SpatialTable.readByAttribute(s, root, "s4", "event_type", "click")
        .unionByName(SpatialTable.readByAttribute(s, root, "s4", "event_type", "planted"))
        .select("event_id", "event_type", "value")
    }),

    "q_stats_cached" -> ((s, dir) => {
      // GeoMesaStats analog: stats collected ONCE at write time
      // (count + envelope + per-attribute min/max in one distributed
      // agg), then served from the _stats metadata sidecar with no data
      // scan — this entry reads the CACHED values and the oracle
      // recomputes them from the raw table, certifying the collector
      import graft.table.{SpatialTable, TableStats}
      StFunctions.register(s)
      val root = tableRoot("stats", dir)
      val base = pts(s, dir).drop("ts")
        .join(t(s, dir, "events").select("event_id", "event_type"), "event_id")
      SpatialTable.write(s, base, root, "s1", "event_id", "lon", "lat",
        res = 9, prefixRes = 3, salts = 2, partitions = 8)
      if (!TableStats.exists(s, root, "s1"))
        TableStats.collect(s, root, "s1", Seq("event_type"))
      val st = TableStats.cached(s, root, "s1").get
      val (minx, miny, maxx, maxy) = st.bounds.get
      val a = st.attributes("event_type")
      import s.implicits._
      // bounds rounded on BOTH sides (shared r9 — the DuckDB
      // reciprocal-multiply ULP)
      Seq((st.count, r9(minx), r9(miny), r9(maxx), r9(maxy), a.min, a.max, a.count))
        .toDF("cnt", "minx", "miny", "maxx", "maxy", "type_min", "type_max", "type_count")
    }),

    "q_fs_compact" -> ((s, dir) => {
      // FS-storage appending writer + distributed compaction with
      // age-off (MetadataFileSystemStorage.getWriter/compact;
      // DtgAgeOffTest's retain-on-rewrite): two appends land separate
      // files in each daily partition, compact(retain) merges every
      // directory to ONE file and drops expired rows — fully-expired
      // days delete their directories. The result certifies the
      // retained-row semantics AND the one-file-per-partition invariant
      // (the `files` column is the real post-compaction file count; the
      // oracle emits literal 1)
      import graft.table.{PartitionScheme, Sft}
      val scheme = PartitionScheme(
        Sft.parse("events", "ts:Date,*geom:Point:srid=4326"), "daily")
      val resolver = PartitionScheme.LonLatResolver("lon", "lat")
      val root = tableRoot("fscompact", dir)
      val base = pts(s, dir)
      PartitionScheme.write(base.where(col("event_id") % 2 === 0), root, scheme, resolver)
      PartitionScheme.append(base.where(col("event_id") % 2 === 1), root, scheme, resolver)
      PartitionScheme.compact(s, root, scheme,
        retain = Some(col("ts") >= lit("2024-01-08 00:00:00").cast("timestamp")))
      import s.implicits._
      val files = PartitionScheme.partitionFiles(s, root, scheme).toSeq
        .map { case (rel, fs) => (rel.split('/').map(_.split('=')(1)).mkString("/"), fs.size) }
        .toDF("part", "files")
      PartitionScheme.read(s, root, scheme)
        .groupBy(date_format(col("ts"), "yyyy/MM/dd").as("part"))
        .agg(count(lit(1)).as("n"))
        .join(files, "part")
        .select("part", "n", "files")
    }),

    "q_dwithin_join" -> ((s, dir) => {
      // SQL proximity join through the injected SpatialJoinRewrite:
      // st_dwithinPlanar plans as a cell equi-join with distance-expanded
      // right covers (no cartesian; plan asserted in ExtensionsSpec)
      StFunctions.register(s)
      pts(s, dir).selectExpr("event_id", "st_makePoint(lon, lat) AS p_geom")
        .createOrReplaceTempView("dw_pts")
      zones(s, dir)
        .selectExpr("zone_key", "st_makePoint(lon0 + 36.0, lat0 + 18.0) AS z_geom")
        .createOrReplaceTempView("dw_zones")
      // threshold 9.701: 9.701^2*10000 is not an integer, so no
      // hundredth-lattice point distance can land exactly on the
      // boundary — keeps the JTS-vs-DuckDB comparison FMA-robust
      s.sql("""SELECT event_id, zone_key FROM dw_pts
              |JOIN dw_zones ON st_dwithinPlanar(p_geom, z_geom, 9.701)""".stripMargin)
    }),

    "q_tile_assign" -> ((s, dir) => {
      // raster->vector tile assignment at res 9; oracle recomputes the
      // packed cell id via independent bit-arithmetic SQL
      StFunctions.register(s)
      pts(s, dir)
        .withColumn("cell", expr("st_cellOfXY(lon, lat, 9)"))
        .selectExpr("event_id", "cell", "st_cellX(cell) AS tx", "st_cellY(cell) AS ty")
    }),

    "q_knn" -> ((s, dir) => {
      // kNN through the REAL operator (cell-ring expansion with
      // density-seeded radius + per-query proof), planar metric so the
      // DuckDB oracle is exact; event_id tiebreak matches the oracle
      import s.implicits._
      StFunctions.register(s)
      val queries = Seq((0, 0.0, 0.0), (1, 100.05, 30.05), (2, -74.0, 40.7))
        .toDF("qid", "qx", "qy")
      operators.KnnJoin(s, pts(s, dir), "lon", "lat", queries, "qid", "qx", "qy",
          k = 5, res = 6, metric = "planar", tieBreakCols = Seq("event_id"))
        .selectExpr("qid", "event_id", "round(dist, 6) AS dist")
    }),

    "q_dwithin_zone" -> ((s, dir) => {
      // proximity search (ProximitySearchProcess analog): per zone center,
      // points within 10 degrees; count + exact min distance
      pts(s, dir).createOrReplaceTempView("pts")
      zones(s, dir).createOrReplaceTempView("zones")
      s.sql("""
        SELECT z.zone_key,
          COUNT(CASE WHEN sqrt((p.lon - (z.lon0 + 36.0))*(p.lon - (z.lon0 + 36.0)) + (p.lat - (z.lat0 + 18.0))*(p.lat - (z.lat0 + 18.0))) < 10.0 THEN 1 END) AS n_within,
          MIN(round(sqrt((p.lon - (z.lon0 + 36.0))*(p.lon - (z.lon0 + 36.0)) + (p.lat - (z.lat0 + 18.0))*(p.lat - (z.lat0 + 18.0))), 6)) AS min_dist
        FROM zones z CROSS JOIN pts p
        GROUP BY z.zone_key""")
    }),

    "q_density" -> ((s, dir) => {
      // DensityScan analog: snap points to the res-6 grid, count + weight
      StFunctions.register(s)
      pts(s, dir)
        .withColumn("cell", expr("st_cellOfXY(lon, lat, 6)"))
        .selectExpr("st_cellX(cell) AS tx", "st_cellY(cell) AS ty", "value")
        .groupBy("tx", "ty")
        .agg(count("*").as("n"),
          expr("CAST(SUM(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE)").as("weight"))
    }),

    "q_partition_scheme" -> ((s, dir) => {
      // FS-datastore partition layout (reference PartitionScheme family):
      // the "daily,z2-2bit" composite scheme's partition name computed by
      // the pure-codegen partition Column, aggregated per partition. The
      // oracle replicates strftime + the 1-bit/dim z2 interleave in SQL.
      import graft.table.{PartitionScheme, Sft}
      val scheme = PartitionScheme(
        Sft.parse("events", "ts:Date,*geom:Point:srid=4326"), "daily,z2-2bit")
      pts(s, dir)
        .withColumn("part", scheme.partitionCol(PartitionScheme.LonLatResolver("lon", "lat")))
        .groupBy("part").agg(count(lit(1)).as("n"))
    }),
    "q_grid_density" -> ((s, dir) => {
      // viewport raster density (DensityScan's width x height grid over
      // an explicit envelope; GridSnap kernel): pure Catalyst floor/least
      // snap, decimal-exact weights. The oracle replicates the identical
      // arithmetic in DuckDB (dx = 5.625 and the cell centers are exact
      // binary doubles, so the hash comparison is safe).
      operators.Density.grid(pts(s, dir), "lon", "lat", -180, -90, 180, 90,
          width = 64, height = 32,
          weight = Some(expr("CAST(round(value, 6) AS DECIMAL(18,6))")))
        .withColumn("weight", col("weight").cast("double"))
        .select("i", "j", "n", "weight", "x", "y")
    }),

    "q_convert_features" -> ((s, dir) => {
      // converter feature-path end-to-end: pack events into multi-feature
      // JSON documents (10 per doc, sorted for determinism), convert back
      // through the CONFIG-DRIVEN json converter (feature-path explode +
      // typed fields + derived fid), and let DuckDB recompute the same
      // rows straight from the table
      val ev = t(s, dir, "events")
      val docs = ev
        .groupBy((col("event_id") / 10).cast("bigint").as("doc"))
        .agg(sort_array(collect_list(
          struct(col("event_id"), col("event_type"), col("value")))).as("Features"))
        .select(to_json(struct(col("Features"))).as("value"))
      val cfg = sources.ConverterConfig.parse(
        """{ "type": "json",
          |  "id-field": "$event_id",
          |  "feature-path": "$.Features[*]",
          |  "fields": [
          |    {"name": "event_id",   "json-path": "$.event_id", "type": "bigint"},
          |    {"name": "event_type", "json-path": "$.event_type"},
          |    {"name": "value",      "json-path": "$.value", "type": "double"}
          |  ] }""".stripMargin)
      sources.ConverterConfig(docs, "value", cfg)
        .select("event_id", "event_type", "value", "fid")
    }),

    "q_disjoint_scan" -> ((s, dir) => {
      // disjoint-OR (FilterSplitter.makeDisjoint analog) in SINGLE-SCAN
      // form: these attribute branches cannot prune storage ranges, so
      // one pass with an OR'd pushed filter + first-match branch tag
      // replaces the k-scan union (identical row multiset; plan shows
      // one FileScan — asserted in ExtensionsSpec)
      val li = t(s, dir, "lineitem")
      plans.Disjoint.taggedScan(li, Seq(
          col("l_quantity") < 10.0,
          col("l_extendedprice") > 50000.0,
          col("l_returnflag") === "R"))
        .selectExpr("l_orderkey", "l_linenumber", "branch")
    }),

    "q_json_extract" -> ((s, dir) => {
      // converter-framework analog (geomesa-convert json): config-free
      // parse of a JSON column with from_json + aggregation
      t(s, dir, "events").createOrReplaceTempView("events")
      s.sql("""
        SELECT event_type,
          CAST(SUM(get_json_object(props, '$.k')) AS BIGINT) AS sum_k,
          COUNT(*) AS n
        FROM events GROUP BY event_type""")
    }),

    "q_enrich" -> ((s, dir) => {
      // converter enrichment (EnrichmentCacheTest analog): a config-driven
      // converter with an inline cache labels event types in-scan
      // (cacheLookup -> literal map, no join), with a $name
      // back-reference deriving a second field from the first
      t(s, dir, "events").createOrReplaceTempView("events")
      val lines = s.sql(
        "SELECT concat(CAST(event_id AS STRING), ',', event_type) AS value FROM events")
      val cfg =
        """{ "type": "delimited",
          |  "caches": {
          |    "sev": {"type": "simple", "data": {
          |      "error": {"label": "bad", "weight": "3"},
          |      "purchase": {"label": "good", "weight": "2"},
          |      "signup": {"label": "good", "weight": "1"}}}
          |  },
          |  "fields": [
          |    {"name": "event_id", "transform": "$1::long"},
          |    {"name": "kind",     "transform": "toString($2)"},
          |    {"name": "label",    "transform": "try(cacheLookup('sev', $kind, 'label'), 'other')"},
          |    {"name": "weight",   "transform": "try(cacheLookup('sev', $kind, 'weight')::int, 0)"}] }"""
          .stripMargin
      sources.ConverterConfig(lines, "value", sources.ConverterConfig.parse(cfg))
        .groupBy("kind", "label")
        .agg(count(lit(1)).as("n"), sum("weight").as("total_weight"))
    }),

    "q_image_features" -> ((s, dir) => {
      // multimodal decode + feature extraction over real PNG binary
      // payloads. PNG is lossless, so the decoded pixels equal the
      // closed-form synthetic pattern and the DuckDB oracle recomputes
      // width/height/luma per pixel independently (splitmix64 +
      // quantized sin in SQL). JPEG rows are excluded here (lossy);
      // that path is certified by the PSNR>=40dB pipeline specs.
      val imgs = graft.images.SyntheticImages.table(s, 300, partitions = 8).toDF()
        .where("fmt = 'png'")
      operators.Multimodal.imageFeatures(s, imgs).toDF()
        .selectExpr("image_id", "width", "height",
          "CAST(floor(luma_mean * 10000 + 0.5) AS BIGINT) AS luma_e4", "decode_ok")
    }),

    "q_clean_images" -> ((s, dir) => {
      // image-corpus curation composite: decode gates + aspect gate +
      // exact-phash dedup over planted renders (byte-identical 'x'
      // suffixed duplicates every 5th id, two corrupt rows). With the
      // standard 64/128/256 sizes nothing is too_small at minDim=64 and
      // no sinusoid is low-variance; those two gates are spec-certified
      // (MultimodalSpec cleanImages).
      import s.implicits._
      val base = graft.images.SyntheticImages.table(s, 60, partitions = 8).toDF()
        .select("image_id", "bytes")
      val dups = base
        .where(expr("CAST(substr(image_id, 4) AS BIGINT) % 5 = 0"))
        .withColumn("image_id", concat(col("image_id"), lit("x")))
      val corrupt = Seq(("imgBAD001", Array[Byte](1, 2, 3)), ("imgBAD002", Array[Byte](0)))
        .toDF("image_id", "bytes")
      operators.Multimodal.cleanImages(s, base.union(dups).union(corrupt),
          minDim = 64, maxAspect = 3.0, minLumaStd = 0.5)
        .select("image_id", "width", "height", "fate")
    }),

    "q_audio_features" -> ((s, dir) => {
      // audio modality: REAL RIFF/WAVE PCM16 decode (deterministic synth
      // clips keyed by doc_id); signal features are not SQL-expressible
      // -> rows-only; invariants asserted in MultimodalSpec
      import s.implicits._
      val clips = t(s, dir, "documents").where("doc_id < 200")
        .select("doc_id").as[Long]
        .map(id => (id.toString, graft.images.SyntheticMedia.wav(id)))
        .toDF("audio_id", "bytes")
      operators.Multimodal.audioFeatures(s, clips).toDF()
        .selectExpr("audio_id", "sample_rate", "n_samples",
          "round(rms, 4) AS rms", "zero_crossings", "decode_ok")
    }),

    "q_frame_sample" -> ((s, dir) => {
      // video frame sampling (stub decoder, real plumbing): stride +
      // timestamp arithmetic over per-video frame counts, recomputed
      // independently by the DuckDB oracle
      import s.implicits._
      val vids = t(s, dir, "documents").where("doc_id < 100")
        .selectExpr("doc_id", "CAST(10 + doc_id % 20 AS INT) AS nf")
        .as[(Long, Int)]
        .map { case (id, nf) =>
          (id.toString, graft.images.SyntheticMedia.video(id, nFrames = nf, fps = 10))
        }
        .toDF("video_id", "bytes")
      operators.Multimodal.frameSample(s, vids, everyN = 3).toDF()
        .select("video_id", "frame_idx", "ts_ms", "width", "height")
    }),

    "q_phash_pairs" -> ((s, dir) => {
      // perceptual-hash near-dup pairs over the image modality, with the
      // phash PLANTED as an SQL-derivable function of the image id so
      // the DuckDB oracle can brute-force the exact pair set (the
      // pigeonhole machinery is exact for <= maxDist, so the sets must
      // coincide); real-phash behavior is covered by MultimodalSpec and
      // the flagship pipeline's PSNR audit
      val imgs = graft.images.SyntheticImages.table(s, 500, partitions = 8).toDF()
      val hashed = imgs
        .selectExpr("image_id", "CAST(substring(image_id, 4) AS BIGINT) AS iid")
        .selectExpr("image_id",
          "CAST((iid div 4) * 2246822519 % 4294967296 * 65537 AS BIGINT)" +
            " ^ shiftleft(CAST(7 AS BIGINT), CAST(3 * (iid % 4) AS INT)) AS ph")
      operators.Multimodal.phashPairs(hashed, "image_id", "ph", maxDist = 12)
    }),

    "q_convert_delim" -> ((s, dir) => {
      // delimited converter end-to-end (geomesa-convert-text analog):
      // events serialize to CSV lines in-plan, the Col-spec converter
      // splits them back, and DuckDB recomputes from the table
      val lines = t(s, dir, "events").select(
        concat_ws(",", col("event_id"), col("event_type"), col("user_id")).as("line"))
      sources.Converters.convert(lines, "line", Seq(
        sources.Converters.Field("event_id", sources.Converters.Col(0), "bigint"),
        sources.Converters.Field("event_type", sources.Converters.Col(1)),
        sources.Converters.Field("user_id", sources.Converters.Col(2), "bigint")))
        .select("event_id", "event_type", "user_id")
    }),

    "q_convert_fixed" -> ((s, dir) => {
      // fixed-width converter end-to-end (geomesa-convert fixed-width
      // analog): events serialize to fixed-width lines in-plan (lpad'd
      // columns at known offsets), the slice converter parses them
      // back, and DuckDB recomputes the rows from the table
      val lines = t(s, dir, "events").select(
        concat(lpad(col("event_id").cast("string"), 10, "0"),
          rpad(col("event_type"), 12, " "),
          lpad(col("user_id").cast("string"), 8, "0")).as("line"))
      sources.Converters.convert(lines, "line", Seq(
        sources.Converters.Field("event_id", sources.Converters.FixedWidth(0, 10), "bigint"),
        sources.Converters.Field("event_type", sources.Converters.FixedWidth(10, 12)),
        sources.Converters.Field("user_id", sources.Converters.FixedWidth(22, 8), "bigint")))
        .select("event_id", "event_type", "user_id")
    }),

    "q_lambda_merge" -> ((s, dir) => {
      // lambda-store merged view (LambdaQueryRunner.runMergedQuery
      // analog): the persistent tier loses to the live changelog —
      // live upserts replace, live deletes suppress, untouched
      // persistent rows pass through. Tiers derive deterministically
      // from events; DuckDB replays the same semantics in SQL
      import s.implicits._
      val ev = t(s, dir, "events")
        .selectExpr("CAST(user_id AS STRING) AS id",
          "unix_millis(CAST(ts AS timestamp)) AS millis",
          "event_id", "CAST(event_id % 360 AS DOUBLE) - 180.0 AS lon",
          "CAST(event_id % 180 AS DOUBLE) - 90.0 AS lat", "event_type")
      // persistent tier: each user's EARLIEST event (by millis, event_id)
      val persistent = ev
        .withColumn("rn", row_number().over(
          Window.partitionBy("id").orderBy(col("millis"), col("event_id"))))
        .where(col("rn") === 1)
        .select(col("id"), col("lon"), col("lat"),
          typedLit(Map.empty[String, String]).as("attrs"),
          expr("timestamp_millis(millis)").as("updated"))
        .as[graft.streaming.ChangelogStream.GeoState]
      // live tier: users with an odd latest event_id emit an upsert at
      // their LATEST position; every 7th user's live tier is a delete
      val latest = ev
        .withColumn("rn", row_number().over(
          Window.partitionBy("id").orderBy(desc("millis"), desc("event_id"))))
        .where(col("rn") === 1)
      val live = latest
        .where(col("event_id") % 2 === 1 || col("id").cast("long") % 7 === 0)
        .select(
          when(col("id").cast("long") % 7 === 0, lit("delete")).otherwise(lit("upsert")).as("kind"),
          expr("timestamp_millis(millis)").as("ts"), col("id"),
          col("lon"), col("lat"), typedLit(Map.empty[String, String]).as("attrs"))
        .as[graft.streaming.ChangelogStream.GeoEvent]
      graft.streaming.ChangelogStream.mergedView(s, persistent, live)
        .toDF().selectExpr("id", "lon", "lat", "unix_millis(updated) AS updated_millis")
    }),

    "q_convert_xml" -> ((s, dir) => {
      // XML converter end-to-end (geomesa-convert-xml analog): events
      // serialize to XML documents in-plan, the XPath converter parses
      // them back, and DuckDB recomputes the rows straight from the
      // table. Double round-trips exactly (shortest-repr string form).
      // the events table is one parquet split at bench scale; an
      // explicit repartition(32) pins the parallelism for the
      // parse-dominant stage (REPARTITION_BY_NUM shuffles are exempt
      // from AQE partition coalescing), like a real many-split corpus
      val docs = t(s, dir, "events").select(
        concat(lit("<event id=\""), col("event_id").cast("string"), lit("\"><type>"),
          // escape markup characters — the XPath text() extraction
          // unescapes, so raw oracle values still round-trip exactly
          regexp_replace(regexp_replace(regexp_replace(
            col("event_type"), "&", "&amp;"), "<", "&lt;"), ">", "&gt;"),
          lit("</type><value>"), col("value").cast("string"),
          lit("</value></event>")).as("line"))
        .repartition(32)
      sources.Converters.convert(docs, "line", Seq(
        sources.Converters.Field("event_id", sources.Converters.XPath("/event/@id"), "bigint"),
        sources.Converters.Field("event_type", sources.Converters.XPath("/event/type/text()")),
        sources.Converters.Field("value", sources.Converters.XPath("/event/value/text()"), "double")))
        .select("event_id", "event_type", "value")
    }),

    "q_map_counts" -> ((s, dir) => {
      // map aggregation (KryoLazyMapAggregatingIterator analog): exact
      // value->count maps per group, rendered as a canonical sorted
      // string so the oracle compares content, not map ordering
      // floor() explicit: DuckDB CAST(double AS BIGINT) rounds to
      // nearest while Spark's cast truncates
      val m = graft.operators.Stats.mapCounts(
        t(s, dir, "events").selectExpr("event_type",
          "CAST(floor(value) AS BIGINT) % 10 AS bucket"),
        "event_type", "bucket")
      m.select(col("event_type"),
        expr("""concat_ws(",", transform(array_sort(map_keys(value_counts)),
          |k -> concat(CAST(k AS STRING), ':', CAST(value_counts[k] AS STRING))))""".stripMargin
          .replace("\n", " ")).as("counts"))
    }),

    "q_tube_bins" -> ((s, dir) => {
      // NoGapFill.timeBinAndUnion (TubeBuilder.scala:133-160) through
      // the oracle: rows collapse to unique millis (deterministic time
      // order), bins are equal-size sequential groups, and the per-bin
      // [start, end] ranges are exact integer arithmetic both engines
      // replicate; the unioned geometry itself is certified by
      // TrackOpsSpec's coverage assertions
      import s.implicits._
      StFunctions.register(s)
      val tube = t(s, dir, "events")
        .selectExpr("unix_millis(cast(ts AS timestamp)) AS millis", "event_id")
        .groupBy("millis").agg(min("event_id").as("event_id"))
        .withColumn("sx", (col("event_id") % 7).cast("double"))
        .withColumn("geom", StFunctions.fn("st_makeBBOX")(
          col("sx"), lit(0.0), col("sx") + 1, lit(1.0)))
      graft.operators.TrackOps.timeBinAndUnion(tube, "geom", "millis", 7)
        .select(col("bin"), col("start").as("start_millis"), col("end").as("end_millis"))
    }),

    "q_union_area" -> ((s, dir) => {
      // geometric-union aggregate (TubeBuilder unionFeatures analog,
      // Stats.UnionAgg) certified by exact arithmetic: events snap to
      // integer unit-box slots, so each group's union area IS its
      // distinct-slot count — integer shoelace sums are exact doubles
      StFunctions.register(s)
      val boxes = t(s, dir, "events")
        .selectExpr("event_id % 25 AS grp",
          "CAST(event_id % 97 AS DOUBLE) AS sx",
          "CAST(CAST(floor(event_id / 97) AS BIGINT) % 41 AS DOUBLE) AS sy")
        .withColumn("geom", StFunctions.fn("st_makeBBOX")(
          col("sx"), col("sy"), col("sx") + 1, col("sy") + 1))
      boxes.groupBy("grp")
        .agg(graft.operators.Stats.geomUnion(col("geom")).as("u"))
        .select(col("grp"),
          StFunctions.fn("st_area")(col("u")).cast("long").as("area"))
    }),

    "q_tube_select" -> ((s, dir) => {
      // spatio-temporal corridor join (TubeSelectProcess analog), planar
      // variant: corridor membership = exact JTS point-to-segment
      // distance, replicated formula-for-formula by the DuckDB oracle.
      // (the haversine/buffered variant is covered by TrackOpsSpec)
      import s.implicits._
      StFunctions.register(s)
      val p = pts(s, dir)
        .join(t(s, dir, "events").select("event_id", "user_id"), "event_id")
        .withColumn("millis", expr("unix_millis(cast(ts AS timestamp))"))
        .selectExpr("event_id", "user_id", "CAST(lon AS DOUBLE) AS lon",
          "CAST(lat AS DOUBLE) AS lat", "millis")
      val track = p.where(col("user_id") === 1).orderBy("millis", "event_id")
        .limit(20).select("lon", "lat", "millis")
      operators.TrackOps.tubeSelectPlanar(s, p, "event_id", "lon", "lat", "millis",
        track, "lon", "lat", "millis", bufferDeg = 4.503,
        timeSlackMs = 86400000L, res = 5)
    }),

    "q_route_search" -> ((s, dir) => {
      // route proximity + heading match (RouteSearchProcess analog),
      // planar variant for the oracle (haversine variant in TrackOpsSpec)
      import s.implicits._
      StFunctions.register(s)
      val p = pts(s, dir)
        .withColumn("heading", expr("CAST((event_id * 37) % 360 AS DOUBLE)"))
        .selectExpr("event_id", "CAST(lon AS DOUBLE) AS lon",
          "CAST(lat AS DOUBLE) AS lat", "heading")
      val route = (0 until 8).map(i => (-30.0 + i * 10.0, 0.0 + i * 2.0, i))
        .toDF("rlon", "rlat", "seq")
      operators.TrackOps.routeSearchPlanar(s, p, "event_id", "lon", "lat", "heading",
          route, "rlon", "rlat", "seq", distDeg = 2.9701, headingTolDeg = 30.0, res = 5,
          bidirectional = true) // the oracle SQL replicates the either-way diff
        .selectExpr("event_id", "round(best_heading_diff, 6) AS best_heading_diff",
          "n_segments")
    }),

    "q_changelog_replay" -> ((s, dir) => {
      // changelog materialization (GeoMessage upsert/delete semantics):
      // events become a keyed changelog; replay -> live view. Oracle =
      // last-event-wins per key ((user_id, ts) is unique in the data).
      import s.implicits._
      val ev = pts(s, dir)
        .join(t(s, dir, "events").select("event_id", "user_id"), "event_id")
        .selectExpr(
          "CASE WHEN event_id % 17 = 0 THEN 'delete' ELSE 'upsert' END AS kind",
          "cast(ts AS timestamp) AS ts",
          "CAST(user_id AS STRING) AS id",
          "CAST(lon AS DOUBLE) AS lon", "CAST(lat AS DOUBLE) AS lat",
          "map('eid', CAST(event_id AS STRING)) AS attrs")
        .as[graft.streaming.ChangelogStream.GeoEvent]
      graft.streaming.ChangelogStream.replay(s, ev)
        .toDF()
        .selectExpr("CAST(id AS BIGINT) AS user_id",
          "CAST(round(lon, 2) AS DOUBLE) AS lon", "CAST(round(lat, 2) AS DOUBLE) AS lat")
    }),

    "q_stat_dsl" -> ((s, dir) => {
      // the reference's PRIMARY stats surface: a composable grammar
      // string (StatParser.scala) -> one grouped aggregation pass;
      // cardinality (HLL) is part of MinMax but engine-specific, so the
      // oracle-checked projection is min/max/count
      operators.StatDsl.parse(t(s, dir, "events"),
          "GroupBy(event_type,MinMax(value);Count())")
        .selectExpr("event_type", "value_min", "value_max", "count")
    }),

    "q_topk" -> ((s, dir) => {
      // TopK stat analog (deterministic tiebreak on the value)
      operators.Stats.topK(t(s, dir, "events"), "event_type", 3)
        .withColumnRenamed("count", "n")
    }),

    "q_group_minmax" -> ((s, dir) => {
      // GroupBy-stat nesting (stats/GroupBy.scala analog)
      operators.Stats.groupedMinMax(t(s, dir, "events"), "event_type", "value")
        .withColumnRenamed("count", "n")
    }),

    "q_z3hist" -> ((s, dir) => {
      // Z3Histogram analog: counts keyed by (week bin, res-6 cell);
      // oracle recomputes bin arithmetic + Morton packing independently
      StFunctions.register(s)
      val p = pts(s, dir).withColumn("millis", expr("unix_millis(cast(ts AS timestamp))"))
      operators.Stats.z3Histogram(p, "lon", "lat", "millis", "week", 6)
        .selectExpr("CAST(time_bin AS BIGINT) AS time_bin", "cell", "count AS n")
    }),

    "q_convexhull" -> ((s, dir) => {
      // geometry-valued aggregate (ConvexHull UDAF analog) — WKT output.
      // Planted construction: the four corners of the lon/lat domain are
      // unioned in, so the true hull is provably the world rectangle
      // (every data point lies strictly inside it and JTS drops collinear
      // boundary points) — a known-WKT oracle
      StFunctions.register(s)
      import s.implicits._
      import org.apache.spark.sql.functions.udf
      val wkt = udf((b: Array[Byte]) => graft.geom.GeomOps.toWkt(graft.geom.GeomOps.fromWkb(b)))
      val corners = Seq((-180.0, -90.0), (180.0, -90.0), (180.0, 90.0), (-180.0, 90.0))
        .toDF("lon", "lat")
      pts(s, dir).select(col("lon"), col("lat")).union(corners)
        .selectExpr("st_makePoint(lon, lat) AS g")
        .agg(operators.Stats.convexHull(col("g")).as("hull"))
        .select(wkt(col("hull")).as("hull_wkt"))
    }),

    "q_bin_records" -> ((s, dir) => {
      // BIN export projection (BinAggregatingScan analog); the track
      // hash here is an engine-portable integer formula so DuckDB can
      // recompute the full wire layout (Spark's murmur default is
      // exercised by StatsSpec)
      val p = pts(s, dir).join(t(s, dir, "events").select("event_id", "user_id"), "event_id")
        .withColumn("millis", expr("unix_millis(cast(ts AS timestamp))"))
        .withColumn("th", expr("CAST((user_id * 2654435761) % 2147483647 AS INT)"))
      operators.Stats.binRecords(p, "th", "millis", "lon", "lat", hashTrack = false)
    }),

    "q_z3_scan" -> ((s, dir) => {
      // spatio-temporal box scan through the Z3 index machinery: coarse
      // per-bin z-range cover (Z3IndexKeySpace.getRanges analog) + exact
      // refine (Z3Filter analog); oracle = the plain predicate
      StFunctions.register(s)
      val start = java.time.Instant.parse("2024-01-05T00:00:00Z").toEpochMilli
      val end = java.time.Instant.parse("2024-01-20T00:00:00Z").toEpochMilli - 1
      val bbox = (-60.0, -30.0, 60.0, 30.0)
      val df = pts(s, dir)
        .withColumn("millis", expr("unix_millis(cast(ts AS timestamp))")) // NTZ -> UTC instant
        .withColumn("bin", expr("st_z3bin(millis, 'week')"))
        .withColumn("z", expr("st_z3(st_makePoint(lon, lat), millis, 'week')"))
      df.where(plans.ZQuery.z3FilterFn(col("bin"), col("z"), bbox, start, end, graft.cells.BinnedTime.Week))
        .where(col("lon").between(bbox._1, bbox._3) && col("lat").between(bbox._2, bbox._4)
          && col("millis").between(start, end))
        .select("event_id")
    }),

    "q_xz2_scan" -> ((s, dir) => {
      // extent scan through the XZ2 index: index zone boxes, query with a
      // window's xz-ranges (XZ2SFC.ranges analog) + exact refine
      StFunctions.register(s)
      val z = zones(s, dir)
        .withColumn("zgeom", expr("st_makeBBOX(lon0, lat0, lon0 + 72.0, lat0 + 36.0)"))
        .withColumn("xz", expr("st_xz2(zgeom, 12)"))
      val win = (-120.0, -40.0, -20.0, 40.0)
      // cap the cover size (scan-range-target analog): a few dozen ORed
      // BETWEENs — beyond that Catalyst recursion depth becomes the limit
      val ranges = graft.cells.XZ2(12).ranges(win._1, win._2, win._3, win._4, maxRanges = 48)
      val coarse = ranges.map(r => col("xz").between(lit(r.lower), lit(r.upper))).reduce(_ || _)
      z.where(coarse)
        .where(expr(s"st_intersects(zgeom, st_makeBBOX(${win._1}, ${win._2}, ${win._3}, ${win._4}))"))
        .select("zone_key")
    }),

    "q_z2_scan" -> ((s, dir) => {
      // pure-spatial scan through the Z2 index: 31-bit z2 keys + coarse
      // z-range cover (Z2IndexKeySpace analog) + exact refine; oracle is
      // the plain bbox predicate
      StFunctions.register(s)
      val win = (-45.0, -20.0, 60.0, 40.0)
      val df = pts(s, dir).withColumn("z2", expr("st_z2(st_makePoint(lon, lat))"))
      // function form: z2 is COMPUTED, so the OR-of-BETWEENs form would
      // re-run st_z2 once per range term (ZQuery.z3FilterFn scaladoc)
      df.where(plans.ZQuery.z2FilterFn(col("z2"), win, maxRanges = 48))
        .where(col("lon").between(win._1, win._3) && col("lat").between(win._2, win._4))
        .select("event_id")
    }),

    "q_xz3_scan" -> ((s, dir) => {
      // spatio-temporal EXTENT scan through the XZ3 index: zones gain
      // deterministic time intervals (all inside one week bin), keys are
      // (bin, xz3); the query covers a window x interval with xz3 ranges
      // + exact rect/time-overlap refine. Oracle = the plain overlap
      // predicate.
      StFunctions.register(s)
      import graft.cells.{BinnedTime, XZ3}
      val sfc = XZ3(12, BinnedTime.Week)
      val idx = udf { (lon0: Double, lat0: Double, ts: Long, te: Long) =>
        val b0 = BinnedTime.toBinned(BinnedTime.Week, ts)
        val b1 = BinnedTime.toBinned(BinnedTime.Week, te)
        sfc.index(lon0, lat0, b0.offset, lon0 + 72.0, lat0 + 36.0,
          if (b1.bin == b0.bin) b1.offset else BinnedTime.maxOffset(BinnedTime.Week) - 1)
      }
      val z = zones(s, dir)
        // day 19698 is a week-bin boundary; starts+durations stay inside the bin
        .withColumn("tstart", expr("CAST((19698 + zone_key % 3) AS BIGINT) * 86400000"))
        .withColumn("tend", expr("tstart + CAST(1 + zone_key % 2 AS BIGINT) * 86400000"))
        .withColumn("xz3", idx(col("lon0"), col("lat0"), col("tstart"), col("tend")))
      val win = (-120.0, -40.0, -10.0, 42.0)
      // one-day query window: zones starting on day 19700 fall outside,
      // so the time axis of the xz3 cover is actually exercised
      val q0 = 19698L * 86400000; val q1 = q0 + 1L * 86400000
      val off0 = BinnedTime.toBinned(BinnedTime.Week, q0)
      val off1 = BinnedTime.toBinned(BinnedTime.Week, q1)
      val ranges = sfc.ranges(win._1, win._2, off0.offset, win._3, win._4, off1.offset, maxRanges = 48)
      val coarse = ranges.map(r => col("xz3").between(lit(r.lower), lit(r.upper))).reduce(_ || _)
      z.where(coarse)
        .where(col("lon0") <= win._3 && col("lon0") + 72.0 >= win._1 &&
          col("lat0") <= win._4 && col("lat0") + 36.0 >= win._2 &&
          col("tstart") <= q1 && col("tend") >= q0)
        .select("zone_key")
    }),

    // ---- training-data ops: dedup / text / similarity ------------------
    "q_dedup_exact" -> ((s, dir) => {
      // exact dedup by content (hash-groupBy)
      t(s, dir, "documents").groupBy("text")
        .agg(min("doc_id").as("canonical_id"), count("*").as("n_dups"))
        .select("canonical_id", "n_dups")
    }),

    "q_token_count" -> ((s, dir) => {
      t(s, dir, "documents")
        .selectExpr("doc_id", "CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens", "CAST(length(text) AS BIGINT) AS n_chars_calc")
    }),

    "q_quality" -> ((s, dir) => {
      // text quality scoring: word count, mean word length
      t(s, dir, "documents").selectExpr(
        "doc_id",
        "CAST(size(split(text, ' ')) AS BIGINT) AS n_words",
        "round((CAST(length(text) AS DOUBLE) - size(split(text, ' ')) + 1) / size(split(text, ' ')), 6) AS avg_word_len")
    }),

    "q_dedup_minhash" -> ((s, dir) => {
      // MinHash+LSH near-dup candidate pairs (non-SQL-expressible:
      // rows-only driver check; semantics tested in OperatorsSpec)
      operators.Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text", threshold = 0.5)
        .selectExpr("id1", "id2", "round(est_jaccard, 6) AS est_jaccard")
    }),

    "q_simhash_pairs" -> ((s, dir) => {
      operators.Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", maxDist = 6)
    }),

    "q_dedup_groups" -> ((s, dir) => {
      // near-dup PAIRS -> transitive GROUPS through the real large-star/
      // small-star components operator. The planted edge set (intra-block
      // chains + shortcut edges over id blocks of 10, first 60% of docs;
      // multi-hop, so transitivity is genuinely exercised) is pure SQL,
      // so DuckDB recomputes the components independently with a
      // recursive-CTE transitive closure — not the closed form.
      val docs = t(s, dir, "documents")
      docs.createOrReplaceTempView("documents")
      val pairs = s.sql(
        """WITH cut AS (SELECT count(*) div 10 * 6 AS c FROM documents)
          |SELECT doc_id AS id1, doc_id + 1 AS id2 FROM documents, cut
          |WHERE doc_id < c AND doc_id % 10 < 9
          |UNION ALL
          |SELECT doc_id, doc_id + 5 FROM documents, cut
          |WHERE doc_id < c AND doc_id % 10 < 5""".stripMargin)
      operators.Dedup.labelComponents(docs, "doc_id", pairs)
        .select("doc_id", "component", "is_canonical")
    }),

    "q_lang_id" -> ((s, dir) => {
      operators.TextAnalysis.withLangId(t(s, dir, "documents"), "text")
        .select("doc_id", "lang_pred")
    }),

    "q_clean_corpus" -> ((s, dir) => {
      // the composite corpus-cleaning pipeline (lang gate + quality gate
      // + exact dedup + fingerprint near-dedup) in ONE plan. sf0.01 has
      // no natural duplicates, so planted variants make every stage
      // fire: byte-identical copies (exact_dup), upper-cased copies and
      // double-spaced copies (near_dup — same normalized fingerprint,
      // different raw bytes). The oracle recomputes all four stages in
      // DuckDB, including the lang-id and quality replicas.
      import org.apache.spark.sql.functions._
      val base = t(s, dir, "documents").select("doc_id", "text")
      val planted = base.filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
        .unionAll(base.filter(col("doc_id") % 50 === 1)
          .select((col("doc_id") + 2000000).as("doc_id"), upper(col("text")).as("text")))
        .unionAll(base.filter(col("doc_id") % 50 === 2)
          .select((col("doc_id") + 3000000).as("doc_id"),
            regexp_replace(col("text"), " ", "  ").as("text")))
      operators.TextAnalysis.cleanCorpus(base.unionAll(planted), "doc_id", "text",
        minChars = 100L, minWords = 10L, minScoreE6 = 780000L,
        langs = Seq("en", "de", "fr"))
    }),

    "q_fingerprint" -> ((s, dir) => {
      operators.TextAnalysis.withFingerprint(t(s, dir, "documents"), "text")
        .select("doc_id", "fingerprint")
    }),

    "q_bpe_tokens" -> ((s, dir) => {
      operators.TextAnalysis.withTokenCounts(t(s, dir, "documents"), "text")
        .select("doc_id", "n_ws_tokens", "n_bpe_tokens")
    }),

    "q_quality_score" -> ((s, dir) => {
      // floor(x*1e6+0.5) instead of round(x,6): the composite lands on
      // exact dyadic .5 boundaries (sums of /16, /96 fractions) where
      // Spark's BigDecimal HALF_UP and DuckDB's multiply-round disagree;
      // the floor form is the same double arithmetic on both engines
      operators.TextAnalysis.withQuality(t(s, dir, "documents"), "text")
        .selectExpr("doc_id", "CAST(q_words AS BIGINT) AS q_words",
          "CAST(floor(q_score * 1000000 + 0.5) AS BIGINT) AS q_score_e6")
    }),

    "q_repetition" -> ((s, dir) => {
      // Gopher-style duplicate-line / duplicate-paragraph signals. The
      // corpus text is single-line, so a multi-line document is
      // constructed per row from its own words (5-word lines, a
      // doc_id%3-selected duplication pattern, chr(10) separators) — the
      // SAME construction runs in the DuckDB oracle, which then
      // recomputes the metrics with list_* algebra.
      val toks = "filter(split(text, ' '), x -> x != '')"
      def line(start: Int) = s"array_join(slice($toks, $start, 5), ' ')"
      val (l1, l2, l3) = (line(1), line(6), line(11))
      val nl = "chr(10)"
      val text2 =
        s"""CASE CAST(doc_id % 3 AS INT)
           |  WHEN 0 THEN concat($l1, $nl, $l2, $nl, $l1, $nl, $nl, $l3, $nl, $l3)
           |  WHEN 1 THEN concat($l1, $nl, $l2, $nl, $nl, $l1, $nl, $l2)
           |  ELSE concat($l1, $nl, $l2, $nl, $l3)
           |END""".stripMargin
      val docs = t(s, dir, "documents").selectExpr("doc_id", s"$text2 AS text2")
      operators.TextAnalysis.withRepetition(docs, "text2")
        .select("doc_id", "rep_line_n", "rep_line_dup_frac_e6", "rep_line_dup_char_frac_e6",
          "rep_para_n", "rep_para_dup_frac_e6", "rep_para_dup_char_frac_e6")
    }),

    "q_top_bigram" -> ((s, dir) => {
      // most-frequent word-2-gram coverage (the Gopher top-n-gram rule);
      // the synthetic word-stream corpus has natural repeated bigrams
      operators.TextAnalysis.withTopBigram(t(s, dir, "documents"), "doc_id", "text")
        .select("doc_id", "top_bigram", "top_bigram_count", "top_bigram_char_frac_e6")
    }),

    "q_stratified" -> ((s, dir) => {
      // deterministic quota sampling per source (domain mixing); the
      // two-phase salted top-K must equal the oracle's single window
      operators.Sampling.stratifiedTopK(t(s, dir, "documents"), "source", "doc_id",
          quotas = Map("src18" -> 7, "src6" -> 5), defaultQuota = 3)
        .selectExpr("doc_id", "source", "CAST(sample_rank AS BIGINT) AS sample_rank")
    }),

    "q_decontaminate" -> ((s, dir) => {
      // benchmark decontamination: every 97th document's 8-word prefix
      // stands in for an eval set; 5-gram overlap flags contamination.
      // The gram construction is pure Column algebra replicated in SQL.
      val docs = t(s, dir, "documents")
      val bench = docs.where(expr("doc_id % 97 = 0")).selectExpr(
        "array_join(slice(filter(split(lower(text), '\\\\s+'), x -> x != ''), 1, 8), ' ') AS btext")
      operators.Dedup.contamination(docs, "doc_id", "text", bench, "btext", n = 5)
        .select("doc_id", "n_grams", "n_contaminated", "contaminated_frac_e6", "contaminated")
    }),

    "q_pii_redact" -> ((s, dir) => {
      // PII scrubbing over deterministically planted emails / SSNs /
      // IPs / phone numbers (the corpus text itself is clean words);
      // the identical construction + regex chain runs in DuckDB (RE2),
      // which is why PiiPatterns sticks to the shared regex subset
      val planted = t(s, dir, "documents").selectExpr("doc_id",
        """concat(
          |  'u', doc_id, '@ex', CAST(doc_id % 7 AS STRING), '.org ',
          |  CASE WHEN doc_id % 3 = 0 THEN concat(
          |    lpad(CAST(doc_id % 1000 AS STRING), 3, '0'), '-',
          |    lpad(CAST(doc_id % 100 AS STRING), 2, '0'), '-',
          |    lpad(CAST(doc_id % 10000 AS STRING), 4, '0'), ' ') ELSE '' END,
          |  CASE WHEN doc_id % 5 = 0 THEN concat(
          |    '10.', CAST(doc_id % 256 AS STRING), '.0.',
          |    CAST((doc_id * 7) % 256 AS STRING), ' ') ELSE '' END,
          |  'tel ', lpad(CAST((doc_id * 3) % 1000 AS STRING), 3, '0'), '-',
          |  lpad(CAST((doc_id * 11) % 1000 AS STRING), 3, '0'), '-',
          |  lpad(CAST(doc_id % 10000 AS STRING), 4, '0'), ' ',
          |  array_join(slice(filter(split(text, ' '), x -> x != ''), 1, 6), ' '))
          |AS text2""".stripMargin)
      operators.TextAnalysis.redactPii(planted, "text2")
        .select("doc_id", "text_redacted", "pii_email", "pii_ssn", "pii_card",
          "pii_ip", "pii_phone", "pii_total")
    }),

    "q_chunk_docs" -> ((s, dir) => {
      // fixed-token-window chunking with overlap (40-token windows,
      // 8-token overlap) — one generator, no shuffle
      operators.TextAnalysis.chunkDocs(t(s, dir, "documents"), "doc_id", "text",
        maxTokens = 40, overlap = 8)
    }),

    "q_corpus_grams" -> ((s, dir) => {
      // corpus-wide top-50 bigrams (boilerplate detection): occurrence
      // count + document frequency, TakeOrdered top-K
      operators.TextAnalysis.corpusTopGrams(t(s, dir, "documents"), "doc_id", "text",
        n = 2, k = 50)
    }),

    "q_pack_shards" -> ((s, dir) => {
      // token-budget sequence packing: the two-phase distributed prefix
      // sum must equal the oracle's single global window
      val docs = t(s, dir, "documents")
        .withColumn("tok", expr("size(filter(split(text, ' '), x -> x != ''))"))
      operators.Sampling.packShards(docs, "doc_id", "tok", budget = 1000L, buckets = 16)
        .selectExpr("doc_id", "CAST(tok AS BIGINT) AS tok", "start_offset",
          "shard_id", "shard_offset")
    }),

    "q_dup_spans" -> ((s, dir) => {
      // substring-level dedup (the Lee et al. suffix-dedup rule as
      // k-gram span merging): one of 3 boilerplate sentences is planted
      // mid-text in every doc, so cross-doc duplicated 6-gram runs exist
      // by construction (natural word-stream repeats count too); the
      // oracle recomputes the identical gram/count/island pipeline
      operators.Dedup.duplicateSpans(plantedSpanDocs(s, dir), "doc_id", "text2",
        k = 6, minCount = 2)
    }),

    "q_strip_spans" -> ((s, dir) => {
      // the removal half of substring dedup: same planted construction
      // as q_dup_spans, docs rebuilt without their duplicated spans; the
      // oracle recomputes islands and anti-joins tokens against them
      // (islands are disjoint, so a token matches at most one span)
      operators.Dedup.stripSpans(plantedSpanDocs(s, dir), "doc_id", "text2",
          k = 6, minCount = 2)
        .select("doc_id", "text_deduped")
    }),

    "q_dup_stats" -> ((s, dir) => {
      // document-level duplication fraction (the MassiveText drop rule),
      // derived from the same planted-span construction as q_dup_spans
      operators.Dedup.duplicationStats(plantedSpanDocs(s, dir), "doc_id", "text2",
        k = 6, minCount = 2)
    }),

    "q_c4_lines" -> ((s, dir) => {
      // C4 line-wise corrections over constructed multi-line pages:
      // kept lines, a too-short line, a no-terminal-punctuation line, a
      // javascript line, and lorem-ipsum / curly-brace page flags on
      // some docs; the oracle replicates the full classify pipeline
      val docs = t(s, dir, "documents").selectExpr("doc_id",
        """concat(
          |  array_join(slice(filter(split(text, ' '), x -> x != ''), 1, 6), ' '), '.', chr(10),
          |  'too short', chr(10),
          |  array_join(slice(filter(split(text, ' '), x -> x != ''), 7, 5), ' '), chr(10),
          |  'please enable javascript to continue.', chr(10),
          |  array_join(slice(filter(split(text, ' '), x -> x != ''), 12, 4), ' '), '?', chr(10),
          |  CASE WHEN doc_id % 7 = 0 THEN 'lorem ipsum dolor sit amet.' ELSE '' END, chr(10),
          |  CASE WHEN doc_id % 11 = 0 THEN 'config { x }' ELSE '' END)
          |AS text2""".stripMargin)
      operators.TextAnalysis.c4LineFilter(docs, "text2")
        .select("doc_id", "n_lines", "n_kept", "dropped_short", "dropped_no_punct",
          "dropped_js", "has_lorem", "has_brace", "page_keep", "text_filtered")
    }),

    "q_dedup_lines" -> ((s, dir) => {
      // corpus-wide exact line dedup (RefinedWeb line-level pass): each
      // doc carries one of 3 boilerplate lines between two token-derived
      // lines (which may also collide naturally — the oracle recomputes
      // the identical count/join/rebuild pipeline either way)
      val docs = t(s, dir, "documents").selectExpr("doc_id",
        """concat(
          |  array_join(slice(filter(split(text, ' '), x -> x != ''), 1, 5), ' '), chr(10),
          |  CASE CAST(doc_id % 3 AS INT)
          |    WHEN 0 THEN 'accept all cookies to continue'
          |    WHEN 1 THEN 'subscribe to our newsletter today'
          |    ELSE 'all rights reserved worldwide' END, chr(10),
          |  array_join(slice(filter(split(text, ' '), x -> x != ''), 6, 5), ' '))
          |AS text2""".stripMargin)
      operators.TextAnalysis.dedupLines(docs, "doc_id", "text2")
    }),

    "q_semantic_dedup" -> ((s, dir) => {
      // SemDeDup (cluster, then pairwise-prune INSIDE clusters) with a
      // PLANTED quantizer: one-hot centroids make cluster = vec_id % 8
      // closed-form, and the two-component vectors give
      // cos(a,b) = (1 + ea*eb)/(sqrt(1+ea^2)*sqrt(1+eb^2)) — the oracle
      // recomputes the exact keep set. Behavior on real embeddings is
      // covered by CurationSpec's brute-force parity test.
      val e = t(s, dir, "embeddings").selectExpr("vec_id",
        """transform(sequence(0, 8), j -> CAST(CASE
          |  WHEN j = vec_id % 8 THEN 1.0
          |  WHEN j = 8 THEN CAST(vec_id % 89 + 1 AS DOUBLE) / 256.0
          |  ELSE 0.0 END AS FLOAT)) AS emb""".stripMargin)
      val cents = Array.tabulate(8)(g => Seq.tabulate(9)(j => if (j == g) 1f else 0f))
      operators.Ann.semanticDedup(e, "vec_id", "emb", tau = 0.9995,
          nLists = 8, centroids = Some(cents))
        .selectExpr("vec_id", "CAST(cluster AS INT) AS cluster", "keep",
          "cluster_capped")
    }),

    "q_lm_score" -> ((s, dir) => {
      // CCNet-style n-gram LM scoring: add-one bigram model trained on
      // the corpus itself, per-doc mean negative log-likelihood. The
      // per-bigram ln p rounds to 1e-6 integers BEFORE the per-doc sum,
      // so the aggregate is partition-order-free and the oracle's libm
      // ln (<= ~1 ulp apart) lands on the same integers.
      operators.TextAnalysis.lmScore(t(s, dir, "documents"), "doc_id", "text")
    }),

    "q_tfidf" -> ((s, dir) => {
      // TF-IDF top terms per document (smoothed idf); the idf rounds to
      // a 1e-6 integer per term before the tf multiply, so weights and
      // rank order are engine-independent integers
      operators.TextAnalysis.tfIdfTopTerms(t(s, dir, "documents"), "doc_id", "text", k = 3)
    }),

    "q_kmeans" -> ((s, dir) => {
      // distributed Lloyd k-means on PLANTED separable clusters:
      // one-hot init converges in one sweep and every value is a dyadic
      // rational (k/256), so the per-dimension double sums are EXACT and
      // order-independent — the oracle recomputes the converged means
      import s.implicits._
      val e = t(s, dir, "embeddings").selectExpr("vec_id",
        """transform(sequence(0, 8), j -> CAST(CASE
          |  WHEN j = vec_id % 8 THEN 1.0
          |  WHEN j = 8 THEN CAST(vec_id % 89 + 1 AS DOUBLE) / 256.0
          |  ELSE 0.0 END AS FLOAT)) AS emb""".stripMargin)
      val init = Array.tabulate(8)(g => Seq.tabulate(9)(j => if (j == g) 1f else 0f))
      val (cents, _) = operators.Ann.kmeans(e, "vec_id", "emb", k = 8, iters = 3,
        init = Some(init))
      cents.zipWithIndex.flatMap { case (c, g) =>
        c.zipWithIndex.map { case (m, d) =>
          (g, d, math.floor(m * 1000000 + 0.5).toLong)
        }
      }.toSeq.toDF("cluster", "dim", "mean_e6")
    }),

    "q_knn_ring" -> ((s, dir) => {
      // the scalable kNN operator (cell-ring expansion, haversine).
      // Oracled since r3: the haversine is replicated term-for-term in
      // DuckDB and the output rounded to millimeters — libm sin/cos
      // differ by ~1 ulp (1e-16 relative), six orders of magnitude
      // inside the rounding margin; event_id tiebreak matches the
      // oracle's ORDER BY (no coordinate ties exist at sf0.01 anyway:
      // all 10k event lats are distinct). OperatorsSpec additionally
      // proves the operator equal to brute force.
      import s.implicits._
      StFunctions.register(s)
      val queries = Seq((0, 0.0, 0.0), (1, 100.05, 30.05), (2, -74.0, 40.7))
        .toDF("qid", "qx", "qy")
      operators.KnnJoin(s, pts(s, dir), "lon", "lat", queries, "qid", "qx", "qy",
          k = 5, res = 6, tieBreakCols = Seq("event_id"))
        .selectExpr("qid", "event_id", "round(dist, 3) AS dist_m")
    }),

    "q_tile_adaptive" -> ((s, dir) => {
      // resolution-adaptive tile assignment of MIXED-SIZE zone extents
      // (XZ rule: big zones land at res 2, small at res 3); the oracle
      // independently recomputes the adaptive res (floor(-ln(maxDim)/
      // ln 2)), the cover grid, and the Morton packing in SQL
      StFunctions.register(s)
      t(s, dir, "nation").createOrReplaceTempView("nation")
      val z = s.sql(BigZonesSql)
        .selectExpr("zone_key", "st_makeBBOX(lon0, lat0, lon0 + w, lat0 + h) AS zgeom")
      operators.TileAssign.adaptive(z, "zgeom", minRes = 2, maxRes = 10)
        .selectExpr("zone_key", "tile", "st_cellRes(tile) AS tile_res")
    }),

    "q_hamming_pairs" -> ((s, dir) => {
      // generic Hamming near-dup pair machinery (pigeonhole blocks +
      // bit_count verify) over a SQL-derivable 64-bit hash, so DuckDB
      // can brute-force the exact same pair set; groups of 4 doc_ids
      // share a base hash and differ in one low bit -> planted pairs
      t(s, dir, "documents").createOrReplaceTempView("documents")
      val hashed = s.sql(
        """SELECT doc_id,
          |  CAST(((doc_id div 4) * 2654435761) % 4294967296 * 65537 AS BIGINT)
          |    ^ shiftleft(CAST(1 AS BIGINT), CAST(doc_id % 4 AS INT)) AS h
          |FROM documents""".stripMargin)
      operators.Dedup.hammingPairs(hashed, "doc_id", "h", maxDist = 3)
    }),

    "q_emb_pairs" -> ((s, dir) => {
      // embedding near-dup pairs through the REAL sign-LSH operator, on
      // planted two-spike vectors: near-dup groups (4 consecutive ids)
      // share an IDENTICAL vector, so sign-LSH recall is provably 1
      // (identical vectors share every band key), and the max cross-group
      // cosine is 2/sqrt(5) = 0.894 < 0.95 by construction — the LSH
      // candidate set ∩ cosine>=0.95 therefore EQUALS the brute-force
      // pair set the DuckDB oracle computes. Threshold/recall behavior on
      // real embeddings is covered by AnnSpec.
      val e = t(s, dir, "embeddings").selectExpr("vec_id",
        """transform(sequence(0, 63), i -> CAST(CASE
          |  WHEN i = (vec_id div 4) % 64 THEN 1.0
          |  WHEN i = (vec_id div 256) % 64 THEN 0.5
          |  ELSE 0.0 END AS FLOAT)) AS emb""".stripMargin)
      operators.Ann.cosinePairs(e, "vec_id", "emb", minCosine = 0.95)
        .selectExpr("id1", "id2", "round(cosine, 6) AS cosine")
    }),

    "q_ann_ivf" -> ((s, dir) => {
      // IVF approximate NN (the coarse-quantizer scale path) with a
      // PLANTED quantizer: one-hot centroids over dim-17 vectors make
      // list assignment (vec_id % 16) and probe selection (the 6 lists
      // with per-query weight >= 11) closed-form, so the DuckDB oracle
      // recomputes the probed subset and the exact top-k inside it.
      // Recall vs brute force on real embeddings stays in OperatorsSpec.
      import s.implicits._
      // CAST ... AS DOUBLE before the division: BIGINT / 256.0 is a
      // DECIMAL division in Spark (rounds eps to decimal scale) but a
      // DOUBLE one in DuckDB
      val e = t(s, dir, "embeddings").selectExpr("vec_id",
        """transform(sequence(0, 16), j -> CAST(CASE
          |  WHEN j = vec_id % 16 THEN 1.0
          |  WHEN j = 16 THEN CAST(vec_id % 89 + 1 AS DOUBLE) / 256.0
          |  ELSE 0.0 END AS FLOAT)) AS emb""".stripMargin)
      val q = Seq(0L, 1L, 2L).toDF("qid").selectExpr("qid",
        """transform(sequence(0, 16), j -> CAST(CASE
          |  WHEN j < 16 THEN (j * 7 + qid * 3) % 16 + 1
          |  ELSE 0.0 END AS FLOAT)) AS qemb""".stripMargin)
      val cents = Array.tabulate(16)(g => Seq.tabulate(17)(j => if (j == g) 1f else 0f))
      // floor(x*1e6+0.5) instead of round(x,6): two rows land on an exact
      // .5 boundary at the 7th digit where Spark's BigDecimal HALF_UP and
      // DuckDB's multiply-round disagree (same fix as q_quality_score)
      operators.Ann.ivfTopK(e, "vec_id", "emb", q, "qid", "qemb",
          k = 10, nLists = 16, nProbe = 6, centroids = Some(cents))
        .selectExpr("qid", "vec_id",
          "CAST(floor(cosine * 1000000 + 0.5) AS BIGINT) AS cosine_e6")
    }),

    "q_ann_cosine" -> ((s, dir) => {
      // brute-force cosine top-k (ANN baseline): queries = vec_ids 0..2,
      // left-fold dot/norm (deterministic order => bitwise parity)
      val e = t(s, dir, "embeddings")
        .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS emb")
      val q = e.where("vec_id < 3").selectExpr("vec_id AS qid", "emb AS qemb")
      e.crossJoin(broadcast(q))
        .withColumn("dot", expr("aggregate(zip_with(emb, qemb, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"))
        .withColumn("na", expr("aggregate(zip_with(emb, emb, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"))
        .withColumn("nb", expr("aggregate(zip_with(qemb, qemb, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"))
        .withColumn("cos", expr("dot / (sqrt(na) * sqrt(nb))"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("qid").orderBy(desc("cos"), col("vec_id"))))
        .where(col("rn") <= 10)
        .selectExpr("qid", "vec_id", "round(cos, 6) AS cos_sim")
    }),

    "q_visibility" -> ((s, dir) => {
      // row-level visibility security (geomesa-security
      // VisibilityEvaluator + scan-time VisibilityFilter analog):
      // per-row labels from a fixed policy set, scanned with auths
      // {admin,user,alpha}; the cached-parse predicate pipelines inside
      // the scan filter, so pruning/pushdown still apply
      val labels = array(lit(""), lit("admin"), lit("user&system"),
        lit("admin|user"), lit("secret&(alpha|beta)"), lit("user&(admin|ops)"))
      val vis = t(s, dir, "events")
        .withColumn("vis", element_at(labels, (pmod(col("event_id"), lit(6)) + 1).cast("int")))
      graft.security.Visibility.filterAuthorized(vis, "vis", Seq("admin", "user", "alpha"))
        .select(col("event_id"), col("vis"))
    }),

    "q_geojson_query" -> ((s, dir) => {
      // geomesa-geojson analog: the stored line-delimited GeoJSON
      // corpus (written once by prepareTables, like the reference
      // ingests documents before serving queries) parsed back
      // (st_geomFromGeoJSON exactly inverts st_asGeoJSON, so the
      // lattice doubles round-trip bitwise), then filtered with a
      // mongo-style query compiled to ONE Catalyst predicate
      // (bbox + property equality + $gte)
      StFunctions.register(s)
      prepareTables(s, dir)
      val parsed = sources.GeoJsonQuery.read(s, tableRoot("geojson", dir))
      sources.GeoJsonQuery.query(parsed,
        """{"geometry":{"$bbox":[-120.005,-60.005,100.005,80.005]},
          |"event_type":"click","value":{"$gte":5}}""".stripMargin)
        .select(
          get_json_object(col("properties"), "$.event_id").cast("long").as("event_id"),
          expr("CAST(round(st_x(geometry), 2) AS DOUBLE)").as("lon"),
          expr("CAST(round(st_y(geometry), 2) AS DOUBLE)").as("lat"))
    }),

    "q_geojson_indexed" -> ((s, dir) => {
      // the SAME query through the INDEXED document store
      // (GeoJsonGtIndex analog): the $bbox conjunct drives the
      // SpatialTable pruned scan (cell_prefix dirs + sorted-cell
      // row-group skipping), the compiled predicate is the exact
      // refine — must answer identically to the document scan
      StFunctions.register(s)
      prepareTables(s, dir)
      sources.GeoJsonQuery.queryIndexed(s, tableRoot("gjidx", dir), "docs",
        """{"geometry":{"$bbox":[-120.005,-60.005,100.005,80.005]},
          |"event_type":"click","value":{"$gte":5}}""".stripMargin)
        .select(
          get_json_object(col("properties"), "$.event_id").cast("long").as("event_id"),
          expr("CAST(round(st_x(geometry), 2) AS DOUBLE)").as("lon"),
          expr("CAST(round(st_y(geometry), 2) AS DOUBLE)").as("lat"))
    }),

    "q_cql_attr" -> ((s, dir) => {
      // ECQL text surface (plans/Cql, the reference's primary filter
      // entry point ECQL.toFilter): attribute + strict DURING interval +
      // jsonPath, compiled to ONE Catalyst predicate
      t(s, dir, "events")
        .where(plans.Cql.parse(
          "event_type IN ('click', 'purchase') AND value BETWEEN 10 AND 80 " +
            "AND ts DURING 2024-01-05T00:00:00Z/2024-01-20T00:00:00Z " +
            "AND jsonPath('$.props.k') > 50 AND user_id IS NOT NULL",
          idColumn = "event_id"))
        .select("event_id", "event_type", "value")
    }),

    "q_cql_bbox" -> ((s, dir) => {
      // ECQL BBOX + attribute predicates over a lon/lat table; the geom
      // property resolves to st_makePoint(lon, lat) so the compiled
      // filter keeps the SpatialFilterRule pushdown shape (CqlSpec
      // asserts the plan)
      StFunctions.register(s)
      pts(s, dir)
        .where(plans.Cql.parse(
          "BBOX(geom, -50, -20, 30, 25) AND value > 20 AND NOT (event_id BETWEEN 100 AND 200)",
          props = Map("geom" -> expr("st_makePoint(lon, lat)")),
          idColumn = "event_id"))
        .selectExpr("event_id",
          "CAST(round(lon, 2) AS DOUBLE) AS lon", "CAST(round(lat, 2) AS DOUBLE) AS lat")
    }),

    "q_cql_idl" -> ((s, dir) => {
      // QueryPlanFilterVisitor parity (FilterHelper.visitBinarySpatialOp):
      // a polygon spanning > 180 degrees of longitude is interpreted as
      // CROSSING THE ANTIMERIDIAN — the planner splits it at +-180 and
      // ORs the parts, so rows near the dateline match and the naive
      // interior does not (the reference's FilterHelperTest polygon)
      StFunctions.register(s)
      pts(s, dir)
        .where(plans.Cql.parse(
          "INTERSECTS(geom, POLYGON ((-150 23, -164 11, 45 23, 49 30, -150 23)))",
          props = Map("geom" -> expr("st_makePoint(lon, lat)")),
          idColumn = "event_id"))
        .select("event_id")
    }),

    "q_cql_indexed" -> ((s, dir) => {
      // QueryProcess analog end-to-end (process/query/QueryProcess.scala):
      // the SAME ECQL text against an INDEXED snapshot — the BBOX conjunct
      // drives the SpatialFilterRule pushdown (PushedFilters + z-ranges +
      // cell_prefix pruning, like q_rule_scan) and the residual refines
      StFunctions.register(s)
      prepareTables(s, dir)
      withIndexRes(s, 9) {
        graft.table.SpatialTable.queryCql(s, tableRoot("rule", dir), "s1",
            "BBOX(geom, -50, -20, 30, 25) AND value > 20", idColumn = "event_id")
          .select("event_id")
      }
    }),

    "q_date_offset" -> ((s, dir) =>
      // DateOffsetProcess analog: exact micros shift, codegen'd
      operators.Transforms.dateOffset(
        t(s, dir, "events").select("event_id", "ts"), "ts", "PT26H")),

    "q_hash_attr" -> ((s, dir) =>
      // HashAttributeProcess analog: deterministic per-row bucket from a
      // stringified attribute (native JavaHashString expression)
      operators.Transforms.hashAttribute(
        t(s, dir, "events").select("event_id", "event_type"), "event_type", 7)),

    "q_query_hints" -> ((s, dir) =>
      // the Query+hints facade (QueryHints.scala analog): CQL filter +
      // transform expressions + sort + maxFeatures in one request,
      // compiled to one Catalyst plan
      QueryRunner.run(t(s, dir, "events"), GraftQuery(
        cql = "event_type = 'purchase' AND value > 50",
        transforms = Seq("event_id", "vt=value * 2", "shout=strToUpperCase(event_type)"),
        sortBy = Seq(("event_id", false)),
        maxFeatures = Some(100)), idColumn = "event_id")),

    "q_raster_query" -> ((s, dir) => {
      // raster chunk store (AccumuloRasterStore/RasterQueryPlanner
      // analog): event-derived chunks at two resolutions written to a
      // RasterTable (lexi-res partition dirs + geohash-sorted files),
      // queried by bbox + requested resolution. The planner picks the
      // finest stored resolution <= the request and re-checks the strict
      // 2-D overlap exactly; DuckDB replicates selection + refine on the
      // same derived chunk metadata (the geohash ranges are pruning
      // only — asserted superset-safe in RasterTableSpec)
      val root = tableRoot("raster", dir)
      t(s, dir, "events").createOrReplaceTempView("events")
      if (!graft.table.RasterTable.isCommitted(s, root, "s1")) {
        val chunks = s.sql(s"WITH pts AS ($PtsSql) $RasterChunksSql")
          .withColumn("w", lit(16)).withColumn("h", lit(16))
          .withColumn("pixels", expr("transform(sequence(1, 256), x -> color)"))
        graft.table.RasterTable.write(s, chunks, root, "s1")
      }
      graft.table.RasterTable.query(s, root, "s1", 2.0, 1.0, 34.0, 27.0, resolution = 0.125)
        .select("rid", "minx", "miny", "maxx", "maxy", "res", "color")
    }),

    "q_raster_mosaic" -> ((s, dir) => {
      // distributed raster -> tile rendering (RasterUtils.mosaicChunks'
      // crop/scale/paste kernel inside one shuffle keyed by tile id):
      // the four 8-degree chunks over (0,16)^2 render the 4x4 grid of
      // 4-degree tiles; each 16x16 tile is one solid planted color, so
      // DuckDB recomputes every output cell from the events table alone
      t(s, dir, "events").createOrReplaceTempView("events")
      val chunks = s.sql(s"WITH pts AS ($PtsSql) $RasterChunksSql")
        .where("res = 0.5 AND minx IN (0.0, 8.0) AND miny IN (0.0, 8.0)")
        .withColumn("w", lit(16)).withColumn("h", lit(16))
        .withColumn("pixels", expr("transform(sequence(1, 256), x -> color)"))
      operators.Mosaic.mosaicPerTile(chunks, tileDeg = 4.0, tileW = 16, tileH = 16)
        .select(col("tile_x"), col("tile_y"), col("chunk_count"),
          array_min(col("pixels")).as("color_min"), array_max(col("pixels")).as("color_max"),
          size(col("pixels")).as("n_pixels"))
    }),

    "q_geom_bbox" -> ((s, dir) => {
      // non-point bbox scan (XZ2Index analog): box features in a flat
      // GeomTable — xz BETWEEN ranges on the sorted key, the stored
      // envelope re-check in codegen, exact st_intersects refine. One
      // row per feature (XZ never splits a geometry), so no dedup stage;
      // DuckDB re-derives the boxes and brute-forces the inclusive
      // envelope overlap (identical to JTS intersects for boxes)
      StFunctions.register(s)
      prepareTables(s, dir)
      // window bounds sit off the data's 0.005 coordinate grid, so no box
      // edge can land exactly on a window edge (boundary ULP drift between
      // the engines' literal arithmetic could otherwise flip inclusion);
      // outputs round to 6 dp for the same reason (Spark decimal-literal
      // folding yields -36.2 where DuckDB's double chain gives
      // -36.19999999999999)
      graft.table.GeomTable.readBBox(s, tableRoot("geomxz2", dir), "s1",
          -40.005, -30.005, 25.005, 20.005)
        .selectExpr("event_id", "round(minx, 6) AS minx", "round(miny, 6) AS miny",
          "round(maxx, 6) AS maxx", "round(maxy, 6) AS maxy")
    }),

    "q_geom_bbox_time" -> ((s, dir) => {
      // non-point bbox+interval scan (XZ3Index analog): time_bin
      // directory pruning -> per-bin xz3 ranges -> envelope + dtg
      // re-check -> exact refine, all in one scan
      StFunctions.register(s)
      prepareTables(s, dir)
      // the dtg column ("ts") comes from the snapshot's manifest
      graft.table.GeomTable.readBBoxTime(s, tableRoot("geomxz3", dir), "s1",
          -40.005, -30.005, 25.005, 20.005, 1704672000000L, 1705276800000L)
        .selectExpr("event_id", "round(minx, 6) AS minx", "round(miny, 6) AS miny",
          "round(maxx, 6) AS maxx", "round(maxy, 6) AS maxy")
    }),

    "q_geom_format" -> ((s, dir) => {
      // extent tables through the packaged front door: the SAME
      // envelope-overlap answer as q_geom_bbox, served by
      // format("graft") — the manifest routes to the extent relation,
      // the pushed maxx/minx/maxy/miny conjuncts prune chunk
      // directories + xz row groups via readEnvelope, and for boxes
      // the envelope overlap IS the intersects semantics, so the
      // DuckDB replay is exact
      StFunctions.register(s)
      prepareTables(s, dir)
      s.read.format("graft").option("snapshot", "s1")
        .load(tableRoot("geomxz2", dir))
        .where(col("maxx") >= -40.005 && col("minx") <= 25.005 &&
          col("maxy") >= -30.005 && col("miny") <= 20.005)
        .selectExpr("event_id", "round(minx, 6) AS minx", "round(miny, 6) AS miny",
          "round(maxx, 6) AS maxx", "round(maxy, 6) AS maxy")
    }),

    "q_geom_stats" -> ((s, dir) => {
      // GeoMesaStats parity on an EXTENT table (the reference's stats
      // are datastore-wide, not point-only): count + envelope from the
      // stored extent columns + per-attribute bounds collected ONCE at
      // write time and served from the _stats sidecar — this entry
      // reads the CACHED values, the oracle recomputes them from the
      // raw boxes. Bounds round to 9 dp on both sides (the lon/lat
      // derivation's /100.0 reciprocal-multiply ULP, as q_stats_cached)
      import graft.table.{GeomTable, TableStats}
      StFunctions.register(s)
      val root = tableRoot("geomstats", dir)
      GeomTable.write(s, geomBoxes(s, dir), root, "s1", partitions = 8, chunkRes = 3)
      if (!TableStats.exists(s, root, "s1"))
        TableStats.collectGeom(s, root, "s1", Seq("event_type"))
      val st = TableStats.cached(s, root, "s1").get
      val (minx, miny, maxx, maxy) = st.bounds.get
      val a = st.attributes("event_type")
      import s.implicits._
      Seq((st.count, r9(minx), r9(miny), r9(maxx), r9(maxy), a.min, a.max, a.count))
        .toDF("cnt", "minx", "miny", "maxx", "maxy", "type_min", "type_max", "type_count")
    }),

    "q_geom_attr" -> ((s, dir) => {
      // schema-generic AttributeIndex parity on an EXTENT table
      // (geomesa-index-api/.../attribute/AttributeIndex.scala is
      // geometry-agnostic): equality routes through the bucket-pruned
      // attr layout — a copy of the polygon snapshot hashed by the
      // attribute and sorted (attr, xz) inside each file — instead of a
      // full scan of the xz-ordered primary; the oracle joins the raw
      // tables directly
      StFunctions.register(s)
      val root = tableRoot("geomattr", dir)
      graft.table.GeomTable.write(s, geomBoxes(s, dir), root, "s1",
        partitions = 8, chunkRes = 3)
      graft.table.GeomTable.writeAttributeIndex(s, root, "s1", "event_type", buckets = 8)
      graft.table.GeomTable.readByAttribute(s, root, "s1", "event_type", "click")
        .selectExpr("event_id", "event_type",
          "round(minx, 6) AS minx", "round(maxy, 6) AS maxy")
    }),

    "q_geom_mutation" -> ((s, dir) => {
      // file-granular mutations on an EXTENT (XZ) layout — the
      // schema-generic FeatureWriter parity gap VERDICT r4 #1 named
      // (AccumuloFeatureWriterTest is schema-generic;
      // AccumuloDataStoreDeleteTest deletes over xz indices): a polygon
      // table takes a scoped update, a scoped delete and an upsert, each
      // rewriting only the touched xz_chunk directories (file-identity
      // proven in GeomMutationScopedSpec). For box geometries JTS
      // intersects equals the inclusive envelope overlap, so DuckDB
      // replays the whole chain in SQL exactly; window bounds sit at
      // .005 off-lattice offsets like every other bbox fixture.
      import org.apache.spark.sql.functions.lit
      import graft.table.GeomTable
      StFunctions.register(s)
      val root = tableRoot("geommut", dir)
      // chunkRes 3 (~85 world chunks): partition-dir count proportional
      // to the bench SF, like the point fixtures' prefixRes 3
      GeomTable.write(s, geomBoxes(s, dir), root, "s1", partitions = 8, chunkRes = 3)
      GeomTable.updateWhere(s, root, "s1", "s2",
        "BBOX(geom, -60.005, -30.005, 0.005, 30.005) AND event_type = 'click'",
        Map("event_type" -> lit("flagged")), idColumn = "event_id")
      GeomTable.deleteWhere(s, root, "s2", "s3",
        "BBOX(geom, 60.005, -60.005, 150.005, 30.005) AND event_type = 'view'",
        idColumn = "event_id")
      import s.implicits._
      val ups = Seq((77L, 20.0025, -33.0025), (900000011L, 21.0025, -34.0025),
          (900000022L, 22.0025, -35.0025))
        .toDF("event_id", "px", "py")
        .withColumn("event_type", lit("planted"))
        .withColumn("geom", StFunctions.fn("st_makeBBOX")(
          col("px"), col("py"), col("px") + lit(0.5), col("py") + lit(0.5)))
        .select("event_id", "event_type", "geom")
      GeomTable.upsert(s, root, "s3", "s4", ups, idColumn = "event_id")
      GeomTable.read(s, root, "s4")
        .where(col("event_type").isin("flagged", "planted"))
        .selectExpr("event_id", "event_type",
          "round(minx, 6) AS minx", "round(miny, 6) AS miny",
          "round(maxx, 6) AS maxx", "round(maxy, 6) AS maxy")
    }),
  )

  def oracleSql: Map[String, String] = {
    val ptsCte = s"pts AS ($PtsSql)"
    val zonesCte = s"zones AS ($ZonesSql)"
    Map(
      "q1_agg" ->
        """SELECT l_returnflag, l_linestatus,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
          |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
          |  COUNT(*) AS count_order
          |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

      "q3_join" ->
        """SELECT o.o_orderkey,
          |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
          |  COUNT(*) AS n_items
          |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
          |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
          |WHERE c.c_mktsegment = 'BUILDING'
          |GROUP BY o.o_orderkey""".stripMargin,

      "q_enum" -> "SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY l_returnflag",

      "q_hist" ->
        "SELECT CAST(floor(l_extendedprice / 1000.0) AS BIGINT) AS bucket, COUNT(*) AS n FROM lineitem GROUP BY 1",

      // binSize = 108,000,000 ms is integral, so floor-divide, median and
      // bin edges are exact integer arithmetic on both engines
      "q_hist_date" ->
        """WITH b AS (
          |  SELECT LEAST(CAST(floor((epoch_ms(ts) - 1704067200000) / 108000000.0) AS INTEGER), 23) AS bin
          |  FROM events
          |  WHERE epoch_ms(ts) >= 1704067200000 AND epoch_ms(ts) <= 1704067200000 + 2592000000)
          |SELECT bin, COUNT(*) AS count,
          |  1704067200000 + 108000000 * CAST(bin AS BIGINT) + 54000000 AS median_millis,
          |  1704067200000 + 108000000 * CAST(bin AS BIGINT) AS lo_millis,
          |  1704067200000 + 108000000 * (CAST(bin AS BIGINT) + 1) AS hi_millis
          |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

      "q_minmax" ->
        """SELECT min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
          |  CAST(CAST(min(l_shipdate) AS DATE) AS VARCHAR) AS min_ship,
          |  CAST(CAST(max(l_shipdate) AS DATE) AS VARCHAR) AS max_ship,
          |  COUNT(DISTINCT l_partkey) AS n_parts
          |FROM lineitem""".stripMargin,

      "q_sample" ->
        """SELECT event_id FROM (
          |  SELECT event_id, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
          |  FROM events) t WHERE rn % 10 = 1""".stripMargin,

      "q_window_track" ->
        s"""WITH $ptsCte
           |SELECT user_id, COUNT(px) AS hops,
           |  CAST(SUM(CAST(round(sqrt((lon - px)*(lon - px) + (lat - py)*(lat - py)), 6) AS DECIMAL(18,6))) AS DOUBLE) AS total_dist
           |FROM (
           |  SELECT e.user_id, p.lon, p.lat,
           |    LAG(p.lon) OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS px,
           |    LAG(p.lat) OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS py
           |  FROM events e JOIN pts p ON e.event_id = p.event_id) t
           |GROUP BY user_id""".stripMargin,

      "q_point2point" ->
        s"""WITH $ptsCte,
           |f AS (SELECT e.user_id, p.event_id, p.lon, p.lat, p.ts,
           |        epoch_ms(CAST(p.ts AS TIMESTAMP)) AS ms,
           |        COUNT(*) OVER (PARTITION BY e.user_id) AS gn
           |      FROM events e JOIN pts p ON e.event_id = p.event_id),
           |lagged AS (
           |  SELECT user_id, gn,
           |    LAG(lon) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x0,
           |    LAG(lat) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS y0,
           |    lon AS x1, lat AS y1,
           |    LAG(ms) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t0,
           |    ms AS t1
           |  FROM f)
           |SELECT user_id, round(x0, 6) AS x0, round(y0, 6) AS y0,
           |  round(x1, 6) AS x1, round(y1, 6) AS y1, t0, t1
           |FROM lagged
           |WHERE gn > 2 AND x0 IS NOT NULL AND NOT (x0 = x1 AND y0 = y1)""".stripMargin,

      "q_pip_join" ->
        s"""WITH $ptsCte, $zonesCte
           |SELECT p.event_id, z.zone_key
           |FROM pts p JOIN zones z
           |  ON p.lon BETWEEN z.lon0 AND z.lon0 + 72.0
           | AND p.lat BETWEEN z.lat0 AND z.lat0 + 36.0""".stripMargin,

      "q_rule_scan" ->
        s"""WITH $ptsCte
           |SELECT event_id FROM pts
           |WHERE lon BETWEEN -50.0 AND 30.0 AND lat BETWEEN -20.0 AND 25.0""".stripMargin,

      "q_attr_scan" ->
        "SELECT event_id FROM events WHERE event_type = 'click'",

      // the .005-offset bounds dodge the lon/lat lattice exactly like
      // q_cql_bbox, so inclusive BETWEENs agree with the pushed filters
      "q_format_scan" ->
        s"""WITH $ptsCte
           |SELECT event_id, value FROM pts
           |WHERE lon BETWEEN -60.005 AND 0.005
           |  AND lat BETWEEN -30.005 AND 30.005 AND value >= 3.0""".stripMargin,

      "q_planned_scan" ->
        "SELECT event_id FROM events WHERE event_type = 'click' AND value > 50.0",

      "q_dwithin_join" ->
        s"""WITH $ptsCte, $zonesCte
           |SELECT p.event_id, z.zone_key
           |FROM pts p JOIN zones z
           |  ON sqrt((p.lon - (z.lon0 + 36.0))*(p.lon - (z.lon0 + 36.0)) +
           |          (p.lat - (z.lat0 + 18.0))*(p.lat - (z.lat0 + 18.0))) < 9.701""".stripMargin,

      "q_pip_join_bigzones" ->
        s"""WITH $ptsCte,
           |bz AS (${BigZonesSql.replace("\n", " ")})
           |SELECT p.event_id, z.zone_key
           |FROM pts p JOIN bz z
           |  ON p.lon BETWEEN z.lon0 AND z.lon0 + z.w
           | AND p.lat BETWEEN z.lat0 AND z.lat0 + z.h""".stripMargin,

      "q_tile_assign" -> {
        val tx = "CAST(floor((lon + 180.0) / 360.0 * 512.0) AS BIGINT)"
        val ty = "CAST(floor((lat + 90.0) / 180.0 * 512.0) AS BIGINT)"
        s"""WITH $ptsCte,
           |tiles AS (SELECT event_id,
           |  LEAST(511, GREATEST(0, $tx)) AS tx,
           |  LEAST(511, GREATEST(0, $ty)) AS ty FROM pts)
           |SELECT event_id,
           |  (CAST(9 AS BIGINT) << 58) | ${mortonSql("tx", "ty", 9)} AS cell,
           |  tx, ty FROM tiles""".stripMargin
      },

      "q_knn" ->
        s"""WITH $ptsCte,
           |qs AS (SELECT * FROM (VALUES (0, 0.0, 0.0), (1, 100.05, 30.05), (2, -74.0, 40.7)) AS v(qid, qx, qy)),
           |d AS (SELECT q.qid, p.event_id,
           |    sqrt((p.lon - q.qx)*(p.lon - q.qx) + (p.lat - q.qy)*(p.lat - q.qy)) AS dist
           |  FROM pts p CROSS JOIN qs q)
           |SELECT qid, event_id, round(dist, 6) AS dist FROM (
           |  SELECT qid, event_id, dist, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, event_id) AS rn
           |  FROM d) t WHERE rn <= 5""".stripMargin,

      // GeomOps.haversineMeters replicated term-for-term (operand order
      // included: dLat = qy - lat, cos(lat)*cos(qy)); millimeter rounding
      // absorbs the ~1-ulp Spark/DuckDB libm divergence
      "q_knn_ring" ->
        s"""WITH $ptsCte,
           |qs AS (SELECT * FROM (VALUES (0, 0.0, 0.0), (1, 100.05, 30.05), (2, -74.0, 40.7)) AS v(qid, qx, qy)),
           |d AS (SELECT q.qid, p.event_id,
           |    2 * 6371008.7714 * asin(least(1.0, sqrt(
           |      pow(sin(radians(q.qy - p.lat) / 2), 2) +
           |      cos(radians(p.lat)) * cos(radians(q.qy)) * pow(sin(radians(q.qx - p.lon) / 2), 2)))) AS dist
           |  FROM pts p CROSS JOIN qs q)
           |SELECT qid, event_id, round(dist, 3) AS dist_m FROM (
           |  SELECT qid, event_id, dist, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, event_id) AS rn
           |  FROM d) t WHERE rn <= 5""".stripMargin,

      "q_dwithin_zone" ->
        s"""WITH $ptsCte, $zonesCte
           |SELECT z.zone_key,
           |  COUNT(CASE WHEN sqrt((p.lon - (z.lon0 + 36.0))*(p.lon - (z.lon0 + 36.0)) + (p.lat - (z.lat0 + 18.0))*(p.lat - (z.lat0 + 18.0))) < 10.0 THEN 1 END) AS n_within,
           |  MIN(round(sqrt((p.lon - (z.lon0 + 36.0))*(p.lon - (z.lon0 + 36.0)) + (p.lat - (z.lat0 + 18.0))*(p.lat - (z.lat0 + 18.0))), 6)) AS min_dist
           |FROM zones z CROSS JOIN pts p
           |GROUP BY z.zone_key""".stripMargin,

      "q_density" -> {
        val tx = "LEAST(63, GREATEST(0, CAST(floor((lon + 180.0) / 360.0 * 64.0) AS BIGINT)))"
        val ty = "LEAST(63, GREATEST(0, CAST(floor((lat + 90.0) / 180.0 * 64.0) AS BIGINT)))"
        s"""WITH $ptsCte
           |SELECT $tx AS tx, $ty AS ty, COUNT(*) AS n,
           |  CAST(SUM(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE) AS weight
           |FROM pts GROUP BY 1, 2""".stripMargin
      },

      "q_partition_scheme" -> {
        // daily,z2-2bit partition names: strftime day path + the
        // 1-bit-per-dim z2 interleave (lon>=0 | lat>=0 << 1); the clamp
        // edges coincide with the sign test at 1 bit per dimension
        s"""WITH $ptsCte
           |SELECT strftime(ts, '%Y/%m/%d') || '/' ||
           |       CAST((CASE WHEN lon >= 0 THEN 1 ELSE 0 END)
           |          + 2 * (CASE WHEN lat >= 0 THEN 1 ELSE 0 END) AS VARCHAR) AS part,
           |       COUNT(*) AS n
           |FROM pts GROUP BY 1""".stripMargin
      },
      "q_grid_density" -> {
        // identical IEEE arithmetic on both engines: dx=5.625, dy=5.625
        // and the centers are exact binary doubles
        s"""WITH $ptsCte,
           |g AS (SELECT CAST(least(floor((lon - (-180.0)) / 5.625), 63) AS INT) AS i,
           |             CAST(least(floor((lat - (-90.0)) / 5.625), 31) AS INT) AS j,
           |             value
           |      FROM pts
           |      WHERE lon BETWEEN -180.0 AND 180.0 AND lat BETWEEN -90.0 AND 90.0)
           |SELECT i, j, COUNT(*) AS n,
           |  CAST(SUM(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE) AS weight,
           |  -177.1875 + 5.625 * i AS x, -87.1875 + 5.625 * j AS y
           |FROM g GROUP BY 1, 2""".stripMargin
      },

      "q_convert_features" ->
        """SELECT event_id, event_type, value,
          |  CAST(event_id AS VARCHAR) AS fid FROM events""".stripMargin,

      "q_disjoint_scan" ->
        """SELECT l_orderkey, l_linenumber,
          |  CASE WHEN l_quantity < 10.0 THEN 0
          |       WHEN l_extendedprice > 50000.0 THEN 1
          |       WHEN l_returnflag = 'R' THEN 2 ELSE -1 END AS branch
          |FROM lineitem
          |WHERE l_quantity < 10.0 OR l_extendedprice > 50000.0 OR l_returnflag = 'R'""".stripMargin,

      "q_json_extract" ->
        """SELECT event_type,
          |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
          |  COUNT(*) AS n
          |FROM events GROUP BY event_type""".stripMargin,

      "q_enrich" ->
        """SELECT event_type AS kind,
          |  CASE WHEN event_type = 'error' THEN 'bad'
          |       WHEN event_type IN ('purchase', 'signup') THEN 'good'
          |       ELSE 'other' END AS label,
          |  COUNT(*) AS n,
          |  CAST(SUM(CASE event_type WHEN 'error' THEN 3 WHEN 'purchase' THEN 2
          |       WHEN 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS total_weight
          |FROM events GROUP BY 1, 2""".stripMargin,

      "q_changelog_replay" ->
        s"""WITH $ptsCte,
           |ev AS (SELECT p.event_id, e.user_id, p.lon, p.lat, p.ts,
           |    CASE WHEN p.event_id % 17 = 0 THEN 'delete' ELSE 'upsert' END AS kind
           |  FROM pts p JOIN events e ON p.event_id = e.event_id),
           |latest AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn FROM ev)
           |SELECT user_id, CAST(round(lon, 2) AS DOUBLE) AS lon, CAST(round(lat, 2) AS DOUBLE) AS lat
           |FROM latest WHERE rn = 1 AND kind = 'upsert'""".stripMargin,

      "q_frame_sample" ->
        """WITH v AS (SELECT CAST(doc_id AS VARCHAR) AS video_id,
          |    CAST(10 + doc_id % 20 AS INT) AS nf
          |  FROM documents WHERE doc_id < 100),
          |f AS (SELECT video_id, unnest(generate_series(0, nf - 1, 3)) AS frame_idx FROM v)
          |SELECT video_id, CAST(frame_idx AS INT) AS frame_idx,
          |  CAST(frame_idx * 1000 // 10 AS BIGINT) AS ts_ms,
          |  64 AS width, 48 AS height
          |FROM f""".stripMargin,

      "q_bin_records" ->
        s"""WITH $ptsCte
           |SELECT CAST((e.user_id * 2654435761) % 2147483647 AS INT) AS track_hash,
           |  CAST(epoch_ms(p.ts) // 1000 AS INT) AS dtg_s,
           |  CAST(p.lat AS REAL) AS lat, CAST(p.lon AS REAL) AS lon
           |FROM pts p JOIN events e ON p.event_id = e.event_id""".stripMargin,

      "q_convert_delim" ->
        "SELECT event_id, event_type, user_id FROM events",

      "q_convert_fixed" ->
        "SELECT event_id, event_type, user_id FROM events",

      "q_convert_xml" ->
        "SELECT event_id, event_type, value FROM events",

      "q_lambda_merge" ->
        """WITH ev AS (
          |  SELECT CAST(user_id AS VARCHAR) AS id, epoch_ms(ts) AS millis, event_id,
          |         CAST(event_id % 360 AS DOUBLE) - 180.0 AS lon,
          |         CAST(event_id % 180 AS DOUBLE) - 90.0 AS lat
          |  FROM events),
          |f AS (SELECT id, lon, lat, millis FROM (
          |  SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY millis, event_id) AS rn FROM ev) WHERE rn = 1),
          |l AS (SELECT id, lon, lat, millis, event_id FROM (
          |  SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY millis DESC, event_id DESC) AS rn FROM ev) WHERE rn = 1)
          |SELECT f.id,
          |  CASE WHEN l.event_id % 2 = 1 THEN l.lon ELSE f.lon END AS lon,
          |  CASE WHEN l.event_id % 2 = 1 THEN l.lat ELSE f.lat END AS lat,
          |  CASE WHEN l.event_id % 2 = 1 THEN l.millis ELSE f.millis END AS updated_millis
          |FROM f JOIN l ON f.id = l.id
          |WHERE CAST(f.id AS BIGINT) % 7 <> 0""".stripMargin,

      "q_map_counts" ->
        """SELECT event_type,
          |  string_agg(CAST(bucket AS VARCHAR) || ':' || CAST(n AS VARCHAR), ',' ORDER BY bucket) AS counts
          |FROM (SELECT event_type, CAST(floor(value) AS BIGINT) % 10 AS bucket, COUNT(*) AS n
          |      FROM events GROUP BY 1, 2) GROUP BY event_type""".stripMargin,

      // binSize = floor(n/7) + (n%7==0 ? 0 : 1); floor() is explicit —
      // DuckDB CAST(double AS BIGINT) rounds to nearest while Spark's
      // cast truncates, so every division goes through floor()
      "q_tube_bins" ->
        """WITH u AS (SELECT DISTINCT epoch_ms(ts) AS millis FROM events),
          |r AS (SELECT millis, ROW_NUMBER() OVER (ORDER BY millis) - 1 AS rn,
          |             COUNT(*) OVER () AS n FROM u),
          |b AS (SELECT millis,
          |        CAST(floor(rn / (CAST(floor(n / 7.0) AS BIGINT) +
          |          CASE WHEN n % 7 = 0 THEN 0 ELSE 1 END)) AS BIGINT) AS bin FROM r)
          |SELECT bin, MIN(millis) AS start_millis, MAX(millis) AS end_millis
          |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

      "q_union_area" ->
        """SELECT event_id % 25 AS grp,
          |  COUNT(DISTINCT (event_id % 97, CAST(floor(event_id / 97.0) AS BIGINT) % 41)) AS area
          |FROM events GROUP BY 1""".stripMargin,

      "q_tube_select" -> {
        val d = pointToSegSql("f.lon", "f.lat", "s2.x0", "s2.y0", "s2.x1", "s2.y1")
        s"""WITH $ptsCte,
           |f AS (SELECT p.event_id, e.user_id, p.lon, p.lat, epoch_ms(p.ts) AS millis
           |      FROM pts p JOIN events e ON p.event_id = e.event_id),
           |trk AS (SELECT lon, lat, millis FROM f WHERE user_id = 1 ORDER BY millis LIMIT 20),
           |seg AS (SELECT lag(lon) OVER (ORDER BY millis) AS x0,
           |               lag(lat) OVER (ORDER BY millis) AS y0,
           |               lon AS x1, lat AS y1,
           |               lag(millis) OVER (ORDER BY millis) - 86400000 AS t0,
           |               millis + 86400000 AS t1 FROM trk),
           |s2 AS (SELECT *, (x1-x0)*(x1-x0) + (y1-y0)*(y1-y0) AS len2
           |       FROM seg WHERE x0 IS NOT NULL),
           |cand AS (SELECT f.event_id, f.millis, s2.t0, s2.t1, $d AS dist
           |         FROM f CROSS JOIN s2)
           |SELECT event_id, MIN(t0) AS first_window_start, MAX(t1) AS last_window_end,
           |  COUNT(*) AS n_segments
           |FROM cand WHERE dist < 4.503 AND millis BETWEEN t0 AND t1
           |GROUP BY event_id""".stripMargin
      },

      "q_route_search" -> {
        val d = pointToSegSql("f.lon", "f.lat", "s2.x0", "s2.y0", "s2.x1", "s2.y1")
        val routeVals = (0 until 8).map(i => s"(${-30.0 + i * 10.0}, ${0.0 + i * 2.0}, $i)").mkString(", ")
        s"""WITH $ptsCte,
           |f AS (SELECT event_id, lon, lat, CAST((event_id * 37) % 360 AS DOUBLE) AS heading FROM pts),
           |rt AS (SELECT * FROM (VALUES $routeVals) AS v(rlon, rlat, seq)),
           |seg AS (SELECT lag(rlon) OVER (ORDER BY seq) AS x0,
           |               lag(rlat) OVER (ORDER BY seq) AS y0,
           |               rlon AS x1, rlat AS y1 FROM rt),
           |s2 AS (SELECT x0, y0, x1, y1,
           |         (x1-x0)*(x1-x0) + (y1-y0)*(y1-y0) AS len2,
           |         (degrees(atan2(x1-x0, y1-y0)) + 360.0) % 360.0 AS bearing
           |       FROM seg WHERE x0 IS NOT NULL),
           |cand AS (SELECT f.event_id, $d AS dist,
           |           LEAST(abs(f.heading - s2.bearing), 360.0 - abs(f.heading - s2.bearing)) AS hd
           |         FROM f CROSS JOIN s2),
           |c2 AS (SELECT event_id, dist, LEAST(hd, abs(hd - 180.0)) AS aligned FROM cand)
           |SELECT event_id, round(MIN(aligned), 6) AS best_heading_diff, COUNT(*) AS n_segments
           |FROM c2 WHERE dist < 2.9701 AND aligned <= 30.0
           |GROUP BY event_id""".stripMargin
      },

      "q_topk" ->
        """SELECT event_type, n FROM (
          |  SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type) t
          |ORDER BY n DESC, event_type LIMIT 3""".stripMargin,

      "q_group_minmax" ->
        """SELECT e.event_type, min(e.value) AS min, max(e.value) AS max, COUNT(e.value) AS n
          |FROM events e GROUP BY e.event_type""".stripMargin,

      "q_z3hist" -> {
        val tx = "LEAST(63, GREATEST(0, CAST(floor((lon + 180.0) / 360.0 * 64.0) AS BIGINT)))"
        val ty = "LEAST(63, GREATEST(0, CAST(floor((lat + 90.0) / 180.0 * 64.0) AS BIGINT)))"
        s"""WITH $ptsCte,
           |k AS (SELECT (epoch_ms(ts) // 86400000) // 7 AS time_bin,
           |  $tx AS tx, $ty AS ty FROM pts)
           |SELECT CAST(time_bin AS BIGINT) AS time_bin,
           |  (CAST(6 AS BIGINT) << 58) | ${mortonSql("tx", "ty", 6)} AS cell,
           |  COUNT(*) AS n
           |FROM k GROUP BY 1, 2""".stripMargin
      },

      "q_z3_scan" ->
        s"""WITH $ptsCte
           |SELECT event_id FROM pts
           |WHERE lon BETWEEN -60.0 AND 60.0 AND lat BETWEEN -30.0 AND 30.0
           |  AND ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'""".stripMargin,

      "q_z2_scan" ->
        s"""WITH $ptsCte
           |SELECT event_id FROM pts
           |WHERE lon BETWEEN -45.0 AND 60.0 AND lat BETWEEN -20.0 AND 40.0""".stripMargin,

      "q_xz3_scan" ->
        s"""WITH $zonesCte,
           |z AS (SELECT zone_key, lon0, lat0,
           |    CAST((19698 + zone_key % 3) AS BIGINT) * 86400000 AS tstart,
           |    (CAST((19698 + zone_key % 3) AS BIGINT) * 86400000) + CAST(1 + zone_key % 2 AS BIGINT) * 86400000 AS tend
           |  FROM zones)
           |SELECT zone_key FROM z
           |WHERE lon0 <= -10.0 AND lon0 + 72.0 >= -120.0
           |  AND lat0 <= 42.0 AND lat0 + 36.0 >= -40.0
           |  AND tstart <= (CAST(19698 AS BIGINT) * 86400000 + CAST(1 AS BIGINT) * 86400000)
           |  AND tend >= CAST(19698 AS BIGINT) * 86400000""".stripMargin,

      "q_xz2_scan" ->
        s"""WITH $zonesCte
           |SELECT zone_key FROM zones
           |WHERE lon0 <= -20.0 AND lon0 + 72.0 >= -120.0
           |  AND lat0 <= 40.0 AND lat0 + 36.0 >= -40.0""".stripMargin,

      "q_bpe_tokens" ->
        """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
          |  CAST(list_sum(list_transform(regexp_extract_all(text, '\p{L}+|\p{N}+|[^\s\p{L}\p{N}]'), t -> greatest(1, (length(t)+3)//4))) AS BIGINT) AS n_bpe_tokens
          |FROM documents""".stripMargin,

      "q_dedup_exact" ->
        "SELECT min(doc_id) AS canonical_id, COUNT(*) AS n_dups FROM documents GROUP BY text",

      "q_fingerprint" ->
        """SELECT doc_id,
          |  list_reduce(
          |    list_prepend(CAST(7919 AS BIGINT),
          |      list_transform(
          |        string_split(array_to_string(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''), ' '), ''),
          |        c -> CAST(ascii(c) AS BIGINT))),
          |    (acc, x) -> (acc * 31 + x) % 1000000000000037) AS fingerprint
          |FROM documents""".stripMargin,

      "q_dedup_groups" ->
        """WITH RECURSIVE
          |cut AS (SELECT count(*) // 10 * 6 AS c FROM documents),
          |e0 AS (
          |  SELECT doc_id AS a, doc_id + 1 AS b FROM documents, cut
          |  WHERE doc_id < c AND doc_id % 10 < 9
          |  UNION ALL
          |  SELECT doc_id, doc_id + 5 FROM documents, cut
          |  WHERE doc_id < c AND doc_id % 10 < 5),
          |edges AS (SELECT a AS u, b AS v FROM e0 UNION SELECT b, a FROM e0),
          |reach(id, r) AS (
          |  SELECT doc_id, doc_id FROM documents
          |  UNION
          |  SELECT reach.id, e.v FROM reach JOIN edges e ON reach.r = e.u)
          |SELECT id AS doc_id, min(r) AS component, (min(r) = id) AS is_canonical
          |FROM reach GROUP BY id""".stripMargin,

      "q_hamming_pairs" ->
        """WITH h AS (SELECT doc_id,
          |    xor(CAST((doc_id // 4 * 2654435761) % 4294967296 * 65537 AS BIGINT),
          |        CAST(1 AS BIGINT) << CAST(doc_id % 4 AS INT)) AS h
          |  FROM documents)
          |SELECT a.doc_id AS id1, b.doc_id AS id2,
          |  CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
          |FROM h a JOIN h b ON a.doc_id < b.doc_id
          |WHERE bit_count(xor(a.h, b.h)) <= 3""".stripMargin,

      "q_quality_score" ->
        """WITH f AS (
          |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS nchars,
          |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
          |  FROM documents),
          |g AS (
          |  SELECT doc_id, nchars,
          |    GREATEST(1, len(toks)) AS n,
          |    CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE) / GREATEST(1, nchars) AS punct,
          |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / GREATEST(1, nchars) AS digits,
          |    CAST(len(list_distinct(toks)) AS DOUBLE) / GREATEST(1, len(toks)) AS uniq,
          |    COALESCE(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE), 0.0) / GREATEST(1, len(toks)) AS mean_word
          |  FROM f)
          |SELECT doc_id, CAST(n AS BIGINT) AS q_words,
          |  CAST(floor(GREATEST(0.0, LEAST(1.0,
          |    0.3 * (LEAST(1.0, nchars / 200.0) * (CASE WHEN nchars > 20000 THEN 0.5 ELSE 1.0 END)) +
          |    0.25 * uniq + 0.2 * (1 - punct * 4) +
          |    0.15 * LEAST(1.0, mean_word / 6.0) + 0.1 * (1 - digits * 2))) * 1000000 + 0.5) AS BIGINT) AS q_score_e6
          |FROM g""".stripMargin,

      "q_repetition" ->
        """WITH base AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
          |  FROM documents),
          |c AS (SELECT doc_id,
          |    -- DuckDB's out-of-range list slice is NULL (Spark's slice is
          |    -- an empty array -> array_join '') so coalesce to ''
          |    COALESCE(array_to_string(t[1:5], ' '), '') AS l1,
          |    COALESCE(array_to_string(t[6:10], ' '), '') AS l2,
          |    COALESCE(array_to_string(t[11:15], ' '), '') AS l3
          |  FROM base),
          |tx AS (SELECT doc_id, CASE CAST(doc_id % 3 AS INT)
          |    WHEN 0 THEN l1 || chr(10) || l2 || chr(10) || l1 || chr(10) || chr(10) || l3 || chr(10) || l3
          |    WHEN 1 THEN l1 || chr(10) || l2 || chr(10) || chr(10) || l1 || chr(10) || l2
          |    ELSE l1 || chr(10) || l2 || chr(10) || l3 END AS text2
          |  FROM c),
          |arr AS (SELECT doc_id,
          |    list_filter(list_transform(string_split(text2, chr(10)),
          |      x -> regexp_replace(x, '^\s+|\s+$', '', 'g')), x -> x <> '') AS ln,
          |    list_filter(list_transform(string_split(text2, chr(10) || chr(10)),
          |      x -> regexp_replace(x, '^\s+|\s+$', '', 'g')), x -> x <> '') AS pa
          |  FROM tx)
          |SELECT doc_id,
          |  CAST(len(ln) AS BIGINT) AS rep_line_n,
          |  CAST(floor(CASE WHEN len(ln) = 0 THEN 0.0
          |    ELSE (len(ln) - len(list_distinct(ln))) / CAST(len(ln) AS DOUBLE) END * 1000000 + 0.5) AS BIGINT) AS rep_line_dup_frac_e6,
          |  CAST(floor(CASE WHEN len(ln) = 0 THEN 0.0
          |    ELSE (list_sum(list_transform(ln, x -> length(x))) - list_sum(list_transform(list_distinct(ln), x -> length(x)))) /
          |         CAST(list_sum(list_transform(ln, x -> length(x))) AS DOUBLE) END * 1000000 + 0.5) AS BIGINT) AS rep_line_dup_char_frac_e6,
          |  CAST(len(pa) AS BIGINT) AS rep_para_n,
          |  CAST(floor(CASE WHEN len(pa) = 0 THEN 0.0
          |    ELSE (len(pa) - len(list_distinct(pa))) / CAST(len(pa) AS DOUBLE) END * 1000000 + 0.5) AS BIGINT) AS rep_para_dup_frac_e6,
          |  CAST(floor(CASE WHEN len(pa) = 0 THEN 0.0
          |    ELSE (list_sum(list_transform(pa, x -> length(x))) - list_sum(list_transform(list_distinct(pa), x -> length(x)))) /
          |         CAST(list_sum(list_transform(pa, x -> length(x))) AS DOUBLE) END * 1000000 + 0.5) AS BIGINT) AS rep_para_dup_char_frac_e6
          |FROM arr""".stripMargin,

      "q_top_bigram" ->
        """WITH f AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS nc,
          |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
          |  FROM documents),
          |b AS (SELECT doc_id,
          |    unnest([t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1]
          |            for i in generate_series(1, len(t) - 1)]) AS g
          |  FROM f WHERE len(t) >= 2),
          |c AS (SELECT doc_id, g, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
          |top AS (SELECT doc_id, g, cnt FROM c
          |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g) = 1)
          |SELECT f.doc_id, top.g AS top_bigram,
          |  COALESCE(top.cnt, 0) AS top_bigram_count,
          |  CAST(floor(LEAST(1.0, CASE WHEN top.g IS NULL OR f.nc = 0 THEN 0.0
          |    ELSE top.cnt * length(top.g) / CAST(f.nc AS DOUBLE) END) * 1000000 + 0.5) AS BIGINT) AS top_bigram_char_frac_e6
          |FROM f LEFT JOIN top ON f.doc_id = top.doc_id""".stripMargin,

      "q_stratified" ->
        """SELECT doc_id, source, sample_rank FROM (
          |  SELECT doc_id, source, row_number() OVER (
          |      PARTITION BY source
          |      ORDER BY ((doc_id % 999999937) * 104729 + 7919) % 999999937, doc_id) AS sample_rank
          |  FROM documents) s
          |WHERE sample_rank <= CASE source WHEN 'src18' THEN 7 WHEN 'src6' THEN 5 ELSE 3 END""".stripMargin,

      "q_decontaminate" ->
        // DuckDB generate_series(1, 0) is empty (unlike Spark's
        // descending sequence), so short docs need no special case here
        """WITH toks AS (SELECT doc_id,
          |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
          |  FROM documents),
          |g AS (SELECT doc_id, list_distinct(
          |    [array_to_string(t[CAST(i AS INT):CAST(i AS INT) + 4], ' ')
          |     for i in generate_series(1, len(t) - 4)]) AS gs
          |  FROM toks),
          |bg AS (SELECT DISTINCT unnest(gs) AS gm FROM (
          |  SELECT list_distinct(
          |      [array_to_string(bt[CAST(i AS INT):CAST(i AS INT) + 4], ' ')
          |       for i in generate_series(1, len(bt) - 4)]) AS gs
          |  FROM (SELECT COALESCE(t[1:8], []) AS bt FROM toks WHERE doc_id % 97 = 0))),
          |hit AS (SELECT doc_id, count(*) AS n_c
          |  FROM (SELECT doc_id, unnest(gs) AS gm FROM g) u JOIN bg USING (gm)
          |  GROUP BY doc_id)
          |SELECT g.doc_id, CAST(len(g.gs) AS BIGINT) AS n_grams,
          |  COALESCE(hit.n_c, 0) AS n_contaminated,
          |  CAST(floor(CASE WHEN len(g.gs) = 0 THEN 0.0
          |    ELSE COALESCE(hit.n_c, 0) / CAST(len(g.gs) AS DOUBLE) END * 1000000 + 0.5) AS BIGINT)
          |    AS contaminated_frac_e6,
          |  COALESCE(hit.n_c, 0) > 0 AS contaminated
          |FROM g LEFT JOIN hit USING (doc_id)""".stripMargin,

      "q_pii_redact" ->
        """WITH planted AS (SELECT doc_id, concat(
          |    'u', doc_id, '@ex', CAST(doc_id % 7 AS VARCHAR), '.org ',
          |    CASE WHEN doc_id % 3 = 0 THEN concat(
          |      lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'), '-',
          |      lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0'), '-',
          |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), ' ') ELSE '' END,
          |    CASE WHEN doc_id % 5 = 0 THEN concat(
          |      '10.', CAST(doc_id % 256 AS VARCHAR), '.0.',
          |      CAST((doc_id * 7) % 256 AS VARCHAR), ' ') ELSE '' END,
          |    'tel ', lpad(CAST((doc_id * 3) % 1000 AS VARCHAR), 3, '0'), '-',
          |    lpad(CAST((doc_id * 11) % 1000 AS VARCHAR), 3, '0'), '-',
          |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), ' ',
          |    array_to_string(list_filter(string_split(text, ' '), x -> x <> '')[1:6], ' ')) AS r0
          |  FROM documents),
          |s1 AS (SELECT doc_id,
          |    CAST(len(regexp_extract_all(r0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS pii_email,
          |    regexp_replace(r0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS r1
          |  FROM planted),
          |s2 AS (SELECT doc_id, pii_email,
          |    CAST(len(regexp_extract_all(r1, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS pii_ssn,
          |    regexp_replace(r1, '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g') AS r2
          |  FROM s1),
          |s3 AS (SELECT doc_id, pii_email, pii_ssn,
          |    CAST(len(regexp_extract_all(r2, '\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b')) AS BIGINT) AS pii_card,
          |    regexp_replace(r2, '\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b', '<CARD>', 'g') AS r3
          |  FROM s2),
          |s4 AS (SELECT doc_id, pii_email, pii_ssn, pii_card,
          |    CAST(len(regexp_extract_all(r3, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS pii_ip,
          |    regexp_replace(r3, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS r4
          |  FROM s3),
          |s5 AS (SELECT doc_id, pii_email, pii_ssn, pii_card, pii_ip,
          |    CAST(len(regexp_extract_all(r4, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) AS BIGINT) AS pii_phone,
          |    regexp_replace(r4, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') AS text_redacted
          |  FROM s4)
          |SELECT doc_id, text_redacted, pii_email, pii_ssn, pii_card, pii_ip, pii_phone,
          |  pii_email + pii_ssn + pii_card + pii_ip + pii_phone AS pii_total
          |FROM s5""".stripMargin,

      "q_chunk_docs" ->
        """WITH t AS (SELECT doc_id,
          |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
          |  FROM documents),
          |c AS (SELECT doc_id, tk,
          |    unnest(generate_series(1, len(tk), 32)) AS s
          |  FROM t WHERE len(tk) > 0)
          |SELECT doc_id, CAST((s - 1) // 32 AS BIGINT) AS chunk_id,
          |  array_to_string(tk[CAST(s AS INT):CAST(s AS INT) + 39], ' ') AS chunk_text,
          |  CAST(least(40, len(tk) - s + 1) AS BIGINT) AS chunk_tokens
          |FROM c WHERE s = 1 OR s + 8 <= len(tk)""".stripMargin,

      "q_corpus_grams" ->
        """WITH toks AS (SELECT doc_id,
          |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
          |  FROM documents),
          |g AS (SELECT doc_id, unnest(
          |    [array_to_string(t[CAST(i AS INT):CAST(i AS INT) + 1], ' ')
          |     for i in generate_series(1, len(t) - 1)]) AS gram
          |  FROM toks),
          |d AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2)
          |SELECT gram, CAST(SUM(c) AS BIGINT) AS n_occurrences,
          |  count(*) AS n_docs
          |FROM d GROUP BY gram
          |ORDER BY n_occurrences DESC, gram ASC LIMIT 50""".stripMargin,

      "q_pack_shards" ->
        """WITH b AS (SELECT doc_id,
          |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS tok
          |  FROM documents),
          |c AS (SELECT doc_id, tok,
          |    CAST(COALESCE(SUM(tok) OVER (
          |      ORDER BY ((doc_id % 999999937) * 104729 + 7919) % 999999937, doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
          |  FROM b)
          |SELECT doc_id, tok, start_offset,
          |  start_offset // 1000 AS shard_id,
          |  start_offset % 1000 AS shard_offset
          |FROM c""".stripMargin,

      "q_dup_spans" ->
        s"""WITH $PlantedSpanBaseCte,
           |$SpanIslandsCte
           |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
           |  CAST(MAX(pos) + 6 - MIN(pos) AS BIGINT) AS span_tokens,
           |  count(*) AS n_grams
           |FROM i2 GROUP BY doc_id, island""".stripMargin,

      "q_strip_spans" ->
        s"""WITH $PlantedSpanBaseCte,
           |$SpanIslandsCte,
           |spans AS (SELECT doc_id, MIN(pos) AS s, MAX(pos) + 6 AS e
           |  FROM i2 GROUP BY doc_id, island),
           |tok AS (SELECT doc_id, i - 1 AS idx, raw[CAST(i AS INT)] AS w
           |  FROM (SELECT doc_id, raw, unnest(generate_series(1, len(raw))) AS i FROM toks)),
           |kept AS (SELECT tok.doc_id, tok.idx, tok.w
           |  FROM tok LEFT JOIN spans
           |    ON tok.doc_id = spans.doc_id AND tok.idx >= spans.s AND tok.idx < spans.e
           |  WHERE spans.doc_id IS NULL)
           |SELECT b.doc_id,
           |  COALESCE((SELECT string_agg(w, ' ' ORDER BY idx) FROM kept
           |            WHERE kept.doc_id = b.doc_id), '') AS text_deduped
           |FROM base b""".stripMargin,

      "q_dup_stats" ->
        s"""WITH $PlantedSpanBaseCte,
           |$SpanIslandsCte,
           |d AS (SELECT doc_id, SUM(e - s) AS dup_tokens FROM (
           |    SELECT doc_id, MIN(pos) AS s, MAX(pos) + 6 AS e
           |    FROM i2 GROUP BY doc_id, island) GROUP BY doc_id)
           |SELECT t2.doc_id, CAST(COALESCE(len(t2.t), 0) AS BIGINT) AS n_tokens,
           |  CAST(COALESCE(d.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           |  CAST(floor(CASE WHEN COALESCE(len(t2.t), 0) = 0 THEN 0.0
           |    ELSE COALESCE(d.dup_tokens, 0) / CAST(len(t2.t) AS DOUBLE) END
           |    * 1000000 + 0.5) AS BIGINT) AS dup_frac_e6
           |FROM toks t2 LEFT JOIN d USING (doc_id)""".stripMargin,

      "q_c4_lines" ->
        """WITH base AS (SELECT doc_id, concat(
          |    array_to_string(list_filter(string_split(text, ' '), x -> x <> '')[1:6], ' '), '.', chr(10),
          |    'too short', chr(10),
          |    array_to_string(list_filter(string_split(text, ' '), x -> x <> '')[7:11], ' '), chr(10),
          |    'please enable javascript to continue.', chr(10),
          |    array_to_string(list_filter(string_split(text, ' '), x -> x <> '')[12:15], ' '), '?', chr(10),
          |    CASE WHEN doc_id % 7 = 0 THEN 'lorem ipsum dolor sit amet.' ELSE '' END, chr(10),
          |    CASE WHEN doc_id % 11 = 0 THEN 'config { x }' ELSE '' END) AS text2
          |  FROM documents),
          |l AS (SELECT doc_id, text2,
          |    list_filter(list_transform(string_split(text2, chr(10)),
          |      x -> regexp_replace(x, '^\s+|\s+$', '', 'g')), x -> x <> '') AS ls
          |  FROM base),
          |c AS (SELECT doc_id, text2, ls,
          |    list_transform(ls, x -> CASE
          |      WHEN len(list_filter(string_split_regex(x, '\s+'), w -> w <> '')) < 3 THEN 1
          |      WHEN NOT regexp_matches(x, '[.!?"]$') THEN 2
          |      WHEN lower(x) LIKE '%javascript%' THEN 3
          |      ELSE 0 END) AS cls
          |  FROM l)
          |SELECT doc_id,
          |  CAST(len(ls) AS BIGINT) AS n_lines,
          |  CAST(len(list_filter(cls, c -> c = 0)) AS BIGINT) AS n_kept,
          |  CAST(len(list_filter(cls, c -> c = 1)) AS BIGINT) AS dropped_short,
          |  CAST(len(list_filter(cls, c -> c = 2)) AS BIGINT) AS dropped_no_punct,
          |  CAST(len(list_filter(cls, c -> c = 3)) AS BIGINT) AS dropped_js,
          |  lower(text2) LIKE '%lorem ipsum%' AS has_lorem,
          |  contains(text2, '{') AS has_brace,
          |  len(list_filter(cls, c -> c = 0)) >= 3
          |    AND NOT lower(text2) LIKE '%lorem ipsum%'
          |    AND NOT contains(text2, '{') AS page_keep,
          |  array_to_string(list_filter(ls, x -> (CASE
          |    WHEN len(list_filter(string_split_regex(x, '\s+'), w -> w <> '')) < 3 THEN 1
          |    WHEN NOT regexp_matches(x, '[.!?"]$') THEN 2
          |    WHEN lower(x) LIKE '%javascript%' THEN 3
          |    ELSE 0 END) = 0), chr(10)) AS text_filtered
          |FROM c""".stripMargin,

      "q_dedup_lines" ->
        """WITH base AS (SELECT doc_id, concat(
          |    array_to_string(list_filter(string_split(text, ' '), x -> x <> '')[1:5], ' '), chr(10),
          |    CASE CAST(doc_id % 3 AS INT)
          |      WHEN 0 THEN 'accept all cookies to continue'
          |      WHEN 1 THEN 'subscribe to our newsletter today'
          |      ELSE 'all rights reserved worldwide' END, chr(10),
          |    array_to_string(list_filter(string_split(text, ' '), x -> x <> '')[6:10], ' ')) AS text2
          |  FROM documents),
          |l AS (SELECT doc_id,
          |    list_filter(list_transform(string_split(text2, chr(10)),
          |      x -> regexp_replace(x, '^\s+|\s+$', '', 'g')), x -> x <> '') AS ls
          |  FROM base),
          |e AS (SELECT doc_id, i AS pos, ls[CAST(i AS INT)] AS line
          |  FROM (SELECT doc_id, ls, unnest(generate_series(1, len(ls))) AS i FROM l)),
          |d AS (SELECT line FROM e GROUP BY line HAVING count(*) >= 2),
          |j AS (SELECT e.doc_id, e.pos, e.line, d.line IS NOT NULL AS dup
          |  FROM e LEFT JOIN d ON e.line = d.line),
          |g AS (SELECT doc_id, count(*) AS n_lines,
          |  CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
          |  COALESCE(string_agg(CASE WHEN NOT dup THEN line END, chr(10) ORDER BY pos), '')
          |    AS text_deduped
          |FROM j GROUP BY doc_id)
          |SELECT b.doc_id, COALESCE(g.n_lines, 0) AS n_lines,
          |  COALESCE(g.n_dropped, 0) AS n_dropped,
          |  COALESCE(g.text_deduped, '') AS text_deduped
          |FROM base b LEFT JOIN g USING (doc_id)""".stripMargin,

      "q_semantic_dedup" ->
        """WITH e AS (SELECT vec_id, CAST(vec_id % 8 AS INT) AS g,
          |    CAST(CAST(vec_id % 89 + 1 AS DOUBLE) / 256.0 AS FLOAT) AS eps FROM embeddings),
          |p AS (SELECT b.vec_id,
          |    (1.0 + CAST(a.eps AS DOUBLE) * CAST(b.eps AS DOUBLE)) /
          |    (sqrt(1.0 + CAST(a.eps AS DOUBLE) * CAST(a.eps AS DOUBLE)) *
          |     sqrt(1.0 + CAST(b.eps AS DOUBLE) * CAST(b.eps AS DOUBLE))) AS cosv
          |  FROM e a JOIN e b ON a.g = b.g AND a.vec_id < b.vec_id),
          |d AS (SELECT DISTINCT vec_id FROM p WHERE cosv >= 0.9995),
          |cs AS (SELECT g, count(*) AS n FROM e GROUP BY 1)
          |SELECT e.vec_id, e.g AS cluster, d.vec_id IS NULL AS keep,
          |  cs.n > 65536 AS cluster_capped
          |FROM e LEFT JOIN d ON e.vec_id = d.vec_id
          |JOIN cs ON cs.g = e.g""".stripMargin,

      "q_lm_score" ->
        """WITH toks AS (SELECT doc_id,
          |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
          |  FROM documents),
          |bi AS (SELECT doc_id, t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2
          |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
          |        FROM toks WHERE len(t) >= 2)),
          |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
          |c1 AS (SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY 1),
          |v AS (SELECT count(DISTINCT w2) AS v FROM c12),
          |m AS (SELECT doc_id, w1, w2, count(*) AS m FROM bi GROUP BY 1, 2, 3),
          |p AS (SELECT m.doc_id, m.m,
          |    CAST(floor(ln((CAST(c12.c12 AS DOUBLE) + 1.0) /
          |      (CAST(c1.c1 AS DOUBLE) + CAST(v.v AS DOUBLE))) * 1000000 + 0.5) AS BIGINT) AS lnp
          |  FROM m JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v),
          |d AS (SELECT doc_id, SUM(m) AS n_bigrams, SUM(m * lnp) AS s FROM p GROUP BY 1)
          |SELECT t.doc_id, CAST(COALESCE(d.n_bigrams, 0) AS BIGINT) AS n_bigrams,
          |  CAST(COALESCE(d.s, 0) AS BIGINT) AS lnp_e6_sum,
          |  CASE WHEN d.n_bigrams IS NULL THEN NULL
          |       ELSE CAST(floor(-CAST(d.s AS DOUBLE) / d.n_bigrams + 0.5) AS BIGINT)
          |  END AS avg_nll_e6
          |FROM toks t LEFT JOIN d USING (doc_id)""".stripMargin,

      "q_tfidf" ->
        """WITH toks AS (SELECT doc_id,
          |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
          |  FROM documents),
          |tm AS (SELECT doc_id, unnest(t) AS term FROM toks),
          |tf AS (SELECT doc_id, term, count(*) AS tf FROM tm GROUP BY 1, 2),
          |dfq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY 1),
          |nn AS (SELECT count(*) AS n FROM documents),
          |idf AS (SELECT term, df_t,
          |    CAST(floor((ln((CAST(n AS DOUBLE) + 1.0) / (CAST(df_t AS DOUBLE) + 1.0)) + 1.0)
          |      * 1000000 + 0.5) AS BIGINT) AS idf_e6
          |  FROM dfq CROSS JOIN nn),
          |w AS (SELECT tf.doc_id, tf.term, tf.tf, idf.df_t,
          |    tf.tf * idf.idf_e6 AS weight_e6
          |  FROM tf JOIN idf USING (term))
          |SELECT doc_id, term, tf, df_t, weight_e6, CAST(rnk AS BIGINT) AS rank FROM (
          |  SELECT w.*, row_number() OVER (
          |      PARTITION BY doc_id ORDER BY weight_e6 DESC, term) AS rnk
          |  FROM w) q
          |WHERE rnk <= 3""".stripMargin,

      "q_kmeans" ->
        """WITH e AS (SELECT vec_id, CAST(vec_id % 8 AS INT) AS g,
          |    CAST(CAST(vec_id % 89 + 1 AS DOUBLE) / 256.0 AS FLOAT) AS eps FROM embeddings),
          |m AS (SELECT g, count(*) AS n, SUM(CAST(eps AS DOUBLE)) AS s FROM e GROUP BY g),
          |dims AS (SELECT CAST(unnest(generate_series(0, 8)) AS INT) AS dim)
          |SELECT m.g AS cluster, dims.dim,
          |  CAST(floor(CASE WHEN dims.dim = m.g THEN 1.0
          |    WHEN dims.dim = 8 THEN s / n ELSE 0.0 END * 1000000 + 0.5) AS BIGINT) AS mean_e6
          |FROM m CROSS JOIN dims""".stripMargin,

      "q_lang_id" -> {
        def score(words: Seq[String], grams: Seq[String]): String = {
          val w = words.map(s => s"'$s'").mkString(", ")
          val g = grams.map(s => s"'$s'").mkString(", ")
          s"2 * (CAST(len(list_filter(toks, x -> x IN ($w))) AS DOUBLE) / GREATEST(1, len(toks)))" +
            s" + CAST(len(list_filter(tris, x -> x IN ($g))) AS DOUBLE) / GREATEST(1, len(tris))"
        }
        val sEn = score(Seq("the","and","of","to","in","is","that","for","with","it"), Seq("the","ing","and","ion","ent"))
        val sEs = score(Seq("el","la","de","que","y","en","los","del","se","las"), Seq("que","ent","con","ado","cio"))
        val sDe = score(Seq("der","die","und","das","ist","den","von","mit","sich","auf"), Seq("der","ein","ich","sch","und"))
        val sFr = score(Seq("le","la","de","et","les","des","est","une","dans","que"), Seq("les","ent","que","ion","ait"))
        s"""WITH t AS (SELECT doc_id, lower(text) AS lt FROM documents),
           |f AS (SELECT doc_id,
           |    list_filter(string_split_regex(lt, '\\s+'), x -> x <> '') AS toks,
           |    list_filter([substr(g, CAST(i AS INT), 3) for i in generate_series(1, GREATEST(1, length(g) - 2))],
           |                x -> NOT contains(x, ' ')) AS tris
           |  FROM (SELECT doc_id, lt, regexp_replace(lt, '[^a-z ]', '', 'g') AS g FROM t) s),
           |sc AS (SELECT doc_id, $sEn AS s_en, $sEs AS s_es, $sDe AS s_de, $sFr AS s_fr FROM f),
           |w AS (SELECT doc_id,
           |    list_sort([{'s': s_en, 'l': 'en'}, {'s': s_es, 'l': 'es'},
           |               {'s': s_de, 'l': 'de'}, {'s': s_fr, 'l': 'fr'}]) AS ranked
           |  FROM sc)
           |SELECT doc_id,
           |  CASE WHEN ranked[-1].s <= 0 THEN 'und' ELSE ranked[-1].l END AS lang_pred
           |FROM w""".stripMargin
      },

      // composite corpus cleaning: all four stages (lang+quality gate,
      // exact dedup on raw text, fingerprint near-dedup) recomputed
      // independently — the lang-id and quality replicas are the same
      // SQL proven by q_lang_id / q_quality_score, applied to the base
      // table plus the planted duplicate variants
      "q_clean_corpus" -> {
        def score(words: Seq[String], grams: Seq[String]): String = {
          val w = words.map(s => s"'$s'").mkString(", ")
          val g = grams.map(s => s"'$s'").mkString(", ")
          s"2 * (CAST(len(list_filter(toks, x -> x IN ($w))) AS DOUBLE) / GREATEST(1, len(toks)))" +
            s" + CAST(len(list_filter(tris, x -> x IN ($g))) AS DOUBLE) / GREATEST(1, len(tris))"
        }
        val sEn = score(Seq("the","and","of","to","in","is","that","for","with","it"), Seq("the","ing","and","ion","ent"))
        val sEs = score(Seq("el","la","de","que","y","en","los","del","se","las"), Seq("que","ent","con","ado","cio"))
        val sDe = score(Seq("der","die","und","das","ist","den","von","mit","sich","auf"), Seq("der","ein","ich","sch","und"))
        val sFr = score(Seq("le","la","de","et","les","des","est","une","dans","que"), Seq("les","ent","que","ion","ait"))
        s"""WITH docs2 AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 50 = 0
           |  UNION ALL SELECT doc_id + 2000000, upper(text) FROM documents WHERE doc_id % 50 = 1
           |  UNION ALL SELECT doc_id + 3000000, replace(text, ' ', '  ') FROM documents WHERE doc_id % 50 = 2),
           |lx AS (SELECT doc_id, lower(text) AS lt FROM docs2),
           |lf AS (SELECT doc_id,
           |    list_filter(string_split_regex(lt, '\\s+'), x -> x <> '') AS toks,
           |    list_filter([substr(g, CAST(i AS INT), 3) for i in generate_series(1, GREATEST(1, length(g) - 2))],
           |                x -> NOT contains(x, ' ')) AS tris
           |  FROM (SELECT doc_id, lt, regexp_replace(lt, '[^a-z ]', '', 'g') AS g FROM lx) s),
           |sc AS (SELECT doc_id, $sEn AS s_en, $sEs AS s_es, $sDe AS s_de, $sFr AS s_fr FROM lf),
           |lw AS (SELECT doc_id, list_sort([{'s': s_en, 'l': 'en'}, {'s': s_es, 'l': 'es'},
           |               {'s': s_de, 'l': 'de'}, {'s': s_fr, 'l': 'fr'}]) AS ranked FROM sc),
           |lang AS (SELECT doc_id, CASE WHEN ranked[-1].s <= 0 THEN 'und' ELSE ranked[-1].l END AS lang_pred FROM lw),
           |qf AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS nchars,
           |    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
           |  FROM docs2),
           |qg AS (SELECT doc_id, nchars, GREATEST(1, len(toks)) AS n,
           |    CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / GREATEST(1, nchars) AS punct,
           |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / GREATEST(1, nchars) AS digits,
           |    CAST(len(list_distinct(toks)) AS DOUBLE) / GREATEST(1, len(toks)) AS uniq,
           |    COALESCE(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE), 0.0) / GREATEST(1, len(toks)) AS mean_word
           |  FROM qf),
           |q AS (SELECT doc_id, nchars, CAST(n AS BIGINT) AS nwords,
           |    CAST(floor(GREATEST(0.0, LEAST(1.0,
           |      0.3 * (LEAST(1.0, nchars / 200.0) * (CASE WHEN nchars > 20000 THEN 0.5 ELSE 1.0 END)) +
           |      0.25 * uniq + 0.2 * (1 - punct * 4) +
           |      0.15 * LEAST(1.0, mean_word / 6.0) + 0.1 * (1 - digits * 2))) * 1000000 + 0.5) AS BIGINT) AS e6
           |  FROM qg),
           |fp AS (SELECT doc_id,
           |    list_reduce(
           |      list_prepend(CAST(7919 AS BIGINT),
           |        list_transform(
           |          string_split(array_to_string(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''), ' '), ''),
           |          c -> CAST(ascii(c) AS BIGINT))),
           |      (acc, x) -> (acc * 31 + x) % 1000000000000037) AS fingerprint
           |  FROM docs2),
           |feat AS (SELECT d.doc_id, d.text, l.lang_pred, q.nchars, q.nwords, q.e6, f.fingerprint
           |  FROM docs2 d JOIN lang l USING (doc_id) JOIN q USING (doc_id) JOIN fp f USING (doc_id)),
           |pass AS (SELECT *, COALESCE(nchars >= 100 AND nwords >= 10 AND e6 >= 780000 AND lang_pred IN ('en','de','fr'), FALSE) AS p FROM feat),
           |p2 AS (SELECT *, min(doc_id) OVER (PARTITION BY text) AS e_canon FROM pass WHERE p),
           |p3 AS (SELECT *, min(doc_id) OVER (PARTITION BY fingerprint) AS f_canon FROM p2 WHERE doc_id = e_canon)
           |SELECT doc_id, lang_pred, 'gate' AS fate FROM pass WHERE NOT p
           |UNION ALL SELECT doc_id, lang_pred, 'exact_dup' FROM p2 WHERE doc_id <> e_canon
           |UNION ALL SELECT doc_id, lang_pred, 'near_dup' FROM p3 WHERE doc_id <> f_canon
           |UNION ALL SELECT doc_id, lang_pred, 'kept' FROM p3 WHERE doc_id = f_canon""".stripMargin
      },

      "q_tile_adaptive" -> {
        s"""WITH bz AS (${BigZonesSql.replace("\n", " ")}),
           |z2 AS (SELECT zone_key, lon0, lat0, lon0 + w AS lon1, lat0 + h AS lat1,
           |  GREATEST(2, LEAST(10, CAST(floor(-ln(GREATEST(w / 360.0, h / 180.0)) / ln(2.0)) AS INT))) AS r
           |  FROM bz),
           |cov AS (SELECT zone_key, r,
           |  LEAST((CAST(1 AS BIGINT) << r) - 1, GREATEST(0, CAST(floor((lon0 + 180.0) / 360.0 * (CAST(1 AS BIGINT) << r)) AS BIGINT))) AS tx0,
           |  LEAST((CAST(1 AS BIGINT) << r) - 1, GREATEST(0, CAST(floor((lon1 + 180.0) / 360.0 * (CAST(1 AS BIGINT) << r)) AS BIGINT))) AS tx1,
           |  LEAST((CAST(1 AS BIGINT) << r) - 1, GREATEST(0, CAST(floor((lat0 + 90.0) / 180.0 * (CAST(1 AS BIGINT) << r)) AS BIGINT))) AS ty0,
           |  LEAST((CAST(1 AS BIGINT) << r) - 1, GREATEST(0, CAST(floor((lat1 + 90.0) / 180.0 * (CAST(1 AS BIGINT) << r)) AS BIGINT))) AS ty1
           |  FROM z2),
           |t1 AS (SELECT zone_key, r, ty0, ty1, unnest(generate_series(tx0, tx1)) AS tx FROM cov),
           |t2 AS (SELECT zone_key, r, tx, unnest(generate_series(ty0, ty1)) AS ty FROM t1)
           |SELECT zone_key,
           |  CASE WHEN r = 2 THEN (CAST(2 AS BIGINT) << 58) | ${mortonSql("tx", "ty", 2)}
           |       ELSE (CAST(3 AS BIGINT) << 58) | ${mortonSql("tx", "ty", 3)} END AS tile,
           |  r AS tile_res
           |FROM t2""".stripMargin
      },

      "q_token_count" ->
        "SELECT doc_id, len(string_split(text, ' ')) AS n_tokens, length(text) AS n_chars_calc FROM documents",

      "q_quality" ->
        """SELECT doc_id, len(string_split(text, ' ')) AS n_words,
          |  round((CAST(length(text) AS DOUBLE) - len(string_split(text, ' ')) + 1) / len(string_split(text, ' ')), 6) AS avg_word_len
          |FROM documents""".stripMargin,

      "q_ann_cosine" -> {
        def fold(a: String, b: String) =
          (1 to 64).map(i => s"CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE)")
            .mkString("(", " + ", ")")
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qemb FROM embeddings WHERE vec_id < 3),
           |d AS (SELECT q.qid, e.vec_id,
           |    ${fold("e.embedding", "q.qemb")} /
           |    (sqrt(${fold("e.embedding", "e.embedding")}) * sqrt(${fold("q.qemb", "q.qemb")})) AS cos
           |  FROM embeddings e CROSS JOIN q)
           |SELECT qid, vec_id, round(cos, 6) AS cos_sim FROM (
           |  SELECT qid, vec_id, cos, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
           |  FROM d) t WHERE rn <= 10""".stripMargin
      },

      "q_id_scan" ->
        "SELECT event_id FROM events WHERE event_id IN (5, 77, 1234, 4321, 999999999)",

      // the collector's cached values recomputed from the raw table
      "q_stats_cached" ->
        s"""SELECT CAST(count(*) AS BIGINT) AS cnt,
           |  round(min(lon), 9) AS minx, round(min(lat), 9) AS miny,
           |  round(max(lon), 9) AS maxx, round(max(lat), 9) AS maxy,
           |  min(event_type) AS type_min, max(event_type) AS type_max,
           |  CAST(count(event_type) AS BIGINT) AS type_count
           |FROM (SELECT event_type, $LonExpr AS lon, $LatExpr AS lat FROM events)""".stripMargin,

      // the compacted table holds exactly the retained rows, one file
      // per surviving daily partition (expired days have no row here —
      // their directories were deleted)
      "q_fs_compact" ->
        s"""WITH $ptsCte
           |SELECT strftime(ts, '%Y/%m/%d') AS part, COUNT(*) AS n, 1 AS files
           |FROM pts WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
           |GROUP BY 1""".stripMargin,

      // the same mutation chain replayed in SQL: CASE = modifyFeatures,
      // IS DISTINCT FROM = removeFeatures (null attrs survive both
      // sides), anti-join + union = upsert
      "q_mutation_replay" ->
        """WITH upd AS (
          |  SELECT event_id, event_type,
          |         CASE WHEN event_type = 'click' THEN -1.5 ELSE value END AS value
          |  FROM events),
          |del AS (SELECT * FROM upd WHERE event_type IS DISTINCT FROM 'view'),
          |ups AS (SELECT CAST(e AS BIGINT) AS event_id, 'planted' AS event_type,
          |               CAST(7.25 AS DOUBLE) AS value
          |        FROM (VALUES (1), (2), (3), (900000001), (900000002)) AS t(e)),
          |fin AS (
          |  SELECT d.event_id, d.event_type, d.value FROM del d
          |  WHERE d.event_id NOT IN (SELECT event_id FROM ups)
          |  UNION ALL SELECT * FROM ups)
          |SELECT event_id, event_type, value FROM fin""".stripMargin,

      // the scoped chain replayed in SQL over the derived lon/lat: the
      // bbox bounds sit at .005 offsets no lattice point can hit, so the
      // CQL BBOX and the BETWEENs agree exactly
      "q_mutation_scoped" ->
        s"""WITH v AS (SELECT event_id, $LonExpr AS lon, $LatExpr AS lat,
           |    value, event_type FROM events),
           |u AS (SELECT event_id, lon, lat, event_type,
           |    CASE WHEN lon BETWEEN -60.005 AND 0.005
           |          AND lat BETWEEN -30.005 AND 30.005
           |          AND event_type = 'click' THEN -2.0 ELSE value END AS value
           |  FROM v),
           |d AS (SELECT * FROM u
           |  WHERE NOT (lon BETWEEN 60.005 AND 150.005
           |    AND lat BETWEEN -60.005 AND 30.005 AND event_type = 'view')),
           |ups AS (SELECT CAST(e AS BIGINT) AS event_id, 'planted' AS event_type,
           |    CAST(3.5 AS DOUBLE) AS value
           |  FROM (VALUES (11), (22), (900000077)) AS t(e)),
           |fin AS (
           |  SELECT d.event_id, d.event_type, d.value FROM d
           |  WHERE d.event_id NOT IN (SELECT event_id FROM ups)
           |  UNION ALL SELECT * FROM ups)
           |SELECT event_id, event_type, value FROM fin
           |WHERE event_type IN ('click', 'planted')""".stripMargin,

      "q_stat_dsl" ->
        """SELECT event_type, min(value) AS value_min, max(value) AS value_max,
          |  count(*) AS count
          |FROM events GROUP BY event_type""".stripMargin,

      // the six planted labels are evaluated against auths
      // {admin,user,alpha} by hand: '' and 'admin' and 'admin|user' and
      // 'user&(admin|ops)' pass; 'user&system' (no system) and
      // 'secret&(alpha|beta)' (no secret) do not
      "q_visibility" ->
        """WITH v AS (SELECT event_id,
          |    (['', 'admin', 'user&system', 'admin|user',
          |      'secret&(alpha|beta)', 'user&(admin|ops)'])[(event_id % 6) + 1] AS vis
          |  FROM events)
          |SELECT event_id, vis FROM v
          |WHERE vis IN ('', 'admin', 'admin|user', 'user&(admin|ops)')""".stripMargin,

      // GeoJSON round-trip is bitwise on the lattice doubles, so the
      // oracle filters the source columns directly; bbox bounds sit at
      // .005 offsets no lattice value can hit
      "q_geojson_query" ->
        s"""WITH v AS (SELECT event_id, $LonExpr AS lon, $LatExpr AS lat,
           |    value, event_type FROM events)
           |SELECT event_id, CAST(round(lon, 2) AS DOUBLE) AS lon,
           |  CAST(round(lat, 2) AS DOUBLE) AS lat
           |FROM v
           |WHERE lon >= -120.005 AND lon <= 100.005
           |  AND lat >= -60.005 AND lat <= 80.005
           |  AND event_type = 'click' AND value >= 5""".stripMargin,

      // identical answer required through the indexed (pruned) path
      "q_geojson_indexed" ->
        s"""WITH v AS (SELECT event_id, $LonExpr AS lon, $LatExpr AS lat,
           |    value, event_type FROM events)
           |SELECT event_id, CAST(round(lon, 2) AS DOUBLE) AS lon,
           |  CAST(round(lat, 2) AS DOUBLE) AS lat
           |FROM v
           |WHERE lon >= -120.005 AND lon <= 100.005
           |  AND lat >= -60.005 AND lat <= 80.005
           |  AND event_type = 'click' AND value >= 5""".stripMargin,

      // full-semantics replications (splitmix64 + Java hashCode in SQL —
      // see OracleGen)
      "q_simhash_pairs" -> OracleGen.simhashPairsSql(maxDist = 6),
      "q_dedup_minhash" -> OracleGen.minhashPairsSql(threshold = 0.5),
      "q_audio_features" -> OracleGen.audioFeaturesSql(maxDocId = 200),
      "q_image_features" -> OracleGen.imageFeaturesSql(nImages = 300),
      "q_clean_images" -> OracleGen.cleanImagesSql(nImages = 60, maxAspect = 3.0),

      "q_phash_pairs" ->
        """WITH ids AS (SELECT unnest(generate_series(0, 499)) AS iid),
          |h AS (SELECT printf('img%09d', CAST(iid AS INT)) AS image_id,
          |    xor(CAST((iid // 4) * 2246822519 % 4294967296 * 65537 AS BIGINT),
          |        CAST(7 AS BIGINT) << CAST(3 * (iid % 4) AS INT)) AS ph
          |  FROM ids)
          |SELECT a.image_id AS id1, b.image_id AS id2,
          |  CAST(bit_count(xor(a.ph, b.ph)) AS INT) AS hamming
          |FROM h a JOIN h b ON a.image_id < b.image_id
          |WHERE bit_count(xor(a.ph, b.ph)) <= 12""".stripMargin,

      "q_emb_pairs" -> {
        def fold(a: String, b: String) =
          (1 to 64).map(i => s"CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE)")
            .mkString("(", " + ", ")")
        s"""WITH e AS (SELECT vec_id,
           |    [CAST(CASE WHEN i = (vec_id // 4) % 64 THEN 1.0
           |           WHEN i = (vec_id // 256) % 64 THEN 0.5
           |           ELSE 0.0 END AS FLOAT) for i in generate_series(0, 63)] AS emb
           |  FROM embeddings),
           |p AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
           |    ${fold("a.emb", "b.emb")} /
           |    (sqrt(${fold("a.emb", "a.emb")}) * sqrt(${fold("b.emb", "b.emb")})) AS cosine
           |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
           |SELECT id1, id2, round(cosine, 6) AS cosine FROM p WHERE cosine >= 0.95""".stripMargin
      },

      "q_ann_ivf" ->
        """WITH e AS (SELECT vec_id, vec_id % 16 AS g,
          |    CAST((vec_id % 89 + 1) / 256.0 AS FLOAT) AS eps FROM embeddings),
          |q AS (SELECT unnest([CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(2 AS BIGINT)]) AS qid),
          |pe AS (SELECT q.qid, e.vec_id,
          |    CAST((e.g * 7 + q.qid * 3) % 16 + 1 AS DOUBLE) AS wg,
          |    CAST(e.eps AS DOUBLE) AS ee
          |  FROM e CROSS JOIN q
          |  WHERE (e.g * 7 + q.qid * 3) % 16 + 1 >= 11),
          |c AS (SELECT qid, vec_id, wg / (sqrt(1.0 + ee * ee) * sqrt(1496.0)) AS cosine FROM pe)
          |SELECT qid, vec_id, CAST(floor(cosine * 1000000 + 0.5) AS BIGINT) AS cosine_e6 FROM (
          |  SELECT qid, vec_id, cosine, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn
          |  FROM c) t WHERE rn <= 10""".stripMargin,

      "q_convexhull" ->
        "SELECT 'POLYGON ((-180 -90, -180 90, 180 90, 180 -90, -180 -90))' AS hull_wkt",

      "q_cql_attr" ->
        """SELECT event_id, event_type, value FROM events
          |WHERE event_type IN ('click', 'purchase') AND value BETWEEN 10 AND 80
          |  AND ts > TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
          |  AND CAST(json_extract_string(props, '$.k') AS DOUBLE) > 50
          |  AND user_id IS NOT NULL""".stripMargin,

      "q_cql_bbox" ->
        s"""WITH pts AS ($PtsSql)
           |SELECT event_id, CAST(round(lon, 2) AS DOUBLE) AS lon,
           |  CAST(round(lat, 2) AS DOUBLE) AS lat FROM pts
           |WHERE lon >= -50 AND lon <= 30 AND lat >= -20 AND lat <= 25
           |  AND value > 20 AND NOT (event_id BETWEEN 100 AND 200)""".stripMargin,

      "q_cql_idl" ->
        s"""WITH pts AS ($PtsSql)
           |SELECT event_id FROM pts
           |WHERE ${quadSql(IdlWestQuad)} OR ${quadSql(IdlEastQuad)}""".stripMargin,

      "q_cql_indexed" ->
        s"""WITH pts AS ($PtsSql)
           |SELECT event_id FROM pts
           |WHERE lon >= -50 AND lon <= 30 AND lat >= -20 AND lat <= 25
           |  AND value > 20""".stripMargin,

      "q_date_offset" ->
        "SELECT event_id, ts + INTERVAL 26 HOUR AS ts FROM events",

      "q_hash_attr" ->
        s"""SELECT event_id, event_type,
           |  CAST(abs(${OracleGen.jhash("event_type")}) % 7 AS INT) AS hash
           |FROM events""".stripMargin,

      "q_query_hints" ->
        """SELECT event_id, value * 2 AS vt, upper(event_type) AS shout FROM events
          |WHERE event_type = 'purchase' AND value > 50
          |ORDER BY event_id LIMIT 100""".stripMargin,

      "q_raster_query" ->
        // full replication of the raster planner's RESULT semantics:
        // resolution selection (finest <= requested, else the finest
        // available — selectResolution:95-107) + the strict 2-D overlap
        // refine; the engine's geohash ranges only prune
        s"""WITH $ptsCte, chunks AS ($RasterChunksSql),
           |sel AS (
           |  SELECT CASE
           |    WHEN EXISTS (SELECT 1 FROM chunks WHERE res <= 0.125)
           |    THEN (SELECT max(res) FROM chunks WHERE res <= 0.125)
           |    ELSE (SELECT min(res) FROM chunks) END AS res)
           |SELECT rid, minx, miny, maxx, maxy, res, color FROM chunks
           |WHERE res = (SELECT res FROM sel)
           |  AND minx < 34.0 AND maxx > 2.0 AND miny < 27.0 AND maxy > 1.0""".stripMargin,

      "q_raster_mosaic" ->
        // each 8-degree chunk fully covers four 4-degree tiles; a
        // rendered tile is the solid chunk color (crop -> nearest
        // neighbor scale of a solid region), 16x16 = 256 pixels
        s"""WITH $ptsCte, chunks AS ($RasterChunksSql)
           |SELECT CAST(minx / 4 + d.dx AS INT) AS tile_x,
           |       CAST(miny / 4 + d.dy AS INT) AS tile_y,
           |       1 AS chunk_count, color AS color_min, color AS color_max,
           |       256 AS n_pixels
           |FROM chunks
           |CROSS JOIN (VALUES (0, 0), (1, 0), (0, 1), (1, 1)) AS d(dx, dy)
           |WHERE res = 0.5 AND minx IN (0.0, 8.0) AND miny IN (0.0, 8.0)""".stripMargin,

      "q_geom_bbox" ->
        s"""WITH $ptsCte, boxes AS ($BoxesSql)
           |SELECT event_id, round(bminx, 6) AS minx, round(bminy, 6) AS miny,
           |  round(bmaxx, 6) AS maxx, round(bmaxy, 6) AS maxy
           |FROM boxes
           |WHERE bminx <= 25.005 AND bmaxx >= -40.005 AND bminy <= 20.005 AND bmaxy >= -30.005""".stripMargin,

      "q_geom_bbox_time" ->
        s"""WITH $ptsCte, boxes AS ($BoxesSql)
           |SELECT event_id, round(bminx, 6) AS minx, round(bminy, 6) AS miny,
           |  round(bmaxx, 6) AS maxx, round(bmaxy, 6) AS maxy
           |FROM boxes
           |WHERE bminx <= 25.005 AND bmaxx >= -40.005 AND bminy <= 20.005 AND bmaxy >= -30.005
           |  AND epoch_ms(CAST(ts AS TIMESTAMP)) BETWEEN 1704672000000 AND 1705276799999""".stripMargin,

      // identical answer required through the format("graft") extent
      // relation (envelope-overlap pushdown)
      "q_geom_format" ->
        s"""WITH $ptsCte, boxes AS ($BoxesSql)
           |SELECT event_id, round(bminx, 6) AS minx, round(bminy, 6) AS miny,
           |  round(bmaxx, 6) AS maxx, round(bmaxy, 6) AS maxy
           |FROM boxes
           |WHERE bminx <= 25.005 AND bmaxx >= -40.005 AND bminy <= 20.005 AND bmaxy >= -30.005""".stripMargin,

      // cached extent-table stats vs a raw recompute over the boxes
      "q_geom_stats" ->
        s"""WITH $ptsCte, boxes AS ($BoxesSql)
           |SELECT count(*) AS cnt,
           |  round(min(bminx), 9) AS minx, round(min(bminy), 9) AS miny,
           |  round(max(bmaxx), 9) AS maxx, round(max(bmaxy), 9) AS maxy,
           |  min(e.event_type) AS type_min, max(e.event_type) AS type_max,
           |  count(e.event_type) AS type_count
           |FROM boxes b JOIN events e USING (event_id)""".stripMargin,

      // identical answer required through the extent table's
      // bucket-pruned attribute-index layout
      "q_geom_attr" ->
        s"""WITH $ptsCte, boxes AS ($BoxesSql)
           |SELECT b.event_id, e.event_type, round(b.bminx, 6) AS minx,
           |  round(b.bmaxy, 6) AS maxy
           |FROM boxes b JOIN events e USING (event_id)
           |WHERE e.event_type = 'click'""".stripMargin,

      // the extent-layout mutation chain replayed in SQL: for boxes JTS
      // intersects equals the inclusive envelope overlap, and the upsert
      // envelopes re-derive with the same px + 0.5 IEEE arithmetic
      "q_geom_mutation" ->
        s"""WITH $ptsCte, boxes AS ($BoxesSql),
           |b AS (SELECT x.event_id, x.bminx, x.bminy, x.bmaxx, x.bmaxy, e.event_type
           |  FROM boxes x JOIN events e USING (event_id)),
           |u AS (SELECT event_id, bminx, bminy, bmaxx, bmaxy,
           |    CASE WHEN bminx <= 0.005 AND bmaxx >= -60.005
           |          AND bminy <= 30.005 AND bmaxy >= -30.005
           |          AND event_type = 'click' THEN 'flagged' ELSE event_type END AS event_type
           |  FROM b),
           |d AS (SELECT * FROM u
           |  WHERE NOT (bminx <= 150.005 AND bmaxx >= 60.005
           |    AND bminy <= 30.005 AND bmaxy >= -60.005 AND event_type = 'view')),
           |ups AS (SELECT event_id, 'planted' AS event_type, px AS bminx, py AS bminy,
           |    px + 0.5 AS bmaxx, py + 0.5 AS bmaxy
           |  FROM (VALUES (CAST(77 AS BIGINT), 20.0025, -33.0025),
           |    (CAST(900000011 AS BIGINT), 21.0025, -34.0025),
           |    (CAST(900000022 AS BIGINT), 22.0025, -35.0025)) AS t(event_id, px, py)),
           |fin AS (
           |  SELECT event_id, bminx, bminy, bmaxx, bmaxy, event_type FROM d
           |  WHERE event_id NOT IN (SELECT event_id FROM ups)
           |  UNION ALL SELECT event_id, bminx, bminy, bmaxx, bmaxy, event_type FROM ups)
           |SELECT event_id, event_type, round(bminx, 6) AS minx, round(bminy, 6) AS miny,
           |  round(bmaxx, 6) AS maxx, round(bmaxy, 6) AS maxy
           |FROM fin WHERE event_type IN ('flagged', 'planted')""".stripMargin,
    )
  }
}
