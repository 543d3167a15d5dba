package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Query auditing — the reference's audit SPI (docs auditing.rst;
 * QueryEvent at geomesa-index-api/.../index/audit/QueryEvent.scala:13-22,
 * round-tripped by AccumuloQueryEventTransformTest). The reference
 * writes one event per query into the `<catalog>_queries` Accumulo
 * table; here events land as rows in a `<root>/_audit/` parquet table —
 * the same queryable shape (`read` returns it as a DataFrame) without a
 * second storage system.
 *
 * WHO ran the query is delegated exactly like the reference's
 * AuditProvider SPI: callers pass a `user` provider function (the
 * GeoServer plugin's Spring-security provider maps to "whatever your
 * environment exposes"); the default is the JVM user.
 *
 * Scale shape: one tiny file per audited query, appended — audit rate
 * is query rate, not data rate. `audited` MATERIALIZES the query once
 * to count hits (the reference counts while iterating the scan); use
 * plain queryPlanned when the caller will consume the rows itself and
 * auditing is not required.
 */
object QueryAudit {

  /** The reference's QueryEvent fields (QueryEvent.scala:13-22). */
  final case class Event(storeType: String, typeName: String, date: Long,
                         user: String, filter: String, hints: String,
                         planTime: Long, scanTime: Long, hits: Long)

  def defaultUser(): String = System.getProperty("user.name", "unknown")

  /** Append one audit event (one query = one event, like the
    * reference's one mutation per query). */
  def log(spark: SparkSession, root: String, event: Event): Unit = {
    import spark.implicits._
    Seq(event).toDF().write.mode("append").parquet(s"$root/_audit")
  }

  /** The audit table (the `<catalog>_queries` analog). */
  def read(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/_audit")

  /**
   * Run a planned CQL query with auditing: plan time = building the
   * DataFrame (strategy decision + filter compilation), scan time =
   * executing it, hits = the result count. Returns (rows, event).
   */
  def audited(spark: SparkSession, root: String, snapshotId: String, cql: String,
              typeName: String = "", hints: String = "",
              user: () => String = defaultUser _,
              idColumn: String = "id"): (DataFrame, Event) = {
    val t0 = System.nanoTime()
    val df = Snapshots.open(spark, root, snapshotId).planned(spark, cql, idColumn)
    val t1 = System.nanoTime()
    val hits = df.count()
    val t2 = System.nanoTime()
    val event = Event("graft", typeName, System.currentTimeMillis(), user(),
      cql, hints, (t1 - t0) / 1000000L, (t2 - t1) / 1000000L, hits)
    log(spark, root, event)
    (df, event)
  }
}
