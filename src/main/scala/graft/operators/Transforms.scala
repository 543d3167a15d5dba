package graft.operators

import java.time.Duration

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ColumnBridge => CB}
import graft.functions.JavaHashString

/**
 * Row-transform process analogs (reference geomesa-process-vector
 * transform/ package). The reference materializes a ListFeatureCollection
 * on one node and mutates features in a loop; here each is a single
 * codegen'd projection — fully distributed, no UDFs, survives any scale
 * the scan survives.
 */
object Transforms {

  /**
   * DateOffsetProcess analog (transform/DateOffsetProcess.scala:29-56):
   * shift `dateField` by an ISO-8601 duration string (e.g. "P1D",
   * "PT-6H", "-PT30S" — java.time.Duration grammar, like the reference).
   * The shift compiles to integer micros arithmetic, so it stays inside
   * WholeStageCodegen and is exact (no double rounding).
   */
  def dateOffset(df: DataFrame, dateField: String, timeOffset: String): DataFrame = {
    val d =
      try Duration.parse(timeOffset)
      catch {
        case e: java.time.format.DateTimeParseException =>
          throw new IllegalArgumentException(s"Invalid offset $timeOffset", e)
      }
    val micros = Math.addExact(
      Math.multiplyExact(d.getSeconds, 1000000L), d.getNano / 1000L)
    // day-time interval addition is exact micros and works for BOTH
    // TIMESTAMP and TIMESTAMP_NTZ columns (unix_micros would reject NTZ)
    val secs = java.math.BigDecimal.valueOf(micros, 6)
    df.withColumn(dateField,
      col(dateField) + make_dt_interval(lit(0), lit(0), lit(0), lit(secs)))
  }

  /** Java String.hashCode of an attribute stringified like the reference
    * (`Option(attr).map(_.toString).getOrElse("")`) — null-safe, native
    * codegen (functions/JavaHashString). */
  def javaHash(attr: Column): Column =
    CB.column(JavaHashString(CB.expression(attr.cast("string"))))

  /**
   * HashAttributeProcess analog (transform/HashAttributeProcess
   * .scala:24-78): append an int `hash` column = abs(hash(attr)) %
   * modulo. Deterministic (see JavaHashString scaladoc for the
   * goodFastHash substitution) — so it is usable as a stable shard /
   * salt key at scale, which is what the reference's WPS consumers use
   * it for (choropleth bucketing).
   */
  def hashAttribute(df: DataFrame, attribute: String, modulo: Int,
                    hashCol: String = "hash"): DataFrame = {
    require(modulo > 0, s"modulo must be positive: $modulo")
    df.withColumn(hashCol, hashBucket(col(attribute), modulo))
  }

  // abs AFTER widening to long: abs(Int.MinValue) stays negative in
  // 32 bits, which would put a hashCode of exactly -2^31 outside
  // [0, modulo) (and matches the oracle, which abs-es over BIGINT)
  private def hashBucket(attr: Column, modulo: Int): Column =
    (abs(javaHash(attr).cast("long")) % lit(modulo)).cast("int")

  /** HashAttributeColorProcess analog: the same bucket mapped onto the
    * reference's fixed 7-color palette (HashAttributeProcess.scala:81-97). */
  private val Colors = Array(
    "#6495ED", "#B0C4DE", "#00FFFF", "#9ACD32", "#00FA9A", "#FFF8DC", "#F5DEB3")

  def hashAttributeColor(df: DataFrame, attribute: String, modulo: Int,
                         hashCol: String = "hash"): DataFrame = {
    require(modulo > 0, s"modulo must be positive: $modulo")
    val bucket = hashBucket(col(attribute), modulo)
    df.withColumn(hashCol, element_at(lit(Colors), (bucket % Colors.length) + 1))
  }

  /**
   * JoinProcess analog (process/query/JoinProcess.scala:48-160): look up
   * secondary-schema features whose `joinAttribute` equals a value in the
   * (already filtered) primary collection, returning the join attribute
   * plus every other attribute of both schemas under schema-qualified
   * names (`<schemaName>.<attr>`, the reference's combined sft), or just
   * `attributes` when given (qualified names, plus the bare join
   * attribute). `joinFilter` is extra CQL applied to the secondary side,
   * exactly where the reference ANDs it into the secondary query.
   *
   * The reference collects the primary side on the driver (hard-capped at
   * 128 features — it is "mainly intended for a single feature lookup")
   * and ORs per-value equality filters into one secondary scan; here the
   * primary side broadcasts into a hash join, so the secondary side stays
   * a single distributed scan at any primary size. `maxPrimary` opts into
   * the reference's cap as a guard. One intentional relational deviation:
   * with DUPLICATE primary join values the reference's driver loop keeps
   * whichever primary feature it finds first — this join keeps every
   * matching pair.
   */
  def joinProcess(primary: DataFrame, secondary: DataFrame, joinAttribute: String,
                  joinFilter: Option[String] = None, attributes: Seq[String] = Nil,
                  primaryName: String = "primary", secondaryName: String = "secondary",
                  maxPrimary: Option[Int] = None): DataFrame = {
    require(primary.columns.contains(joinAttribute),
      s"Attribute '$joinAttribute' does not exist in the primary feature collection")
    require(secondary.columns.contains(joinAttribute),
      s"Attribute '$joinAttribute' does not exist in the joined feature collection")
    maxPrimary.foreach { n =>
      val got = primary.limit(n + 1).count()
      require(got <= n, s"Too many features returned from primary query - got $got+, max $n")
    }
    val sec = joinFilter.map(f => secondary.where(graft.plans.Cql.parse(f))).getOrElse(secondary)
    def qualify(df: DataFrame, name: String): DataFrame =
      df.select(col(joinAttribute) +: df.columns.filter(_ != joinAttribute)
        .map(c => col(c).as(s"$name.$c")).toIndexedSeq: _*)
    val joined = qualify(sec, secondaryName)
      .join(broadcast(qualify(primary, primaryName)), joinAttribute)
    if (attributes.isEmpty) {
      // reference default order: join attr, then primary attrs, then secondary
      val ordered = col(joinAttribute) +:
        (joined.columns.filter(_.startsWith(s"$primaryName.")) ++
          joined.columns.filter(_.startsWith(s"$secondaryName."))).map(c => col(s"`$c`")).toIndexedSeq
      joined.select(ordered: _*)
    } else {
      joined.select(attributes.map(a => if (a == joinAttribute) col(a) else col(s"`$a`")): _*)
    }
  }
}
