package perfbench

import org.locationtech.jts.geom.{Coordinate, Envelope, Geometry, GeometryFactory}
import org.locationtech.jts.io.WKBWriter

/**
 * Seeded input generators. Every value is a pure function of
 * (seed, stream, index), so the same seed gives the same inputs whether
 * a row is produced inside a Spark task (to write the Parquet the engine
 * reads) or on the driver (to compute the expected outputs).
 */
object Gen {

  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform double in [0, 1) for (seed, stream, i, k). */
  def u(seed: Long, stream: Int, i: Long, k: Int): Double =
    (mix(mix(mix(seed) ^ (stream.toLong << 40)) + i * 0x632BE59BD9B4E019L + k) >>> 11) *
      (1.0 / (1L << 53))

  def gauss(seed: Long, stream: Int, i: Long, k: Int): Double = {
    val a = math.max(u(seed, stream, i, k), 1e-12)
    val b = u(seed, stream, i, k + 1)
    math.sqrt(-2 * math.log(a)) * math.cos(2 * math.Pi * b)
  }

  val Hotspots = 24

  /** Hotspot-skewed centre: 70% of rows sit around one of 24 seeded
    * hotspots (sigma 4 x 3 degrees), the rest are uniform. Centres stay
    * inside lon +-150, lat +-65 so small shapes never cross the world
    * edge. */
  def centre(seed: Long, stream: Int, i: Long): (Double, Double) = {
    val (lon, lat) =
      if (u(seed, stream, i, 0) < 0.7) {
        val h = (u(seed, stream, i, 1) * Hotspots).toInt
        val hx = -140 + 280 * u(seed, 99, h, 0)
        val hy = -55 + 110 * u(seed, 99, h, 1)
        (hx + 4 * gauss(seed, stream, i, 2), hy + 3 * gauss(seed, stream, i, 4))
      } else (-150 + 300 * u(seed, stream, i, 6), -65 + 130 * u(seed, stream, i, 7))
    (math.max(-150, math.min(150, lon)), math.max(-65, math.min(65, lat)))
  }

  final case class Box(x0: Double, y0: Double, x1: Double, y1: Double) {
    def overlaps(o: Box): Boolean = x0 <= o.x1 && x1 >= o.x0 && y0 <= o.y1 && y1 >= o.y0
  }

  // ---- join_tile: axis-aligned image footprints and zone boxes ----

  /** Every `hugeEvery`-th footprint spans more than 4,096 res-7 cells and
    * takes BoxOps' broadcast branch; the rest are 0.05-0.6 degree boxes. */
  def imageBox(seed: Long, i: Long, hugeEvery: Long): Box =
    if (i % hugeEvery == hugeEvery / 2) {
      val w = 200 + 40 * u(seed, 2, i, 0)
      val h = 100 + 20 * u(seed, 2, i, 1)
      val cx = -10 + 20 * u(seed, 2, i, 2)
      val cy = -10 + 20 * u(seed, 2, i, 3)
      Box(cx - w / 2, cy - h / 2, cx + w / 2, cy + h / 2)
    } else {
      val (cx, cy) = centre(seed, 1, i)
      val w = 0.05 + 0.55 * u(seed, 3, i, 0)
      val h = 0.05 + 0.4 * u(seed, 3, i, 1)
      Box(cx - w / 2, cy - h / 2, cx + w / 2, cy + h / 2)
    }

  def zoneBox(seed: Long, i: Long): Box = {
    val (cx, cy) = centre(seed, 4, i)
    val half = 0.25 + 1.25 * u(seed, 5, i, 0)
    Box(cx - half, cy - half, cx + half, cy + half)
  }

  /** BoxOps' grid index of a coordinate at resolution `res`. */
  def gx(lon: Double, res: Int): Long = {
    val n = 1L << res
    math.min(n - 1, math.max(0L, math.floor((lon + 180.0) / 360.0 * n).toLong))
  }
  def gy(lat: Double, res: Int): Long = {
    val n = 1L << res
    math.min(n - 1, math.max(0L, math.floor((lat + 90.0) / 180.0 * n).toLong))
  }
  def coverCount(b: Box, res: Int): Long =
    (gx(b.x1, res) - gx(b.x0, res) + 1) * (gy(b.y1, res) - gy(b.y0, res) + 1)

  // ---- polygons (sql_join, tables) ----

  private val gf = new GeometryFactory()

  def wkb(g: Geometry): Array[Byte] = new WKBWriter().write(g)

  def polygon(pts: Seq[(Double, Double)]): Geometry =
    gf.createPolygon((pts :+ pts.head).map { case (x, y) => new Coordinate(x, y) }.toArray)

  def boxPolygon(b: Box): Geometry = gf.toGeometry(new Envelope(b.x0, b.x1, b.y0, b.y1))

  /** Rotated rectangle (a non-axis-aligned quad) of size w x h. */
  def quad(cx: Double, cy: Double, w: Double, h: Double, angle: Double): Geometry = {
    val (c, s) = (math.cos(angle), math.sin(angle))
    polygon(Seq((-w, -h), (w, -h), (w, h), (-w, h)).map { case (x, y) =>
      (cx + (x * c - y * s) / 2, cy + (x * s + y * c) / 2)
    })
  }

  /** sql_join footprint: a rotated quad; every `hugeEvery`-th one has an
    * envelope over the rewrite's 64-cell budget at res 7. */
  def footprint(seed: Long, i: Long, hugeEvery: Long): Geometry =
    if (i % hugeEvery == hugeEvery / 2) {
      val (cx, cy) = centre(seed, 6, i)
      quad(math.max(-125, math.min(125, cx)), math.max(-55, math.min(55, cy)),
        30 + 10 * u(seed, 7, i, 0), 15 + 5 * u(seed, 7, i, 1), 0.0)
    } else {
      val (cx, cy) = centre(seed, 6, i)
      quad(cx, cy, 0.05 + 0.5 * u(seed, 7, i, 0), 0.05 + 0.4 * u(seed, 7, i, 1),
        math.Pi * u(seed, 7, i, 2))
    }

  /** Star-shaped zone polygon with 5-9 vertices, radius 0.3-1.2 degrees. */
  def zonePolygon(seed: Long, i: Long): Geometry = {
    val (cx, cy) = centre(seed, 8, i)
    val k = 5 + (u(seed, 9, i, 0) * 5).toInt
    val r = 0.3 + 0.9 * u(seed, 9, i, 1)
    val angles = (0 until k).map(j => 2 * math.Pi * (j + 0.8 * u(seed, 10, i, j)) / k)
    polygon(angles.zipWithIndex.map { case (a, j) =>
      val rr = r * (0.5 + 0.5 * u(seed, 11, i, j))
      (cx + rr * math.cos(a), cy + rr * math.sin(a))
    })
  }

  // ---- table rows (table_reads, ingest_mutate) ----

  /** 2026-01-05T00:00:00Z; 28 days from it span two monthly time bins. */
  val T0: Long = 1767571200000L
  val Days = 28

  /** Instants sit at whole seconds + 500 ms, query bounds at whole
    * seconds, so no row ever ties an interval bound. */
  def dtg(seed: Long, stream: Int, i: Long): Long =
    T0 + (u(seed, stream, i, 20) * Days * 86400).toLong * 1000 + 500

  val Kinds = 50
  def kind(seed: Long, stream: Int, i: Long): String =
    f"k${(u(seed, stream, i, 21) * Kinds).toInt}%02d"
  def score(seed: Long, stream: Int, i: Long): Long = (u(seed, stream, i, 22) * 1000).toLong

  final case class Pt(id: String, lon: Double, lat: Double, dtg: Long, kind: String, score: Long)
  final case class Ext(id: Long, kind: String, dtg: Long, geom: Geometry) {
    lazy val bytes: Array[Byte] = wkb(geom)
  }

  def point(seed: Long, stream: Int, i: Long): Pt = {
    val (x, y) = centre(seed, stream, i)
    Pt(f"p$i%07d", x, y, dtg(seed, stream, i), kind(seed, stream, i), score(seed, stream, i))
  }

  def extent(seed: Long, stream: Int, i: Long): Ext = {
    val (x, y) = centre(seed, stream, i)
    Ext(i, kind(seed, stream, i), dtg(seed, stream, i),
      quad(x, y, 0.02 + 0.3 * u(seed, stream, i, 23), 0.02 + 0.2 * u(seed, stream, i, 24),
        math.Pi * u(seed, stream, i, 25)))
  }

  /** A query window of `w` x `h` degrees around a hotspot-skewed centre. */
  def window(seed: Long, stream: Int, i: Long, w: Double, h: Double): Box = {
    val (x, y) = centre(seed, stream, i)
    Box(x - w / 2, y - h / 2, x + w / 2, y + h / 2)
  }
}
