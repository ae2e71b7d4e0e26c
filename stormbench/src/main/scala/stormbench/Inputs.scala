package stormbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory}
import org.locationtech.jts.io.{WKBReader, WKBWriter}

/** Seeded pseudo-random numbers without RNG state: every value is a pure
  * function of (seed, key), so a forecast, a member or a tile can be
  * regenerated on its own. */
object Rand {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** Uniform in [0, 1). */
  def unit(seed: Long, a: Long, b: Long = 0L, c: Long = 0L): Double =
    (mix(mix(mix(seed) ^ a) ^ (b * 0x632BE59BD9B4E019L) ^ (c * 0x2545F4914F6CDD1DL)) >>> 11)
      .toDouble / (1L << 53).toDouble
}

/** Web-mercator tile arithmetic, written here rather than taken from the
  * program so that the oracle does not share code with what it checks. */
object Tiles {
  val Zoom = 14
  private val MapSize = (1 << Zoom).toDouble
  def lonOf(x: Double): Double = x / MapSize * 360.0 - 180.0
  def latOf(y: Double): Double =
    math.toDegrees(math.atan(math.sinh(math.Pi - 2.0 * math.Pi * y / MapSize)))
  def quadkey(tx: Int, ty: Int): String = {
    val sb = new StringBuilder
    var i = Zoom
    while (i > 0) {
      val mask = 1 << (i - 1)
      sb.append((if ((tx & mask) != 0) 1 else 0) + (if ((ty & mask) != 0) 2 else 0))
      i -= 1
    }
    sb.toString
  }
  def decode(qk: String): (Int, Int) = {
    var tx = 0; var ty = 0
    qk.foreach { ch =>
      val d = ch - '0'
      tx = (tx << 1) | (d & 1); ty = (ty << 1) | (d >> 1)
    }
    (tx, ty)
  }
}

object Wkb {
  private val factory = new GeometryFactory()
  def box(x0: Double, y0: Double, x1: Double, y1: Double): Array[Byte] =
    write(polygon(Seq((x0, y0), (x1, y0), (x1, y1), (x0, y1))))
  private def polygon(ring: Seq[(Double, Double)]): Geometry =
    factory.createPolygon((ring :+ ring.head).map { case (x, y) => new Coordinate(x, y) }.toArray)
  def point(x: Double, y: Double): Array[Byte] = write(factory.createPoint(new Coordinate(x, y)))
  def write(g: Geometry): Array[Byte] = new WKBWriter().write(g)
  def read(b: Array[Byte]): Geometry = new WKBReader(factory).read(b)
}

/** The sizes of one storm workload. Tile `(tx0 + i, ty0 + j)` for
  * `i < nx`, `j < ny` makes the country; admin level `l` splits it into
  * `adminBlocks(l - 1)` = (bx, by) blocks aligned on tile edges. */
final case class StormShape(nx: Int, ny: Int, adminBlocks: Seq[(Int, Int)],
                            facilities: Seq[(String, Int)], coverSpan: Double) {
  val tx0 = 4800
  val ty0 = 7300
  def minLon: Double = Tiles.lonOf(tx0)
  def maxLon: Double = Tiles.lonOf(tx0 + nx)
  def minLat: Double = Tiles.latOf(ty0 + ny)
  def maxLat: Double = Tiles.latOf(ty0)
  def levels: Seq[Int] = adminBlocks.indices.map(_ + 1)
}

/** Everything one storm workload feeds the program, derived from the seed. */
final class StormInputs(spark: SparkSession, val shape: StormShape, val seed: Long) {
  import spark.implicits._
  import shape._

  val country = "BNC"
  val storm = "BENCHSTORM"
  val members: Int = 51
  val thresholds: Seq[Int] = Seq(34, 40, 50, 64, 83, 96, 113, 137)

  /** Tiles with the base layer's demographic columns; all values whole
    * numbers or small-denominator ratios so sums are exact in a double. */
  def tiles: DataFrame = {
    val (x0, y0, w, s) = (tx0, ty0, nx, seed)
    val gen = udf { (i: Long) =>
      val tx = x0 + (i % w).toInt
      val ty = y0 + (i / w).toInt
      (Tiles.quadkey(tx, ty),
        Wkb.box(Tiles.lonOf(tx), Tiles.latOf(ty + 1), Tiles.lonOf(tx + 1), Tiles.latOf(ty)),
        math.floor(Rand.unit(s, 1, i) * 2000),
        math.floor(Rand.unit(s, 2, i) * 50000),
        Seq(10, 11, 12, 13, 21, 22, 23, 30)((Rand.unit(s, 3, i) * 8).toInt).toDouble,
        Rand.unit(s, 4, i) * 3 - 1.5,
        if (Rand.unit(s, 5, i) < 0.3) math.floor(Rand.unit(s, 6, i) * 3) else 0.0,
        if (Rand.unit(s, 7, i) < 0.2) math.floor(Rand.unit(s, 8, i) * 2) else 0.0)
    }
    spark.range(nx.toLong * ny).select(gen(col("id")).as("t"))
      .select(col("t._1").as("tile_id"), col("t._2").as("geometry"),
        col("t._3").as("population"), col("t._4").as("built_surface_m2"),
        col("t._5").as("smod_class"), col("t._6").as("rwi"),
        col("t._7").as("num_schools"), col("t._8").as("num_hcs"))
      .withColumn("school_age_population", floor(col("population") * 0.18))
      .withColumn("infant_population", floor(col("population") * 0.09))
      .withColumn("adolescent_population", floor(col("population") * 0.08))
      .withColumn("smod_class_l1",
        when(col("smod_class") < 20, 1.0).when(col("smod_class") < 30, 2.0).otherwise(3.0))
      .withColumn("num_shelters", lit(null).cast("double"))
      .withColumn("num_wash", lit(null).cast("double"))
  }

  /** Admin level `level` as (id, name, geometry) boxes on tile edges. */
  def admins(level: Int): DataFrame = {
    val (bx, by) = adminBlocks(level - 1)
    val rows = for (i <- 0 until bx; j <- 0 until by) yield {
      val (ax0, ax1) = (tx0 + i * nx / bx, tx0 + (i + 1) * nx / bx)
      val (ay0, ay1) = (ty0 + j * ny / by, ty0 + (j + 1) * ny / by)
      (f"${country}_L${level}_$i%03d_$j%03d", s"Region $level.$i.$j",
        Wkb.box(Tiles.lonOf(ax0), Tiles.latOf(ay1), Tiles.lonOf(ax1), Tiles.latOf(ay0)))
    }
    rows.toDF("id", "name", "geometry")
  }

  def facilityLayers: Map[String, DataFrame] = shape.facilities.zipWithIndex.map { case ((kind, n), k) =>
    val rows = (0 until n).map { i =>
      val lon = minLon + Rand.unit(seed, 100 + k, i, 0) * (maxLon - minLon)
      val lat = minLat + Rand.unit(seed, 100 + k, i, 1) * (maxLat - minLat)
      (s"${kind}_$i", s"$kind $i", lon, lat, Wkb.point(lon, lat))
    }
    kind -> rows.toDF(s"${kind}_id", "name", "longitude", "latitude", "geometry")
  }.toMap

  def countryWkb: Array[Byte] = Wkb.box(minLon, minLat, maxLon, maxLat)

  def date(forecast: Int): String =
    java.time.LocalDateTime.of(2026, 8, 1, 0, 0).plusHours(6L * forecast)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmmss"))

  /** Storm centre in tile units at a forecast: a seeded heading, drifting
    * one step per forecast and folded back into the country so a long
    * chain keeps the same cover. */
  def centre(forecast: Int): (Double, Double) = {
    def fold(v: Double, n: Int): Double = {
      val lo = n * 0.3; val span = n * 0.4
      val r = ((v - lo) % (2 * span) + 2 * span) % (2 * span)
      lo + (if (r > span) 2 * span - r else r)
    }
    val heading = Rand.unit(seed, 200) * 2 * math.Pi
    val step = 0.05 * math.min(nx, ny)
    (fold(nx * (0.3 + 0.4 * Rand.unit(seed, 201)) + forecast * step * math.cos(heading), nx),
      fold(ny * (0.3 + 0.4 * Rand.unit(seed, 202)) + forecast * step * math.sin(heading), ny))
  }

  /** (member, threshold, geometry) rows of one forecast: 51 members, each
    * with 8 box envelopes nested by threshold around a jittered member
    * centre. Boxes let the oracle work out every tile's expected member
    * count exactly. */
  def envelopeRows(forecast: Int): Seq[(Int, Int, Array[Byte])] = {
    val (cx, cy) = centre(forecast)
    for {
      m <- 1 to members
      (th, ti) <- thresholds.zipWithIndex
    } yield {
      val jx = (Rand.unit(seed, 300 + forecast, m, 0) - 0.5) * 0.1 * nx
      val jy = (Rand.unit(seed, 300 + forecast, m, 1) - 0.5) * 0.1 * ny
      val (mx, my) = (cx + jx, cy + jy)
      val shrink = 1.0 - 0.11 * ti
      // x edges on tile edges (tiles beside an edge touch it and count),
      // y edges mid-tile (no tile touches them)
      val hx = math.max(1.0, coverSpan * nx / 2 * shrink)
      val hy = math.max(1.0, coverSpan * ny / 2 * shrink)
      val ex0 = math.floor(mx - hx); val ex1 = math.ceil(mx + hx)
      val ey0 = math.floor(my - hy) + 0.5; val ey1 = math.floor(my + hy) + 0.5
      val geom = Wkb.box(Tiles.lonOf(tx0 + ex0), Tiles.latOf(ty0 + ey1),
        Tiles.lonOf(tx0 + ex1), Tiles.latOf(ty0 + ey0))
      (m, th, geom)
    }
  }

  def envelopes(forecast: Int): DataFrame =
    envelopeRows(forecast).toDF("ensemble_member", "wind_threshold", "geometry")

  def tracks(forecast: Int): DataFrame = {
    val (cx, cy) = centre(forecast)
    val t0 = java.sql.Timestamp.valueOf("2026-08-01 00:00:00").getTime + forecast * 6L * 3600 * 1000
    val rows = for (m <- 1 to members; p <- 0 until 12) yield {
      val x = cx - nx * 0.6 + p * nx * 0.1 + (Rand.unit(seed, 400 + forecast, m, p) - 0.5) * 4
      val y = cy + (Rand.unit(seed, 500 + forecast, m, p) - 0.5) * 4
      val (lon, lat) = (Tiles.lonOf(tx0 + x), Tiles.latOf(ty0 + y))
      val wind = 40 + 80 * Rand.unit(seed, 600 + forecast, m, p)
      (m, new java.sql.Timestamp(t0 + p * 6L * 3600 * 1000), p * 6, lat, lon, wind,
        1005.0 - wind / 4, Wkb.point(lon, lat))
    }
    rows.toDF("ensemble_member", "valid_time", "lead_time", "latitude",
      "longitude", "wind_speed_knots", "pressure_hpa", "geometry")
  }
}
