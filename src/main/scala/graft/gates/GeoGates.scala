package graft.gates

import graft.geo.GeoFunctions._
import graft.ops.{RasterZonal, SpatialJoin, Tracks}
import graft.pipeline.{ImpactPipeline, SyntheticScenario}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import GateInputs._

/** The geo gates (`g*`): the storm-impact operators over synthetic tiles,
  * envelopes and rasters derived from the relational tables. */
object GeoGates {

  /** Deterministic extended-track points (S3): per-order quadrant radii in km
    * from small prime mods — zero mods exercise incomplete/degenerate cases. */
  private def windRadiiPoints(orders: DataFrame): DataFrame = {
    val mods = Map(34 -> Seq(97, 89, 83, 79), 50 -> Seq(47, 43, 41, 37), 64 -> Seq(23, 19, 17, 13))
    val radii = for {
      (kt, ms) <- mods.toSeq.sortBy(_._1)
      (q, m) <- Tracks.Quadrants.zip(ms)
    } yield expr(s"CAST(o_orderkey % $m AS DOUBLE)").as(Tracks.radiusCol(kt, q))
    orders.select(
      col("o_orderkey") +:
      (expr("o_orderkey % 100") * lit(0.015625)).as("longitude") +:
      (expr("o_orderkey % 83") * lit(0.015625)).as("latitude") +:
      radii: _*)
  }

  /** Synthetic raster cells for the S12 zonal queries (g14/g15): one row
    * per cell centroid with an age band, an integer population value (exact
    * sums), a built-surface value, and an SMOD L2 class. Coordinates are
    * spread over ~13 zoom-8 tiles and never land near tile boundaries. */
  private def rasterCells(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "part").select(
      col("p_partkey"),
      (expr("p_partkey % 50") * lit(0.37) - lit(9.2)).as("lon"),
      (expr("(p_partkey div 50) % 40") * lit(0.31) - lit(6.1)).as("lat"),
      expr("CAST(p_partkey % 20 AS INT)").as("band"),
      col("p_size").as("v"),
      col("p_retailprice").as("bs"),
      expr("""CASE CAST(p_partkey % 8 AS INT) WHEN 0 THEN 10 WHEN 1 THEN 11
             | WHEN 2 THEN 12 WHEN 3 THEN 13 WHEN 4 THEN 21 WHEN 5 THEN 22
             | WHEN 6 THEN 23 ELSE 30 END""".stripMargin.replace("\n", ""))
        .cast("int").as("smod"))

  private val rasterCellsSql =
    """SELECT p_partkey,
      |  (p_partkey % 50) * 0.37 - 9.2 AS lon,
      |  ((p_partkey // 50) % 40) * 0.31 - 6.1 AS lat,
      |  CAST(p_partkey % 20 AS INTEGER) AS band,
      |  p_size AS v,
      |  p_retailprice AS bs,
      |  CAST(CASE CAST(p_partkey % 8 AS INTEGER) WHEN 0 THEN 10 WHEN 1 THEN 11
      |   WHEN 2 THEN 12 WHEN 3 THEN 13 WHEN 4 THEN 21 WHEN 5 THEN 22
      |   WHEN 6 THEN 23 ELSE 30 END AS INTEGER) AS smod
      |FROM part""".stripMargin

  /** Facility/RWI points for g15 (S12 map_points): same coordinate lattice
    * as the raster cells, nudged off it so points and cells interleave. */
  private def facilityPoints(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "supplier").select(
      (expr("s_suppkey % 50") * lit(0.37) - lit(9.2) + lit(0.01)).as("lon"),
      (expr("(s_suppkey div 50) % 40") * lit(0.31) - lit(6.1) + lit(0.01)).as("lat"),
      col("s_acctbal").as("rwi"))

  private val facilityPointsSql =
    """SELECT (s_suppkey % 50) * 0.37 - 9.2 + 0.01 AS lon,
      |  ((s_suppkey // 50) % 40) * 0.31 - 6.1 + 0.01 AS lat,
      |  s_acctbal AS rwi
      |FROM supplier""".stripMargin

  private val ZonalZoom = 8

  /** DuckDB twin of `st_quadkey` given tx/ty tile-coordinate columns: the
    * Bing quadkey digit fold (digit_i = 2*bit_i(ty) + bit_i(tx), MSB first)
    * generated as a zoom-length CONCAT of bit expressions. */
  private def quadkeySqlFromTxTy(zoom: Int): String =
    (1 to zoom).map { i =>
      val sh = zoom - i
      s"CAST(((ty >> $sh) & 1) * 2 + ((tx >> $sh) & 1) AS VARCHAR)"
    }.mkString("CONCAT(", ", ", ")")

  /** CTE suffix that turns a relation with lon/lat into one with tile_id:
    * Web-Mercator tile x/y at [[ZonalZoom]] then the quadkey fold — the
    * same arithmetic as Quadkey.lonLatToTileXY/tileXYToQuadkey. */
  private def tiledSql(src: String): String = {
    val n = 1 << ZonalZoom
    s"""SELECT *, ${quadkeySqlFromTxTy(ZonalZoom)} AS tile_id FROM (
       |  SELECT *,
       |    CAST(FLOOR((lon + 180.0) / 360.0 * $n) AS BIGINT) AS tx,
       |    CAST(FLOOR((0.5 - LN((1.0 + SIN(RADIANS(lat))) / (1.0 - SIN(RADIANS(lat))))
       |         / (4.0 * PI())) * $n) AS BIGINT) AS ty
       |  FROM $src)""".stripMargin
  }

  val gates: Seq[Gate] = List(
    // --- geo pipeline operators (J1/J3/A1/A10/A2/W5) — hash-checked ----
    Gate("g01_tile_probability",
      s"""WITH tiles AS ($geoTilesSql), envs AS ($geoEnvelopesSql)
         |SELECT t.tile_id, e.wind_threshold, COUNT(*) AS n_members,
         | ROUND(COUNT(*) / 51.0, 6) AS probability
         |FROM tiles t JOIN envs e
         | ON t.minlon <= e.maxlon AND t.maxlon >= e.minlon
         | AND t.minlat <= e.maxlat AND t.maxlat >= e.minlat
         |GROUP BY t.tile_id, e.wind_threshold
         |ORDER BY t.tile_id, e.wind_threshold""".stripMargin) { (s, d) =>
      SpatialJoin.probabilityByThreshold(
          geoTiles(s, d), "geometry", geoEnvelopes(s, d), "geometry")
        .select(col("tile_id"), col("wind_threshold"),
          col("n_members").cast("long").as("n_members"),
          round(col("probability"), 6).as("probability"))
        .orderBy(col("tile_id"), col("wind_threshold"))
    },
    Gate("g02_cci",
      s"""WITH tiles AS ($geoTilesSql), envs AS ($geoEnvelopesSql),
         |counts AS (
         | SELECT t.tile_id, t.population, e.wind_threshold, COUNT(*) AS n
         | FROM tiles t JOIN envs e
         |  ON t.minlon <= e.maxlon AND t.maxlon >= e.minlon
         |  AND t.minlat <= e.maxlat AND t.maxlat >= e.minlat
         | GROUP BY 1, 2, 3),
         |grid AS (
         | SELECT t.tile_id, t.population, w.wind_threshold
         | FROM tiles t CROSS JOIN (SELECT DISTINCT wind_threshold FROM envs) w),
         |probs AS (
         | SELECT g.tile_id, g.population, g.wind_threshold,
         |  COALESCE(c.n, 0) / 51.0 AS p
         | FROM grid g LEFT JOIN counts c
         |  ON g.tile_id = c.tile_id AND g.wind_threshold = c.wind_threshold),
         |banded AS (
         | SELECT tile_id, population, wind_threshold,
         |  (CASE WHEN p > 0 THEN 1.0 ELSE 0.0 END)
         |   - COALESCE(LEAD(CASE WHEN p > 0 THEN 1.0 ELSE 0.0 END)
         |       OVER (PARTITION BY tile_id ORDER BY wind_threshold), 0.0) AS band
         | FROM probs)
         |SELECT tile_id,
         | CAST(SUM(population * band * wind_threshold * wind_threshold) AS BIGINT) AS cci_pop_x1e6
         |FROM banded GROUP BY tile_id
         |HAVING CAST(SUM(population * band * wind_threshold * wind_threshold) AS BIGINT) <> 0
         |ORDER BY tile_id""".stripMargin) { (s, d) =>
      // CCI band algebra (W5) on the synthetic grid; ×1e6-scaled to an
      // exactly-representable integer (sum order cannot perturb the hash)
      val tv = SpatialJoin.probabilityByThreshold(
        geoTiles(s, d), "geometry", geoEnvelopes(s, d), "geometry", keepZeroRows = true)
      val w = Window.partitionBy(col("tile_id")).orderBy(col("wind_threshold"))
      val ind = when(col("probability") > 0, lit(1.0)).otherwise(lit(0.0))
      val band = ind - lead(ind, 1, 0.0).over(w)
      tv.withColumn("contrib",
          col("population") * band * col("wind_threshold") * col("wind_threshold"))
        .groupBy(col("tile_id"))
        .agg(sum(col("contrib")).cast("long").as("cci_pop_x1e6"))
        .filter(col("cci_pop_x1e6") =!= 0)
        .orderBy(col("tile_id"))
    },
    Gate("g03_points_in_zone",
      s"""WITH tiles AS ($geoTilesSql),
         |pts AS (
         | SELECT (p_partkey % 40) * 0.03125 + 0.0128 AS px,
         |  ((p_partkey // 40) % 40) * 0.03125 + 0.0131 AS py, p_retailprice
         | FROM part)
         |SELECT t.tile_id, COUNT(*) AS n_points, ROUND(SUM(p.p_retailprice),2) AS sum_value
         |FROM tiles t JOIN pts p
         | ON CAST(FLOOR(p.px / 0.03125) AS BIGINT) = CAST(t.tile_id AS BIGINT) % 40
         | AND CAST(FLOOR(p.py / 0.03125) AS BIGINT) = (CAST(t.tile_id AS BIGINT) // 40) % 40
         |GROUP BY t.tile_id ORDER BY t.tile_id""".stripMargin) { (s, d) =>
      // J3: points-in-zone count+sum via the axis-aligned equi-join key
      // (point's cell = tile id — no geo predicate needed for grid zones)
      val pts = t(s, d, "part").select(
        (expr("p_partkey % 40") * lit(0.03125) + lit(0.0128)).as("px"),
        (expr("(p_partkey div 40) % 40") * lit(0.03125) + lit(0.0131)).as("py"),
        col("p_retailprice"))
        .withColumn("cellx", floor(col("px") / lit(0.03125)).cast("long"))
        .withColumn("celly", floor(col("py") / lit(0.03125)).cast("long"))
      val tiles = geoTiles(s, d)
        .withColumn("cellx", expr("CAST(tile_id AS BIGINT) % 40"))
        .withColumn("celly", expr("CAST(tile_id AS BIGINT) div 40 % 40"))
      tiles.join(pts, Seq("cellx", "celly"))
        .groupBy(col("tile_id"))
        .agg(count(lit(1)).as("n_points"), round(sum(col("p_retailprice")), 2).as("sum_value"))
        .orderBy(col("tile_id"))
    },
    Gate("g04_admin_rollup",
      s"""WITH tiles AS ($geoTilesSql), envs AS ($geoEnvelopesSql),
         |counts AS (
         | SELECT t.tile_id, t.population, e.wind_threshold, COUNT(*) AS n
         | FROM tiles t JOIN envs e
         |  ON t.minlon <= e.maxlon AND t.maxlon >= e.minlon
         |  AND t.minlat <= e.maxlat AND t.maxlat >= e.minlat
         | GROUP BY 1, 2, 3)
         |SELECT CONCAT(CAST((CAST(tile_id AS BIGINT) % 40) // 8 AS VARCHAR), '_',
         |  CAST(((CAST(tile_id AS BIGINT) // 40) % 40) // 8 AS VARCHAR)) AS admin_id,
         | wind_threshold,
         | CAST(SUM(population * n) AS BIGINT) AS sum_e_pop_x51, COUNT(*) AS n_tiles
         |FROM counts GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      // A10 E_values + A2 admin rollup, ×51-scaled to exact integers
      val probs = SpatialJoin.probabilityByThreshold(
        geoTiles(s, d), "geometry", geoEnvelopes(s, d), "geometry")
      probs
        .withColumn("admin_id",
          concat_ws("_", expr("CAST(tile_id AS BIGINT) % 40 div 8"),
            expr("CAST(tile_id AS BIGINT) div 40 % 40 div 8")))
        .groupBy(col("admin_id"), col("wind_threshold"))
        .agg(
          sum(col("population") * col("n_members")).cast("long").as("sum_e_pop_x51"),
          count(lit(1)).as("n_tiles"))
        .orderBy(col("admin_id"), col("wind_threshold"))
    },
    Gate("g06_landfall",
      """SELECT member, MIN(CASE WHEN in_country THEN lead_time END) AS landfall_lead,
        | COUNT(*) AS n_points FROM (
        | SELECT o_custkey % 23 AS member,
        |  ((ROW_NUMBER() OVER (PARTITION BY o_custkey % 23 ORDER BY o_orderkey)) - 1) * 6 AS lead_time,
        |  (o_orderkey % 100) * 0.015625 >= 0.5 AND (o_orderkey % 100) * 0.015625 <= 0.9
        |   AND (o_orderkey % 83) * 0.015625 >= 0.3 AND (o_orderkey % 83) * 0.015625 <= 0.7 AS in_country
        | FROM orders) t
        |GROUP BY member ORDER BY member""".stripMargin) { (s, d) =>
      // J16/W7 landfall: per-member track points, first in-country lead time
      val box = graft.geo.Geo.toWkb(graft.geo.Geo.box(0.5, 0.3, 0.9, 0.7))
      val pts = t(s, d, "orders").select(
        expr("o_custkey % 23").as("member"),
        col("o_orderkey"),
        (expr("o_orderkey % 100") * lit(0.015625)).as("lon"),
        (expr("o_orderkey % 83") * lit(0.015625)).as("lat"))
        .withColumn("lead_time",
          (row_number().over(Window.partitionBy("member").orderBy("o_orderkey")) - 1) * 6)
        .withColumn("geometry", st_point(col("lon"), col("lat")))
      pts.withColumn("in_country", st_intersects(col("geometry"), lit(box)))
        .groupBy("member")
        .agg(min(when(col("in_country"), col("lead_time"))).as("landfall_lead"),
          count(lit(1)).as("n_points"))
        .orderBy("member")
    },
    Gate("g09_wind_radii",
      """SELECT o_orderkey,
        | (o_orderkey % 97 > 0 AND o_orderkey % 89 > 0 AND o_orderkey % 83 > 0 AND o_orderkey % 79 > 0) AS complete_34kt,
        | (o_orderkey % 47 > 0 AND o_orderkey % 43 > 0 AND o_orderkey % 41 > 0 AND o_orderkey % 37 > 0) AS complete_50kt,
        | (o_orderkey % 23 > 0 AND o_orderkey % 19 > 0 AND o_orderkey % 17 > 0 AND o_orderkey % 13 > 0) AS complete_64kt,
        | CAST(greatest(o_orderkey % 97, o_orderkey % 89, o_orderkey % 83, o_orderkey % 79,
        |   o_orderkey % 47, o_orderkey % 43, o_orderkey % 41, o_orderkey % 37,
        |   o_orderkey % 23, o_orderkey % 19, o_orderkey % 17, o_orderkey % 13) AS DOUBLE) AS max_radius_km
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      // S3 extended track scan: per-point quadrant radii -> completeness
      // flags + max radial extent (pure codegen'd arithmetic, SQL oracle)
      Tracks.radiiSummary(windRadiiPoints(t(s, d, "orders")))
        .select(col("o_orderkey"), col("complete_34kt"), col("complete_50kt"),
          col("complete_64kt"), col("max_radius_km"))
        .orderBy(col("o_orderkey"))
    },
    Gate("g10_wind_field",
      // g10: every output boolean is a THEOREM of the quadrant-arc
      // construction (Tracks.windFieldUdf) — polygon null iff all four radii
      // are 0 (orderkey divisible by all four quadrant mods: impossible for
      // the key ranges here), the ring always passes through or around the
      // centre, any positive radius fans out positive area — so DuckDB can
      // derive them arithmetically while Spark computes them GEOMETRICALLY
      // (st_intersects / st_area_m2 on the constructed WKB). A construction
      // bug (null/empty/invalid polygon, missed centre, zero area) breaks the
      // hash; vertex-level geometry is separately checked in TracksSpec.
      """WITH pts AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 7 = 0),
        |flags AS (
        |  SELECT o_orderkey,
        |    (o_orderkey % 97 > 0 OR o_orderkey % 89 > 0 OR o_orderkey % 83 > 0 OR o_orderkey % 79 > 0) AS has_34kt,
        |    (o_orderkey % 47 > 0 OR o_orderkey % 43 > 0 OR o_orderkey % 41 > 0 OR o_orderkey % 37 > 0) AS has_50kt
        |  FROM pts
        |)
        |SELECT o_orderkey, has_34kt, has_50kt,
        |  CASE WHEN has_34kt THEN TRUE END AS contains_center,
        |  CASE WHEN has_34kt THEN TRUE END AS positive_area
        |FROM flags ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      // S3 wind-field construction from quadrant radii. Oracle: each output
      // boolean is a theorem of the construction, so DuckDB derives them
      // arithmetically while this side computes them geometrically (see the
      // oracleSql comment); vertex-level geometry is TracksSpec's job
      val wf = Tracks.withWindFields(
        windRadiiPoints(t(s, d, "orders").filter(expr("o_orderkey % 7 = 0"))))
      wf.select(col("o_orderkey"),
          col("wind_field_polygon_34kt").isNotNull.as("has_34kt"),
          col("wind_field_polygon_50kt").isNotNull.as("has_50kt"),
          when(col("wind_field_polygon_34kt").isNotNull,
            st_intersects(st_point(col("longitude"), col("latitude")),
              col("wind_field_polygon_34kt"))).as("contains_center"),
          when(col("wind_field_polygon_34kt").isNotNull,
            (st_area_m2(col("wind_field_polygon_34kt")) > 0)).as("positive_area"))
        .orderBy(col("o_orderkey"))
    },
    Gate("g11_admin_overlay",
      // g11: every overlay step's decision is analytic on the constructed
      // boxes (see the query comment), so DuckDB derives the admin id
      // arithmetically while Spark resolves it geometrically (JTS STRtree,
      // centroid-contains, equal-area overlap, nearest) — a wrong step order,
      // boundary slip, or projection bug breaks the hash.
      """SELECT o_orderkey,
        |  CAST(CASE WHEN (o_orderkey % 100) % 5 = 4
        |            THEN (o_orderkey % 100) // 5 + 1
        |            ELSE (o_orderkey % 100) // 5 END AS VARCHAR) AS id
        |FROM orders WHERE o_orderkey % 3 = 0
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      // J4-J6: the 3-step admin overlay oracle-checked via an arithmetic
      // twin (the g07 trick). Admin boxes are disjoint [5n, 5n+3]x[0,10]
      // with 2-degree gaps; tiles are built so every step's decision is
      // analytic and boundary-free (all constants dyadic):
      //   c%5 in {0,1,2}: centroid at c+0.5 sits strictly inside admin
      //     floor(c/5)                                   -> J4 centroid-within
      //   c%5 == 3: a wide tile [c-1, c+2.5] straddles the gap (centroid
      //     c+0.75 inside no admin); overlap is 1.0 deg of lon with admin
      //     floor(c/5) vs 0.5 with floor(c/5)+1 (same latitude band, so
      //     the equal-area projection preserves the ratio)
      //                                                  -> J5 max-overlap
      //   c%5 == 4: tile [c+0.25, c+0.75] lies wholly in the gap; centroid
      //     distance 0.5 deg to admin floor(c/5)+1 vs 1.5 to floor(c/5)
      //                                                  -> J6 nearest
      val admins = t(s, d, "nation").select(
        col("n_nationkey").cast("string").as("id"),
        st_box(col("n_nationkey").cast("double") * lit(5.0), lit(0.0),
          col("n_nationkey").cast("double") * lit(5.0) + lit(3.0), lit(10.0))
          .as("geometry"))
      val c = (col("o_orderkey") % 100).cast("double")
      val tiles = t(s, d, "orders").filter(expr("o_orderkey % 3 = 0"))
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 100 % 5 === 3,
            st_box(c - lit(1.0), lit(4.75), c + lit(2.5), lit(5.25)))
          .otherwise(
            st_box(c + lit(0.25), lit(4.75), c + lit(0.75), lit(5.25)))
          .as("geometry"))
      graft.ops.AdminOverlay.assign(tiles, admins)
        .select(col("o_orderkey"), col("id"))
        .orderBy(col("o_orderkey"))
    },
    Gate("g13_antimeridian",
      // g13: the dateline fold derived analytically — overflow east/west adds
      // a part and pins the folded bounds to ±180; width is always preserved.
      """WITH b AS (
        |  SELECT o_orderkey,
        |    CAST((o_orderkey % 360) - 180 AS DOUBLE) AS c,
        |    CAST((o_orderkey % 37) + 5 AS DOUBLE) AS h
        |  FROM orders
        |)
        |SELECT o_orderkey,
        |  CAST(1 + CASE WHEN c + h > 180 THEN 1 ELSE 0 END
        |         + CASE WHEN c - h < -180 THEN 1 ELSE 0 END AS INTEGER) AS n_parts,
        |  CASE WHEN c + h > 180 OR c - h < -180 THEN -180.0 ELSE c - h END AS min_lon,
        |  CASE WHEN c + h > 180 OR c - h < -180 THEN 180.0 ELSE c + h END AS max_lon,
        |  2 * h AS width_sum
        |FROM b ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      // The dateline rule (main_pipeline.py:211-214) oracle-checked end to
      // end: per-key boxes built from integer (center, half-width) overflow
      // ±180° and get folded by the REAL ST_SplitAntimeridian (JTS
      // intersection + translate + union); part count, folded envelope
      // bounds, and the width-preservation invariant (planar area / lat
      // span == 2h exactly — integer-valued doubles) all come back out of
      // the geometry, while DuckDB derives every one analytically. A wrong
      // split point, a lost part, or a fold that clips area breaks the hash.
      // Centers stay in [-180, 180) so boxes STRADDLE at most one dateline
      // (a box entirely beyond ±180 folds by pure translation — one part,
      // shifted bounds — which the straddle-only analytic model doesn't
      // cover; GeoSpec covers that case on the JTS side).
      val k = col("o_orderkey")
      val boxes = t(s, d, "orders").select(k,
          ((k % 360) - 180).cast("double").as("c"),
          ((k % 37) + 5).cast("double").as("h"))
        .withColumn("g", call_function("st_box",
          col("c") - col("h"), lit(-10.0), col("c") + col("h"), lit(10.0)))
        .withColumn("f", call_function("st_split_antimeridian", col("g")))
        .withColumn("b", call_function("st_bounds", col("f")))
      boxes.select(col("o_orderkey"),
          call_function("st_num_geoms", col("f")).as("n_parts"),
          element_at(col("b"), 1).as("min_lon"),
          element_at(col("b"), 3).as("max_lon"),
          (call_function("st_area_planar", col("f")) / 20.0).as("width_sum"))
        .orderBy("o_orderkey")
    },
    Gate("g14_zonal_bands",
      // g14/g15: the DuckDB twin recomputes the Web-Mercator tile x/y and the
      // quadkey digit fold analytically (bit ops generated per zoom level), so
      // the hash pins the quadkey codec itself, not just the aggregation.
      s"""WITH cells AS ($rasterCellsSql),
         |tiled AS (${tiledSql("cells")})
         |SELECT tile_id,
         |  CAST(SUM(CASE WHEN band BETWEEN 5 AND 14 THEN v END) AS BIGINT) AS school_age_population,
         |  CAST(SUM(CASE WHEN band BETWEEN 0 AND 1 THEN v END) AS BIGINT) AS infant_population,
         |  CAST(SUM(CASE WHEN band = 15 THEN v END) AS BIGINT) AS adolescent_population,
         |  CAST(SUM(v) AS BIGINT) AS population
         |FROM tiled GROUP BY tile_id ORDER BY tile_id""".stripMargin) { (s, d) =>
      // S12 map_wp_pop re-expressed Spark-first: every WorldPop age band in
      // ONE scan + ONE aggregation of conditional sums (the reference runs
      // four sequential raster passes). tile assignment = st_quadkey, so
      // centroid-within needs no geometry predicate. Integer cell values ->
      // exact long sums; a tile with no cells in a band stays NULL ("no
      // data"), never 0 — the NaN-vs-0 contract.
      RasterZonal.ageBandSums(rasterCells(s, d), "lon", "lat", "band", "v",
          ZonalZoom, Seq(
            ("school_age_population", 5, 14),
            ("infant_population", 0, 1),
            ("adolescent_population", 15, 15)))
        .orderBy(col("tile_id"))
    },
    Gate("g15_base_layer",
      s"""WITH cells AS ($rasterCellsSql),
         |tiled AS (${tiledSql("cells")}),
         |pop AS (
         |  SELECT tile_id,
         |    CAST(SUM(CASE WHEN band BETWEEN 5 AND 14 THEN v END) AS BIGINT) AS school_age_population,
         |    CAST(SUM(CASE WHEN band BETWEEN 0 AND 1 THEN v END) AS BIGINT) AS infant_population,
         |    CAST(SUM(CASE WHEN band = 15 THEN v END) AS BIGINT) AS adolescent_population,
         |    CAST(SUM(v) AS BIGINT) AS population,
         |    ROUND(SUM(bs), 2) AS built_surface_m2
         |  FROM tiled GROUP BY tile_id),
         |sm AS (
         |  SELECT tile_id, smod AS smod_class, COUNT(*) AS n
         |  FROM tiled GROUP BY 1, 2),
         |smod1 AS (
         |  SELECT tile_id, smod_class FROM (
         |    SELECT tile_id, smod_class,
         |      ROW_NUMBER() OVER (PARTITION BY tile_id
         |        ORDER BY n DESC, smod_class DESC) AS r
         |    FROM sm) WHERE r = 1),
         |pts AS ($facilityPointsSql),
         |ptile AS (${tiledSql("pts")}),
         |fac AS (
         |  SELECT tile_id, COUNT(*) AS num_schools, ROUND(AVG(rwi), 2) AS rwi
         |  FROM ptile GROUP BY tile_id)
         |SELECT p.tile_id, p.school_age_population, p.infant_population,
         |  p.adolescent_population, p.population, p.built_surface_m2,
         |  s1.smod_class,
         |  CASE WHEN s1.smod_class = 30 THEN 3
         |       WHEN s1.smod_class >= 21 THEN 2 ELSE 1 END AS smod_class_l1,
         |  COALESCE(fac.num_schools, 0) AS num_schools,
         |  fac.rwi AS rwi,
         |  CAST(NULL AS DOUBLE) AS num_wash
         |FROM pop p
         |JOIN smod1 s1 USING (tile_id)
         |LEFT JOIN fac USING (tile_id)
         |ORDER BY p.tile_id""".stripMargin) { (s, d) =>
      // S12 end to end: the base mercator tile layer assembled from zonal
      // band sums, a built-surface zonal sum, the modal SMOD class (+ the
      // always-derived L1 reclass), point counts (confirmed zeros), an RWI
      // point mean, and one deliberately-unavailable layer (num_wash) that
      // must land as NULL, not 0 (impact_analysis.py:922-945).
      val cells = rasterCells(s, d)
      val pop = RasterZonal.ageBandSums(cells, "lon", "lat", "band", "v",
        ZonalZoom, Seq(
          ("school_age_population", 5, 14),
          ("infant_population", 0, 1),
          ("adolescent_population", 15, 15)))
      val built = RasterZonal.zonalSum(cells, "lon", "lat", "bs", ZonalZoom,
        "built_surface_m2")
      val smod = RasterZonal.zonalModal(cells, "lon", "lat", "smod", ZonalZoom,
        "smod_class")
      val pts = facilityPoints(s, d)
      val schools = RasterZonal.pointCounts(pts, "lon", "lat", ZonalZoom,
        "num_schools")
      val rwi = RasterZonal.pointMean(pts, "lon", "lat", "rwi", ZonalZoom, "rwi")
      RasterZonal.buildBaseLayer(pop, Seq(
          "built_surface_m2" -> Some(built),
          "smod_class" -> Some(smod),
          "num_schools" -> Some(schools),
          "rwi" -> Some(rwi),
          "num_wash" -> None),
          fillZero = Set("num_schools"))
        .select(col("tile_id"), col("school_age_population"),
          col("infant_population"), col("adolescent_population"),
          col("population"), round(col("built_surface_m2"), 2).as("built_surface_m2"),
          col("smod_class"), col("smod_class_l1"), col("num_schools"),
          round(col("rwi"), 2).as("rwi"), col("num_wash"))
        .orderBy(col("tile_id"))
    },
    Gate("g12_track_segments",
      """WITH p AS (
        |  SELECT o_orderkey % 7 AS member, o_orderkey,
        |    (o_orderkey % 360) * 0.5 - 90 AS x,
        |    (o_orderkey % 160) * 0.25 - 20 AS y
        |  FROM orders),
        |seg AS (
        |  SELECT member, o_orderkey, x, y,
        |    lead(x) OVER (PARTITION BY member ORDER BY o_orderkey) AS nx,
        |    lead(y) OVER (PARTITION BY member ORDER BY o_orderkey) AS ny
        |  FROM p)
        |SELECT member, o_orderkey,
        |  CAST(x AS DOUBLE) AS x1, CAST(y AS DOUBLE) AS y1,
        |  CAST(nx AS DOUBLE) AS x2, CAST(ny AS DOUBLE) AS y2
        |FROM seg WHERE nx IS NOT NULL
        |ORDER BY member, o_orderkey""".stripMargin) { (s, d) =>
      // W4: consecutive track points -> line segments via the REAL
      // linesFromPoints operator (lead window + ST_MakeLine), oracle-checked
      // end to end: the emitted endpoints come back out through
      // ST_StartPoint/ST_EndPoint + ST_X/ST_Y — pure coordinate pass-through,
      // no arithmetic — so DuckDB reproduces them exactly with its own lead()
      // over the same dyadic point grid. A wrong pairing, ordering, or
      // endpoint order breaks the hash.
      val pts = t(s, d, "orders").select(
        (col("o_orderkey") % 7).as("member"),
        col("o_orderkey"),
        st_point((col("o_orderkey") % 360).cast("double") * lit(0.5) - lit(90.0),
          (col("o_orderkey") % 160).cast("double") * lit(0.25) - lit(20.0))
          .as("geometry"))
      graft.ops.GeoAggregates.linesFromPoints(pts, Seq("member"), "o_orderkey")
        .select(col("member"), col("o_orderkey"),
          st_x(st_start_point(col("geometry"))).as("x1"),
          st_y(st_start_point(col("geometry"))).as("y1"),
          st_x(st_end_point(col("geometry"))).as("x2"),
          st_y(st_end_point(col("geometry"))).as("y2"))
        .orderBy(col("member"), col("o_orderkey"))
    },
    Gate("g08_strategy_join",
      s"""WITH tiles AS ($geoTilesSql), envs AS ($geoEnvelopesSql)
         |SELECT t.tile_id, e.wind_threshold, COUNT(*) AS n_members
         |FROM tiles t JOIN envs e
         | ON t.minlon <= e.maxlon AND t.maxlon >= e.minlon
         | AND t.minlat <= e.maxlat AND t.maxlat >= e.minlat
         |GROUP BY t.tile_id, e.wind_threshold
         |ORDER BY t.tile_id, e.wind_threshold""".stripMargin) { (s, d) =>
      // the custom planner path: plain join(st_intersects) planned as
      // BroadcastSpatialJoinExec (graft.plans.SpatialJoinStrategy); result
      // hash-checked against the same interval-arithmetic oracle as g01.
      val tiles = geoTiles(s, d).select(col("tile_id"), col("geometry").as("tgeom"))
      val envs = geoEnvelopes(s, d).select(col("wind_threshold"), col("geometry").as("egeom"))
      tiles.join(envs, call_function("st_intersects", col("tgeom"), col("egeom")))
        .groupBy(col("tile_id"), col("wind_threshold"))
        .agg(count(lit(1)).as("n_members"))
        .orderBy(col("tile_id"), col("wind_threshold"))
    },
    Gate("g07_country_screen",
      // g07: the screen's decision geometry has >= 19 km of margin at every
      // SF (country west edges sit 222/445/481 km or >= 667 km from the
      // envelope union's east edge, never near the 500 km cut), so a planar
      // equator-scaled twin (111.195 km/deg; Spark's haversine differs by the
      // cos(lat) factor, < 0.003% here) reproduces the exact in-range name
      // set. The nearest envelope is always the max-maxlon one: every country
      // box lies east of the whole envelope field with overlapping latitudes.
      """WITH env AS (
        |  SELECT max(0.0625 + (s_suppkey % 17) * 0.046875
        |           + 0.0625 + (s_suppkey % 5) * 0.03125) AS maxlon
        |  FROM supplier
        |)
        |SELECT n_name FROM nation, env
        |WHERE (((n_nationkey % 5) * 2.0 + 3.0) - env.maxlon) * 111.195 <= 500.0
        |ORDER BY n_name""".stripMargin) { (s, d) =>
      // J7/J10: ST_Union_Agg over all envelopes + ST_DWithin country screen
      // (the cheap pre-filter job that prunes downstream work). Oracle: the
      // decision margins are wide enough (>= 19 km vs the 500 km cut) that a
      // planar equator-scaled DuckDB twin pins the exact name set — see the
      // oracleSql comment.
      val countries = t(s, d, "nation").select(
        col("n_name"),
        st_box(expr("n_nationkey % 5") * lit(2.0) + lit(3.0), lit(0.0),
          expr("n_nationkey % 5") * lit(2.0) + lit(4.0), lit(1.0)).as("geometry"))
      graft.ops.GeoAggregates.countriesInRange(
          countries, "geometry", geoEnvelopes(s, d), "geometry", meters = 5.0e5)
        .select("n_name").orderBy("n_name")
    },
    // flagship tile-impact slice, HASH-CHECKED: relational tiles/envelopes
    // (the dyadic interval grid of g01) pushed through the REAL pipeline
    // path — broadcast prepared-geometry member counting, keepZeroRows,
    // expected-value projection — while the DuckDB oracle recomputes the
    // same answer with pure interval arithmetic. No rounding needed:
    // probability = n/51.0 and E_population = population * probability are
    // single IEEE ops, bit-identical across engines. (The quadkey/Mercator
    // SyntheticScenario variant of this pipeline stays exercised by the
    // flagship entry() and ImpactPipelineSpec.)
    Gate("g05_impact_pipeline",
      // tileView twin: member counts by interval overlap, re-joined onto the
      // full tile x distinct-threshold grid (keepZeroRows), expected value =
      // population * (n/51.0) with the same two IEEE ops as the Spark side
      s"""WITH tiles AS ($geoTilesSql), envs AS ($geoEnvelopesSql),
         |th AS (SELECT DISTINCT wind_threshold FROM envs),
         |counts AS (
         | SELECT t.tile_id, e.wind_threshold, COUNT(*) AS n
         | FROM tiles t JOIN envs e
         |  ON t.minlon <= e.maxlon AND t.maxlon >= e.minlon
         |  AND t.minlat <= e.maxlat AND t.maxlat >= e.minlat
         | GROUP BY 1, 2)
         |SELECT t.tile_id AS zone_id, th.wind_threshold,
         | COALESCE(c.n, 0) AS n_members,
         | CAST(COALESCE(c.n, 0) AS DOUBLE) / 51.0 AS probability,
         | t.population * (CAST(COALESCE(c.n, 0) AS DOUBLE) / 51.0) AS E_population
         |FROM tiles t CROSS JOIN th
         |LEFT JOIN counts c
         |  ON c.tile_id = t.tile_id AND c.wind_threshold = th.wind_threshold
         |ORDER BY zone_id, th.wind_threshold""".stripMargin) { (s, d) =>
      ImpactPipeline.tileView(geoTiles(s, d), geoEnvelopes(s, d))
        .select(col("zone_id"), col("wind_threshold"),
          col("n_members").cast("long").as("n_members"),
          col("probability"), col("E_population"))
        .orderBy(col("zone_id"), col("wind_threshold"))
    }
  )
}
