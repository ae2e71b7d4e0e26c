package graft

import graft.geo.GeoFunctions._
import graft.llm.{Decontamination, Dedup, Pii, Sampling, Similarity, TextAnalysis}
import graft.ops.{Aggregations, BloomJoin, Deltas, RangeJoin, RasterZonal, Sessionize, Sketches, SpatialJoin, Tracks}
import graft.pipeline.{Constants, ImpactPipeline, SyntheticScenario}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Driver contract: the operator inventory of SURVEY.md §2 expressed as
 * oracle-checked queries over the driver's TPC-H-ish test tables
 * (/root/testdata), plus the LLM-data-pipeline operators and the geo
 * pipeline operators.
 *
 * Determinism rules (the driver hash-compares against DuckDB):
 *  - every oracle query ends in a total ORDER BY;
 *  - double outputs are either exactly-representable (integer-valued sums,
 *    scaled-integer CCI) or rounded AFTER all inputs were already rounded,
 *    so summation-order ULP noise cannot flip a rounding;
 *  - geo queries derive synthetic tiles/envelopes from the relational tables
 *    with arithmetic both engines evaluate bit-identically, so even the
 *    spatial joins are hash-checked (axis-aligned geometry ≡ interval
 *    arithmetic).
 */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    // the ST_* wrappers resolve against the session registry (idempotent)
    graft.geo.GeoFunctions.ensureRegistered(spark)
    if (name == "events") {
      // events.parquet has shipped two physical ts encodings across driver
      // generations: TIMESTAMP(NANOS), which Spark reads only as a long
      // (legacy conf) and we truncate to micros exactly like DuckDB's
      // nanos→micros read, and TIMESTAMP(MICROS) without UTC adjustment,
      // which arrives as TIMESTAMP_NTZ and only needs the session-UTC cast.
      // Adapt on the observed schema so both vintages read identically
      // (the legacy conf is part of the engine profile, graft.EngineSession).
      val raw = spark.read.parquet(s"$dir/$name.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          raw.withColumn("ts", col("ts").cast("timestamp"))
        case _ => raw
      }
    } else spark.read.parquet(s"$dir/$name.parquet")
  }

  // ---------------------------------------------------------------------
  // synthetic geo layers derived from relational tables (bit-identical in
  // DuckDB — see the g* oracle SQL)
  // ---------------------------------------------------------------------

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

  /** 40×40 grid of 0.03125° tiles keyed by c_custkey; population = floor(acctbal). */
  private def geoTiles(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer").select(
      col("c_custkey").cast("string").as("tile_id"),
      (expr("c_custkey % 40") * lit(0.03125)).as("minlon"),
      (expr("(c_custkey div 40) % 40") * lit(0.03125)).as("minlat"),
      (expr("c_custkey % 40") * lit(0.03125) + lit(0.03125)).as("maxlon"),
      (expr("(c_custkey div 40) % 40") * lit(0.03125) + lit(0.03125)).as("maxlat"),
      floor(col("c_acctbal")).cast("double").as("population"))
      .withColumn("geometry", st_box(col("minlon"), col("minlat"), col("maxlon"), col("maxlat")))

  private val geoTilesSql =
    """SELECT CAST(c_custkey AS VARCHAR) AS tile_id,
      |  (c_custkey % 40) * 0.03125 AS minlon,
      |  ((c_custkey // 40) % 40) * 0.03125 AS minlat,
      |  (c_custkey % 40) * 0.03125 + 0.03125 AS maxlon,
      |  ((c_custkey // 40) % 40) * 0.03125 + 0.03125 AS maxlat,
      |  FLOOR(c_acctbal) AS population
      |FROM customer""".stripMargin

  /** Envelope boxes keyed by s_suppkey; 4 wind thresholds. */
  private def geoEnvelopes(spark: SparkSession, dir: String): DataFrame = {
    val minlon = lit(0.0625) + expr("s_suppkey % 17") * lit(0.046875)
    val minlat = lit(0.03125) + expr("s_suppkey % 13") * lit(0.0625)
    t(spark, dir, "supplier").select(
      col("s_suppkey").cast("int").as("ensemble_member"),
      expr("CASE CAST(s_suppkey % 4 AS INT) WHEN 0 THEN 34 WHEN 1 THEN 50 WHEN 2 THEN 64 ELSE 83 END")
        .cast("int").as("wind_threshold"),
      minlon.as("minlon"), minlat.as("minlat"),
      (minlon + lit(0.0625) + expr("s_suppkey % 5") * lit(0.03125)).as("maxlon"),
      (minlat + lit(0.046875) + expr("s_suppkey % 7") * lit(0.03125)).as("maxlat"))
      .withColumn("geometry", st_box(col("minlon"), col("minlat"), col("maxlon"), col("maxlat")))
  }

  private val geoEnvelopesSql =
    """SELECT CASE s_suppkey % 4 WHEN 0 THEN 34 WHEN 1 THEN 50 WHEN 2 THEN 64 ELSE 83 END AS wind_threshold,
      |  0.0625 + (s_suppkey % 17) * 0.046875 AS minlon,
      |  0.03125 + (s_suppkey % 13) * 0.0625 AS minlat,
      |  0.0625 + (s_suppkey % 17) * 0.046875 + 0.0625 + (s_suppkey % 5) * 0.03125 AS maxlon,
      |  0.03125 + (s_suppkey % 13) * 0.0625 + 0.046875 + (s_suppkey % 7) * 0.03125 AS maxlat
      |FROM supplier""".stripMargin

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

  /** Engine-portable MinHash-LSH pairs (md5 over word 2-grams, min = hex
    * string order) on the doc_id%2=0 subset — shared by d19 (pair output)
    * and d20 (cluster formation over the same pairs). */
  private def minhashSqlPairs(s: SparkSession, d: String): DataFrame = {
    val toks = col("__toks")
    val grams = array_distinct(zip_with(
      slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
      (a, b) => concat_ws(" ", a, b)))
    val sigs = (0 until 8).map { k =>
      array_min(transform(col("__grams"), g => md5(concat(lit(s"$k|"), g))))
    }
    // STAGED columns (r13 optimization): the original formulation inlined
    // tokens(text) into both the size filter and the four slice/size
    // references of the gram build, so the split+lower+trim pass ran ~5x
    // per doc; materializing __toks once per row computes it once. Same
    // values, same filter semantics — the oracle SQL is untouched.
    // Spread.ifNarrow parallelizes the interpreted md5 transform passes
    // (the dominant per-row cost) across cores when the input is a single
    // unsplittable file; a no-op at scale.
    val banded = graft.util.Spread.ifNarrow(
        t(s, d, "documents").filter(expr("doc_id % 2 = 0"))
          .select(col("doc_id"), col("text")))
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__toks"))
      .filter(size(toks) > 1) // algorithm-proof
      // variant on a keyed subset (d08-style); d04 is the full fast path
      .select(col("doc_id"), grams.as("__grams"))
      .select(col("doc_id"), posexplode(array(sigs: _*)).as(Seq("k", "sig")))
    val a = banded.select(col("k"), col("sig"), col("doc_id").as("id_a"))
    val b = banded.select(col("k"), col("sig"), col("doc_id").as("id_b"))
    a.join(b, Seq("k", "sig")).filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_matching"))
      .filter(col("n_matching") >= 4) // est Jaccard >= 0.5 of 8 functions
  }

  // =====================================================================
  // Flagship: full storm impact slice on the synthetic country
  // =====================================================================

  def entry(spark: SparkSession): DataFrame = {
    graft.geo.GeoFunctions.ensureRegistered(spark)
    val tiles = SyntheticScenario.tiles(spark, nx = 24, ny = 24)
    val envs = SyntheticScenario.envelopes(spark, members = 51)
    ImpactPipeline.tileView(tiles, envs)
  }

  // ---------------------------------------------------------------------
  // streaming fixtures: ONE definition of the events stream (schema, nanos
  // conversion, state-sized session) shared by every s* query
  // ---------------------------------------------------------------------

  /** Stream-read schema for events.parquet, adapted to the file's actual ts
    * encoding (see `t`'s note on the two driver vintages): readStream needs
    * the schema up front, so probe it with a batch read of the same file. */
  private def eventsStreamSchema(ss: SparkSession, d: String)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val tsType = ss.read.parquet(s"$d/events.parquet").schema("ts").dataType
    StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
  }

  /** events.parquet as a micro-timestamped file stream on `ss`. */
  private def eventsStream(ss: SparkSession, d: String): DataFrame = {
    val schema = eventsStreamSchema(ss, d)
    val raw = graft.streaming.Streaming.availableNowFileStream(
      ss, d, schema, glob = Some("events.parquet"))
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** orders.parquet as a file stream on `ss` (s08 changelog, s09 audit). */
  private def ordersStream(ss: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))
    graft.streaming.Streaming.availableNowFileStream(
      ss, d, schema, glob = Some("orders.parquet"))
  }

  // =====================================================================
  // queries + oracleSql
  // =====================================================================

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- scans / filters / projections (S1-S7, F1-F9) ------------------
    "q01_pricing_summary" -> ((s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
    "q02_filter_project" -> ((s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_quantity") >= 48 && col("l_discount") > lit(0.07))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          round(col("l_extendedprice"), 2).as("price"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),
    "q03_isin_filter" -> ((s, d) => {
      t(s, d, "orders")
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    }),
    "q04_date_filter" -> ((s, d) => {
      t(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01") && col("o_orderdate") < lit("1997-01-01"))
        .groupBy((year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).as("ym"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("ym"))
    }),
    // --- joins (J9/J11/J12/J13, semi/anti) -----------------------------
    "q05_dim_join" -> ((s, d) => {
      t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"), round(sum(col("c_acctbal")), 2).as("total_acctbal"))
        .orderBy(col("r_name"), col("n_name"))
    }),
    "q06_left_join_fill" -> ((s, d) => {
      val custCounts = t(s, d, "customer").groupBy(col("c_nationkey")).agg(count(lit(1)).as("cnt"))
      t(s, d, "nation")
        .join(custCounts, col("n_nationkey") === col("c_nationkey"), "left")
        .select(col("n_name"), coalesce(col("cnt"), lit(0L)).as("n_customers"))
        .orderBy(col("n_name"))
    }),
    "q07_anti_join" -> ((s, d) => {
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_no_order"))
        .orderBy(col("c_nationkey"))
    }),
    "q08_semi_join" -> ((s, d) => {
      t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
        .orderBy(col("c_mktsegment"))
    }),
    "q27_join_agg_topk" -> ((s, d) => {
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("revenue"))
    }),
    // --- aggregations (A1-A8) ------------------------------------------
    "q14_count_distinct" -> ((s, d) => {
      t(s, d, "orders").groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).as("n_custs"), count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderstatus"))
    }),
    "q15_max_scan" -> ((s, d) => {
      t(s, d, "orders").agg(
        max(to_date(col("o_orderdate"))).as("max_orderdate"),
        min(to_date(col("o_orderdate"))).as("min_orderdate"),
        count(lit(1)).as("n"))
    }),
    "q16_distinct" -> ((s, d) => {
      t(s, d, "orders").select(col("o_orderpriority")).distinct()
        .orderBy(col("o_orderpriority"))
    }),
    "q17_optional_sum" -> ((s, d) => {
      // NaN-preserving sum semantics (A3): groups where every value is null
      // must yield null, not 0 (impact_analysis.py:152-159)
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(when(col("l_quantity") < 2, col("l_extendedprice"))), 2).as("opt_sum"),
          count(when(col("l_quantity") < 2, lit(1))).as("n_present"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
    "q18_impact_rollup" -> ((s, d) => {
      // multi-way GROUPING SETS over the impact view (reports.py:643-677
      // per-threshold totals): ONE Expand+shuffle pass yields the
      // per-threshold expected-population totals, the per-threshold
      // admin breakdown, AND the grand total. ceil(sum(E_pop)) stays in
      // exact integer arithmetic: E = pop * n_members / 51, so
      // ceil = (sum(pop*n) + 50) div 51 — bit-identical in any engine.
      val probs = SpatialJoin.probabilityByThreshold(
          geoTiles(s, d), "geometry", geoEnvelopes(s, d), "geometry")
        .withColumn("admin_id",
          concat_ws("_", expr("CAST(tile_id AS BIGINT) % 40 div 8"),
            expr("CAST(tile_id AS BIGINT) div 40 % 40 div 8")))
      probs.createOrReplaceTempView("__q18_probs")
      s.sql("""
        SELECT CAST(GROUPING(wind_threshold) AS INT) AS g_wind,
               CAST(GROUPING(admin_id) AS INT) AS g_admin,
               wind_threshold, admin_id,
               CAST((SUM(CAST(population AS BIGINT) * n_members) + 50) div 51 AS BIGINT)
                 AS expected_pop_ceil,
               COUNT(*) AS n_rows
        FROM __q18_probs
        GROUP BY GROUPING SETS ((wind_threshold), (wind_threshold, admin_id), ())
        ORDER BY g_wind, g_admin, wind_threshold, admin_id""")
    }),
    "q19_bucket_agg" -> ((s, d) => {
      // vulnerability-bucket analogue (A8): band by acctbal, bucket sums
      val band = when(col("c_acctbal") < 0, "severe")
        .when(col("c_acctbal") < 5000, "mid").otherwise("high")
      t(s, d, "customer")
        .groupBy(col("c_mktsegment"), band.as("band"))
        .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("total"))
        .orderBy(col("c_mktsegment"), col("band"))
    }),
    // --- windows / sorts / top-k (W1-W5) -------------------------------
    "q09_topk" -> ((s, d) => {
      t(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(5)
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
    }),
    "q10_first_per_key" -> ((s, d) => {
      Deltas.firstPerKey(
          t(s, d, "lineitem"), Seq("l_orderkey"),
          Seq(col("l_shipdate").asc, col("l_linenumber").asc))
        .select(col("l_orderkey"), col("l_linenumber"), to_date(col("l_shipdate")).as("first_ship"))
        .orderBy(col("l_orderkey"))
    }),
    "q11_argmax" -> ((s, d) => {
      Deltas.firstPerKey(
          t(s, d, "lineitem"), Seq("l_partkey"),
          Seq(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc))
        .select(col("l_partkey"), col("l_orderkey"), round(col("l_extendedprice"), 2).as("max_price"))
        .orderBy(col("l_partkey"))
    }),
    "q12_lag_delta" -> ((s, d) => {
      // as-of predecessor (J15 analogue): per-user event deltas
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .select(col("user_id"), col("event_id"),
          round(col("value") - coalesce(col("prev_value"), lit(0.0)), 2).as("delta"))
        .orderBy(col("user_id"), col("event_id"))
    }),
    "q13_lead_band" -> ((s, d) => {
      // W5 CCI-band analogue on events: value - next value per user, weighted
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .withColumn("band", round(col("value") - lead(col("value"), 1, 0.0).over(w), 2))
        .groupBy(col("user_id"))
        .agg(round(sum(col("band")), 2).as("band_sum"), count(lit(1)).as("n"))
        .orderBy(col("user_id"))
    }),
    "q20_pct_change" -> ((s, d) => {
      // monthly totals + month-over-month percent change (reports.py:384-390
      // direction semantics: null when no previous)
      val monthly = t(s, d, "events")
        .groupBy(col("event_type"), (year(col("ts")) * 100 + month(col("ts"))).as("ym"))
        .agg(round(sum(col("value")), 2).as("total"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("ym"))
      monthly.withColumn("prev_total", lag(col("total"), 1).over(w))
        .withColumn("pct_change",
          round(Deltas.percentChange(col("total"), col("prev_total")), 4))
        .select(col("event_type"), col("ym"), col("total"), col("pct_change"))
        .orderBy(col("event_type"), col("ym"))
    }),
    // --- set ops / distinct / dedup (D1-D4, J14) -----------------------
    "q24_union_distinct" -> ((s, d) => {
      t(s, d, "orders").select(col("o_custkey").as("k"))
        .union(t(s, d, "customer").select(col("c_custkey").as("k")))
        .distinct().agg(count(lit(1)).as("n_keys"))
    }),
    "q23_signature_dedup" -> ((s, d) => {
      // row-signature dedup (J14, geosight/admin_related_table.py:62-68)
      t(s, d, "events")
        .withColumn("sig", md5(concat_ws("|", col("user_id"), col("event_type"), col("value"))))
        .agg(countDistinct(col("sig")).as("n_distinct_sigs"), count(lit(1)).as("n_rows"))
    }),
    // --- scalar functions (§2.7) ---------------------------------------
    "q21_report_sequence" -> ((s, d) => {
      // J15 end-to-end over a 3+-step forecast sequence: per-storm 6h
      // report steps; each report as-of joins (Deltas.asofJoin, the J15
      // operator) to the latest report available at or before T-6h —
      // the previous step on the quantized series — and derives the
      // reports.py:360-391 change semantics (first report: change =
      // expected, direction 'increased'; change 0 counts 'decreased').
      // The DuckDB oracle replays it with LAG, which is equivalent on a
      // per-storm step-ordered series.
      val stepUs = 21600000000L // 6h
      val ev = t(s, d, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select((col("user_id") % 5).as("storm_id"),
          expr(s"unix_micros(ts) div ${stepUs}L").as("step"),
          floor(col("value") * 100).cast("long").as("iv"))
      val steps = ev.groupBy("storm_id", "step")
        .agg(sum(col("iv")).as("total"), count(lit(1)).as("n_events"))
      // a step's report becomes visible to successors from (step+1)*6h on:
      // asof(left t = step*6h) then picks the latest strictly-earlier step
      val prev = steps.select(col("storm_id"),
        ((col("step") + 1) * stepUs).as("avail_us"),
        col("total").as("p_total"), col("step").as("p_step"))
      Deltas.asofJoin(
          steps.withColumn("t_us", col("step") * stepUs), prev,
          Seq("storm_id"), leftTime = "t_us", rightTime = "avail_us",
          payload = Seq("p_total", "p_step"), tieBreak = Some("p_step"))
        .withColumn("change", when(col("asof_p_total").isNull, col("total"))
          .otherwise(col("total") - col("asof_p_total")))
        .withColumn("direction",
          when(col("asof_p_total").isNull || col("change") > 0, lit("increased"))
            .otherwise(lit("decreased")))
        .select(col("storm_id"), col("step"), col("total"), col("n_events"),
          col("asof_p_total").as("prev_total"), col("asof_p_step").as("prev_step"),
          col("change"), col("direction"))
        .orderBy(col("storm_id"), col("step"))
    }),
    "q22_regexp_extract" -> ((s, d) => {
      t(s, d, "part")
        .withColumn("last_word", regexp_extract(col("p_type"), "([A-Z]+)$", 1))
        .groupBy(col("last_word")).agg(count(lit(1)).as("n"))
        .orderBy(col("last_word"))
    }),
    "q25_map_reclass" -> ((s, d) => {
      // SMOD L2→L1 style map lookup via CASE chain
      val l1 = when(col("p_size") <= 13, 1).when(col("p_size") <= 23, 2).otherwise(3)
      t(s, d, "part").groupBy(l1.as("size_class")).agg(count(lit(1)).as("n"))
        .orderBy(col("size_class"))
    }),
    "q26_date_arith" -> ((s, d) => {
      // compact-format conversion + −6 h shift (snowflake_utils.py:59-72)
      t(s, d, "events")
        .withColumn("shifted", col("ts") - expr("INTERVAL 6 HOURS"))
        .groupBy(date_format(col("shifted"), "yyyyMMddHH").substr(1, 8).as("compact_day"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("compact_day"))
    }),
    "q28_json_extract" -> ((s, d) => {
      t(s, d, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type")).agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    }),
    // --- geo pipeline operators (J1/J3/A1/A10/A2/W5) — hash-checked ----
    "g01_tile_probability" -> ((s, d) => {
      SpatialJoin.probabilityByThreshold(
          geoTiles(s, d), "geometry", geoEnvelopes(s, d), "geometry")
        .select(col("tile_id"), col("wind_threshold"),
          col("n_members").cast("long").as("n_members"),
          round(col("probability"), 6).as("probability"))
        .orderBy(col("tile_id"), col("wind_threshold"))
    }),
    "g02_cci" -> ((s, d) => {
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
    }),
    "g03_points_in_zone" -> ((s, d) => {
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
    }),
    "g04_admin_rollup" -> ((s, d) => {
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
    }),
    // --- LLM data ops: dedup / text / similarity -----------------------
    "d01_exact_dedup" -> ((s, d) => {
      Dedup.exact(t(s, d, "documents"), "doc_id", Seq(md5(col("text")).as("h")))
        .select(col("keep_id"), col("group_size"))
        .orderBy(col("keep_id"))
    }),
    "d02_text_quality" -> ((s, d) => {
      // ratios left unrounded on purpose: int/int double division is
      // bit-identical across engines, so the oracle hash-matches exactly
      TextAnalysis.qualityMetrics(t(s, d, "documents"))
        .select(col("doc_id"), col("n_chars_computed"), col("n_tokens"),
          col("punct_ratio"), col("stopword_ratio"))
        .orderBy(col("doc_id"))
    }),
    "d03_token_stats" -> ((s, d) => {
      TextAnalysis.qualityMetrics(t(s, d, "documents"))
        .groupBy(col("lang"))
        .agg(sum(col("n_tokens")).as("total_tokens"),
          sum(col("n_chars_computed")).as("total_chars"),
          count(lit(1)).as("n_docs"))
        .orderBy(col("lang"))
    }),
    // d04/d05: the custom-hash production paths (xxhash shingle minhash,
    // native simhash64) have no portable pair-for-pair SQL twin, so the
    // gate pins a RECALL property instead (the v03 pattern): every
    // strongest-signal pair from the hash-green portable twin (d19/d21)
    // must be found by the custom path. The oracle recomputes n_strong
    // EXACTLY in DuckDB; the 90%-floor clamp makes the healthy output
    // deterministic (constant-by-formula while recall holds, the raw
    // count when tripped — diagnosable from the dumped row).
    "d04_minhash_lsh" -> ((s, d) => {
      // strong = d19-pipeline pairs with 8/8 portable minima agreeing
      // (portable est jaccard 1.0, near-identical docs). Custom banding
      // math: at true j >= 0.8 a pair misses all 16 bands with
      // p = (1 - j^4)^16 < 1e-4 — the 90% floor is noise headroom.
      val strong = minhashSqlPairs(s, d).filter(col("n_matching") === 8)
        .select(col("id_a"), col("id_b"))
      val custom = Dedup.minhashLsh(t(s, d, "documents"), "doc_id",
          minEstJaccard = 0.3)
        .select(col("id_a"), col("id_b")).distinct()
      strong.join(custom.withColumn("__hit", lit(1L)), Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_strong"),
          coalesce(sum(col("__hit")), lit(0L)).as("n_found"))
        .select(col("n_strong"),
          least(col("n_found"), expr("(n_strong * 9) div 10")).as("n_found_floored"),
          (col("n_found") >= expr("(n_strong * 9) div 10")).as("recall_ok"))
    }),
    "d05_simhash" -> ((s, d) => {
      // strong = d21's portable pairs at hamming <= 1 (near-identical
      // token multisets). The custom path at maxHamming=8 splits 64 bits
      // into 9 chunks, so any pair within 8 custom-hamming bits has a
      // clean chunk by pigeonhole — candidate generation is deterministic;
      // the only probabilistic link is portable-close => custom-close.
      val strong = Dedup.simhashPairsPortable(t(s, d, "documents"), "doc_id",
          maxHamming = 3)
        .filter(col("hamming") <= 1).select(col("id_a"), col("id_b"))
      val custom = Dedup.simhashPairs(t(s, d, "documents"), "doc_id",
          maxHamming = 8)
        .select(col("id_a"), col("id_b")).distinct()
      strong.join(custom.withColumn("__hit", lit(1L)), Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_strong"),
          coalesce(sum(col("__hit")), lit(0L)).as("n_found"))
        .select(col("n_strong"),
          least(col("n_found"), expr("(n_strong * 9) div 10")).as("n_found_floored"),
          (col("n_found") >= expr("(n_strong * 9) div 10")).as("recall_ok"))
    }),
    "d06_langid" -> ((s, d) => {
      TextAnalysis.withLangId(t(s, d, "documents"))
        .groupBy(col("lang"), col("lang_pred")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("lang_pred"))
    }),
    "d08_embedding_neardup" -> ((s, d) => {
      // embedding-cosine near-dup, exact baseline on a keyed subset (the
      // exact path is O(n²) by construction — its own docs say bound the
      // input; the LSH-bucketed scale path is Dedup.cosineNearDupPairs,
      // DedupSpec). Ids only: the 0.3125 threshold is dyadic and the
      // cosines are sequential double folds, so the pair set is
      // bit-identical to the DuckDB oracle.
      Dedup.cosineNearDupExact(
          t(s, d, "embeddings").filter(expr("vec_id % 4 = 0")),
          "vec_id", "embedding", 0.3125)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    "d07_fingerprint" -> ((s, d) => {
      // engine-portable rolling-hash fingerprint (code-point folds mod
      // 2^31-1) — hash-checked against the DuckDB twin of the same fold;
      // TextAnalysis.fingerprint (xxhash64 chaining) is the in-Spark fast
      // path with the identical normalize→token-hash→rolling-fold shape
      t(s, d, "documents").select(col("doc_id"),
          TextAnalysis.fingerprintPortable(col("text")).as("fingerprint"))
        .orderBy(col("doc_id"))
    }),
    "v01_ann_bruteforce" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "v15_knn_graph" -> ((s, d) => {
      // NN-DESCENT k-NN GRAPH (llm/NnDescent, Dong et al. WWW'11): the
      // whole corpus's 5-NN graph over a PLANTED clustered fixture (20
      // clusters of dyadic-rational vectors built from part keys — every
      // coordinate, dot, and norm² is exact in both engines, the v-gate
      // float contract). On clustered data the parameters (multi-seed
      // LSH init + per-round seed rotation, 5 refinement rounds) give
      // EXACT convergence, so the hash pins recall = 1.0 against the
      // brute-force oracle while the operator never goes all-pairs
      // (degree-capped neighbor-of-neighbor pairs + capped LSH buckets).
      // NnDescentSpec separately pins the recall floor on unclustered
      // data, where exactness is not the contract.
      import s.implicits._
      val build = udf { (id: Long) =>
        Array.tabulate(16) { j =>
          ((((id % 20) * 37 + j * 13) % 16) +
            (((id * 31 + j * 17) % 4) * 0.0625)).toFloat
        }
      }
      val vecs = t(s, d, "part").filter(col("p_partkey") <= 400)
        .select(col("p_partkey").cast("long").as("vec_id"))
        .withColumn("embedding", build(col("vec_id")))
      graft.llm.NnDescent.knnGraph(vecs, k = 5, iterations = 5)
        .select(col("vec_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("vec_id"), col("rank"))
    }),
    "v07_hard_negatives" -> ((s, d) => {
      // HARD-NEGATIVE MINING for contrastive training: each query's top-3
      // most-similar vectors whose label DIFFERS (the near-but-wrong
      // examples a dual encoder trains against). Same exact cosine fold
      // as v01 — only ids and integer ranks survive to the hash.
      val emb = t(s, d, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 3,
          excludeSameCol = Some("label"))
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "v08_mmr_rerank" -> ((s, d) => {
      // MMR diversified re-rank (Similarity.mmrRerank): greedy
      // λ·relevance − (1−λ)·max-sim-to-picked over each query's top-8
      // candidate pool, k = 3 picks. The oracle unrolls the 3 greedy
      // steps in SQL over the identical fold-order cosines (λ = 0.5 is
      // dyadic, every score op IEEE exactly-rounded), so a divergent
      // pick order anywhere breaks the hash — only ids and pick ranks
      // are emitted.
      val emb = t(s, d, "embeddings")
      val cands = Similarity.bruteForceTopK(
        emb, emb.filter(col("vec_id") < 10), k = 8)
      Similarity.mmrRerank(cands, emb, k = 3, lambda = 0.5)
        .orderBy("query_id", "pick")
    }),
    "v10_range_search" -> ((s, d) => {
      // RANGE (radius) search (Similarity.rangeSearch): ALL neighbours
      // with cosine >= tau rather than a fixed k — the answer-set size
      // varies per query. Same full-recall LSH parameterization as v02,
      // so the hash gate against the EXACT brute-force SQL oracle pins
      // recall = 1.0 AND the boundary behavior: tau = 0.25 is dyadic and
      // both engines fold the cosine in the same left-to-right double
      // order, so every >= decision is bit-identical at the threshold.
      val emb = t(s, d, "embeddings")
      Similarity.rangeSearch(emb, emb.filter(col("vec_id") < 10),
          tau = 0.25, dim = 64, bits = 5, tables = 12, multiprobe = true)
        .select(col("query_id"), col("neighbor_id"))
        .orderBy(col("query_id"), col("neighbor_id"))
    }),
    "v13_ann_filtered" -> ((s, d) => {
      // FILTERED vector search (the vector-DB feature every RAG stack
      // leans on): exact cosine top-k restricted to candidates passing a
      // metadata predicate (label % 3 = 0) — PRE-filtering, the shape
      // that stays correct when the predicate is selective (post-filter
      // truncates below k). The label filter is a plain pushed-down
      // parquet predicate BEFORE any vector work (PlanSpec-guarded), so
      // at 100 TB the scan prunes to the candidate stripe first. Ranks
      // only (the d25 engine-local-float rule, as v01).
      val emb = t(s, d, "embeddings")
      Similarity.bruteForceTopK(
          emb.filter(col("label") % 3 === 0),
          emb.filter(col("vec_id") < 10), k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "v14_bq_rerank" -> ((s, d) => {
      // TWO-STAGE retrieval (Quantization.bqRerankTopK): BQ Hamming
      // shortlist (64 candidates — the only full-corpus pass, over the
      // 32×-compressed signatures) → exact cosine rerank → top-5. The
      // oracle replays BOTH stages in SQL (v12's signature packing +
      // v01's cosine fold restricted to the shortlist), so a shortlist
      // boundary tie, rerank fold, or stage-composition bug breaks the
      // hash. The shortlist is LOSSY by design (sign bits discard
      // magnitude): the gate pins the two-stage contract itself — the
      // exact-rerank order over whatever stage 1 admits — not recall
      // against brute force; v04/v05 carry the recall-style gates.
      val emb = t(s, d, "embeddings")
      graft.llm.Quantization.bqRerankTopK(emb, emb.filter(col("vec_id") < 10),
          dim = 64, shortlist = 64, k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),
    "v12_ann_bq" -> ((s, d) => {
      // BINARY quantization (Quantization.bqSignature/bqTopK): sign-bit
      // signatures packed 32 bits/word, Hamming top-k by xor+popcount —
      // the 32x-compression extreme of the quantization family (SQ8 4x,
      // PQ ~32x with codebooks, BQ pure bit ops). EVERYTHING is integer,
      // so unlike the recall-gated lossy paths (v04/v05) this
      // hash-checks exact ranks; the oracle replays the packing
      // word-for-word and popcounts in SQL. rank ties break on
      // neighbor_id; the query side broadcasts so the candidate pass is
      // one narrow signature scan.
      val emb = t(s, d, "embeddings")
      graft.llm.Quantization.bqTopK(emb, emb.filter(col("vec_id") < 10),
          dim = 64, k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),
    "v11_ann_sq8" -> ((s, d) => {
      // SQ8 scalar quantization (Quantization.sq8Train/Encode/TopK):
      // per-dim [min,max] from ONE aggregate pass, 8-bit codes (4× under
      // float32 — the memory-bound ANN lever when PQ's locality loss is
      // unacceptable), asymmetric L2 against dequantized values. Unlike
      // the lossy-PQ recall gates (v04/v05) this one hash-checks EXACT
      // ranks end to end: min/max of floats involve no rounding, and
      // encode floor decisions, dequant, and the distance fold are one
      // pinned IEEE op tree the oracle replays dimension by dimension.
      // dist is engine-local (the d25 rule) — ids/ranks only.
      val emb = t(s, d, "embeddings")
      val model = graft.llm.Quantization.sq8Train(emb, dim = 64)
      val enc = graft.llm.Quantization.sq8Encode(emb, model)
      graft.llm.Quantization.sq8TopK(enc, emb.filter(col("vec_id") < 10),
          model, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "v09_stream_vector_ingest" -> ((s, d) => {
      // STREAMING VECTOR INGEST (Streaming.vectorIngestStream): the
      // embeddings corpus arrives in 3 microbatches, each assigning
      // cells against the STATIC coarse quantizer (broadcast centroids,
      // narrow) and appending to the cell-partitioned index; probing
      // the converged read-back must hit v03's recall constants against
      // the exact top-k (same centroids/parameterization — a dropped or
      // duplicated batch shifts recall or the completeness flag and
      // flips the pinned booleans). index_complete pins |index| = |corpus|.
      import org.apache.spark.sql.types._
      val ss = graft.streaming.Streaming.statefulSession(s)
      val emb = t(ss, d, "embeddings").localCheckpoint()
      val centroids = Similarity.ivfIndex(emb, dim = 64, k = 16)
      val root = graft.util.TempDirs.scratch("v09")
      (0 until 3).foreach { b =>
        graft.streaming.Streaming.writeOrderedMicrobatch(
          emb.filter(col("vec_id") % 3 === b), s"$root/in", b)
      }
      val schema = StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("label", IntegerType)))
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
      graft.streaming.Streaming.vectorIngestStream(
          stream, s"$root/index", s"$root/ckpt", centroids)
        .awaitTermination()
      val assigned = ss.read.parquet(s"$root/index")
        .select(col("vec_id"), col("embedding"), col("cell"))
      val qs = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(emb, qs, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      Similarity.ivfTopKAssigned(assigned, qs, centroids, k = 5, nprobe = 8)
        .select(col("query_id"), col("neighbor_id"))
        .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(countDistinct(col("query_id")).as("n_queries_found"),
          least(count(lit(1)), lit(35L)).as("n_matches_floored"),
          (count(lit(1)) >= 35).as("recall_ok"))
        .crossJoin(assigned.agg(
          (count(lit(1)) === emb.count()).as("index_complete")))
    }),
    "v02_ann_lsh" -> ((s, d) => {
      // LSH parameters sized to the corpus (500-2k vectors -> 2^5 buckets)
      // with Hamming-1 multiprobe: measured recall is 1.0 at every SF, so
      // the result is oracle-checked against the EXACT SQL top-k — the hash
      // gate pins recall = 1.0 (a starved parameterization fails the gate).
      val emb = t(s, d, "embeddings")
      Similarity.lshBucketedTopK(emb, emb.filter(col("vec_id") < 10), k = 5,
          dim = 64, bits = 5, tables = 12, multiprobe = true)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "v03_ann_ivf" -> ((s, d) => {
      // IVF is approximate (nprobe=8 of 16 cells), so the gate pins a
      // RECALL property against the in-Spark exact top-k (the q37
      // TRUE-property pattern: the oracle emits the expected booleans; a
      // candidate-starved parameterization flips them and fails the hash).
      // Oracle independence note: the exact side (bruteForceTopK) is the
      // same code path that v01 hash-verifies against a DuckDB-computed
      // exact top-k, so a common-mode cosine/ranking bug would fail v01
      // first — this gate's oracle constants lean on that.
      // Measured recall@5 on these near-random embeddings: 0.78-0.88 at
      // every SF with every query finding >=2 of its true top-5 — the gate
      // pins total recall >= 0.7 and all 10 queries found, leaving margin
      // for k-means seed/fold sensitivity. n_matches_floored clamps the raw
      // match count at the floor: constant (=35) while healthy, the actual
      // count when the gate trips — so a failed hash check is diagnosable
      // from the dumped row alone.
      val emb = t(s, d, "embeddings")
      val qs = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(emb, qs, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      Similarity.ivfTopK(emb, qs, k = 5, dim = 64, nCells = 16, nprobe = 8)
        .select(col("query_id"), col("neighbor_id"))
        .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(countDistinct(col("query_id")).as("n_queries_found"),
          least(count(lit(1)), lit(35L)).as("n_matches_floored"),
          (count(lit(1)) >= 35).as("recall_ok"))
    }),
    "g06_landfall" -> ((s, d) => {
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
    }),
    "g09_wind_radii" -> ((s, d) => {
      // S3 extended track scan: per-point quadrant radii -> completeness
      // flags + max radial extent (pure codegen'd arithmetic, SQL oracle)
      Tracks.radiiSummary(windRadiiPoints(t(s, d, "orders")))
        .select(col("o_orderkey"), col("complete_34kt"), col("complete_50kt"),
          col("complete_64kt"), col("max_radius_km"))
        .orderBy(col("o_orderkey"))
    }),
    "g10_wind_field" -> ((s, d) => {
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
    }),
    "g11_admin_overlay" -> ((s, d) => {
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
    }),
    "g13_antimeridian" -> ((s, d) => {
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
    }),
    "g14_zonal_bands" -> ((s, d) => {
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
    }),
    "g15_base_layer" -> ((s, d) => {
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
    }),
    "g12_track_segments" -> ((s, d) => {
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
    }),
    "s32_stream_warc" -> ((s, d) => {
      // STREAMING crawl ingest: WARC archives arrive as a binary-column
      // stream in two ordered microbatches; the record explode
      // (Warc.warcIngest) is per-archive stateless, so the converged
      // output equals batch ingest — shares d70's oracle. This is the
      // continuous-crawl shape: archives land, records flow, no state.
      import org.apache.spark.sql.types._
      val ss = graft.streaming.Streaming.statefulSession(s)
      val build = udf((id: Long) => graft.io.Warc.syntheticWarcGz(id))
      val archives = t(ss, d, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey").cast("long").as("archive_id"))
        .withColumn("payload", build(col("archive_id")))
      val root = graft.util.TempDirs.scratch("s32")
      graft.streaming.Streaming.writeOrderedMicrobatch(
        archives.filter(col("archive_id") % 2 === 0), s"$root/in", 0)
      graft.streaming.Streaming.writeOrderedMicrobatch(
        archives.filter(col("archive_id") % 2 === 1), s"$root/in", 1)
      val schema = StructType(Seq(
        StructField("archive_id", LongType),
        StructField("payload", BinaryType)))
      val stream = graft.streaming.Streaming.availableNowFileStream(
        ss, s"$root/in", schema)
      val recs = graft.io.Warc.warcIngest(stream)
      graft.streaming.Streaming.runAvailableNow(
          recs, s"s32_warc_${System.nanoTime()}", outputMode = "append")
        .orderBy("archive_id", "record_idx")
    }),
    "s31_stream_blocklist" -> ((s, d) => {
      // STREAMING SERVING of the d67 automaton: the blocklist screen is
      // per-doc stateless, so the corpus streams through the SAME native
      // expression in append mode with no state store (the automaton
      // rides each microbatch's generated-code reference array).
      // Converges to batch screening exactly — shares d67's oracle.
      import org.apache.spark.sql.types._
      val ss = graft.streaming.Streaming.statefulSession(s)
      graft.geo.GeoFunctions.ensureRegistered(ss)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val stream = graft.streaming.Streaming.availableNowFileStream(
        ss, d, schema, glob = Some("documents.parquet"))
      val idx = graft.llm.TextAnalysis.blocklistFirstHit(col("text"), blocklistPats)
      val patArr = array(blocklistPats.map(lit): _*)
      val screened = stream.select(col("doc_id"),
        when(idx >= 0, element_at(patArr, idx + 1))
          .otherwise(lit("clean")).as("first_hit"),
        coalesce(graft.llm.TextAnalysis
          .blocklistHitCount(col("text"), blocklistPats).cast("long"),
          lit(0L)).as("n_hits"))
      graft.streaming.Streaming.runAvailableNow(
          screened, s"s31_blk_${System.nanoTime()}", outputMode = "append")
        .orderBy("doc_id")
    }),
    "s30_stream_late_drop" -> ((s, d) => {
      // WATERMARK LATE-DATA DROP, gated deterministically: the one
      // streaming semantic the convergence gates (s01/s25/…) can't see,
      // because a stream that drops nothing also converges. Two runs over
      // one persistent checkpoint (the watermark reloads from the offset
      // log — a read-limit split of a single run is NOT contractual):
      // run 1 sees the pre-cut events minus a planted "late" set
      // (event_id % 97 == 0); run 2 sees the rest PLUS those late rows,
      // resuming with watermark = max(run-1 ts) − 1 h, so re-injected
      // rows from already-finalized day windows are DROPPED and the rest
      // survive; append mode emits only windows finalized by the final
      // watermark. Every boundary is microsecond event-time arithmetic,
      // so the oracle replays watermark progression, the drop rule, and
      // the emission rule in closed SQL — an off-by-one in ANY of them
      // breaks the hash.
      import org.apache.spark.sql.types._
      val ss = graft.streaming.Streaming.statefulSession(s)
      val ev = t(ss, d, "events")
        .select(col("event_id"), col("ts"), col("event_type"))
      val cut = col("ts") < expr("timestamp'2024-01-16 00:00:00'")
      val isLate = col("event_id") % 97 === 0
      val root = graft.util.TempDirs.scratch("s30")
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("ts", TimestampType),
        StructField("event_type", StringType)))
      def runOnce(): Unit = {
        val stream = ss.readStream.schema(schema).parquet(s"$root/in")
        val agg = stream.withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 day"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(to_date(col("window.start")).as("day"), col("event_type"),
            col("n"))
        graft.streaming.Streaming.runAvailableNowToParquet(
          agg, s"$root/out", s"$root/ckpt")
      }
      graft.streaming.Streaming.writeOrderedMicrobatch(
        ev.filter(cut && !isLate), s"$root/in", 0)
      runOnce()
      graft.streaming.Streaming.writeOrderedMicrobatch(
        ev.filter(!cut || isLate), s"$root/in", 1)
      runOnce()
      ss.read.parquet(s"$root/out").orderBy("day", "event_type")
    }),
    "s01_stream_window" -> ((s, d) => {
      // §2.8: watermarked tumbling-window streaming agg, driven to completion
      // with Trigger.AvailableNow — must converge to the batch answer (the
      // DuckDB oracle computes the batch equivalent)
      val agg = graft.streaming.Streaming.windowedEventCounts(
        eventsStream(graft.streaming.Streaming.statefulSession(s), d))
      graft.streaming.Streaming.runAvailableNow(agg, s"s01_win_${System.nanoTime()}")
        .select(to_date(col("window_start")).as("day"), col("event_type"), col("n"),
          round(col("total"), 2).as("total"))
        .orderBy("day", "event_type")
    }),
    "s25_stream_ohlc" -> ((s, d) => {
      // STREAMING OHLC resample: q89's bars as a watermarked
      // tumbling-window agg. min_by/max_by picks merge incrementally
      // (one (ts, value) champion per partial), so state is one O(1)
      // tuple per open bar — bounded by bars, not ticks — and the
      // watermark finalizes them. Shares q89's oracle: the stream must
      // converge to the batch bars bit-for-bit.
      val stream = eventsStream(graft.streaming.Streaming.statefulSession(s), d)
      val bars = graft.streaming.Streaming.ohlcBarsStream(
        stream, Seq("event_type"))
      graft.streaming.Streaming.runAvailableNow(
          bars, s"s25_ohlc_${System.nanoTime()}")
        .select(col("event_type"), col("bar_ts"), col("open"), col("high"),
          col("low"), col("close"), col("volume"))
        .orderBy("event_type", "bar_ts")
    }),
    "s02_stream_dedup" -> ((s, d) => {
      // §2.8 exactly-once dedup as a stream: first-seen (user_id, event_type)
      // pairs against checkpointed state — must converge to batch DISTINCT
      val stream = eventsStream(graft.streaming.Streaming.statefulSession(s), d)
      val deduped = graft.streaming.Streaming.dedupedStream(
        stream, Seq("user_id", "event_type"))
      graft.streaming.Streaming.runAvailableNow(
          deduped, s"s02_dedup_${System.nanoTime()}", outputMode = "append")
        .orderBy("user_id", "event_type")
    }),
    "s20_stream_dedup_bounded" -> ((s, d) => {
      // BOUNDED-STATE streaming dedup (dropDuplicatesWithinWatermark):
      // s02's semantics with state the watermark can evict. The 90-day
      // horizon exceeds the corpus's 30-day span, so nothing expires
      // during the run and the converged output equals batch DISTINCT —
      // s20 shares s02's oracle; the re-emission-after-expiry semantics
      // is StreamingSpec's three-drop case.
      val stream = eventsStream(graft.streaming.Streaming.statefulSession(s), d)
      val deduped = graft.streaming.Streaming.dedupedStreamBounded(
        stream, Seq("user_id", "event_type"), "ts", "90 days")
      graft.streaming.Streaming.runAvailableNow(
          deduped, s"s20_dedup_${System.nanoTime()}", outputMode = "append")
        .orderBy("user_id", "event_type")
    }),
    "m02_frame_sample" -> ((s, d) => {
      // multimodal: video rows exploded into sampled frame timestamps
      val media = graft.llm.Multimodal.syntheticMedia(t(s, d, "part"), "p_partkey")
      graft.llm.Multimodal.sampleFrames(media, everyMs = 500L)
        .groupBy(col("media_id")).agg(count(lit(1)).as("n_frames"))
        .orderBy("media_id")
    }),
    "m03_resize" -> ((s, d) => {
      // multimodal RESIZE with real pixels: PPM rows downsample to fit
      // maxDim=4 via integer nearest-neighbour (src = (x'·w)/w' integer
      // division), re-encode as P6, and imageStats re-decodes the RESIZED
      // payload — the oracle replays the exact pixel mapping analytically
      // from the synthetic formula, so a resample bug (coordinate math,
      // raster offset, header) breaks the hash.
      val media = graft.llm.Multimodal.syntheticMedia(
        t(s, d, "part").filter(col("p_partkey") <= 200), "p_partkey")
      graft.llm.Multimodal.imageStats(
          graft.llm.Multimodal.resizeImages(media, maxDim = 4))
        .orderBy("media_id")
    }),
    "m22_image_dhash" -> ((s, d) => {
      // perceptual dHash over real decoded pixels (Multimodal.imageDHash)
      // — the image near-dup fingerprint: 9×8 nearest-neighbour grid,
      // gray = r+g+b, bit = left>right gradient, 64 bits split into two
      // unsigned halves. The oracle replays every bit from the synthetic
      // pixel formula through the same grid mapping — a resample-index,
      // channel-order, or bit-packing bug breaks the hash.
      val media = graft.llm.Multimodal.syntheticMedia(
        t(s, d, "part").filter(col("p_partkey") <= 200), "p_partkey")
        .filter(col("meta.media_type") === "image")
      graft.llm.Multimodal.imageDHash(media).orderBy("media_id")
    }),
    "m21_audio_features" -> ((s, d) => {
      // audio FEATURE extraction over real decoded PCM (Multimodal
      // .audioFeatures): per-channel zero-crossing count + mean absolute
      // amplitude — the cheap VAD/energy screens an audio-curation pass
      // runs corpus-wide. Exact integer ZCR/abs-sum on decoded samples;
      // the oracle replays both from the synthetic sample formula with a
      // lag window, so a channel-interleave, sign, or frame-walk bug
      // breaks the hash.
      val media = graft.llm.Multimodal.syntheticMedia(
        t(s, d, "part").filter(col("p_partkey") <= 200), "p_partkey")
        .filter(col("meta.media_type") === "audio")
      graft.llm.Multimodal.audioFeatures(media)
        .orderBy("media_id", "channel")
    }),
    "m04_audio_stats" -> ((s, d) => {
      // multimodal AUDIO decode with real samples: WAV rows parse the
      // RIFF chunk walk and PCM16LE frames in pure JVM
      // (Multimodal.decodeWav) and audioStats folds exact integer
      // channel sums — the oracle replays every sum from the synthetic
      // formula, so a header-walk, alignment, or endianness bug breaks
      // the hash.
      val media = graft.llm.Multimodal.syntheticMedia(
        t(s, d, "part").filter(col("p_partkey") <= 200), "p_partkey")
      graft.llm.Multimodal.audioStats(media).orderBy("media_id")
    }),
    "m05_video_stats" -> ((s, d) => {
      // multimodal VIDEO decode with real frames: y4m rows parse the
      // YUV4MPEG2 header and raw C420 planes in pure JVM
      // (Multimodal.decodeY4m) and videoStats folds exact per-plane byte
      // sums + the MEASURED duration from frames/fps — the oracle
      // replays every sum from the synthetic formula, so a header-parse,
      // plane-size, or frame-walk bug breaks the hash.
      val media = graft.llm.Multimodal.syntheticMedia(
        t(s, d, "part").filter(col("p_partkey") <= 200), "p_partkey")
      graft.llm.Multimodal.videoStats(media).orderBy("media_id")
    }),
    "m06_frame_sample_decoded" -> ((s, d) => {
      // frame sampling over REAL decoded frames (the decoded-pixel
      // complement of m02's metadata-driven variant): every 2nd frame of
      // each y4m clip with its exact luma byte sum — the oracle replays
      // sums at exactly the sampled indexes, so a frame-stride or
      // plane-offset bug breaks the hash.
      val media = graft.llm.Multimodal.syntheticMedia(
        t(s, d, "part").filter(col("p_partkey") <= 200), "p_partkey")
      graft.llm.Multimodal.sampleDecodedFrames(media, every = 2)
        .orderBy("media_id", "frame_idx")
    }),
    "m07_png_decode" -> ((s, d) => {
      // REAL PNG decode (Multimodal.decodePng): payloads are genuine PNG
      // files — zlib-deflated IDAT, CRC-checked chunks, every scanline
      // filter type (syntheticPng filters row y with type y%5, even ids
      // RGB / odd ids RGBA) — and the oracle replays the DECODED channel
      // sums from the closed-form pixel formula, so an inflate, filter-
      // reversal, CRC or alpha-handling bug breaks the hash. This is the
      // crawl-shaped image path: PPM (m01) never arrives over the wire.
      import s.implicits._
      val png = udf((id: Long) => graft.llm.Multimodal.syntheticPng(id))
      val media = t(s, d, "part").filter(col("p_partkey") <= 300)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", png(col("media_id")))
      graft.llm.Multimodal.imageStats(media).orderBy("media_id")
    }),
    "m08_png_resize" -> ((s, d) => {
      // PNG decode → nearest-neighbour resize → re-encode → decode,
      // end-to-end (decodePng + resizeImages + imageStats): the oracle
      // replays the RESIZED channel sums by composing the closed-form
      // pixel formula with the integer resample mapping sx = (x'·w)/w2,
      // sy = (y'·h)/h2 — so the whole codec chain (inflate, filter
      // reversal, resample arithmetic, P6 re-encode) must agree with
      // exact integer arithmetic in a second engine.
      import s.implicits._
      val png = udf((id: Long) => graft.llm.Multimodal.syntheticPng(id))
      val media = t(s, d, "part").filter(col("p_partkey") <= 300)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", png(col("media_id")))
        .withColumn("meta", struct(
          lit("image").as("media_type"), lit("png").as("format"),
          (col("media_id") % 9 + 8).cast("int").as("width"),
          (col("media_id") % 6 + 5).cast("int").as("height"),
          lit(null).cast("long").as("duration_ms")))
      graft.llm.Multimodal.imageStats(
          graft.llm.Multimodal.resizeImages(media, maxDim = 6))
        .orderBy("media_id")
    }),
    "m09_gif_decode" -> ((s, d) => {
      // REAL GIF decode (Multimodal.decodeGif): payloads are genuine
      // GIF89a files — 256-entry palette, variable-width LZW with live
      // dictionary growth and the 512-entry code-width escalation on the
      // larger ids, LSB-first bit packing, sub-block chains — and the
      // oracle composes the pixel-index formula with the palette formula
      // in closed form, so an LZW width/dictionary bug, palette misread
      // or sub-block walk error breaks the hash.
      import s.implicits._
      val gif = udf((id: Long) => graft.llm.Multimodal.syntheticGif(id))
      val media = t(s, d, "part").filter(col("p_partkey") <= 300)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", gif(col("media_id")))
      graft.llm.Multimodal.imageStats(media).orderBy("media_id")
    }),
    "m11_jpeg_decode" -> ((s, d) => {
      // REAL baseline JPEG decode (Multimodal.decodeJpeg): payloads are
      // genuine entropy-coded JPEG streams — canonical huffman tables,
      // differential DC, byte stuffing, dequant, exact IDCT, and CCIR-601
      // YCbCr→RGB on the odd (color) ids. Blocks are planted DC-only
      // constants, so the decoded channel sums are closed-form: the
      // oracle composes the block formula with the SAME color-conversion
      // expression (portable: one fixed IEEE op tree + positive-ties
      // ROUND). A huffman, EXTEND, dequant, IDCT-scale, or conversion
      // bug anywhere breaks the hash.
      import s.implicits._
      val jpg = udf((id: Long) => graft.llm.Multimodal.syntheticJpeg(id))
      val media = t(s, d, "part").filter(col("p_partkey") <= 300)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", jpg(col("media_id")))
      graft.llm.Multimodal.imageStats(media).orderBy("media_id")
    }),
    "m17_flac_decode" -> ((s, d) => {
      // COMPRESSED audio decode (Flac.decodeFlac): payloads are genuine
      // FLAC streams — STREAMINFO walk, CRC-8/16-verified frames, Rice
      // residuals (4- AND 5-bit params, partition order 1, the raw-bits
      // escape code), fixed + LPC predictors, verbatim subframes, and
      // mid/side stereo decorrelation — and the oracle replays the
      // DECODED PCM sums from the planted formula, so a bit-reader,
      // predictor, zigzag, partition, or decorrelation bug anywhere in
      // the codec breaks the hash. This is the crawl-shaped audio path:
      // raw PCM WAV (m04) rarely arrives over the wire.
      import s.implicits._
      val media = graft.llm.Flac.syntheticFlacTable(
        t(s, d, "part").filter(col("p_partkey") <= 300), "p_partkey")
      graft.llm.Multimodal.audioStats(media).orderBy("media_id")
    }),
    "m18_audio_matrix" -> ((s, d) => {
      // the FULL audio-format matrix through ONE decode dispatch (the
      // audio complement of m16): ids route by modulo to PCM16 WAV /
      // G.711 A-law WAV / FLAC / AIFF, and Multimodal.decodeAudio must
      // route every payload to the right codec by magic bytes — a
      // misrouting or an over-eager decoder anywhere in the chain breaks
      // this hash even while every single-format gate stays green.
      import s.implicits._
      val build = udf((id: Long) => ((id % 4).toInt: @unchecked) match {
        case 0 => graft.llm.Multimodal.syntheticWav(id)
        case 1 => graft.llm.Multimodal.syntheticWavExt(id) // codec = id%3
        case 2 => graft.llm.Flac.syntheticFlac(id)
        case 3 => graft.llm.Multimodal.syntheticAiff(id)
      })
      val media = t(s, d, "part").filter(col("p_partkey") <= 300)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", build(col("media_id")))
      graft.llm.Multimodal.audioStats(media).orderBy("media_id")
    }),
    "m23_keyframes" -> ((s, d) => {
      // KEYFRAME-per-shot selection (Multimodal.videoKeyframes) — the
      // curation step after m20's cut detection: one representative
      // frame (the shot's first) per detected scene with its exact luma
      // sum, composed in one decode pass. On the scene-segmented
      // fixture every boundary SAD trips the threshold, so scenes and
      // keyframe indexes are closed-form (k·seg) and the oracle replays
      // each keyframe's luma sum from the pixel formula.
      import s.implicits._
      val build = udf((id: Long) => graft.llm.Multimodal.syntheticY4mScenes(id))
      val media = t(s, d, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", build(col("media_id")))
      graft.llm.Multimodal.videoKeyframes(media)
        .orderBy("media_id", "scene")
    }),
    "m25_mp3_walk" -> ((s, d) => {
      // MP3 FRAME-HEADER walk (llm/Mp3): payloads are real MPEG-1
      // Layer III frame chains behind genuine ID3v2 tags (syncsafe
      // size skip) with ID3v1 trailers the walk must stop at — the
      // metadata pass crawl-audio filters actually run (rates, channel
      // layout, frame/sample counts, transport bytes) with NO audio
      // DSP. The oracle replays every field, including the padding-
      // dependent per-frame length arithmetic (144·br/sr + pad) and
      // the constant-fill payload sums, from the closed form — a sync,
      // bitrate-table, syncsafe-size, or frame-step bug breaks the hash.
      import s.implicits._
      val build = udf((id: Long) => graft.llm.Mp3.syntheticMp3(id))
      val media = t(s, d, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", build(col("media_id")))
      graft.llm.Mp3.mp3Stats(media).orderBy("media_id")
    }),
    "m31_video_fingerprint" -> ((s, d) => {
      // VIDEO near-dup FINGERPRINT (Multimodal.videoFingerprints): real
      // scene-segmented Y4M clips decode, shots detect by luma SAD, and
      // each keyframe's LUMA plane hashes on the fixed 9×8 dHash grid —
      // one (scene, dhash_hi, dhash_lo) row per shot, the video face of
      // the image-dHash/audio-fingerprint family. Every bit is exact
      // integer math over the planted scene formula, so the oracle
      // replays the full hash sequence — a cut-detection, grid-resample,
      // or bit-order bug breaks the hash.
      import s.implicits._
      val build = udf((id: Long) => graft.llm.Multimodal.syntheticY4mScenes(id))
      val media = t(s, d, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", build(col("media_id")))
      graft.llm.Multimodal.videoFingerprints(media)
        .orderBy("media_id", "scene")
    }),
    "m30_audio_fingerprint" -> ((s, d) => {
      // AUDIO near-dup FINGERPRINT (Multimodal.audioFingerprint): real
      // WAV payloads decode, channels mix per frame (integer sum), 33
      // contiguous windows take Σ mix² energies, and the 32
      // adjacent-delta sign bits pack into one long — the audio face of
      // the image-dHash/text-simhash family. Every step is exact
      // integer math, so the oracle replays the PACKED BITS themselves
      // (window assignment, energy sums, the lead-comparison, the
      // shift-or fold) — a mixing, windowing, or bit-order bug breaks
      // the hash.
      import s.implicits._
      val build = udf((id: Long) => graft.llm.Multimodal.syntheticWav(id))
      val media = t(s, d, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", build(col("media_id")))
      graft.llm.Multimodal.audioFingerprints(media).orderBy("media_id")
    }),
    "m29_tiff_decode" -> ((s, d) => {
      // REAL TIFF decode (llm/Tiff, TIFF 6.0): payloads are genuine TIFF
      // files covering four paths by id%4 — uncompressed RGB (II),
      // PackBits grayscale (MM), LZW + horizontal predictor (II),
      // 16-bit-ColorMap palette (MM) — routed through the decodeImage
      // magic dispatch. The oracle replays the DECODED channel sums per
      // variant, so an IFD, byte-order, strip, compression, predictor,
      // or palette bug breaks the hash.
      import s.implicits._
      val build = udf((id: Long) => graft.llm.Tiff.syntheticTiff(id))
      val media = t(s, d, "part").filter(col("p_partkey") <= 300)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", build(col("media_id")))
      graft.llm.Multimodal.imageStats(media).orderBy("media_id")
    }),
    "m28_webp_decode" -> ((s, d) => {
      // REAL lossless-WebP (VP8L) decode (llm/Webp, RFC 9649): payloads
      // are genuine VP8L bitstreams covering six encoding paths by
      // id%6 — plain+color-cache, subtract-green, 4-color palette with
      // 2-bit pixel bundling, LZ77 row backrefs (2D distance map),
      // predictor transform, color transform — routed through the
      // decodeImage magic-byte dispatch. The oracle replays the DECODED
      // channel sums per variant from the closed forms, so a prefix-code,
      // cache-hash, bundling, backref, or transform-inverse bug breaks
      // the hash.
      import s.implicits._
      val build = udf((id: Long) => graft.llm.Webp.syntheticWebp(id))
      val media = t(s, d, "part").filter(col("p_partkey") <= 300)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", build(col("media_id")))
      graft.llm.Multimodal.imageStats(media).orderBy("media_id")
    }),
    "m27_binaryfile_ingest" -> ((s, d) => {
      // REAL-FILE media ingest through Spark's `binaryFile` source — the
      // plumbing every other m-gate's build-UDF stands in for: 60
      // genuine .mp4 FILES written to disk (distributed foreachPartition,
      // one file per media id), read back as (path, content) by the
      // binaryFile data source with a pathGlobFilter, ids recovered from
      // file names, then the same container walk + MJPEG decode as m24.
      // Shares m24's closed-form oracle (bound 60) — a file-write, glob,
      // path-parse, or content-read bug breaks the hash.
      // LOCAL-MODE ASSUMPTION (shared with s37/s38): executors write the
      // fixture files via foreachPartition and the driver-planned scan
      // reads them back — valid only when driver and executors share a
      // filesystem. On a real cluster, stage fixtures through a
      // distributed writer (e.g. per-row binary output to shared storage).
      // The dir is registered for deletion at JVM exit (util/TempDirs).
      val root = graft.util.TempDirs.scratch("m27media")
      t(s, d, "part").filter(col("p_partkey") <= 60)
        .select(col("p_partkey").cast("long").as("media_id"))
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          it.foreach { r =>
            val id = r.getLong(0)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(root, s"media_$id.mp4"),
              graft.llm.Mp4.syntheticMp4(id))
          }
        }
      val media = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.mp4").load(root)
        .select(regexp_extract(col("path"), "media_(\\d+)\\.mp4$", 1)
          .cast("long").as("media_id"),
          col("content").as("payload"))
      graft.llm.Mp4.mp4VideoStats(media).orderBy("media_id")
    }),
    "m26_mp4_audio_co64" -> ((s, d) => {
      // the OTHER half of the container story: an MP4 AUDIO trak
      // (hdlr 'soun', PCM16BE 'twos' sample entries) whose chunk
      // offsets are written through co64 — the 64-bit table real >4 GB
      // crawl video carries, so the walk's co64 branch is load-bearing,
      // not decorative (stco is absent from these files). The oracle
      // replays codec/timescale/duration and the exact PCM value sum
      // from the planted closed form.
      import s.implicits._
      val build = udf((id: Long) => graft.llm.Mp4.syntheticMp4Audio(id))
      val media = t(s, d, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", build(col("media_id")))
      graft.llm.Mp4.mp4AudioStats(media).orderBy("media_id")
    }),
    "m24_mp4_walk" -> ((s, d) => {
      // ISO-BMFF (MP4) container walk (llm/Mp4): payloads are REAL
      // ftyp+moov+mdat files with full sample tables — stts durations,
      // two-chunk stsc/stco layout, stsz sizes — and MJPEG samples that
      // decode through the existing JPEG path. The oracle replays the
      // brand/codec/timescale/duration fields AND every decoded channel
      // sum from the planted per-sample JPEG closed form (img key =
      // media_id·101 + k), so a box-walk, chunk-offset, stts, or
      // sample-extraction bug breaks the hash. This is the "real crawl
      // video" container story without an H.264 dependency (VERDICT r11
      // ask #5); full H.264 decode stays out of scope by design.
      import s.implicits._
      val build = udf((id: Long) => graft.llm.Mp4.syntheticMp4(id))
      val media = t(s, d, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", build(col("media_id")))
      graft.llm.Mp4.mp4VideoStats(media).orderBy("media_id")
    }),
    "m20_shot_cuts" -> ((s, d) => {
      // SHOT-CUT detection (Multimodal.videoShotCuts) over decoded
      // scene-segmented y4m: frames are identical within a planted scene
      // and jump at boundaries, so the luma-SAD series is 0 inside
      // scenes and large exactly at cuts. The oracle replays every SAD
      // from the closed-form pixel formula — a frame-walk, plane-offset,
      // or off-by-one in the pair indexing breaks the hash, and a
      // threshold bug flips is_cut booleans.
      import s.implicits._
      val build = udf((id: Long) => graft.llm.Multimodal.syntheticY4mScenes(id))
      val media = t(s, d, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", build(col("media_id")))
      graft.llm.Multimodal.videoShotCuts(media)
        .orderBy("media_id", "frame_idx")
    }),
    "m19_aiff_decode" -> ((s, d) => {
      // AIFF decode (Multimodal.decodeAiff): payloads are genuine AIFF
      // files — big-endian IFF chunk walk, COMM's 80-bit EXTENDED-float
      // sample rate (16 kHz, so the exotic parse is load-bearing), SSND
      // offset header, PCM16BE frames — and the oracle replays the
      // DECODED channel sums from the closed-form formula (distinct from
      // the WAV/FLAC one), so an endianness, chunk-walk, extended-float,
      // or offset bug breaks the hash.
      import s.implicits._
      val build = udf((id: Long) => graft.llm.Multimodal.syntheticAiff(id))
      val media = t(s, d, "part").filter(col("p_partkey") <= 300)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", build(col("media_id")))
      graft.llm.Multimodal.audioStats(media).orderBy("media_id")
    }),
    "m16_media_matrix" -> ((s, d) => {
      // the FULL image-format matrix through ONE decode dispatch: ids
      // route by modulo to PPM / PNG / palette-PNG / BMP / GIF /
      // baseline JPEG / 4:2:0 JPEG / progressive JPEG, and
      // Multimodal.decodeImage must route every payload to the right
      // codec by magic bytes — a misrouting or over-eager decoder
      // anywhere in the chain breaks this hash even while every
      // single-format gate stays green.
      import s.implicits._
      val build = udf((id: Long) => ((id % 8).toInt: @unchecked) match {
        case 0 => graft.llm.Multimodal.syntheticPpm(id)
        case 1 => graft.llm.Multimodal.syntheticPng(id)
        case 2 => graft.llm.Multimodal.syntheticPngPalette(id)
        case 3 => graft.llm.Multimodal.syntheticBmp(id)
        case 4 => graft.llm.Multimodal.syntheticGif(id)
        case 5 => graft.llm.Multimodal.syntheticJpeg(id)
        case 6 => graft.llm.Multimodal.syntheticJpeg420(id)
        case 7 => graft.llm.Multimodal.syntheticJpegProgressive(id)
      })
      val media = t(s, d, "part").filter(col("p_partkey") <= 400)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", build(col("media_id")))
      graft.llm.Multimodal.imageStats(media).orderBy("media_id")
    }),
    "m15_jpeg_progressive" -> ((s, d) => {
      // PROGRESSIVE JPEG (SOF2) decode: real multi-scan streams — DC
      // successive approximation (first pass at Al=1 + a refinement scan
      // carrying the dropped low bit), per-component AC band scans with
      // genuine EOB-run coding, interleaved (color) AND non-interleaved
      // (grayscale) DC orders, coefficients accumulated across scans and
      // finalized at EOI. Same planted raster as m11, so the oracle is
      // shared — a scan-sequencing, approximation-shift, EOB-run, or
      // finalize bug breaks the hash.
      import s.implicits._
      val jpg = udf((id: Long) => graft.llm.Multimodal.syntheticJpegProgressive(id))
      val media = t(s, d, "part").filter(col("p_partkey") <= 300)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", jpg(col("media_id")))
      graft.llm.Multimodal.imageStats(media).orderBy("media_id")
    }),
    "m12_jpeg_420" -> ((s, d) => {
      // 4:2:0-SUBSAMPLED baseline JPEG decode — the form real photos
      // take: Y at 2×2 sampling factors (four blocks per MCU in the
      // T.81 interleave order), chroma at 1×1, box-upsampled back to
      // full resolution. Blocks are planted DC-only constants (Y per
      // Y-block, chroma per MCU), so the oracle composes both sampling
      // grids through the CCIR-601 conversion in closed form — an MCU
      // block-order, upsampler-geometry, or DC-prediction bug breaks
      // the hash.
      import s.implicits._
      val jpg = udf((id: Long) => graft.llm.Multimodal.syntheticJpeg420(id))
      val media = t(s, d, "part").filter(col("p_partkey") <= 300)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", jpg(col("media_id")))
      graft.llm.Multimodal.imageStats(media).orderBy("media_id")
    }),
    "m14_wav_codecs" -> ((s, d) => {
      // non-PCM16 WAV decode (Multimodal.decodeWav): G.711 µ-law and
      // A-law telephony bytes expand through the real ITU tables, IEEE
      // float32 scales to PCM16 with dyadic planted values (decode
      // recovers the integer exactly) — all three re-expressed by the
      // oracle in closed integer form, so an expansion, sign, or scale
      // bug in any branch breaks the hash.
      import s.implicits._
      val wav = udf((id: Long) => graft.llm.Multimodal.syntheticWavExt(id))
      val media = t(s, d, "part").filter(col("p_partkey") <= 300)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", wav(col("media_id")))
      graft.llm.Multimodal.audioStats(media).orderBy("media_id")
    }),
    "m13_png_palette" -> ((s, d) => {
      // PALETTE PNG decode (color type 3 — the indexed form web graphics
      // ship): real PLTE chunk, 1-byte-per-pixel scanlines through all
      // five filter reversals, palette lookup to RGB. The oracle
      // composes the pixel-index formula with the palette formula in
      // closed form, so a PLTE misread, filter-over-indices bug, or
      // lookup error breaks the hash.
      import s.implicits._
      val png = udf((id: Long) => graft.llm.Multimodal.syntheticPngPalette(id))
      val media = t(s, d, "part").filter(col("p_partkey") <= 300)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", png(col("media_id")))
      graft.llm.Multimodal.imageStats(media).orderBy("media_id")
    }),
    "m10_bmp_decode" -> ((s, d) => {
      // REAL BMP decode (Multimodal.decodeBmp): payloads are genuine
      // 24-bit BITMAPINFOHEADER files — BGR byte order, 4-byte row
      // padding, and BOTH raster directions (even ids bottom-up, odd ids
      // top-down via negative biHeight) — and the oracle recomputes the
      // decoded pixels' exact channel sums in closed form, so a flipped
      // raster, BGR/RGB swap, stride, or data-offset bug breaks the hash.
      import s.implicits._
      val bmp = udf((id: Long) => graft.llm.Multimodal.syntheticBmp(id))
      val media = t(s, d, "part").filter(col("p_partkey") <= 300)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", bmp(col("media_id")))
      graft.llm.Multimodal.imageStats(media).orderBy("media_id")
    }),
    "m01_media_features" -> ((s, d) => {
      // multimodal decode + feature extraction: image rows are REAL P6
      // PPM payloads decoded by the pure-JVM decoder — the oracle
      // recomputes the decoded pixels' exact per-channel sums from the
      // synthetic formula, so a decode regression (header parse, raster
      // offset, channel order) breaks the hash. Audio/video rows carry
      // REAL WAV/Y4M payloads that extractFeatures genuinely decodes
      // (decodeWav/decodeY4m); their decoded VALUES are pinned by
      // m04/m05/m06 — this gate pins the shared plumbing (ids, metadata,
      // feature dim) plus the image channel sums.
      val media = graft.llm.Multimodal.syntheticMedia(
        t(s, d, "part").filter(col("p_partkey") <= 200), "p_partkey")
      val feats = graft.llm.Multimodal.extractFeatures(media, dim = 16)
        .select(col("media_id"), col("meta.media_type").as("media_type"),
          size(col("features")).as("dim"))
      feats.join(graft.llm.Multimodal.imageStats(media)
          .select(col("media_id"), col("sum_r"), col("sum_g"), col("sum_b")),
          Seq("media_id"), "left")
        .orderBy("media_id")
    }),
    "g08_strategy_join" -> ((s, d) => {
      // the custom planner path: plain join(st_intersects) planned as
      // BroadcastSpatialJoinExec (graft.plans.SpatialJoinStrategy); result
      // hash-checked against the same interval-arithmetic oracle as g01.
      // Planned on a sibling session of its own, so the strategy stays out
      // of the caller's planner (`t` registers the functions there).
      val ss = s.newSession()
      ss.experimental.extraStrategies = Seq(graft.plans.SpatialJoinStrategy)
      val tiles = geoTiles(ss, d).select(col("tile_id"), col("geometry").as("tgeom"))
      val envs = geoEnvelopes(ss, d).select(col("wind_threshold"), col("geometry").as("egeom"))
      tiles.join(envs, call_function("st_intersects", col("tgeom"), col("egeom")))
        .groupBy(col("tile_id"), col("wind_threshold"))
        .agg(count(lit(1)).as("n_members"))
        .orderBy(col("tile_id"), col("wind_threshold"))
    }),
    "g07_country_screen" -> ((s, d) => {
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
    }),
    "d09_bpeish_tokens" -> ((s, d) => {
      // BPE-ish pre-tokenizer count (word pieces + standalone punctuation)
      t(s, d, "documents").select(col("doc_id"),
          TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish"))
        .orderBy(col("doc_id"))
    }),
    "s28_stream_quality" -> ((s, d) => {
      // STREAMING quality-classifier SERVING (the d65 model applied to an
      // arriving corpus): weights train batch-side on the even-keyed half
      // and ship to executors as a broadcast map — the standard
      // model-serving shape (the weight table is df-floored and
      // integer-valued; at corpus scale it is vocab-bounded, the same
      // budget a fastText quality model ships) — and the odd-keyed docs
      // stream through a STATELESS score: append mode, no state store,
      // tokenization by the SAME Spark expression as the batch path.
      // Converges to batch scoring exactly — shares d65's oracle.
      import org.apache.spark.sql.types._
      val ss = graft.streaming.Streaming.statefulSession(s)
      val docs = t(ss, d, "documents")
      val trainDocs = docs.filter(col("doc_id") % 2 === 0)
      val labels = graft.llm.TextAnalysis.gopherRules(trainDocs)
        .select(col("doc_id"), col("accepted").as("label"))
      val wts = graft.llm.TextAnalysis
        .oddsRatioWeights(trainDocs.join(labels, "doc_id"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val bc = ss.sparkContext.broadcast(wts)
      val score = udf { (ws: Seq[String]) =>
        if (ws == null) 0L
        else { var acc = 0L; ws.foreach(w => acc += bc.value.getOrElse(w, 0L)); acc }
      }
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val stream = graft.streaming.Streaming.availableNowFileStream(
          ss, d, schema, glob = Some("documents.parquet"))
        .filter(col("doc_id") % 2 === 1)
      // Docs with no non-empty token never survive d65's explode-based
      // scoring (the oracle's tok CTE drops them), so the stream must drop
      // them too rather than emit (doc_id, 0, false).
      val toks = array_distinct(filter(
        graft.llm.TextAnalysis.tokens(col("text")), w => length(w) > 0))
      val scored = stream
        .withColumn("toks", toks)
        .filter(size(col("toks")) > 0)
        .select(col("doc_id"), score(col("toks")).as("score"))
        .withColumn("predicted", col("score") > 0)
      graft.streaming.Streaming.runAvailableNow(
          scored, s"s28_quality_${System.nanoTime()}", outputMode = "append")
        .orderBy("doc_id")
    }),
    "s29_stream_perplexity" -> ((s, d) => {
      // STREAMING LM-perplexity SERVING (the d66 model applied to an
      // arriving corpus): the KN bigram table trains batch-side on the
      // even half and ships as a broadcast map (vocab-bounded — the
      // budget a KenLM binary occupies); odd docs stream through a
      // STATELESS scorer (append mode, no state store) whose per-doc
      // fold replays d66's pinned (w1, w2) order — the UDF compares
      // UTF-8 bytes, which IS Spark's UTF8String sort order and DuckDB's
      // binary collation. Converges to batch scoring exactly — shares
      // d66's oracle.
      import org.apache.spark.sql.types._
      val ss = graft.streaming.Streaming.statefulSession(s)
      val docs = t(ss, d, "documents")
      val model = graft.llm.TextAnalysis.kneserNeyBigram(
          docs.filter(col("doc_id") % 2 === 0), "text",
          discount = 0.75, minCount = 2)
        .select("w1", "w2", "p_kn").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
      val bc = ss.sparkContext.broadcast(model)
      val scoreFn = udf { (ws: Seq[String]) =>
        def cmpB(a: String, b: String): Int = {
          val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
          var j = 0
          while (j < x.length && j < y.length) {
            val c = (x(j) & 0xFF) - (y(j) & 0xFF)
            if (c != 0) return c
            j += 1
          }
          x.length - y.length
        }
        val m = bc.value
        var nBig = 0L; var nOov = 0L
        val terms = scala.collection.mutable.ArrayBuffer.empty[(String, String, Double)]
        var i = 0
        while (i + 1 < ws.length) {
          nBig += 1
          m.get((ws(i), ws(i + 1))) match {
            case Some(p) => terms += ((ws(i), ws(i + 1), -math.log(p)))
            case None    => nOov += 1
          }
          i += 1
        }
        val sorted = terms.sortWith { (p, q) =>
          val c1 = cmpB(p._1, q._1)
          if (c1 != 0) c1 < 0 else cmpB(p._2, q._2) < 0
        }
        var acc = 0.0
        sorted.foreach(t => acc += t._3)
        (nBig, nOov, acc)
      }
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val toks = graft.llm.TextAnalysis.tokens(col("text"))
      val stream = graft.streaming.Streaming.availableNowFileStream(
          ss, d, schema, glob = Some("documents.parquet"))
        .filter(col("doc_id") % 2 === 1)
        .filter(size(toks) >= 2)
      val scoredPpl = stream
        .select(col("doc_id"), scoreFn(toks).as("r"))
        .select(col("doc_id"), col("r._1").as("n_bigrams"),
          col("r._2").as("n_oov"), col("r._3").as("nll_sum"))
        .filter(col("n_bigrams") - col("n_oov") > 0)
        .select(col("doc_id"), col("n_bigrams"), col("n_oov"),
          round(col("nll_sum") / (col("n_bigrams") - col("n_oov")), 4)
            .as("avg_nll"))
      graft.streaming.Streaming.runAvailableNow(
          scoredPpl, s"s29_ppl_${System.nanoTime()}", outputMode = "append")
        .orderBy("doc_id")
    }),
    "s03_stream_corpus_clean" -> ((s, d) => {
      // streaming corpus cleaning: stateless quality/langid stages + text-hash
      // dropDuplicates against checkpointed state; converges to the batch
      // clean (d10) modulo WHICH duplicate survives — so the output is keyed
      // by md5(text), identical whichever twin the state store kept
      import org.apache.spark.sql.types._
      val ss = graft.streaming.Streaming.statefulSession(s)
      graft.geo.GeoFunctions.ensureRegistered(ss)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val stream = graft.streaming.Streaming.availableNowFileStream(
        ss, d, schema, glob = Some("documents.parquet"))
      val cleaned = graft.llm.CorpusPipeline.cleanStream(stream,
          cfg = graft.llm.CorpusCleanConfig(minChars = 50, minTokens = 10,
            maxPunctRatio = 0.25, keepLangs = Set("en", "es"), nearDup = false))
        .select(md5(col("text")).as("text_md5"), col("n_tokens"), col("lang_pred"))
      graft.streaming.Streaming.runAvailableNow(
          cleaned, s"s03_clean_${System.nanoTime()}", outputMode = "append")
        .orderBy("text_md5")
    }),
    "v04_ann_pq" -> ((s, d) => {
      // PQ-ADC is lossy (~32x code compression): the published PQ metric is
      // recall@R — did the true top-k land in the ADC SHORTLIST of R
      // candidates (Jegou et al., the shortlist then feeds exact rerank).
      // Gate: true top-5 in the ADC top-50, total recall >= 0.8 and all 10
      // queries found (measured 0.90-0.98 at every SF; a broken
      // codebook/encode path collapses this to ~0 and fails loud; the
      // clamped n_matches_floored makes a trip diagnosable — see v03, which
      // also documents the v01 oracle-independence dependency).
      val emb = t(s, d, "embeddings")
      val qs = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(emb, qs, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val model = graft.llm.Quantization.train(emb, dim = 64, m = 16, k = 32)
      graft.llm.Quantization.adcTopK(
          graft.llm.Quantization.encode(emb, model), qs, model, k = 50)
        .select(col("query_id"), col("neighbor_id"))
        .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(countDistinct(col("query_id")).as("n_queries_found"),
          least(count(lit(1)), lit(40L)).as("n_matches_floored"),
          (count(lit(1)) >= 40).as("recall_ok"))
    }),
    "s05_stream_interval_join" -> ((s, d) => {
      // STREAM-STREAM interval join: purchases stream x events stream, same
      // user, event in (t0, t0+2h] — watermarked state on both sides, must
      // converge to the batch inequality join (the q32 pair set)
      val ss = graft.streaming.Streaming.statefulSession(s)
      def stream() = eventsStream(ss, d)
      val purchases = stream().filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_event_id"), col("ts").as("pts"))
      val others = stream()
        .select(col("user_id"), col("event_id").as("e_event_id"), col("ts").as("ets"))
      val joined = graft.streaming.Streaming.intervalJoin(
        purchases, others, Seq("user_id"), "pts", "ets", windowUs = 7200000000L)
      graft.streaming.Streaming.runAvailableNow(
          joined.select(col("p_event_id"), col("e_event_id")),
          s"s05_ij_${System.nanoTime()}", outputMode = "append")
        .orderBy("p_event_id", "e_event_id")
    }),
    "s27_stream_ewma" -> ((s, d) => {
      // STREAMING EWMA: q91's pinned-order fold as custom keyed state —
      // O(1) state per key (last position + running e), per-batch event
      // ordering enforced (out-of-order folds loud-fail, the
      // transitionStream contract), Update-mode emission. The max-n_seen
      // row per key is the live value; the converged fold must equal
      // the batch operator bit-for-bit (shares q91's oracle).
      val ss = graft.streaming.Streaming.statefulSession(s)
      import ss.implicits._
      val ev = eventsStream(ss, d)
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_id"), col("value"))
        .as[graft.streaming.Streaming.EwmaEvent]
      val out = graft.streaming.Streaming.runAvailableNow(
        graft.streaming.Streaming.ewmaStream(ev, alpha = 0.5),
        s"s27_ewma_${System.nanoTime()}", outputMode = "update")
      out.withColumn("__rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("user_id")
            .orderBy(col("n_seen").desc)))
        .filter(col("__rk") === 1)
        .select(col("user_id"), col("ewma"))
        .orderBy("user_id")
    }),
    "s26_stream_interval_join_outer" -> ((s, d) => {
      // LEFT-OUTER stream-stream interval join: s05's pair set PLUS a
      // null-extended row per matchless purchase, emitted only once the
      // watermark proves no match can arrive (availableNow's no-data
      // flush batch). Both engines restrict to purchases the FINAL
      // watermark (max ts − 1 day) provably finalized — window + 1h
      // margin — so the stream output is deterministic and must equal
      // the batch LEFT JOIN exactly; nulls surface as −1 (the
      // COALESCE-before-hash contract).
      val ss = graft.streaming.Streaming.statefulSession(s)
      def stream() = eventsStream(ss, d)
      val purchases = stream().filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_event_id"), col("ts").as("pts"))
      val others = stream()
        .select(col("user_id"), col("event_id").as("e_event_id"), col("ts").as("ets"))
      val joined = graft.streaming.Streaming.intervalJoinOuter(
        purchases, others, Seq("user_id"), "pts", "ets", windowUs = 7200000000L)
      val out = graft.streaming.Streaming.runAvailableNow(
        joined.select(col("p_event_id"), col("pts"), col("e_event_id")),
        s"s26_ijo_${System.nanoTime()}", outputMode = "append")
      val maxUs = t(ss, d, "events")
        .agg(max(unix_micros(col("ts")))).head().getLong(0)
      val cutoff = maxUs - 86400000000L - 7200000000L - 3600000000L
      out.filter(unix_micros(col("pts")) <= cutoff)
        .select(col("p_event_id"),
          coalesce(col("e_event_id"), lit(-1L)).as("e_event_id"))
        .orderBy("p_event_id", "e_event_id")
    }),
    "s06_stream_neardup_ingest" -> ((s, d) => {
      // STREAMING NEAR-DUP INGEST (Streaming.nearDupIngestStream): documents
      // stream through a per-microbatch LSH check against the persisted
      // index + in-batch transitive clustering, survivors append to corpus
      // and index. Gate: the streamed result must equal the batch
      // formulation (keepRepresentatives over minhashLsh pairs) — computed
      // both ways IN Spark and pinned as a boolean (the q37/v03 property
      // pattern; the pair algorithms themselves are d04/d19-gated). The
      // custom-hash pair set has no SQL twin, hence the constant oracle.
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val root = graft.util.TempDirs.scratch("s06")
      docs.write.parquet(s"$root/docs")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      val stream = graft.streaming.Streaming.availableNowFileStream(
        s, s"$root/docs", schema)
      graft.streaming.Streaming.nearDupIngestStream(
          stream, s"$root/index", s"$root/ckpt")(
          (keep, bid) => keep.write.mode("overwrite")
            .parquet(s"$root/corpus/batch=$bid"))
        .awaitTermination()
      val streamed = s.read.parquet(s"$root/corpus").select(col("doc_id"))
      val batch = graft.ops.ConnectedComponents.keepRepresentatives(
          docs, "doc_id", graft.llm.Dedup.minhashLsh(docs, "doc_id"))
        .select(col("doc_id"))
      // multiset equality in ONE action (the d27 lesson): two
      // exceptAll().isEmpty actions re-ran the whole batch-formulation
      // subtree (minhashLsh + CC) twice; per-key count compare over a
      // full outer join is the same boolean — ids are longs, so
      // multiset equality ⇔ equal per-id multiplicities — at one pass
      val equal = streamed.groupBy("doc_id")
        .agg(count(lit(1)).as("n_s"))
        .join(batch.groupBy("doc_id").agg(count(lit(1)).as("n_b")),
          Seq("doc_id"), "full_outer")
        .filter(coalesce(col("n_s"), lit(0L)) =!= coalesce(col("n_b"), lit(0L)))
        .limit(1).count() == 0
      import s.implicits._
      Seq(equal).toDF("stream_matches_batch")
    }),
    "s16_stream_span_dedup" -> ((s, d) => {
      // STREAMING SPAN DEDUP (Streaming.spanDedupIngestStream): documents
      // arrive in 3 ascending-doc_id microbatches; each batch removes
      // chunks already in the persisted seen-chunk index, dedups the rest
      // batch-locally, appends cleaned docs to the corpus sink and new
      // chunk keys to the index. Because batch order follows doc_id
      // order, the converged corpus must equal d40's batch result — s16
      // shares d40's SQL oracle VERBATIM (batch files get explicit
      // ascending mtimes; the file source processes oldest-first).
      val (stream, root) = docsThreeDropStream(s, d)
      graft.streaming.Streaming.spanDedupIngestStream(
          stream, s"$root/index", s"$root/ckpt", compactAfterDirs = 1)(
          (clean, bid) => clean.write.mode("overwrite")
            .parquet(s"$root/out/batch=$bid"))
        .awaitTermination()
      s.read.parquet(s"$root/out")
        .select("doc_id", "clean_text", "n_chunks", "n_removed")
        .orderBy("doc_id")
    }),
    "v06_kmeans" -> ((s, d) => {
      // distributed Lloyd's k-means, oracle-checked BIT FOR BIT: 3 rounds,
      // k = 4, deterministic lowest-id init, every float widened to double
      // before arithmetic, distances and centroid means folded in fixed
      // order (the q50 exact-fold contract extended to vectors). DuckDB
      // replays all 3 rounds as unrolled CTEs — assignment argmins,
      // centroid means, member counts, and within-cluster inertia must all
      // reproduce exactly.
      val emb = t(s, d, "embeddings")
        .repartition(s.sparkContext.defaultParallelism)
      graft.llm.Clustering.lloyd(emb, "vec_id", "embedding", k = 4,
          iterations = 3, orderedFold = true)
        .select(col("cluster"), col("n"), col("inertia"),
          posexplode(col("centroid")).as(Seq("dim", "c")))
        .orderBy(col("cluster"), col("dim"))
    }),
    "v05_ann_opq" -> ((s, d) => {
      // OPQ-ADC: same recall@R shortlist gate as v04 (true top-5 in the ADC
      // top-50, total >= 0.8, all queries found; measured 0.90-1.0 at every
      // SF; clamped count for diagnosability, v01-anchored oracle — see
      // v03). OpqSpec separately proves the rotation is orthogonal and cuts
      // quantization error >10% vs plain PQ.
      val emb = t(s, d, "embeddings")
      val qs = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(emb, qs, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val model = graft.llm.Opq.train(emb, dim = 64, m = 16, k = 32)
      val rotated = graft.llm.Opq.rotate(emb, model.rotation, outCol = "rotated")
      graft.llm.Opq.adcTopK(
          graft.llm.Quantization.encode(rotated, model.pq, vecCol = "rotated"),
          qs, model, k = 50)
        .select(col("query_id"), col("neighbor_id"))
        .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(countDistinct(col("query_id")).as("n_queries_found"),
          least(count(lit(1)), lit(40L)).as("n_matches_floored"),
          (count(lit(1)) >= 40).as("recall_ok"))
    }),
    "d10_corpus_clean" -> ((s, d) => {
      // end-to-end corpus cleaning, SQL-expressible path (nearDup=false —
      // the MinHash stage uses custom hashing and is spec-checked instead):
      // quality filter -> exact dedup (min id per text group) -> langid filter
      graft.llm.CorpusPipeline.clean(t(s, d, "documents"),
          cfg = graft.llm.CorpusCleanConfig(minChars = 50, minTokens = 10,
            maxPunctRatio = 0.25, keepLangs = Set("en", "es"), nearDup = false))
        .select(col("doc_id"), col("n_tokens"), col("lang_pred"))
        .orderBy(col("doc_id"))
    }),
    "q29_salted_agg" -> ((s, d) => {
      // two-phase salted aggregation (skew lever) — integer sums, so the
      // salt-split summation order is exact and the result hash-matches the
      // plain GROUP BY oracle
      graft.ops.Skew.saltedAgg(
          t(s, d, "orders").withColumn("mod_key", col("o_orderkey") % 100),
          Seq("o_orderpriority"), salts = 8, Seq(
            ("sum_mod", sum(col("mod_key")), (c: Column) => sum(c)),
            ("n", count(lit(1)), (c: Column) => sum(c))))
        .orderBy(col("o_orderpriority"))
    }),
    "q30_sessionize" -> ((s, d) => {
      // gaps-and-islands sessionization (batch): one shuffle on user_id,
      // integer-microsecond gap compare; > 2 h of silence starts a session
      Sessionize.sessions(t(s, d, "events"), Seq("user_id"), "ts",
          gapMicros = 7200000000L, valueCol = Some("value"),
          tieBreak = Seq(col("event_id")))
        .select(col("user_id"), col("session_start"), col("n_events"),
          round(col("total_value"), 2).as("total_value"))
        .orderBy(col("user_id"), col("session_start"))
    }),
    "s04_stream_session" -> ((s, d) => {
      // STREAMING sessionization: native session_window with watermarked
      // state, driven to completion — must converge to the batch
      // gaps-and-islands answer (merge while gap < 2 h)
      val sess = graft.streaming.Streaming.sessionWindowedCounts(
        eventsStream(graft.streaming.Streaming.statefulSession(s), d), Seq("user_id"), gap = "2 hours")
      graft.streaming.Streaming.runAvailableNow(sess, s"s04_sess_${System.nanoTime()}")
        .select(col("user_id"), col("session_start"), col("n"),
          round(col("total"), 2).as("total"))
        .orderBy(col("user_id"), col("session_start"))
    }),
    "q31_asof_join" -> ((s, d) => {
      // generic as-of join (pandas merge_asof backward): attach the latest
      // purchase at or before each click, per user — union + one window
      // pass, no per-key cross product (Deltas.asofJoin)
      val ev = t(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("p_event_id"))
      Deltas.asofJoin(clicks, purchases, Seq("user_id"),
          leftTime = "ts", rightTime = "ts",
          payload = Seq("p_event_id", "ts"), tieBreak = Some("p_event_id"))
        .filter(col("asof_p_event_id").isNotNull)
        .withColumn("__wait_us", unix_micros(col("ts")) - unix_micros(col("asof_ts")))
        .select(col("event_id"), col("user_id"), col("asof_p_event_id"),
          expr("__wait_us div 60000000").as("wait_min"))
        .orderBy(col("event_id"))
    }),
    "q32_range_join" -> ((s, d) => {
      // binned range join: events within (t0, t0+2h] of each purchase, same
      // user — equi-join on (user_id, time bin) + exact containment filter,
      // never a per-user cross product (RangeJoin.binnedIntervalJoin)
      val ev = t(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_event_id"),
          (unix_micros(col("ts")) + 1).as("lo_us"),
          (unix_micros(col("ts")) + 7200000000L).as("hi_us"))
      val points = ev.select(col("user_id"), unix_micros(col("ts")).as("t_us"), col("value"))
      RangeJoin.binnedIntervalJoin(purchases, "lo_us", "hi_us",
          points, "t_us", Seq("user_id"), binWidth = 7200000000L)
        .groupBy(col("p_event_id"))
        .agg(count(lit(1)).as("n_nearby"), round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("p_event_id"))
    }),
    "q33_percentiles" -> ((s, d) => {
      // exact percentile aggregation (the reference's describe()/quantile
      // reporting): interpolated quartiles over integral doubles — dyadic
      // fractions, so the interpolation is bit-identical across engines
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_quantity, 0.25)").as("q25"),
          expr("percentile(l_quantity, 0.5)").as("median"),
          expr("percentile(l_quantity, 0.75)").as("q75"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),
    "q34_pivot" -> ((s, d) => {
      // pivot (long->wide reshape, the reference's report tables): per-user
      // event counts by type; absent combinations filled with 0
      t(s, d, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("user_id"))
    }),
    "q35_rollup" -> ((s, d) => {
      // ROLLUP hierarchy aggregation (the admin-level 0..5 rollup pattern as
      // a single multi-level pass); null-filled supertotal rows sort first
      // in both engines (Spark default NULLS FIRST, oracle forces it)
      t(s, d, "orders")
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderpriority").asc_nulls_first, col("o_orderstatus").asc_nulls_first)
    }),
    "q36_rolling_window" -> ((s, d) => {
      // rolling 24 h time-RANGE window per user (trailing event count +
      // value total) — integer-microsecond range frame, peers included
      val w = Window.partitionBy(col("user_id")).orderBy(col("__t_us"))
        .rangeBetween(-86400000000L, 0L)
      t(s, d, "events")
        .withColumn("__t_us", unix_micros(col("ts")))
        .withColumn("n_24h", count(lit(1)).over(w))
        .withColumn("total_24h", round(sum(col("value")).over(w), 2))
        .select(col("event_id"), col("user_id"), col("n_24h"), col("total_24h"))
        .orderBy(col("event_id"))
    }),
    "q37_hll_distinct" -> ((s, d) => {
      // mergeable HLL distinct sketches (ops/Sketches): the hash check pins
      // the exact distinct AND the property that the sketch estimate tracks
      // it within 2% — so an estimator regression fails the gate
      val agged = t(s, d, "events").groupBy(col("event_type"))
        .agg(countDistinct(col("event_id")).as("n_exact"),
          graft.ops.Sketches.hllEstimate(
            graft.ops.Sketches.hllSketch(col("event_id"))).as("__approx"))
      agged.withColumn("within_2pct",
          abs(col("__approx") - col("n_exact")).cast("double") / col("n_exact") < 0.02)
        .select(col("event_type"), col("n_exact"), col("within_2pct"))
        .orderBy(col("event_type"))
    }),
    "d11_hash_sample" -> ((s, d) => {
      // deterministic stratified sampling: Knuth multiplicative hash on the
      // id, 30% of English docs, 10% of the rest — pure integer arithmetic,
      // so the kept set is engine- and run-independent
      Sampling.hashSample(t(s, d, "documents"), col("doc_id"),
          when(col("lang") === "en", 300).otherwise(100))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),
    "d17_chunk_spans" -> ((s, d) => {
      // sliding-window chunking (window 64, stride 48 -> 16-token overlap):
      // span metadata per chunk, narrow integer generate, no text copies
      val docs = t(s, d, "documents")
        .withColumn("n_tokens", TextAnalysis.wsTokenCount(col("text")))
      Sampling.chunkSpans(docs, "n_tokens", window = 64, stride = 48)
        .select(col("doc_id"), col("chunk_id"), col("token_start"), col("chunk_len"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }),
    "d18_bigram_vocab" -> ((s, d) => {
      // vocabulary induction: the BPE/merge-candidate core step — global
      // adjacent-pair counts, top 50 by frequency (deterministic tie order).
      // explode -> one keyed agg -> TakeOrdered; pair cardinality grows with
      // the data so the shuffle key space does too
      val toks = TextAnalysis.tokens(col("text"))
      val grams = zip_with(
        slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat_ws(" ", a, b))
      t(s, d, "documents")
        .filter(size(toks) > 1)
        .select(explode(grams).as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram"))
        .limit(50)
    }),
    "d19_minhash_sql" -> ((s, d) => {
      // ORACLE-CHECKED MinHash-LSH: the same shingle -> per-function minima
      // -> band bucket join -> match-count pipeline as d04, built entirely
      // from engine-portable primitives (md5 over word 2-grams; min = hex
      // string order) so DuckDB reproduces the pair set bit-for-bit. The
      // custom-hash path (Dedup.minhashLsh, d04) is the fast production
      // variant; this one proves the ALGORITHM end to end.
      minhashSqlPairs(s, d).orderBy(col("id_a"), col("id_b"))
    }),
    "d20_dedup_clusters" -> ((s, d) => {
      // near-dup CLUSTER FORMATION: candidate pairs alone can't drop
      // duplicates (A~B, B~C chains) — distributed connected components
      // (large-star/small-star, ops/ConnectedComponents) labels each doc
      // with its component's min id. Edges = the oracle-checked minhash
      // pairs UNION a deterministic id chain (multiples of 7), which forces
      // a long-path component — exactly the shape where naive label
      // propagation stalls and the log-round algorithm matters. The DuckDB
      // oracle recomputes the closure with a recursive CTE.
      val docs = t(s, d, "documents").select(col("doc_id"))
      val chain = docs.filter(expr("doc_id % 7 = 0"))
        .select(col("doc_id").as("id_a"), (col("doc_id") + 7).as("id_b"))
        .join(docs.withColumnRenamed("doc_id", "id_b"), Seq("id_b"))
        .select(col("id_a"), col("id_b"))
      val edges = minhashSqlPairs(s, d).select(col("id_a"), col("id_b"))
        .unionByName(chain)
      graft.ops.ConnectedComponents.labels(edges, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("component"))
        .orderBy(col("doc_id"))
    }),
    "s18_stream_cc" -> ((s, d) => {
      // STREAMING INCREMENTAL CC (Streaming.incrementalCcStream): d20's
      // edge set arrives in 3 microbatches; each folds into the versioned
      // (id, component) map with the previous map re-entering as
      // id→component edges (history compresses to O(V) rows). CC is
      // batching-insensitive, so the converged map equals the batch
      // labelling — s18 shares d20's recursive-CTE oracle verbatim.
      val docs = t(s, d, "documents").select(col("doc_id"))
      val chain = docs.filter(expr("doc_id % 7 = 0"))
        .select(col("doc_id").as("id_a"), (col("doc_id") + 7).as("id_b"))
        .join(docs.withColumnRenamed("doc_id", "id_b"), Seq("id_b"))
        .select(col("id_a"), col("id_b"))
      val edges = minhashSqlPairs(s, d).select(col("id_a"), col("id_b"))
        .unionByName(chain)
      val root = graft.util.TempDirs.scratch("s18")
      edges.repartition(3).write.parquet(s"$root/edges")
      val ss = graft.streaming.Streaming.statefulSession(s)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id_a",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("id_b",
          org.apache.spark.sql.types.LongType)))
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/edges")
      graft.streaming.Streaming.incrementalCcStream(
          stream, s"$root/map", s"$root/ckpt")
        .awaitTermination()
      graft.streaming.Streaming.latestIvmView(s, s"$root/map")
        .select(col("id").as("doc_id"), col("component"))
        .orderBy("doc_id")
    }),
    "d21_simhash_sql" -> ((s, d) => {
      // ORACLE-CHECKED SimHash twin: the full banding + Hamming-verify
      // pipeline over md5-derived per-token bits (engine-portable
      // primitives — the d19 trick applied to SimHash). d05 (native
      // doGenCode simhash64 kernel) remains the production fast path.
      Dedup.simhashPairsPortable(t(s, d, "documents"), "doc_id", maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),
    "d15_stratified_sample" -> ((s, d) => {
      // exact-size per-stratum sample: 20 docs per language by md5 rank
      // (deterministic reservoir stand-in; engine-portable hash order)
      Sampling.stratifiedFixedSample(t(s, d, "documents"), Seq("lang"),
          col("doc_id"), n = 20)
        .select(col("lang"), col("doc_id"))
        .orderBy(col("lang"), col("doc_id"))
    }),
    "d16_quantile_filter" -> ((s, d) => {
      // per-language bottom-quartile drop by token count (quality-percentile
      // curation); 0.25 is dyadic so the interpolated threshold is bit-exact
      val docs = t(s, d, "documents")
        .withColumn("n_tokens", size(TextAnalysis.tokens(col("text"))))
      Sampling.quantileFilter(docs, Seq("lang"), "n_tokens", q = 0.25)
        .select(col("doc_id"), col("lang"), col("n_tokens"))
        .orderBy(col("doc_id"))
    }),
    "d12_seq_pack" -> ((s, d) => {
      // token-budget sequence packing: contiguous greedy bins of 512 tokens
      // per language (running integer sum, keyed window — packs in parallel
      // across strata)
      val docs = t(s, d, "documents")
        .withColumn("n_tokens", size(TextAnalysis.tokens(col("text"))))
      Sampling.seqPack(docs, Seq("lang"), "doc_id", "n_tokens", capacity = 512L)
        .groupBy(col("lang"), col("bin_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).cast("long").as("bin_tokens"))
        .orderBy(col("lang"), col("bin_id"))
    }),
    "d61_training_mix" -> ((s, d) => {
      // the END-TO-END TRAINING-MIX builder — the artifact a pretraining
      // data pipeline actually ships, composed from gated stages:
      // temperature mixture weights per lang (d14's ordered fold) →
      // integer per-lang doc quotas floor(weight·400) (bit-identical
      // weights ⇒ identical floors) → deterministic md5-rank quota
      // sample per lang (d15's mechanism, exact sizes) → token-budget
      // greedy packing of the sampled docs (d12's keyed running sum).
      // One composed SQL replay gates the whole chain — a drift in ANY
      // stage (fold order, rank tie, bin boundary) breaks the hash.
      val docs = t(s, d, "documents")
        .withColumn("n_tokens", size(TextAnalysis.tokens(col("text"))))
      val quotas = Sampling.mixtureWeights(docs, "lang")
        .select(col("lang"), floor(col("weight") * 400).cast("int").as("quota"))
      val w = Window.partitionBy("lang")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      val sampled = docs.join(broadcast(quotas), Seq("lang"))
        .withColumn("__rank", row_number().over(w))
        .filter(col("__rank") <= col("quota")).drop("__rank")
      Sampling.seqPack(sampled, Seq("lang"), "doc_id", "n_tokens",
          capacity = 512L)
        .groupBy(col("lang"), col("bin_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("bin_tokens"))
        .join(broadcast(quotas), Seq("lang"))
        .orderBy("lang", "bin_id")
    }),
    "d13_repetition" -> ((s, d) => {
      // Gopher-style repetition quality signals: duplicate-word /
      // duplicate-2-gram ratios (narrow array math) + top-token frequency
      // (explode + keyed agg); all ratios single int/int divisions
      TextAnalysis.repetitionMetrics(t(s, d, "documents"))
        .select(col("doc_id"), col("dup_word_ratio"), col("dup_2gram_ratio"),
          col("top_token_frac"))
        .orderBy(col("doc_id"))
    }),
    "d14_mix_weights" -> ((s, d) => {
      // temperature-based mixture weights (alpha = 0.5): sqrt(n)/sum sqrt(n)
      // with a SEQUENTIAL key-ordered fold for the denominator — bit-exact
      // across engines
      Sampling.mixtureWeights(t(s, d, "documents"), "lang", alpha = 0.5)
        .select(col("lang"), col("n_rows"), col("weight"))
        .orderBy(col("lang"))
    }),
    // flagship tile-impact slice, HASH-CHECKED: relational tiles/envelopes
    // (the dyadic interval grid of g01) pushed through the REAL pipeline
    // path — broadcast prepared-geometry member counting, keepZeroRows,
    // expected-value projection — while the DuckDB oracle recomputes the
    // same answer with pure interval arithmetic. No rounding needed:
    // probability = n/51.0 and E_population = population * probability are
    // single IEEE ops, bit-identical across engines. (The quadkey/Mercator
    // SyntheticScenario variant of this pipeline stays exercised by the
    // flagship entry() and ImpactPipelineSpec.)
    "g05_impact_pipeline" -> ((s, d) => {
      ImpactPipeline.tileView(geoTiles(s, d), geoEnvelopes(s, d))
        .select(col("zone_id"), col("wind_threshold"),
          col("n_members").cast("long").as("n_members"),
          col("probability"), col("E_population"))
        .orderBy(col("zone_id"), col("wind_threshold"))
    }),
    "d22_decontaminate" -> ((s, d) => {
      // benchmark decontamination: every ~97th doc plays the eval set; the
      // rest is the corpus, screened for shared word 3-grams. Broadcast
      // benchmark set, narrow corpus explode, one doc-keyed count shuffle.
      // hashGrams=false = the engine-portable oracle twin (the xxhash64
      // production path is pinned ≡ to it in DecontaminationSpec)
      val docs = t(s, d, "documents")
      Decontamination.contaminationStats(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0),
          n = 3, hashGrams = false)
        .orderBy(col("doc_id"))
    }),
    "d59_fuzzy_decontam" -> ((s, d) => {
      // FUZZY decontamination (Decontamination.fuzzyContamination): every
      // ~7th doc plays the eval set; training docs whose md5-minhash
      // signatures agree with an eval doc's on >= 4 of 8 functions (est
      // Jaccard >= 0.5) are flagged as paraphrased leakage — the
      // near-match complement of d22's exact n-gram screen. Broadcast
      // eval signatures, narrow corpus shingle pass, (k, sig) equi-join —
      // the oracle replays the exact pair set via the d19 portable-
      // signature contract.
      val docs = t(s, d, "documents")
      Decontamination.fuzzyContamination(
          docs.filter(col("doc_id") % 7 =!= 3),
          docs.filter(col("doc_id") % 7 === 3))
        .orderBy(col("doc_id"), col("eval_id"))
    }),
    "s23_stream_fuzzy_decontam" -> ((s, d) => {
      // STREAMING fuzzy decontamination: the eval-set signatures are
      // STATIC (checkpointed once, broadcast into every batch's screen)
      // while training documents arrive in 3 microbatches; each batch is
      // screened independently — the per-doc screen is batching-
      // insensitive — and flagged pairs land under out/batch=<id>
      // (mode overwrite ⇒ crash-replay idempotent, the s16 contract).
      // Converged union ≡ batch d59, shared oracle verbatim. This is the
      // ingest-time shape: eval sets change rarely, the corpus streams.
      import org.apache.spark.sql.types._
      val ss = graft.streaming.Streaming.statefulSession(s)
      val docs = t(ss, d, "documents")
      // sign the static eval set ONCE (checkpointed (eval_id, k, sig)
      // rows) — each microbatch used to re-tokenize/re-md5 the eval docs
      // before broadcasting, one redundant job per batch
      val evalSigs = graft.llm.Decontamination.bandedPortableSignatures(
        docs.filter(col("doc_id") % 7 === 3), "eval_id").localCheckpoint()
      val train = docs.filter(col("doc_id") % 7 =!= 3)
      val root = graft.util.TempDirs.scratch("s23")
      (0 until 3).foreach { b =>
        graft.streaming.Streaming.writeOrderedMicrobatch(
          train.filter(col("doc_id") % 3 === b), s"$root/in", b)
      }
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
      stream.writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          graft.llm.Decontamination.fuzzyContaminationAgainstSigs(
              batch, evalSigs)
            .write.mode("overwrite").parquet(s"$root/out/batch=$bid")
          ()
        }
        .start().awaitTermination()
      ss.read.parquet(s"$root/out")
        .select(col("doc_id"), col("eval_id"), col("n_matching"))
        .orderBy("doc_id", "eval_id")
    }),
    "d60_url_canonical" -> ((s, d) => {
      // URL canonicalization + fetch dedup (llm/Urls): deterministic
      // MESSY synthetic URLs per doc (mixed-case scheme/host, default
      // vs real ports, trailing slashes, utm_* tracking params,
      // unordered query params, fragments — the d23 synthetic-PII
      // pattern) canonicalize and dedup to (canonical_url, n_variants,
      // keep_id). Pure built-in column ops — the oracle replays every
      // normalization byte-for-byte, so a regex or sort divergence
      // breaks the hash.
      val id = col("doc_id")
      val urls = t(s, d, "documents").select(id,
        concat(
          when(id % 2 === 0, "HTTP").otherwise("https"), lit("://"),
          when(id % 3 === 0, concat(lit("WWW.SITE"), id % 50, lit(".COM")))
            .otherwise(concat(lit("www.site"), id % 50, lit(".com"))),
          when(id % 4 === 0, ":80")
            .when(id % 4 === 1, ":8080").otherwise(""),
          lit("/a/b"), id % 7,
          when(id % 5 === 0, "/").otherwise(""),
          when(id % 3 === 0, "?utm_source=x&b=2&a=1")
            .when(id % 3 === 1, "?a=1&b=2").otherwise(""),
          when(id % 6 === 0, "#sec").otherwise("")).as("url"))
      graft.llm.Urls.dedupByCanonicalUrl(urls, "url", "doc_id")
        .orderBy("canonical_url")
    }),
    "s24_stream_url_dedup" -> ((s, d) => {
      // STREAMING fetch-level URL dedup: the d60 canonicalization as a
      // narrow projection ON the stream + a stateful min(doc_id)
      // aggregation per canonical key, update mode, converged state read
      // once from the checkpoint (the s22 statestore pattern) — the
      // ingest-time shape: fetches arrive continuously, each batch emits
      // only the keys it touched, and the final keep set is DETERMINISTIC
      // under any batch split (min is order-free — a stateful
      // dropDuplicates would pick arbitrarily within a batch). Kept set
      // equals batch d60's keep_id column; the oracle replays exactly
      // that projection.
      import org.apache.spark.sql.types._
      val ss = graft.streaming.Streaming.statefulSession(s)
      val id = col("doc_id")
      val urls = t(ss, d, "documents").select(id,
        concat(
          when(id % 2 === 0, "HTTP").otherwise("https"), lit("://"),
          when(id % 3 === 0, concat(lit("WWW.SITE"), id % 50, lit(".COM")))
            .otherwise(concat(lit("www.site"), id % 50, lit(".com"))),
          when(id % 4 === 0, ":80")
            .when(id % 4 === 1, ":8080").otherwise(""),
          lit("/a/b"), id % 7,
          when(id % 5 === 0, "/").otherwise(""),
          when(id % 3 === 0, "?utm_source=x&b=2&a=1")
            .when(id % 3 === 1, "?a=1&b=2").otherwise(""),
          when(id % 6 === 0, "#sec").otherwise("")).as("url"))
      val root = graft.util.TempDirs.scratch("s24")
      (0 until 3).foreach { b =>
        graft.streaming.Streaming.writeOrderedMicrobatch(
          urls.filter(id >= b * 200 && (id < (b + 1) * 200 || b == 2)),
          s"$root/in", b)
      }
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("url", StringType)))
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
        .withColumn("canonical_url", graft.llm.Urls.canonicalizeUrl(col("url")))
      val st = graft.streaming.Streaming.runAvailableNowUpdateFinalState(
        stream.groupBy("canonical_url").agg(min(col("doc_id")).as("keep_id")),
        s"s24_url_${System.nanoTime()}",
        graft.util.TempDirs.scratch("s24ck"))
      st.select(col("key.canonical_url").as("canonical_url"),
          col("value.min").as("keep_id"))
        .orderBy("canonical_url")
    }),
    "d23_pii_redact" -> ((s, d) => {
      // PII scrub: deterministic synthetic PII (emails/IPv4/phones keyed on
      // doc_id mods so the per-row counts VARY) appended to the corpus
      // text, then counted and masked — narrow codegen'd regex projection,
      // redaction order fixed (email → IP → phone). The oracle recomputes
      // the exact redacted strings (Java and RE2 share this regex subset)
      val id = col("doc_id")
      val withPii = t(s, d, "documents").withColumn("text", concat(
        col("text"),
        when(id % 3 === 0,
          concat(lit(" mail user"), id, lit("@example.com"))).otherwise(lit("")),
        when(id % 4 === 0,
          concat(lit(" from 10."), id % 200, lit(".0.7"))).otherwise(lit("")),
        when(id % 5 === 0,
          concat(lit(" call +1 555 014 "),
            lpad((id % 100).cast("string"), 4, "0"))).otherwise(lit(""))))
      Pii.redact(Pii.piiStats(withPii), outCol = "redacted")
        .select(col("doc_id"), col("n_emails"), col("n_ipv4"), col("n_phones"),
          col("redacted"))
        .orderBy(col("doc_id"))
    }),
    "d24_dup_spans" -> ((s, d) => {
      // position-level repeated-substring detection: word 8-grams occurring
      // in >= 2 docs, merged to maximal spans per doc (gaps-and-islands
      // window); "occurs elsewhere" is a min!=max aggregate, not a
      // count-distinct. String grams = the oracle twin; DedupSpec pins the
      // xxhash64 production variant ≡ on this corpus
      Dedup.dupNgramSpans(t(s, d, "documents"), "doc_id", n = 8, hashGrams = false)
        .orderBy(col("doc_id"))
    }),
    "q38_heavy_hitters" -> ((s, d) => {
      // heavy hitters: exact top-20 tokens (map-side-combined count) PLUS a
      // mergeable Count-Min sketch built in the same pass; cms_ok pins the
      // sketch's guarantee (estimate >= exact, <= exact + eps*N) in the
      // hash — the q37 property-gate pattern over the sketch the oracle
      // cannot reproduce, while the counts themselves ARE oracle-checked
      val toks = t(s, d, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("item"))
      Sketches.cmsHeavyHitters(toks, "item", k = 20, eps = 0.001)
        .orderBy(col("n").desc, col("item"))
    }),
    "s07_stream_pii" -> ((s, d) => {
      // streaming PII scrub: the redaction pass is STATELESS (narrow
      // per-row regex projection), so it attaches to a stream unchanged —
      // no watermark, no state store — and the availableNow output is
      // bit-identical to the batch d23, hash-checked against the SAME
      // DuckDB oracle. The operational point: scrubbing is safe to run
      // in-flight on ingest, not as a separate batch rewrite.
      import org.apache.spark.sql.types._
      val ss = graft.streaming.Streaming.statefulSession(s)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val stream = graft.streaming.Streaming.availableNowFileStream(
        ss, d, schema, glob = Some("documents.parquet"))
      val id = col("doc_id")
      val withPii = stream.withColumn("text", concat(
        col("text"),
        when(id % 3 === 0,
          concat(lit(" mail user"), id, lit("@example.com"))).otherwise(lit("")),
        when(id % 4 === 0,
          concat(lit(" from 10."), id % 200, lit(".0.7"))).otherwise(lit("")),
        when(id % 5 === 0,
          concat(lit(" call +1 555 014 "),
            lpad((id % 100).cast("string"), 4, "0"))).otherwise(lit(""))))
      val scrubbed = Pii.redact(Pii.piiStats(withPii), outCol = "redacted")
        .select(col("doc_id"), col("n_emails"), col("n_ipv4"), col("n_phones"),
          col("redacted"))
      graft.streaming.Streaming.runAvailableNow(
          scrubbed, s"s07_pii_${System.nanoTime()}", outputMode = "append")
        .orderBy("doc_id")
    }),
    "q40_approx_quantiles" -> ((s, d) => {
      // quantile sketch (GK, Spark's approx_percentile — mergeable like
      // q37's HLL and q38's CMS): per-group p25/p50/p75 estimates, audited
      // by joining each estimate back and measuring its TRUE rank. rank_ok
      // pins the sketch guarantee |rank - q*n| <= eps*n (eps = 1/accuracy)
      // in the hash; the group sizes are oracle-checked exactly. Exact
      // per-group percentiles stay q33's job — this is the 100 TB path
      // where exact ranks would shuffle the whole column per query.
      val acc = 1000
      val li = t(s, d, "lineitem").select(col("l_returnflag"), col("l_extendedprice"))
      val qs = Seq(0.25, 0.5, 0.75)
      val est = li.groupBy(col("l_returnflag"))
        .agg(approx_percentile(col("l_extendedprice"),
          array(qs.map(lit): _*), lit(acc)).as("vs"))
        .select(col("l_returnflag"),
          posexplode(col("vs")).as(Seq("qi", "v")))
      val audited = li.join(broadcast(est), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"), col("qi"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_extendedprice") <= col("v"), 1L).otherwise(0L)).as("rank"))
        .withColumn("q", element_at(array(qs.map(lit): _*), col("qi") + 1))
        .withColumn("rank_ok",
          abs(col("rank") - col("q") * col("n")) <= col("n").cast("double") / acc + 1)
      audited.select(col("l_returnflag"), col("q"), col("n"), col("rank_ok"))
        .orderBy(col("l_returnflag"), col("q"))
    }),
    "q39_bloom_semi" -> ((s, d) => {
      // Bloom-prefiltered semi-join: the dimension's key set reduces to a
      // broadcast Bloom filter that drops non-matching fact rows BEFORE the
      // shuffle; the exact semi-join clears false positives, so the result
      // is bit-identical to the plain semi-join the oracle runs
      BloomJoin.bloomSemiJoin(
          t(s, d, "lineitem"),
          t(s, d, "orders").filter(col("o_totalprice") > 300000),
          "l_orderkey", "o_orderkey", expectedItems = 10000, fpp = 0.03)
        .select(col("l_orderkey"), col("l_linenumber"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),
    "d25_tfidf_keywords" -> ((s, d) => {
      // TF-IDF keyword extraction: top-3 terms per doc by tf·ln(N/df).
      // The hash carries (tf, df) — the score's exact rational inputs —
      // NOT the double score: Spark's `log` is StrictMath (fdlibm) and
      // DuckDB's `ln` is platform libm, 1 ulp apart on ~8% of arguments.
      // The top-3 SELECTION still exercises the float scoring end to end
      // (both engines rank by their own tf·ln(N/df); a selection flip
      // would need two different (tf,df) scores within 1 ulp).
      TextAnalysis.tfidfTopK(t(s, d, "documents"), "doc_id", "text", k = 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"))
        .orderBy(col("doc_id"), col("term"))
    }),
    "d26_semantic_dedup" -> ((s, d) => {
      // semantic dedup, exact path: all-pairs cosine >= 0.40 closes
      // transitively (distributed CC) and each component keeps its min id.
      // Fully oracle-checked: DuckDB recomputes the pairs (same fold order
      // -> bit-identical cosines) and the closure with a recursive CTE.
      // Output is integer/boolean only — no floats in the hash.
      Dedup.semanticDedupExact(t(s, d, "embeddings"), "vec_id", "embedding",
          minCosine = 0.40)
        .orderBy(col("vec_id"))
    }),
    "d27_semdedup_cells" -> ((s, d) => {
      // semantic dedup, scale path, gated v03-style: k-means cells bound
      // the quadratic candidate work, the exact verify makes every celled
      // pair a true pair, so dropped(celled) SUBSET-OF dropped(exact) by
      // construction — subset_ok pins that invariant in the hash, and
      // recall_ok pins drop-recall >= 0.8 (a broken quantizer, probe, or
      // verify collapses it). nCells=16/nProbe=3 is the measured
      // pruning/recall balance on this corpus: 8 cells under-prune (the
      // celled path generated MORE candidate pairs than exact all-pairs at
      // n=2000), 32 cells split the dense sf0.1 near-dup clusters and fail
      // the 0.8 floor; 16 passes it at all three SFs. At real scale size
      // nCells so the expected cell holds ~1k-10k vectors (candidates per
      // cell stay ~10^6-10^8 per task) and keep nProbe ≥ 3 for recall.
      // n_exact_dropped is NOT a pinned constant: the DuckDB oracle
      // recomputes it via the d26 recursive-CTE closure.
      val emb = t(s, d, "embeddings")
      // ONE action: both dropped-id pipelines meet in a full-outer join
      // and all three counts fold out of it — the previous 2-checkpoint +
      // 3-action staging persisted both frames into the block manager,
      // which under full-suite memory pressure turned this gate into the
      // bench's top entry (25.9 s contended vs 3.5 isolated in r11)
      val exact = Dedup.semanticDedupExact(emb, "vec_id", "embedding", 0.40)
        .filter(!col("keep")).select(col("vec_id"), lit(1L).as("__e"))
      val celled = Dedup.semanticDedup(emb, "vec_id", "embedding",
          dim = 64, minCosine = 0.40, nCells = 16, nProbe = 3)
        .filter(!col("keep")).select(col("vec_id"), lit(1L).as("__c"))
      val r = exact.join(celled, Seq("vec_id"), "full_outer")
        .agg(coalesce(sum(col("__e")), lit(0L)),
          coalesce(sum(col("__c")), lit(0L)),
          coalesce(sum(when(col("__e").isNull, 1L)), lit(0L)))
        .head()
      val (nExact, nCelled, nOutside) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val ss = s
      import ss.implicits._
      Seq((nExact, nOutside == 0,
          nExact == 0 || nCelled.toDouble / nExact >= 0.8))
        .toDF("n_exact_dropped", "subset_ok", "recall_ok")
    }),
    "d35_bpe_encode" -> ((s, d) => {
      // the other half of the tokenizer story: ENCODE the corpus with the
      // 6 rules d28 learns (applyMerges — a narrow per-word greedy fold,
      // merge list arrives as literals, no join) and aggregate integer
      // token statistics per source. The oracle replays training AND
      // encoding, so the gate covers the full learn -> tokenize loop.
      val docs = t(s, d, "documents")
      val merges = graft.llm.Bpe.learnMerges(docs, "text", numMerges = 6)
        .orderBy(col("merge_rank")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      // encode each DISTINCT word once (the greedy fold runs at vocabulary
      // size, not corpus size — words repeat) and broadcast the dictionary
      // back onto the corpus explode; the corpus-sized stages stay narrow
      // localCheckpoint MATTERS here: un-materialized, the dict's greedy-
      // fold expression rides through the broadcast join and Catalyst
      // re-evaluates it per CORPUS row (~300k times) instead of per
      // vocabulary row — the d21 CollapseProject lesson in join form
      val dict = graft.llm.Bpe.applyMerges(
        docs.select(explode(TextAnalysis.tokens(col("text"))).as("w"))
          .filter(length(col("w")) > 0).distinct()
          .repartition(s.sparkContext.defaultParallelism),
        merges, textCol = "w", outCol = "toks")
        .localCheckpoint()
      docs.repartition(s.sparkContext.defaultParallelism)
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .join(broadcast(dict), "w")
        .select(col("source"), explode(col("toks")).as("tok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("tok")).as("n_distinct"),
          sum(length(col("tok"))).as("n_chars"))
        .orderBy("source")
    }),
    "d65_quality_classifier" -> ((s, d) => {
      // classifier-based quality filtering TRAINED on weak labels
      // (TextAnalysis.oddsRatioClassifier — the CCNet/fastText pattern):
      // gopher rules weak-label the even-keyed half, a smoothed
      // odds-ratio keyword model learns weights in {−1,0,+1} by integer
      // cross-multiplication (log-odds > log 2 ⇔ one long inequality),
      // and the odd-keyed half is scored by summed weights over distinct
      // tokens. The oracle replays LABEL, TRAIN, and SCORE in closed
      // SQL — d63 gates the rules, this gates learning from them; no
      // float contract anywhere.
      val docs = t(s, d, "documents")
      val trainDocs = docs.filter(col("doc_id") % 2 === 0)
      val labels = graft.llm.TextAnalysis.gopherRules(trainDocs)
        .select(col("doc_id"), col("accepted").as("label"))
      graft.llm.TextAnalysis.oddsRatioClassifier(
          trainDocs.join(labels, "doc_id"),
          docs.filter(col("doc_id") % 2 === 1))
        .orderBy("doc_id")
    }),
    "d86_hrw_sharding" -> ((s, d) => {
      // RENDEZVOUS (HRW) SHARDING (Sampling.hrwShard): stable shard
      // placement for a growing corpus — the gate assigns every doc
      // under 4 shards AND 5 shards and emits the HRW resize invariant
      // in the hash: a doc moves iff the NEW shard (id 4) wins its
      // rendezvous, so `hrw_ok` (¬moved ∨ shard5 = 4) must be true on
      // every row and ~1/5 of docs move. The oracle replays both
      // assignments with the same md5 rendezvous (arg_max).
      val docs = t(s, d, "documents").select(col("doc_id"))
      val a4 = Sampling.hrwShard(docs, "doc_id", 4, "shard4")
      val a5 = Sampling.hrwShard(docs, "doc_id", 5, "shard5")
      a4.join(a5, "doc_id")
        .withColumn("moved", col("shard4") =!= col("shard5"))
        .withColumn("hrw_ok", !col("moved") || col("shard5") === 4)
        .orderBy("doc_id")
    }),
    "d84_epoch_shuffle" -> ((s, d) => {
      // REPRODUCIBLE GLOBAL TRAINING-ORDER SHUFFLE: the epoch
      // permutation a trainer consumes — order docs by md5(epoch:doc_id)
      // and assign each its global position. Deterministic (same seed →
      // same order on any cluster), different per epoch, and UNIFORM in
      // the crypto-hash sense; the position comes from ops/GlobalRank
      // (range partitions + broadcast offsets), NOT a single-task
      // ORDER BY — the permutation of a 10⁹-doc corpus is itself a
      // 10⁹-row sort that must distribute. Two epochs in one gate prove
      // the permutations differ while each stays a bijection; the
      // oracle replays positions with the same md5 ordering.
      val docs = t(s, d, "documents").select(col("doc_id"))
      Seq(1, 2).map { e =>
        val hashed = docs.select(col("doc_id"),
          md5(concat_ws(":", lit(e), col("doc_id"))).as("__h"))
        graft.ops.GlobalRank.withGlobalRank(hashed, "pos", col("__h"))
          .select(lit(e).as("epoch"), col("doc_id"), col("pos"))
      }.reduce(_ unionByName _).orderBy("epoch", "doc_id")
    }),
    "d83_lexical_richness" -> ((s, d) => {
      // per-source LEXICAL RICHNESS: vocabulary size, hapax count (words
      // seen once — the Good-Turing N_1 mass, localized per source) and
      // Simpson's diversity D = Σ c·(c−1) / (N·(N−1)) — the repeat-draw
      // collision probability, a corpus-mixing health check (template
      // spam drives D up, diverse prose keeps it near uniform). Counts
      // exact; D is one pinned divide of exact longs + ROUND(,6). Two
      // keyed aggs, map-side combinable.
      val uni = t(s, d, "documents")
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
      uni.groupBy("source")
        .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("vocab"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"),
          sum(col("c") * (col("c") - 1)).as("__coll"))
        .select(col("source"), col("n_tokens"), col("vocab"), col("hapax"),
          round(col("__coll").cast("double") /
            (col("n_tokens") * (col("n_tokens") - 1)).cast("double"), 6)
            .as("simpson_d"))
        .orderBy("source")
    }),
    "d81_vocab_growth" -> ((s, d) => {
      // Heaps'-law VOCABULARY GROWTH curve: distinct-word count after
      // the first k/8 of the token stream (k = 1..8) — the dedup/
      // diversity planning curve (how fast does new data stop adding new
      // vocabulary?). Global token positions are assembled WITHOUT a
      // corpus-length single-task window: per-doc token counts get a
      // window over the DOC table (corpus-count rows, not token-count —
      // the d34 offset-table shape), and each token's position is
      // docOffset + in-doc pos. Then one min-agg per word and one
      // count-per-checkpoint — all exact integers.
      val docs = t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__ts"))
        .select(col("doc_id"),
          posexplode(col("__ts")).as(Seq("p", "w")))
        .filter(length(col("w")) > 0)
        .localCheckpoint() // doc counts + position join
      val counts = docs.groupBy("doc_id").agg(count(lit(1)).as("nt"))
      // exclusive prefix sum WITHOUT a single-task window — at 10⁹ docs
      // even the doc-count table is too big for one sort task
      val offsets = graft.ops.GlobalRank.withGlobalPrefixSum(
        counts, col("nt"), "off", col("doc_id"))
      val firstPos = docs.join(offsets, "doc_id")
        .select(col("w"), (col("off") + col("p") + 1).as("gpos"))
        .groupBy("w").agg(min(col("gpos")).as("fp"))
        .localCheckpoint() // eight checkpoint scans
      val nTotal = docs.count()
      import s.implicits._
      val ks = (1 to 8).map(k => (k.toLong, nTotal * k / 8)).toDF("k", "n_prefix")
      firstPos.crossJoin(broadcast(ks))
        .filter(col("fp") <= col("n_prefix"))
        .groupBy("k", "n_prefix").agg(count(lit(1)).as("vocab"))
        .orderBy("k")
    }),
    "d80_dispersion" -> ((s, d) => {
      // corpus DISPERSION (Gries' DP, 2008): how evenly a word spreads
      // across sources — DP = Σ_i |v_i − s_i| / 2 over parts i, where
      // v_i is the word's occurrence share in part i and s_i the part's
      // corpus-size share. DP ≈ 0 = evenly dispersed (function words),
      // DP → 1 = bursty/concentrated — the signal that separates a
      // corpus-wide term from one source's boilerplate, complementing
      // d57/d58's keyness. Exact long counts; v_i and s_i are one
      // correctly-rounded divide each, the part sum folds in SOURCE
      // order (pinned IEEE), halving is exact, ROUND(,4). Missing
      // (word, part) cells contribute |0 − s_i| — the top-30 grid is
      // words × parts, built with a broadcast cross join.
      val tok = t(s, d, "documents")
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .localCheckpoint() // sizes + per-word + per-(word, part) counts
      val sizes = tok.groupBy("source").agg(count(lit(1)).as("nt"))
        .localCheckpoint()
      val nTotal = sizes.agg(sum(col("nt"))).head().getLong(0) // bounded: parts
      val top = tok.groupBy("w").agg(count(lit(1)).as("cw"))
        .orderBy(col("cw").desc, col("w")).limit(30)
      val cwi = tok.groupBy("w", "source").agg(count(lit(1)).as("cwi"))
      top.crossJoin(broadcast(sizes))
        .join(cwi, Seq("w", "source"), "left")
        .select(col("w"), col("cw"), col("source"),
          abs(coalesce(col("cwi"), lit(0L)).cast("double") / col("cw") -
            col("nt").cast("double") / lit(nTotal.toDouble)).as("term"))
        .groupBy("w", "cw")
        .agg(aggregate(sort_array(collect_list(struct(col("source"), col("term")))),
          lit(0.0), (a, x) => a + x.getField("term")).as("__dp"))
        .select(col("w"), col("cw").as("freq"),
          round(col("__dp") / 2, 4).as("dp"))
        .orderBy(col("freq").desc, col("w"))
    }),
    "d79_rake_keywords" -> ((s, d) => {
      // RAKE keyword extraction (Rose et al. 2010) — the stopword-
      // delimited complement to d75's TextRank: candidate phrases are
      // maximal stopword-free runs (delimiters: the corpus's function
      // words 'the'/'a'), each member word accumulates freq and degree
      // (phrase length per occurrence), word score = deg/freq, phrase
      // score = position-ordered fold of member scores (the pinned-IEEE
      // contract), top-20 by score. Gaps-and-islands grouping + three
      // keyed aggs — all map-side combinable; phrases parallelize per
      // doc.
      val stop = Seq("the", "a")
      val pos = t(s, d, "documents")
        .select(col("doc_id"),
          posexplode(TextAnalysis.tokens(col("text"))).as(Seq("p", "w")))
        .filter(length(col("w")) > 0)
        .withColumn("__stop", col("w").isInCollection(stop))
      val wDoc = Window.partitionBy("doc_id").orderBy("p")
      val phrases = pos
        .withColumn("__grp",
          sum(when(col("__stop"), 1L).otherwise(0L)).over(wDoc))
        .filter(!col("__stop"))
        .groupBy("doc_id", "__grp")
        .agg(array_join(transform(
            sort_array(collect_list(struct(col("p"), col("w")))),
            x => x.getField("w")), " ").as("phrase"),
          count(lit(1)).as("len"))
        .localCheckpoint() // feeds word stats + phrase stats
      val wstat = phrases
        .select(col("len"), explode(split(col("phrase"), " ")).as("w"))
        .groupBy("w")
        .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
        .withColumn("wscore", col("deg").cast("double") / col("freq"))
      val pstat = phrases.groupBy("phrase").agg(count(lit(1)).as("n_occ"))
      val scored = pstat
        .select(col("phrase"),
          posexplode(split(col("phrase"), " ")).as(Seq("wp", "w")))
        .join(wstat.select("w", "wscore"), "w")
        .groupBy("phrase")
        .agg(aggregate(sort_array(collect_list(struct(col("wp"), col("wscore")))),
          lit(0.0), (a, x) => a + x.getField("wscore")).as("__sc"))
      pstat.join(scored, "phrase")
        .orderBy(col("__sc").desc, col("phrase")).limit(20)
        .select(col("phrase"), col("n_occ"), round(col("__sc"), 4).as("score"))
    }),
    "d78_dictionary_encode" -> ((s, d) => {
      // global DICTIONARY ENCODING round-trip — the columnar-engine
      // primitive (and the string→int prerequisite every graph/ANN op
      // on token data needs): sorted term dictionary with dense
      // row_number ids, corpus re-encoded as (pos, id) postings through
      // one token-keyed equi-join, then DECODED back through the
      // dictionary and compared to the normalized original — the
      // checksum is position-weighted (Σ (pos+1)·id) so a permutation
      // or off-by-one breaks it, and roundtrip_ok proves the bijection
      // (w → id → w reconstructs every document verbatim). At 100 TB
      // the dictionary join shuffles on token (df-bounded skew, the d31
      // posting shape); dictionary ids come from GlobalRank's range-
      // partitioned offset pattern — no single-task sort at any vocab size.
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val post = docs
        .select(col("doc_id"),
          posexplode(TextAnalysis.tokens(col("text"))).as(Seq("p", "w")))
        .filter(length(col("w")) > 0)
        .localCheckpoint() // feeds the dict build AND the encode join
      val dict = graft.ops.GlobalRank
        .withGlobalRank(post.select("w").distinct(), "id", col("w"))
        .localCheckpoint() // encode side + decode side
      val encp = post.join(dict, "w").select(col("doc_id"), col("p"), col("id"))
      // decode STRICTLY through the dictionary (id -> w), not the source
      val rec = encp.join(dict.select(col("id"), col("w").as("__w")), "id")
      rec.groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum((col("p") + 1) * col("id")).as("enc_checksum"),
          array_join(transform(
            sort_array(collect_list(struct(col("p"), col("__w")))),
            x => x.getField("__w")), " ").as("__rt"))
        .join(docs, "doc_id")
        .select(col("doc_id"), col("n_tokens"), col("enc_checksum"),
          (col("__rt") ===
            regexp_replace(trim(lower(col("text"))), "\\s+", " "))
            .as("roundtrip_ok"))
        .orderBy("doc_id")
    }),
    "d77_unigram_tokenize" -> ((s, d) => {
      // Unigram-LM (SentencePiece) Viterbi segmentation (llm/Unigram)
      // against a FIXED shipped vocab of integer piece costs — the
      // global-optimum tokenizer completing the BPE(d28/d35)/WordPiece
      // (d62) family. The vocab plants the branches greedy matching
      // gets wrong: "table" → [ta ble] (310) beats the whole-word piece
      // (340) — WordPiece's longest-match would take it — while
      // "customer" (360) beats [cust omer] (370); "er" is a shared
      // suffix across filter/merge/order/query. Optima are verified
      // UNIQUE over this corpus, so seg/cost/n_pieces hash with no
      // tie contract; the oracle replays the DP by exhaustive path
      // enumeration (recursive CTE) + per-word min.
      val freq = t(s, d, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("n_occ"))
      graft.llm.Unigram.segmentWords(freq, "word", unigramVocab)
        .select(col("word"), col("n_occ"), col("seg"), col("cost"),
          col("n_pieces"))
        .orderBy("word")
    }),
    "d76_good_turing" -> ((s, d) => {
      // Good-Turing frequency smoothing (Good 1953, the Gale & Sampson
      // presentation): from the unigram count table, the frequency-of-
      // frequencies N_r and the adjusted count r* = (r+1)·N_{r+1}/N_r —
      // the LM-smoothing complement to d64's Kneser-Ney (GT reallocates
      // mass to UNSEEN events; N_1/N is the leave-one-out unseen-mass
      // estimate). Two keyed aggs (token, then count) + one self-join on
      // r+1 — everything integer except the final pinned divide +
      // ROUND(,4); r* is null where N_{r+1} = 0 (the raw estimator's
      // stated gap — SGT's regression smoothing fills it, out of scope).
      val uni = t(s, d, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("r"))
      val fof = uni.groupBy("r").agg(count(lit(1)).as("n_r"))
        .localCheckpoint() // both sides of the r+1 self-join
      fof.join(fof.select((col("r") - 1).as("r"), col("n_r").as("__nn")),
          Seq("r"), "left")
        .select(col("r"), col("n_r"),
          round((col("r") + 1).cast("double") * col("__nn") / col("n_r"), 4)
            .as("r_star"))
        .orderBy("r").limit(30)
    }),
    "d75_textrank" -> ((s, d) => {
      // TextRank keyword extraction (Mihalcea & Tarau, EMNLP'04): PageRank
      // over the word co-occurrence graph — adjacent-token pairs become
      // undirected edges, 5 ordered-fold power iterations (q50's exact
      // double contract), top-20 words by rank. The text→graph→rank
      // COMPOSITION gate: tokenizer, graph construction, dense-id
      // mapping and the iterative engine all sit under one hash. The
      // row_number word→id mapping is the GATE path (a global window —
      // vocab-bounded, single task); at corpus scale the mapping is the
      // same sorted-dictionary build d77-style dictionary encoding would
      // ship, and ranks are invariant to the id permutation.
      val big = t(s, d, "documents")
        .select(TextAnalysis.tokens(col("text")).as("__ts"))
        .filter(size(col("__ts")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("__ts")) - 1), i =>
          struct(element_at(col("__ts"), i).as("w1"),
            element_at(col("__ts"), i + 1).as("w2")))).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .filter(col("w1") =!= col("w2") && length(col("w1")) > 0 &&
          length(col("w2")) > 0)
        .distinct()
        .localCheckpoint() // feeds the id build and both edge attaches
      val ids = graft.ops.GlobalRank.withGlobalRank(
          big.select(col("w1").as("w")).unionByName(big.select(col("w2").as("w")))
            .distinct(), "v", col("w"))
        .localCheckpoint()
      val dir = big
        .join(ids.select(col("w").as("w1"), col("v").as("__va")), "w1")
        .join(ids.select(col("w").as("w2"), col("v").as("__vb")), "w2")
        .select(col("__va").as("src"), col("__vb").as("dst"))
      val e = dir.unionByName(dir.select(col("dst").as("src"), col("src").as("dst")))
      graft.ops.Graph.pageRank(e, iterations = 5, damping = 0.85,
          orderedFold = true)
        .join(ids, "v")
        .select(col("w").as("word"), col("r"))
        .orderBy(col("r").desc, col("word")).limit(20)
    }),
    "d74_phrase_search" -> ((s, d) => {
      // PHRASE SEARCH over a positional inverted index — the d31
      // inverted index extended with positions, probed by a 3-term
      // phrase batch: postings join against a broadcast (phrase, word,
      // offset) dictionary, then the classic positional intersection —
      // every posting votes for start = pos − offset, and a start with
      // votes == phrase length is a match (Manning/Raghavan/Schütze's
      // positional-intersect, re-expressed as one groupBy). One narrow
      // posexplode + one broadcast join + one (doc, phrase, start) agg;
      // at 100 TB the postings shuffle is keyed by token and the
      // phrase dictionary stays broadcast-tiny. Exact integers.
      graft.llm.PhraseSearch.search(
        t(s, d, "documents"), "doc_id", "text", phraseSearchPhrases)
    }),
    "s38_stream_mp3_ingest" -> ((s, d) => {
      // the audio twin of s37: m25's MP3 frame-header walk on an
      // ARRIVING stream — stateless append-mode metadata extraction
      // across 3 microbatches, accumulated sink ≡ the one-shot batch
      // walk (shares m25's closed-form oracle verbatim).
      import org.apache.spark.sql.types._
      val keys = t(s, d, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey").cast("long").as("media_id"))
      val root = graft.util.TempDirs.scratch("s38drops")
      Seq((0, col("media_id") < 66), (1, col("media_id") >= 66 &&
          col("media_id") < 132), (2, col("media_id") >= 132))
        .foreach { case (b, cond) =>
          graft.streaming.Streaming.writeOrderedMicrobatch(
            keys.filter(cond), s"$root/in", b)
        }
      val ss = graft.streaming.Streaming.statefulSession(s)
      val schema = StructType(Seq(StructField("media_id", LongType)))
      val build = udf((id: Long) => graft.llm.Mp3.syntheticMp3(id))
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
        .withColumn("payload", build(col("media_id")))
      graft.streaming.Streaming.runAvailableNow(
          graft.llm.Mp3.mp3Stats(stream),
          s"s38_mp3_${System.nanoTime()}", outputMode = "append")
        .orderBy("media_id")
    }),
    "s40_stream_crawl_multiformat" -> ((s, d) => {
      // STREAMING multi-format crawl ingest: d90's chain (WARC walk →
      // bytes-preserving explode → content sniff → HTML/PDF extraction)
      // on ARRIVING archives — stateless narrow maps in append mode, 3
      // microbatches, converged sink ≡ the batch chain (shares d90's
      // oracle verbatim). The Common-Crawl-refresh shape: text extracts
      // as archives land, no re-scan.
      import org.apache.spark.sql.types._
      val keys = t(s, d, "part").filter(col("p_partkey") <= 150)
        .select(col("p_partkey").cast("long").as("archive_id"))
      val root = graft.util.TempDirs.scratch("s40drops")
      Seq((0, col("archive_id") < 50), (1, col("archive_id") >= 50 &&
          col("archive_id") < 100), (2, col("archive_id") >= 100))
        .foreach { case (b, cond) =>
          graft.streaming.Streaming.writeOrderedMicrobatch(
            keys.filter(cond), s"$root/in", b)
        }
      val ss = graft.streaming.Streaming.statefulSession(s)
      val schema = StructType(Seq(StructField("archive_id", LongType)))
      val build = udf((id: Long) => graft.io.Warc.syntheticCrawlWarc(id))
      val pdfText = udf((b: Array[Byte]) =>
        graft.llm.Pdf.extractPdfText(b).orNull)
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
        .withColumn("payload", build(col("archive_id")))
      val extracted = graft.io.Warc.warcIngestRaw(stream)
        .withColumn("kind",
          when(expr("startswith(cast(body as string), '%PDF-')"), lit("pdf"))
            .otherwise(lit("html")))
        .withColumn("text",
          when(col("kind") === "pdf", pdfText(col("body")))
            .otherwise(graft.llm.TextAnalysis.htmlToText(
              col("body").cast("string"))))
        .select(col("archive_id"), col("record_idx"), col("kind"), col("text"))
      graft.streaming.Streaming.runAvailableNow(
          extracted, s"s40_crawl_${System.nanoTime()}", outputMode = "append")
        .orderBy("archive_id", "record_idx")
    }),
    "s39_stream_raster_ingest" -> ((s, d) => {
      // STREAMING RASTER INGEST: d88's real-bytes GeoTIFF path on an
      // ARRIVING stream — tiles land, cells explode, per-raster stats
      // accumulate; the quarantine rows flow the same way (a corrupt
      // tile mid-stream must mark, never kill the query). Stateless
      // narrow map + per-batch grouped APPEND via the per-raster
      // aggregation done batch-side on the converged sink: here the
      // stream emits CELLS (append mode) and the final aggregation runs
      // on the accumulated table — shares d88's oracle verbatim
      // (stream ≡ batch). The WorldPop-refresh shape: zonal inputs
      // update as raster tiles arrive.
      import org.apache.spark.sql.types._
      val keys = t(s, d, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey").cast("long").as("raster_id"))
      val root = graft.util.TempDirs.scratch("s39drops")
      Seq((0, col("raster_id") < 66), (1, col("raster_id") >= 66 &&
          col("raster_id") < 132), (2, col("raster_id") >= 132))
        .foreach { case (b, cond) =>
          graft.streaming.Streaming.writeOrderedMicrobatch(
            keys.filter(cond), s"$root/in", b)
        }
      val ss = graft.streaming.Streaming.statefulSession(s)
      val schema = StructType(Seq(StructField("raster_id", LongType)))
      val build = udf { (id: Long) =>
        val a = graft.llm.Tiff.syntheticGeoTiff(id)
        if (id % 9 == 0) a(0) = 'X'
        a
      }
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
        .withColumn("payload", build(col("raster_id")))
      graft.streaming.Streaming.runAvailableNow(
          graft.ops.RasterZonal.rasterCells(stream),
          s"s39_raster_${System.nanoTime()}", outputMode = "append")
        .groupBy("raster_id")
        .agg(count(lit(1)).as("n_cells"),
          min(col("raster_ok")).as("ok"),
          sum(col("value")).cast("long").as("sum_value"),
          min(col("lon")).as("lon_min"), max(col("lon")).as("lon_max"),
          min(col("lat")).as("lat_min"), max(col("lat")).as("lat_max"))
        .orderBy("raster_id")
    }),
    "s37_stream_media_ingest" -> ((s, d) => {
      // STREAMING MEDIA-METADATA INGEST: m24's MP4 container walk run on
      // an ARRIVING stream — payloads build per row, the box walk +
      // per-sample MJPEG decode is a STATELESS narrow map (append mode,
      // no state store, no watermark), split across 3 microbatches so
      // batch boundaries are load-bearing. The accumulated sink must
      // equal the one-shot batch result — shares m24's closed-form
      // oracle verbatim. This is the crawl-ingest shape: media metadata
      // extracted as files land, no re-scan of the corpus.
      import org.apache.spark.sql.types._
      val keys = t(s, d, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey").cast("long").as("media_id"))
      val root = graft.util.TempDirs.scratch("s37drops")
      Seq((0, col("media_id") < 66), (1, col("media_id") >= 66 &&
          col("media_id") < 132), (2, col("media_id") >= 132))
        .foreach { case (b, cond) =>
          graft.streaming.Streaming.writeOrderedMicrobatch(
            keys.filter(cond), s"$root/in", b)
        }
      val ss = graft.streaming.Streaming.statefulSession(s)
      val schema = StructType(Seq(StructField("media_id", LongType)))
      val build = udf((id: Long) => graft.llm.Mp4.syntheticMp4(id))
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
        .withColumn("payload", build(col("media_id")))
      graft.streaming.Streaming.runAvailableNow(
          graft.llm.Mp4.mp4VideoStats(stream),
          s"s37_media_${System.nanoTime()}", outputMode = "append")
        .orderBy("media_id")
    }),
    "s36_stream_image_dedup" -> ((s, d) => {
      // STREAMING IMAGE DEDUP by perceptual hash — m22 composed with
      // keyed state: media keys arrive in 3 range batches PLUS a full
      // REPLAY batch (at-least-once re-delivery), payloads decode and
      // dHash statelessly per microbatch, and an update-mode
      // min(media_id) per (dhash_hi, dhash_lo) is the dedup state —
      // min is idempotent, so the replay batch must change NOTHING.
      // The synthetic image set collapses 67 payloads to 33 gradient
      // classes, so the dedup is load-bearing, not vacuous. Final state
      // must equal the batch group-by — the oracle replays dHash bits
      // closed-form and takes MIN(media_id) per hash.
      import org.apache.spark.sql.types._
      val keys = t(s, d, "part").filter(col("p_partkey") <= 200)
        .filter(col("p_partkey") % 3 === 0)
        .select(col("p_partkey").cast("long").as("media_id"))
      val root = graft.util.TempDirs.scratch("s36drops")
      Seq((0, col("media_id") < 66), (1, col("media_id") >= 66 &&
          col("media_id") < 132), (2, col("media_id") >= 132))
        .foreach { case (b, cond) =>
          graft.streaming.Streaming.writeOrderedMicrobatch(
            keys.filter(cond), s"$root/in", b)
        }
      // batch 3: the FULL key set again — replayed delivery
      graft.streaming.Streaming.writeOrderedMicrobatch(keys, s"$root/in", 3)
      val ss = graft.streaming.Streaming.statefulSession(s)
      val schema = StructType(Seq(StructField("media_id", LongType)))
      val build = udf((id: Long) => graft.llm.Multimodal.syntheticPpm(id))
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
        .withColumn("payload", build(col("media_id")))
      val hashed = graft.llm.Multimodal.imageDHash(stream)
        .groupBy("dhash_hi", "dhash_lo").agg(min(col("media_id")).as("m"))
      val ckpt = graft.util.TempDirs.scratch("s36ck")
      graft.streaming.Streaming.runAvailableNowUpdateFinalState(
          hashed, s"s36_dhash_${System.nanoTime()}", ckpt)
        .select(col("key.dhash_hi").as("dhash_hi"),
          col("key.dhash_lo").as("dhash_lo"),
          col("value.min").as("first_media_id"))
        .orderBy("dhash_hi", "dhash_lo")
    }),
    "s35_stream_static_join" -> ((s, d) => {
      // STREAM-STATIC join — the enrichment shape Structured Streaming
      // runs STATELESS (the static side re-scans per microbatch; no
      // state store, no watermark): streaming events join the static
      // customer dimension on user key, rolled up per market segment in
      // exact integer cents. The update-mode final state must equal the
      // one-shot batch join — the oracle is the plain SQL join+group.
      val ss = graft.streaming.Streaming.statefulSession(s)
      val ev = eventsStream(ss, d)
        .select(col("user_id"), round(col("value") * 100).cast("long").as("cents"))
      val dim = t(ss, d, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      val counts = ev.join(dim, "user_id") // stream-static: stateless
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
      val ckpt = graft.util.TempDirs.scratch("s35ck")
      graft.streaming.Streaming.runAvailableNowUpdateFinalState(
          counts, s"s35_dim_${System.nanoTime()}", ckpt)
        // state-store value fields carry the aggregate FUNCTION names
        .select(col("key.c_mktsegment").as("c_mktsegment"),
          col("value.count").as("n_events"),
          col("value.sum").as("sum_cents"))
        .orderBy("c_mktsegment")
    }),
    "s34_stream_cusum" -> ((s, d) => {
      // STREAMING CUSUM drift monitor (Streaming.cusumStream) — d73
      // deployed: deviations against a FIXED shipped target (280 chars)
      // so the statistic is causal, five exact longs of state per
      // source, the closed form maintained incrementally across 3
      // range-split microbatches. The final state per source must equal
      // the batch windows' answer — the oracle replays prefix-sum −
      // running-min with the same fixed target.
      import org.apache.spark.sql.types._
      val docs = t(s, d, "documents")
        .select(col("source"), col("doc_id"), col("n_chars"))
      val root = graft.util.TempDirs.scratch("cusumdrops")
      Seq((0, col("doc_id") < 167),
          (1, col("doc_id") >= 167 && col("doc_id") < 334),
          (2, col("doc_id") >= 334)).foreach { case (b, cond) =>
        graft.streaming.Streaming.writeOrderedMicrobatch(
          docs.filter(cond), s"$root/in", b)
      }
      val ss = graft.streaming.Streaming.statefulSession(s)
      import ss.implicits._
      val schema = StructType(Seq(StructField("source", StringType),
        StructField("doc_id", LongType), StructField("n_chars", LongType)))
      val ev = ss.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$root/in")
        .select(col("source").as("key"), col("doc_id").as("seq"),
          col("n_chars").as("x"))
        .as[graft.streaming.Streaming.CusumEvent]
      val out = graft.streaming.Streaming.runAvailableNow(
        graft.streaming.Streaming.cusumStream(ev, target = 280L),
        s"s34_cusum_${System.nanoTime()}", outputMode = "update")
      val w = Window.partitionBy("key").orderBy(col("n").desc)
      out.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .select(col("key").as("source"), col("n").as("n_docs"),
          col("peak"), col("peak_seq").as("peak_doc"))
        .orderBy("source")
    }),
    "s33_stream_phrase_search" -> ((s, d) => {
      // STREAMING phrase-index SERVING — d74's positional intersection
      // applied to an arriving corpus: the broadcast phrase dictionary is
      // the shipped model, postings explode statelessly per microbatch,
      // and the (phrase, doc, start) votes accumulate in an update-mode
      // state store (additive — a doc's postings land in one batch, but
      // the state contract also covers re-chunked docs). The final state
      // view must equal d74's one-shot batch intersection — shares d74's
      // SQL oracle verbatim.
      import org.apache.spark.sql.types._
      val ss = graft.streaming.Streaming.statefulSession(s)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val stream = graft.streaming.Streaming.availableNowFileStream(
        ss, d, schema, glob = Some("documents.parquet"))
      val votes = graft.llm.PhraseSearch.votes(
          stream, "doc_id", "text", phraseSearchPhrases, ss)
        .groupBy("phrase", "doc_id", "start").count()
      val ckpt = graft.util.TempDirs.scratch("s33ck")
      val st = graft.streaming.Streaming.runAvailableNowUpdateFinalState(
          votes, s"s33_phrase_${System.nanoTime()}", ckpt)
        .select(col("key.phrase").as("phrase"), col("key.doc_id").as("doc_id"),
          col("key.start").as("start"), col("value.count").as("__k"))
      // full-vote gate joins each phrase's OWN word count (mirrors
      // PhraseSearch.search) — a hardcoded length would silently break
      // when a phrase of a different word count joins the list
      import s.implicits._
      val lens = phraseSearchPhrases
        .map(p => (p, graft.llm.PhraseSearch.phraseWords(p).length.toLong))
        .toDF("phrase", "__len")
      graft.llm.PhraseSearch.matches(
        st.join(broadcast(lens), "phrase").filter(col("__k") === col("__len")))
    }),
    "d73_cusum_changepoint" -> ((s, d) => {
      // CUSUM changepoint detection (Page 1954) over each source's
      // doc-length series — the corpus drift monitor: did a source's
      // content distribution shift mid-crawl? The recursion
      // S_t = max(0, S_{t-1} + (x_t − mean)) is computed CLOSED-FORM as
      // S_t = P_t − min(0, min_{j≤t} P_j) with P the prefix sum of
      // deviations — two running windows, no fold, no UDF. Deviations
      // are scaled by n (d_t = n·x_t − total) so everything stays exact
      // long arithmetic; the only float is the final ROUND(peak/n, 4).
      // Peak doc resolves ties by MIN doc_id (explicit, not arg_max's
      // unspecified pick). Scale: windows partition per source — series
      // parallelize across sources; a single 100 TB-scale source would
      // range-partition on (source, day) the way q94 slices days.
      val docs = t(s, d, "documents")
        .select(col("source"), col("doc_id"), col("n_chars"))
      val tot = docs.groupBy("source")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("total"))
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
      val scored = docs.join(broadcast(tot), "source")
        .withColumn("__d", col("n") * col("n_chars") - col("total"))
        .withColumn("__p", sum(col("__d")).over(w))
        .withColumn("__s", col("__p") - least(lit(0L), min(col("__p")).over(w)))
        .localCheckpoint() // feeds the peak agg AND the tie-resolve join
      val peak = scored.groupBy(col("source")).agg(max(col("__s")).as("peak"))
      scored.join(broadcast(peak), Seq("source"))
        .filter(col("__s") === col("peak"))
        .groupBy(col("source"), col("n"), col("peak"))
        .agg(min(col("doc_id")).as("peak_doc"))
        .withColumnRenamed("n", "n_docs")
        .select(col("source"), col("n_docs"), col("peak"), col("peak_doc"),
          round(col("peak").cast("double") / col("n_docs"), 4).as("peak_per_doc"))
        .orderBy("source")
    }),
    "d72_crawl_e2e" -> ((s, d) => {
      // CRAWL PIPELINE END TO END in one DAG: pack the corpus into WARC
      // archives (5 docs/record-each per archive, real gzip members) →
      // ingest (Warc.warcIngestText: member walk + CRC + record parse) →
      // HTML extract (the d71 regex pipeline over each record's page) →
      // Gopher quality rules over the EXTRACTED text. The oracle replays
      // the whole chain: archive/record placement (row_number within
      // doc_id/5), the page template, every regex stage, and the
      // integer rule chain — so a bug at ANY stage boundary (bytes →
      // records → text → decision) breaks one hash.
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val packed = docs
        .groupBy(expr("doc_id div 5").as("archive_id"))
        .agg(sort_array(collect_list(struct(col("doc_id"), col("text"))))
          .as("recs"))
      val build = udf { (recs: Seq[org.apache.spark.sql.Row]) =>
        val out = new java.io.ByteArrayOutputStream()
        recs.foreach { r =>
          val id = r.getLong(0); val text = r.getString(1)
          val html = s"<html><head><title>Doc $id</title>" +
            "<style>p{color:red}</style><script>var x=1;</script></head>" +
            s"<body><h1>Head ${id % 7}</h1><p>para one ${id % 5}</p>" +
            s"<!-- hidden --><p>$text</p>" +
            "<p>two &amp; three &lt;ok&gt;</p></body></html>"
          val body = html.getBytes("UTF-8")
          val head = (s"WARC/1.0\r\nWARC-Type: response\r\n" +
            s"WARC-Target-URI: http://docs/$id\r\n" +
            s"Content-Length: ${body.length}\r\n\r\n").getBytes("US-ASCII")
          val gz = new java.util.zip.GZIPOutputStream(out)
          // close(), not finish(): close ends the native Deflater NOW
          // (finish leaves ~112 KB of zlib state to the finalizer —
          // 50k leaked deflaters per pass measurably GC-throttled the
          // whole bench suite); BAOS.close() is a no-op so the member
          // bytes are identical
          gz.write(head); gz.write(body); gz.close()
        }
        out.toByteArray
      }
      val archives = packed.select(col("archive_id"),
        build(col("recs")).as("payload"))
      val recs = graft.io.Warc.warcIngestText(archives)
      val extracted = recs.select(col("archive_id"), col("record_idx"),
        regexp_extract(col("uri"), "/(\\d+)$", 1).cast("long").as("doc_id"),
        graft.llm.TextAnalysis.htmlToText(col("body")).as("ext"))
      val ruled = graft.llm.TextAnalysis.gopherRules(
        extracted.select(col("doc_id"), col("ext").as("text")))
      extracted
        .join(ruled.select(col("doc_id"), col("reason"), col("accepted")),
          "doc_id")
        .select(col("archive_id"), col("record_idx"), col("doc_id"),
          md5(col("ext")).as("text_md5"), col("reason"), col("accepted"))
        .orderBy("doc_id")
    }),
    "d71_html_extract" -> ((s, d) => {
      // HTML → VISIBLE TEXT (TextAnalysis.htmlToText) — the WARC→WET
      // step run before any text analysis: drop script/style/comments,
      // strip tags, decode entities, collapse whitespace; plus the
      // <title> pull. Deterministic synthetic pages wrap each document's
      // real text with planted hazards (a style block with braces, a
      // script, a comment, &amp;/&lt; entities). The oracle replays every
      // regex stage with the same patterns ('g' flag), so a strip-order
      // or entity-order bug (e.g. decoding &amp; before &lt;) breaks the
      // hash.
      val id = col("doc_id")
      val html = concat(
        lit("<html><head><title>Doc "), id, lit("</title>"),
        lit("<style>p{color:red}</style><script>var x=1;</script></head>"),
        lit("<body><h1>Head "), id % 7, lit("</h1><p>para one "), id % 5,
        lit("</p><!-- hidden --><p>"), col("text"),
        lit("</p><p>two &amp; three &lt;ok&gt;</p></body></html>"))
      val ext = graft.llm.TextAnalysis.htmlToText(col("html"))
      t(s, d, "documents").select(id, html.as("html"))
        .select(id,
          graft.llm.TextAnalysis.htmlTitle(col("html")).as("title"),
          md5(ext).as("text_md5"),
          size(split(ext, "\\s+")).cast("long").as("n_tokens"))
        .orderBy("doc_id")
    }),
    "d92_linear_quality" -> ((s, d) => {
      // MODEL-BASED quality filtering (TextAnalysis.linearQualityScore):
      // the fastText-style hashed-linear scorer over the REAL documents
      // corpus — tokens hash to md5-prefix buckets, a broadcast 4096-row
      // weight table (planted closed form: ascii-mix of the bucket's hex
      // chars, integers in [-200, 200]) supplies the model, doc score =
      // exact bag-of-words sum, keep = score > 0. The oracle rebuilds
      // the weight table AND every score, so a tokenize, hash-bucket,
      // join-miss, or bag-semantics bug breaks the hash.
      val weights = s.range(4096)
        .select(format_string("%03x", col("id")).as("bucket"))
        .select(col("bucket"),
          ((ascii(substring(col("bucket"), 1, 1)) * 7 +
            ascii(substring(col("bucket"), 2, 1)) * 11 +
            ascii(substring(col("bucket"), 3, 1)) * 13) % 401 - 200)
            .cast("long").as("weight"))
      graft.llm.TextAnalysis.linearQualityScore(
          t(s, d, "documents").select(col("doc_id"), col("text")), weights)
        .orderBy("doc_id")
    }),
    "d91_charset_detect" -> ((s, d) => {
      // CHARSET DETECTION + DECODE (llm/CharsetDetect): the SAME text —
      // "café w<id%97> n<id%7>", with a real multi-byte é — planted in
      // four wire encodings by id%4 (UTF-8 bare, UTF-8 BOM, UTF-16LE
      // BOM, Latin-1 single-byte é) must detect and decode back to ONE
      // string: BOM handling, strict RFC 3629 validation (the Latin-1 é
      // is an invalid UTF-8 lead and must fall through), and BOM
      // stripping all sit in the hash. The oracle carries the expected
      // label per variant and rebuilds the text verbatim.
      import s.implicits._
      val build = udf { (id: Long) =>
        val text = s"café w${id % 97} n${id % 7}"
        (id % 4) match {
          case 0 => text.getBytes("UTF-8")
          case 1 => Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++
            text.getBytes("UTF-8")
          case 2 => Array[Byte](0xFF.toByte, 0xFE.toByte) ++
            text.getBytes("UTF-16LE")
          case _ => text.getBytes("ISO-8859-1")
        }
      }
      val docs = t(s, d, "part").filter(col("p_partkey") <= 300)
        .select(col("p_partkey").cast("long").as("doc_id"))
        .withColumn("raw", build(col("doc_id")))
      graft.llm.CharsetDetect.withDecodedText(docs)
        .withColumn("n_chars", length(col("text")).cast("long"))
        .orderBy("doc_id")
    }),
    "d90_crawl_multiformat" -> ((s, d) => {
      // MULTI-FORMAT CRAWL COMPOSITION — the realistic ingest chain this
      // round's pieces exist for: WARC archives (gzip member walk)
      // carrying a REAL HTML page and a REAL FlateDecoded PDF per
      // archive, bodies kept as BYTES (warcIngestRaw — UTF-8 decoding
      // would corrupt the PDF before routing), content-SNIFFED by magic
      // prefix, and routed to htmlToText or Pdf.extractPdfText. The
      // oracle replays both extracted texts verbatim, so a member-walk,
      // sniff, tag-strip, inflate, or operator bug anywhere in the chain
      // breaks the hash.
      import s.implicits._
      val build = udf((id: Long) => graft.io.Warc.syntheticCrawlWarc(id))
      val archives = t(s, d, "part").filter(col("p_partkey") <= 150)
        .select(col("p_partkey").cast("long").as("archive_id"))
        .withColumn("payload", build(col("archive_id")))
      val pdfText = udf((b: Array[Byte]) =>
        graft.llm.Pdf.extractPdfText(b).orNull)
      graft.io.Warc.warcIngestRaw(archives)
        .withColumn("kind",
          when(expr("startswith(cast(body as string), '%PDF-')"), lit("pdf"))
            .otherwise(lit("html")))
        .withColumn("text",
          when(col("kind") === "pdf", pdfText(col("body")))
            .otherwise(graft.llm.TextAnalysis.htmlToText(
              col("body").cast("string"))))
        .select(col("archive_id"), col("record_idx"), col("kind"), col("text"))
        .orderBy("archive_id", "record_idx")
    }),
    "d89_pdf_extract" -> ((s, d) => {
      // PDF TEXT EXTRACTION (llm/Pdf, ISO 32000-1): payloads are
      // spec-valid single-page PDFs — FlateDecoded content streams,
      // xref, trailer — whose show operators ROTATE by id%3 (Tj + T*,
      // kerned TJ arrays, ' next-line) while extracting the IDENTICAL
      // closed-form text; every id % 9 == 0 payload has its magic
      // destroyed and must quarantine (ok=false, null text), never kill
      // the task. The oracle rebuilds the exact text with string_agg, so
      // an inflate, string-escape, operator-dispatch, or line-break bug
      // breaks the hash.
      import s.implicits._
      val build = udf { (id: Long) =>
        val a = graft.llm.Pdf.syntheticPdf(id)
        if (id % 9 == 0) a(0) = 'X'
        a
      }
      val extract = udf((p: Array[Byte]) => graft.llm.Pdf.extractPdfText(p).orNull)
      t(s, d, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey").cast("long").as("doc_id"))
        .withColumn("text", extract(build(col("doc_id"))))
        .select(col("doc_id"), col("text").isNotNull.as("ok"),
          when(col("text").isNotNull, length(col("text")).cast("long"))
            .as("n_chars"),
          col("text"))
        .orderBy("doc_id")
    }),
    "d88_geotiff_ingest" -> ((s, d) => {
      // REAL-BYTES raster ingestion (ops/RasterZonal.rasterCells over
      // llm/Tiff): payloads are genuine single-band Float32 GeoTIFFs
      // (SampleFormat 3, ModelTiepoint/ModelPixelScale georeference, the
      // WorldPop tile shape) exploded into cell-centroid rows — S12's
      // fetch side on actual raster bytes. Every id % 9 == 0 payload has
      // its byte order destroyed and must QUARANTINE (one raster_ok=false
      // marker row), never kill the task. The oracle replays cell counts,
      // exact value sums, and the dyadic lon/lat extents per raster.
      import s.implicits._
      val build = udf { (id: Long) =>
        val a = graft.llm.Tiff.syntheticGeoTiff(id)
        if (id % 9 == 0) a(0) = 'X'
        a
      }
      val rasters = t(s, d, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey").cast("long").as("raster_id"))
        .withColumn("payload", build(col("raster_id")))
      graft.ops.RasterZonal.rasterCells(rasters)
        .groupBy("raster_id")
        .agg(count(lit(1)).as("n_cells"),
          min(col("raster_ok")).as("ok"),
          sum(col("value")).cast("long").as("sum_value"),
          min(col("lon")).as("lon_min"), max(col("lon")).as("lon_max"),
          min(col("lat")).as("lat_min"), max(col("lat")).as("lat_max"))
        .orderBy("raster_id")
    }),
    "d87_warc_quarantine" -> ((s, d) => {
      // UNTRUSTED-BYTES crawl ingest (io/Warc.warcIngestQuarantine): the
      // d70 archives, but every id % 7 == 0 payload has its gzip magic
      // byte destroyed — the never-throw walk must yield the clean
      // archives' records (quarantined = false) and exactly ONE marker
      // row per corrupt archive (record_idx −1, null fields,
      // quarantined = true), with no task failure anywhere. The oracle
      // replays both halves in closed form, so quarantining too much,
      // too little, or throwing breaks the gate.
      import s.implicits._
      val build = udf { (id: Long) =>
        val a = graft.io.Warc.syntheticWarcGz(id)
        if (id % 7 == 0) a(0) = 0x00.toByte
        a
      }
      val archives = t(s, d, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey").cast("long").as("archive_id"))
        .withColumn("payload", build(col("archive_id")))
      graft.io.Warc.warcIngestQuarantine(archives)
        .orderBy("archive_id", "record_idx")
    }),
    "d70_warc_ingest" -> ((s, d) => {
      // CRAWL-ARCHIVE ingestion (io/Warc): concatenated per-record gzip
      // members — the Common Crawl WARC layout — walked manually (RFC
      // 1952 header fields, raw Inflater, CRC32+ISIZE verified per
      // member, loud-fail on corruption), records parsed for
      // WARC-Target-URI / Content-Length. The oracle recomputes every
      // record's length and payload byte sum from the planted formula,
      // so a member-boundary, header-skip, or slicing bug breaks the
      // hash while a trailer bug loud-fails the whole query.
      import s.implicits._
      val build = udf((id: Long) => graft.io.Warc.syntheticWarcGz(id))
      val archives = t(s, d, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey").cast("long").as("archive_id"))
        .withColumn("payload", build(col("archive_id")))
      graft.io.Warc.warcIngest(archives)
        .orderBy("archive_id", "record_idx")
    }),
    "d69_readability" -> ((s, d) => {
      // READABILITY scoring (Flesch reading ease) — the classic
      // document-difficulty signal quality pipelines bucket by: syllables
      // approximated as vowel-group runs (the standard heuristic),
      // sentences as terminal-punctuation runs (floor 1). Counts are
      // exact integers; the score is ONE pinned IEEE op tree over exact
      // ratios (the d64 contract) with ROUND(,4), and the oracle replays
      // the regexes and the tree term for term.
      val toks = graft.llm.TextAnalysis.tokens(col("text"))
      val docs = t(s, d, "documents")
      val tok = docs
        .select(col("doc_id"), col("text"),
          explode(toks).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum(greatest(lit(1),
            size(regexp_extract_all(col("w"), lit("[aeiouy]+"), lit(0)))))
            .as("n_syll"))
      docs
        .select(col("doc_id"),
          greatest(lit(1L),
            size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))
              .cast("long")).as("n_sent"))
        .join(tok, "doc_id")
        .select(col("doc_id"), col("n_words"), col("n_syll"), col("n_sent"),
          round(lit(206.835)
            - lit(1.015) * (col("n_words").cast("double") / col("n_sent"))
            - lit(84.6) * (col("n_syll").cast("double") / col("n_words")), 4)
            .as("flesch"))
        .orderBy("doc_id")
    }),
    "d68_domain_stats" -> ((s, d) => {
      // REGISTRABLE-domain (eTLD+1) aggregation under the public-suffix
      // algorithm (Urls.registrableDomain) — the per-domain key crawl
      // curation groups by (quotas, per-site dedup, spam screens). The
      // planted hosts exercise every branch: multi-label suffix beating
      // its parent ("co.uk"/"gov.uk" over "uk"), deep subdomains, a host
      // that IS a suffix (null), and an unlisted TLD (null). The oracle
      // replays the longest-suffix match and label slicing byte-for-byte.
      val id = col("doc_id")
      val sfx = Seq("com", "org", "io", "uk", "co.uk", "gov.uk")
      val k = id % 20
      val hosts = t(s, d, "documents").select(id,
        when(id % 31 === 0, lit("co.uk"))
          .when(id % 29 === 0, concat(lit("site"), k, lit(".xyz")))
          .when(id % 5 === 0, concat(lit("a.b.site"), k, lit(".co.uk")))
          .when(id % 5 === 1, concat(lit("www.site"), k, lit(".com")))
          .when(id % 5 === 2, concat(lit("deep.sub.site"), k, lit(".org")))
          .when(id % 5 === 3, concat(lit("site"), k, lit(".uk")))
          .otherwise(concat(lit("sub.site"), k, lit(".gov.uk"))).as("host"))
      hosts
        .select(id, graft.llm.Urls.registrableDomain(col("host"), sfx)
          .as("registrable"))
        .groupBy(coalesce(col("registrable"), lit("(none)")).as("domain"))
        .agg(count(lit(1)).as("n_docs"), min(id).as("first_doc"))
        .orderBy("domain")
    }),
    "d67_blocklist" -> ((s, d) => {
      // BLOCKLIST safety screen via the native single-pass Aho-Corasick
      // automaton (TextExpressions.AhoFirstMatch/AhoMatchCount): first
      // matching pattern in PRIORITY order + distinct-hit count, one byte
      // walk per document regardless of list size — K contains() scans
      // read the text K times and die at a real (1k-phrase) blocklist.
      // The oracle replays the contract as the equivalent CASE/position
      // chain, so automaton construction bugs (failure links, suffix
      // match inheritance, priority ties) break the hash. The list plants
      // overlapping patterns ("slow fast" vs "fast slow") and one absent
      // pattern (automaton state that never fires).
      val docs = t(s, d, "documents")
      val idx = graft.llm.TextAnalysis.blocklistFirstHit(col("text"), blocklistPats)
      val patArr = array(blocklistPats.map(lit): _*)
      docs.select(col("doc_id"),
          when(idx >= 0, element_at(patArr, idx + 1))
            .otherwise(lit("clean")).as("first_hit"),
          coalesce(graft.llm.TextAnalysis
            .blocklistHitCount(col("text"), blocklistPats).cast("long"),
            lit(0L)).as("n_hits"))
        .orderBy("doc_id")
    }),
    "d66_lm_perplexity" -> ((s, d) => {
      // LM-PERPLEXITY quality filtering (the CCNet shape): the d64
      // Kneser-Ney machinery trained on the even-keyed half, then USED —
      // odd-keyed docs scored by avg negative log-likelihood over matched
      // bigrams, with the OOV count as its own coverage signal. d64 gates
      // the model's numbers; this gates the train→score composition. The
      // model is vocab-bounded and broadcast; the fold order is pinned
      // (sorted (w1, w2)) and ROUND(,4) absorbs the ≤1-ulp ln divergence,
      // the d45/d50 entropy contract.
      val docs = t(s, d, "documents")
      val model = graft.llm.TextAnalysis.kneserNeyBigram(
        docs.filter(col("doc_id") % 2 === 0), "text",
        discount = 0.75, minCount = 2)
      graft.llm.TextAnalysis.kneserNeyPerplexity(
          docs.filter(col("doc_id") % 2 === 1), model)
        .orderBy("doc_id")
    }),
    "d64_kneser_ney" -> ((s, d) => {
      // Kneser-Ney smoothed bigram LM (TextAnalysis.kneserNeyBigram):
      // absolute discount D = 0.75 with CONTINUATION-count backoff —
      // the standard n-gram smoothing. All inputs are exact integer
      // counts, D is dyadic, and p_kn is one pinned IEEE op tree, so
      // the raw doubles hash bit-for-bit (no ROUND anywhere). Min
      // support 8 bounds the emitted pairs.
      graft.llm.TextAnalysis.kneserNeyBigram(
        t(s, d, "documents"), "text", discount = 0.75, minCount = 8)
    }),
    "d63_gopher_rules" -> ((s, d) => {
      // Gopher-style composite quality DECISIONS (TextAnalysis
      // .gopherRules): d02 scores signals, this ships accept/reject with
      // a first-failed-rule reason — word-count range, mean word length,
      // distinct-stopword floor, single-word repetition cap. Every
      // comparison is integer cross-multiplication, so the gate carries
      // no float contract at all. Thresholds sized to the corpus so all
      // reasons occur.
      graft.llm.TextAnalysis.gopherRules(t(s, d, "documents"))
        .orderBy("doc_id")
    }),
    "d62_wordpiece" -> ((s, d) => {
      // WordPiece tokenization (llm/WordPiece) against a FIXED shipped
      // vocab — greedy longest-match-first with ## continuations and
      // whole-word [UNK] on dead ends (no backtracking). BPE (d28)
      // LEARNS merges; this APPLIES a published vocab — the tokenize-
      // against-a-checkpoint shape. The vocab plants every branch:
      // longest-match preference, two-piece words, a mid-word dead-end
      // (sort), a no-first-piece word (dup). The oracle replays the
      // greedy walk as 4 unrolled LATERAL rounds (the d28 fixed-unroll
      // contract), so a match-order or continuation-prefix bug anywhere
      // breaks the hash.
      graft.llm.WordPiece.pieceCounts(
          t(s, d, "documents"), "text", wordpieceVocab)
        .orderBy("piece")
    }),
    "d28_bpe_merges" -> ((s, d) => {
      // distributed BPE merge learning, oracle-checked END TO END: six
      // training rounds (pair-count aggregate over the cached word-freq
      // table -> argmax rule -> greedy fold re-segmentation), replayed by
      // the DuckDB oracle as six unrolled CTE rounds. Ties break on the
      // pair string so the learned sequence is engine-independent.
      graft.llm.Bpe.learnMerges(t(s, d, "documents"), "text", numMerges = 6)
        .orderBy(col("merge_rank"))
    }),
    "d29_weighted_sample" -> ((s, d) => {
      // reproducible weighted sampling WITHOUT replacement (A-ES
      // exponential keys): 15 docs per language, inclusion probability
      // proportional to n_chars. u is a deterministic multiplicative-hash
      // uniform (exact dyadic arithmetic), so DuckDB draws the IDENTICAL
      // sample; the hash carries integers only (the ln ranking key is
      // engine-local — the d25 rule).
      Sampling.weightedSample(t(s, d, "documents"), col("doc_id"),
          Seq("lang"), col("n_chars"), k = 15)
        .select(col("lang"), col("doc_id"), col("n_chars"))
        .orderBy(col("lang"), col("doc_id"))
    }),
    "d33_winnow_edit_verify" -> ((s, d) => {
      // candidate → verify: d30's winnow candidates verified by exact edit
      // distance on the normalized text (dist ≤ 25% of the longer doc).
      // Levenshtein is unit-cost integer in both engines — hash-safe; the
      // O(len²) DP runs on candidate pairs ONLY, never all pairs.
      val docs = t(s, d, "documents")
      val cl = docs.select(col("doc_id"),
        regexp_replace(lower(col("text")), "[^a-z0-9]", "").as("s"))
      Dedup.winnowPairs(docs, "doc_id", k = 16, w = 4, minShared = 3)
        .join(cl.select(col("doc_id").as("id_a"), col("s").as("__sa")), Seq("id_a"))
        .join(cl.select(col("doc_id").as("id_b"), col("s").as("__sb")), Seq("id_b"))
        .withColumn("edit_dist", levenshtein(col("__sa"), col("__sb")))
        .withColumn("verified",
          col("edit_dist") * 4 <= greatest(length(col("__sa")), length(col("__sb"))))
        .select("id_a", "id_b", "n_shared", "edit_dist", "verified")
        .orderBy(col("id_a"), col("id_b"))
    }),
    "d37_importance_rank" -> ((s, d) => {
      // DSIR-flavored hashed-feature importance ranking
      // (Sampling.hashedImportanceTopK): 4096 md5-prefix token buckets,
      // target = lang='en', per-doc target/raw mass ratio as the score —
      // both masses exact integers, score one IEEE divide, so the top-100
      // (score desc, doc_id) selection is engine-deterministic. One
      // bounded bucket-stats broadcast + doc-keyed sums + TakeOrdered.
      graft.llm.Sampling.hashedImportanceTopK(t(s, d, "documents"),
        "doc_id", "text", isTarget = col("lang") === "en", k = 100)
    }),
    "d38_bm25" -> ((s, d) => {
      // BM25 top-5 retrieval per query (TextAnalysis.bm25TopK). Query
      // terms are chosen with pairwise-DISTINCT document frequencies, so
      // symmetric tf swaps can't produce exact score ties; the hash
      // carries the selection + exact integer inputs (tf_sum, dl), not
      // the ln-carrying score (the d25 rule).
      import s.implicits._
      val qs = Seq(
        ("q1", Seq("spark", "join")),
        ("q2", Seq("hash", "window", "dup")),
        ("q3", Seq("vector", "stream")),
        ("q4", Seq("batch", "sort", "key")),
        ("q5", Seq("dup", "merge"))).toDF("query_id", "terms")
      TextAnalysis.bm25TopK(t(s, d, "documents"), qs, k = 5)
        .select(col("query_id"), col("rank"), col("doc_id"), col("tf_sum"), col("dl"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "d39_bigram_lm" -> ((s, d) => {
      // Bigram-LM quality scoring (KenLM-style perplexity filter,
      // TextAnalysis.bigramLmScore): add-1-smoothed bigram model trained
      // on the corpus itself, per-doc average negative log-likelihood.
      // Per-doc logp terms fold in position order (deterministic double
      // sum); the ln ulps survive ROUND(,4) — boundary flips need the
      // true value within 1e-14 of a rounding edge.
      TextAnalysis.bigramLmScore(t(s, d, "documents"))
        .select(col("doc_id"), col("n_bigrams"),
          round(col("avg_nll"), 4).as("avg_nll"))
        .orderBy(col("doc_id"))
    }),
    "d40_span_dedup" -> ((s, d) => {
      // corpus-level EXACT span dedup WITH text reconstruction
      // (Dedup.removeDuplicateSpans, Lee et al. 2022 direction at 5-token
      // chunk granularity): d24 finds repeated spans, this removes every
      // non-first occurrence and reassembles the surviving text. One
      // chunk-keyed min-agg for the global first occurrence + one id-keyed
      // rebuild — strings and integers only, fully hash-checked.
      Dedup.removeDuplicateSpans(t(s, d, "documents"), "doc_id",
          chunkTokens = 5)
        .orderBy("doc_id")
    }),
    "d41_boilerplate_strip" -> ((s, d) => {
      // CCNet-style boilerplate strip (Dedup.stripBoilerplateSpans):
      // remove ALL occurrences of any 5-token chunk present in >= 3
      // distinct docs (cross-crawl repeated content), keep everything
      // else. df threshold is exact count-distinct here so the oracle can
      // replay it; the operator degrades to approx_count_distinct at
      // corpus scale.
      Dedup.stripBoilerplateSpans(t(s, d, "documents"), "doc_id",
          chunkTokens = 5, minDocFrequency = 3)
        .orderBy("doc_id")
    }),
    "d42_stream_boilerplate" -> ((s, d) => {
      // STREAMING BOILERPLATE STRIP (Streaming.boilerplateStripStream):
      // documents arrive in 3 microbatches; each folds its per-chunk
      // distinct-doc counts into the versioned df map (additive — every
      // doc is in exactly one batch) and stores its chunk occurrences.
      // The strip is NON-CAUSAL (a chunk may cross the df threshold
      // after its first doc streamed), so the convergent artifact is the
      // VIEW over the final map — which must equal d41's one-shot batch
      // strip; d42 shares d41's SQL oracle verbatim.
      val (stream, root) = docsThreeDropStream(s, d)
      graft.streaming.Streaming.boilerplateStripStream(
          stream, s"$root/state", s"$root/ckpt")
        .awaitTermination()
      graft.streaming.Streaming.boilerplateStripView(
          s, s"$root/state", minDocFrequency = 3)
        .orderBy("doc_id")
    }),
    "d82_csv_gzip_roundtrip" -> ((s, d) => {
      // gzip-compressed CSV round-trip — the third interchange surface
      // (d52 JSONL, d54 ORC): the corpus writes as quoted CSV with the
      // gzip codec and reads back schema-first through the compressed
      // text path (the splittability trade is the documented cost:
      // one gzip member = one task — at 100 TB you shard into many
      // .csv.gz files, which the partitioned write does). Same checksum
      // gate and shared oracle as d52 — a quoting/escaping/codec bug
      // anywhere breaks the per-(lang, source) md5-distinct count.
      import org.apache.spark.sql.types._
      val root = graft.util.TempDirs.scratch("d82")
      t(s, d, "documents").write.mode("overwrite")
        .option("header", "true").option("compression", "gzip")
        .csv(s"$root/csvgz")
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      // multiLine: quoted text with an embedded newline must parse back
      // as one row (without it the roundtrip silently splits such rows);
      // costs per-file parallelism only inside this read — and a .gz
      // member is one task anyway
      s.read.schema(schema).option("header", "true")
        .option("multiLine", "true").csv(s"$root/csvgz")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("sum_len"),
          countDistinct(md5(col("text"))).as("n_distinct"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy("lang", "source")
    }),
    "d52_jsonl_roundtrip" -> ((s, d) => {
      // JSONL io round-trip — the interchange format training pipelines
      // actually move documents in. The corpus writes as JSON Lines and
      // reads back with an explicit schema; the gate aggregates the
      // READ-BACK rows (counts, exact char sums, distinct text md5s per
      // (lang, source)) while the oracle computes the same over the
      // parquet source — any escaping/encoding corruption in the
      // round-trip breaks the md5-distinct count. Schema-on-read, narrow
      // writes, partition-parallel: the plumbing is the real multi-TB
      // export path.
      import org.apache.spark.sql.types._
      val root = graft.util.TempDirs.scratch("d52")
      t(s, d, "documents").write.mode("overwrite").json(s"$root/jsonl")
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      s.read.schema(schema).json(s"$root/jsonl")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("sum_len"),
          countDistinct(md5(col("text"))).as("n_distinct"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy("lang", "source")
    }),
    "d54_orc_roundtrip" -> ((s, d) => {
      // ORC io round-trip — the other columnar interchange format Spark
      // ships natively. Same checksum gate (and shared oracle) as d52's
      // JSONL: corruption anywhere in the write/read path breaks the
      // per-(lang, source) md5-distinct count.
      val root = graft.util.TempDirs.scratch("d54")
      t(s, d, "documents").write.mode("overwrite").orc(s"$root/orc")
      s.read.orc(s"$root/orc")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("sum_len"),
          countDistinct(md5(col("text"))).as("n_distinct"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy("lang", "source")
    }),
    "d55_jaro_winkler" -> ((s, d) => {
      // Jaro-Winkler field similarity (native codegen'd expression,
      // TextExpressions.JaroWinkler) over blocked key pairs + the
      // canonical literature fixtures (martha/marhta 0.9611,
      // dixon/dicksonx 0.8133, the sub-0.7 no-boost case, the
      // window-excluded 'ab'/'ba' 0.0). The oracle replays every score
      // with DuckDB's jaro_winkler_similarity at 4 dp — match window,
      // transposition halving and the 0.7 boost gate must all agree.
      import s.implicits._
      // each canonical pair shares a residue mod 37 (e.g. -1 and -38) so
      // the blocking join actually forms it; negative residues never
      // collide with the real docs' 0..36
      val fixture = Seq(
        (-1L, "martha"), (-38L, "marhta"), (-2L, "dwayne"), (-39L, "duane"),
        (-3L, "dixon"), (-40L, "dicksonx"), (-4L, "aXXXX"), (-41L, "aYYYY"),
        (-5L, "ab"), (-42L, "ba")).toDF("doc_id", "key")
      val keys = t(s, d, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 12).as("key"))
        .unionByName(fixture)
      def side(p: String) = keys.select(col("doc_id").as(s"id_$p"),
        col("key").as(s"k_$p"))
      side("a").join(side("b"),
          col("id_a") % 37 === col("id_b") % 37 && col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(TextAnalysis.jaroWinkler(col("k_a"), col("k_b")), 4).as("jw"))
        .orderBy("id_a", "id_b")
    }),
    "s22_stream_pmi" -> ((s, d) => {
      // STREAMING PMI: the (w1, w2) bigram counts run as an UPDATE-mode
      // stateful aggregation over the documents stream; each microbatch
      // emits only the pairs it touched (the production drift signal),
      // and the converged counts are read ONCE from the checkpoint's
      // state store at the end (Streaming.runAvailableNowUpdateFinalState
      // — Spark's statestore data source). Emission is therefore bounded
      // by batch content, not vocabulary; the state itself is still
      // O(distinct pairs), so batch d57 remains the 100 TB scale path and
      // this stream is the incremental monitor. N and the margins n1/n2
      // DERIVE from the final pair-count state, so the converged
      // collocation scores equal batch d57 exactly — shared oracle
      // verbatim.
      import org.apache.spark.sql.types._
      val ss = graft.streaming.Streaming.statefulSession(s)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val stream = graft.streaming.Streaming.availableNowFileStream(
        ss, d, schema, glob = Some("documents.parquet"))
      // token array as an attribute BEFORE the lambda (the d64 lesson:
      // an inlined tokens() re-runs the regex split per element_at)
      val counts = stream
        .select(TextAnalysis.tokens(col("text")).as("__ts"))
        .filter(size(col("__ts")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("__ts")) - 1), i =>
          struct(element_at(col("__ts"), i).as("w1"),
            element_at(col("__ts"), i + 1).as("w2")))).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("n12"))
      val ckpt = graft.util.TempDirs.scratch("s22ck")
      val st = graft.streaming.Streaming.runAvailableNowUpdateFinalState(
          counts, s"s22_pmi_${System.nanoTime()}", ckpt)
        .select(col("key.w1").as("w1"), col("key.w2").as("w2"),
          col("value.count").as("n12"))
        .localCheckpoint()
      val n = st.agg(sum(col("n12"))).head().getLong(0)
      val c1 = st.groupBy("w1").agg(sum(col("n12")).as("n1"))
      val c2 = st.groupBy("w2").agg(sum(col("n12")).as("n2"))
      st.filter(col("n12") >= 10)
        .join(c1, "w1").join(c2, "w2")
        .select(col("w1"), col("w2"), col("n12"),
          round(log(col("n12").cast("double") * lit(n.toDouble) /
            (col("n1").cast("double") * col("n2"))), 4).as("pmi"))
        .orderBy("w1", "w2")
    }),
    "d57_pmi_collocations" -> ((s, d) => {
      // pointwise mutual information for adjacent-token collocations —
      // the classic corpus-linguistics keyness score: PMI =
      // ln(n12 · N / (n1 · n2)) over bigram occurrence counts, min
      // support 10. Exact integer counts, one ln per surviving pair in
      // a pinned operand order, ROUND(,4) — the bigram-LM portability
      // contract. Two token-keyed aggs + two equi-joins, map-side
      // combinable throughout.
      // token array as an attribute BEFORE the lambda (the d64 lesson)
      val big = t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(TextAnalysis.tokens(col("text")).as("__ts"))
        .filter(size(col("__ts")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("__ts")) - 1), i =>
          struct(element_at(col("__ts"), i).as("w1"),
            element_at(col("__ts"), i + 1).as("w2")))).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .localCheckpoint()
      val n = big.count()
      val c12 = big.groupBy("w1", "w2").agg(count(lit(1)).as("n12"))
      val c1 = big.groupBy("w1").agg(count(lit(1)).as("n1"))
      val c2 = big.groupBy("w2").agg(count(lit(1)).as("n2"))
      c12.filter(col("n12") >= 10)
        .join(c1, "w1").join(c2, "w2")
        .select(col("w1"), col("w2"), col("n12"),
          round(log(col("n12").cast("double") * lit(n.toDouble) /
            (col("n1").cast("double") * col("n2"))), 4).as("pmi"))
        .orderBy("w1", "w2")
    }),
    "d58_keyness_g2" -> ((s, d) => {
      // log-likelihood keyness (Dunning's G²) per (source, token) vs the
      // rest of the corpus — the classic "what words characterize this
      // source" comparison: G² = 2·(a·ln(a·N/(n_s·ct)) +
      // b·ln(b·N/(n_r·ct))) with a/b the in/out-of-source counts and ct
      // the token's corpus count; zero-count terms contribute 0. Exact
      // integer counts, two ln's per row in pinned operand order,
      // ROUND(,4). Min corpus support 50 keeps the output stable.
      val docs = t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      val counts = docs
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("a"))
        .localCheckpoint()
      val colT = counts.groupBy("w").agg(sum(col("a")).as("ct"))
      val rowT = counts.groupBy("source").agg(sum(col("a")).as("ns"))
      val n = counts.agg(sum(col("a"))).head().getLong(0)
      counts.join(colT, "w").join(rowT, "source")
        .filter(col("ct") >= 50)
        .select(col("source"), col("w"), col("a"),
          (col("ct") - col("a")).as("b"),
          round((
            col("a").cast("double") * log(col("a").cast("double") * lit(n.toDouble) /
              (col("ns").cast("double") * col("ct"))) +
            when(col("ct") - col("a") > 0,
              (col("ct") - col("a")).cast("double") *
                log((col("ct") - col("a")).cast("double") * lit(n.toDouble) /
                  ((lit(n) - col("ns")).cast("double") * col("ct"))))
              .otherwise(lit(0.0))) * 2, 4).as("g2"))
        .orderBy("source", "w")
    }),
    "d51_normalize_text" -> ((s, d) => {
      // canonical corpus normalization (NFC -> strip accents -> casefold
      // -> collapse whitespace) as a NATIVE codegen'd expression
      // (TextExpressions.NormalizeText). The planted fixture rows carry
      // combining marks, precomposed accents, tabs and edge whitespace;
      // the ASCII documents corpus runs through the same pipeline at
      // volume. The oracle replays the identical pipeline with DuckDB's
      // nfc_normalize/strip_accents — byte equality IS the check.
      import s.implicits._
      val fixture = Seq(
        (-1L, "Café  du  Monde"),
        (-2L, "Ángel Ñoño"),
        (-3L, "ZÜRICH\tnaïve côte"),
        (-4L, "  Façade år  "),
        (-5L, "plain ascii text")).toDF("doc_id", "text")
      t(s, d, "documents").select(col("doc_id"), col("text"))
        .unionByName(fixture)
        .select(col("doc_id"),
          graft.llm.TextAnalysis.normalizeText(col("text")).as("norm_text"))
        .orderBy("doc_id")
    }),
    "d48_novelty" -> ((s, d) => {
      // per-doc NOVELTY score (curriculum / crawl-dedup signal): the
      // fraction of a doc's distinct bigrams whose corpus-wide FIRST
      // occurrence (min doc_id) is this doc — 1.0 = all-new content,
      // 0.0 = everything seen before. One per-doc distinct explode, one
      // gram-keyed min-agg (map-side combinable), one id-keyed rollup;
      // counts exact, novelty one IEEE divide.
      // spread + materialize ONCE: grams feed both the first-occurrence
      // agg and the join back (the d44 lesson — without this the explode
      // runs twice, single-threaded off the one-partition parquet); token
      // array as an attribute BEFORE the lambda (the d64 lesson)
      val grams = t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__ts"))
        .filter(size(col("__ts")) >= 2)
        .select(col("doc_id"), explode(array_distinct(
          transform(sequence(lit(1), size(col("__ts")) - 1), i =>
            concat_ws(" ", element_at(col("__ts"), i), element_at(col("__ts"), i + 1)))))
          .as("gram"))
        .localCheckpoint()
      val fo = grams.groupBy("gram").agg(min(col("doc_id")).as("first_doc"))
      grams.join(fo, "gram")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          (col("n_novel").cast("double") / col("n_grams")).as("novelty"))
        .orderBy("doc_id")
    }),
    "d50_jsd_drift" -> ((s, d) => {
      // pairwise Jensen-Shannon divergence between every source pair's
      // unigram distribution (TextAnalysis.jensenShannon) — the bounded
      // symmetric drift metric s17's entropy monitor escalates to when a
      // source shifts. Ordered per-token folds + ROUND(,4) make the
      // doubles portable (the d39/d45 contract).
      val counts = t(s, d, "documents")
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
      TextAnalysis.jensenShannon(counts).orderBy("g_a", "g_b")
    }),
    "d49_pair_metrics" -> ((s, d) => {
      // blocking-evaluation harness (Dedup.pairMetrics): two independent
      // blocking schemes — (lang, n_chars%7) candidates vs
      // (source, n_chars%5) "truth" — scored as tp/fp/fn + precision/
      // recall from one full-outer pair join. The arithmetic and the
      // canonicalization (unordered, deduped, self-pairs dropped) are
      // what's gated; DedupSpec exercises the real LSH-vs-bruteforce use.
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      def block(keys: Seq[Column]) = {
        val a = docs.select(col("doc_id").as("id_a"),
          struct(keys: _*).as("__k"))
        val b = docs.select(col("doc_id").as("id_b"),
          struct(keys: _*).as("__k"))
        a.join(b, Seq("__k")).filter(col("id_a") < col("id_b"))
          .select("id_a", "id_b")
      }
      Dedup.pairMetrics(
        block(Seq(col("lang"), (col("n_chars") % 7).as("m"))),
        block(Seq(col("source"), (col("n_chars") % 5).as("m"))))
    }),
    "s21_stream_pipeline_e2e" -> ((s, d) => {
      // STREAMED END-TO-END PIPELINE: d47's composition with its heavy
      // first stage — corpus span dedup — run as the s16 ingest stream
      // (3 ascending-doc_id drops probing the persisted seen-chunk
      // index) and the downstream (survival-quality gate → token
      // recount → per-lang packing) applied over the CONVERGED corpus.
      // Shares d47's oracle VERBATIM: streamed span dedup ≡ d40's batch
      // result (the s16 contract) and every later stage is a
      // deterministic function of the converged corpus.
      val (stream, root) = docsThreeDropStream(s, d)
      graft.streaming.Streaming.spanDedupIngestStream(
          stream, s"$root/index", s"$root/ckpt", compactAfterDirs = 1)(
          (clean, bid) => clean.write.mode("overwrite")
            .parquet(s"$root/out/batch=$bid"))
        .awaitTermination()
      val kept = s.read.parquet(s"$root/out")
        .filter(col("n_removed") * 2 <= col("n_chunks") &&
          col("clean_text") =!= "")
        .withColumn("n_tokens", size(TextAnalysis.tokens(col("clean_text"))))
        .join(t(s, d, "documents").select(col("doc_id"), col("lang")), "doc_id")
      Sampling.seqPack(kept, Seq("lang"), "doc_id", "n_tokens",
          capacity = 256L)
        .groupBy(col("lang"), col("bin_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("bin_tokens"))
        .orderBy(col("lang"), col("bin_id"))
    }),
    "d47_pipeline_e2e" -> ((s, d) => {
      // END-TO-END PRETRAINING DATA PIPELINE — the composition a user of
      // this library ships: corpus-level exact span dedup (d40) →
      // survival-quality gate (keep docs retaining at least half their
      // chunks, drop fully-deduped residue) → token recount of the
      // CLEANED text → per-language token-budget packing (d12's greedy
      // contiguous bins). Every stage is individually oracle-green; this
      // row proves the COMPOSITION against one independent SQL replay.
      val cleaned = Dedup.removeDuplicateSpans(t(s, d, "documents"),
        "doc_id", chunkTokens = 5)
      val kept = cleaned
        .filter(col("n_removed") * 2 <= col("n_chunks") &&
          col("clean_text") =!= "")
        .withColumn("n_tokens", size(TextAnalysis.tokens(col("clean_text"))))
        .join(t(s, d, "documents").select(col("doc_id"), col("lang")), "doc_id")
      Sampling.seqPack(kept, Seq("lang"), "doc_id", "n_tokens",
          capacity = 256L)
        .groupBy(col("lang"), col("bin_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("bin_tokens"))
        .orderBy(col("lang"), col("bin_id"))
    }),
    "d46_leakfree_split" -> ((s, d) => {
      // LEAKAGE-FREE train/test split: a near-dup of a training doc in
      // the eval set leaks the answer, so the split unit is the CONNECTED
      // COMPONENT of the near-dup graph, not the document — every member
      // inherits its component's side. Side = first md5 hex digit of the
      // component id (< '8' ⇒ train, ~50/50, portable); singletons are
      // their own component. Composition of oracle-green pieces: d19's
      // pair pipeline + d20's CC + d11's hash-split rule.
      val docs = t(s, d, "documents").filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"))
      val pairs = minhashSqlPairs(s, d).select(col("id_a"), col("id_b"))
      val comp = graft.ops.ConnectedComponents.labels(pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("component"))
      docs.join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"))
        .withColumn("split",
          when(substring(md5(col("component").cast("string")), 1, 1) < "8",
            "train").otherwise("test"))
        .orderBy("doc_id")
    }),
    "d43_linkage_scores" -> ((s, d) => {
      // Fellegi-Sunter record-linkage scoring (Dedup.linkageScores) on
      // (lang, n_chars%17)-blocked pairs: per-field agreement bits, an
      // additive QUANTIZED-integer log-likelihood score, and the 1969
      // three-way link/possible/non-link decision. Integer weights make
      // the whole result exact, so score and decision both hash-check.
      import graft.llm.Dedup.LinkageRule
      // tokenize ONCE per doc (the d53 lesson): short first_token through
      // the pair join instead of the whole text payload
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          element_at(TextAnalysis.tokens(col("text")), 1).as("first_token"))
      Dedup.linkageScores(blockedDocPairs(docs), docs, "doc_id", Seq(
          LinkageRule("same_source",
            col("source_a") === col("source_b"), 24L, -8L),
          LinkageRule("close_length",
            abs(col("n_chars_a") - col("n_chars_b")) <= 5, 11L, -5L),
          LinkageRule("first_token",
            col("first_token_a") === col("first_token_b"), 6L, -2L)),
        upperThreshold = 20L, lowerThreshold = 0L)
        .orderBy("id_a", "id_b")
    }),
    "d53_er_e2e" -> ((s, d) => {
      // ENTITY-RESOLUTION E2E COMPOSITION GATE — the linkage-side twin
      // of d47's corpus gate: blocking (d43's (lang, n_chars%17)) →
      // Fellegi-Sunter scoring (d43's integer rules) → keep only
      // decision='link' → transitive closure + survivorship
      // (d36's goldenRecords). Every stage exact, so the composed
      // clusters, lineage and survivors all hash-check against one
      // recursive-CTE oracle.
      import graft.llm.Dedup.LinkageRule
      // tokenize ONCE per doc, not once per pair side: the pair join then
      // carries a short first_token instead of the whole text payload
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          element_at(TextAnalysis.tokens(col("text")), 1).as("first_token"))
      val links = Dedup.linkageScores(blockedDocPairs(docs), docs, "doc_id", Seq(
          LinkageRule("same_source",
            col("source_a") === col("source_b"), 24L, -8L),
          LinkageRule("close_length",
            abs(col("n_chars_a") - col("n_chars_b")) <= 5, 11L, -5L),
          LinkageRule("first_token",
            col("first_token_a") === col("first_token_b"), 6L, -2L)),
          upperThreshold = 20L, lowerThreshold = 0L)
        .filter(col("decision") === "link")
        .select("id_a", "id_b")
      Dedup.goldenRecords(docs.drop("first_token"), "doc_id", links,
          survivorOrder = Seq(col("n_chars").desc, col("doc_id")))
        .select(col("cluster_id"), col("n_members"),
          concat_ws(",", col("member_ids").cast("array<string>")).as("member_ids"),
          col("doc_id").as("canonical_id"), col("lang"), col("source"),
          col("n_chars"))
        .orderBy("cluster_id")
    }),
    "d56_fuzzy_linkage" -> ((s, d) => {
      // the d55 comparator composed into Fellegi-Sunter: agreement on a
      // jaro_winkler >= 0.9 match of the 12-char text prefix replaces
      // exact equality — the fuzzy-name-match shape real ER runs on.
      // Scores stay quantized integers so the gate is exact; the oracle
      // replays the JW threshold with DuckDB's own function (the d55
      // byte-compatibility is what makes the threshold portable).
      import graft.llm.Dedup.LinkageRule
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          substring(col("text"), 1, 12).as("prefix"))
      Dedup.linkageScores(blockedDocPairs(docs), docs, "doc_id", Seq(
          LinkageRule("same_source",
            col("source_a") === col("source_b"), 24L, -8L),
          LinkageRule("fuzzy_prefix",
            // threshold on the 4-dp ROUNDED score: d55 certifies the two
            // engines agree at 4 dp, so the comparison is portable even
            // when the raw doubles differ by an ulp at the boundary
            round(TextAnalysis.jaroWinkler(col("prefix_a"), col("prefix_b")), 4) >= 0.9,
            13L, -4L)),
          upperThreshold = 30L, lowerThreshold = 5L)
        .orderBy("id_a", "id_b")
    }),
    "d44_source_containment" -> ((s, d) => {
      // cross-source shingle CONTAINMENT (|A∩B|/|A|, the asymmetric
      // leakage measure) over distinct token bigrams per source
      // (Dedup.sourceShingleContainment). Exact counts + one IEEE divide
      // — fully hash-checked; the 100 TB path swaps the exact distinct
      // sets for q53's KMV sketches with the same output schema.
      Dedup.sourceShingleContainment(t(s, d, "documents"), "source")
        .orderBy("source_a", "source_b")
    }),
    "d45_source_entropy" -> ((s, d) => {
      // corpus diversity metrics per source (TextAnalysis.unigramEntropy):
      // Shannon entropy over the unigram distribution + exact type-token
      // ratio. The s17 streaming twin derives the same metrics from the
      // state store's final counts and shares this oracle.
      val counts = t(s, d, "documents")
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
      TextAnalysis.unigramEntropy(counts).orderBy("source")
    }),
    "s17_stream_entropy" -> ((s, d) => {
      // STREAMING ENTROPY DRIFT MONITOR: the (source, token) counts run as
      // a stateful streaming aggregation (complete mode — the s11 heavy-
      // hitter pattern); entropy/ttr derive from the FINAL state, so the
      // converged metrics equal batch d45 exactly (shared oracle). In
      // production the per-batch emission of the same metrics is the
      // corpus drift signal.
      import org.apache.spark.sql.types._
      val ss = graft.streaming.Streaming.statefulSession(s)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val stream = graft.streaming.Streaming.availableNowFileStream(
        ss, d, schema, glob = Some("documents.parquet"))
      val counts = stream
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
      val finalCounts = graft.streaming.Streaming.runAvailableNow(
        counts, s"s17_entropy_${System.nanoTime()}", outputMode = "complete")
      // unigramEntropy checkpoints its input internally — which also
      // breaks the memory-sink view's identical attribute ids that would
      // otherwise make its internal self-join ambiguous
      TextAnalysis.unigramEntropy(finalCounts).orderBy("source")
    }),
    "d36_golden_records" -> ((s, d) => {
      // ENTITY CONSOLIDATION (Dedup.goldenRecords): two overlapping
      // blockings — (lang, n_chars%101) and (source, n_chars%23) — chain
      // into transitive match clusters (CC closure); each cluster
      // collapses to its survivor (longest doc, ties min id) with lineage
      // (member count + sorted member ids). The oracle replays the
      // closure with a recursive CTE and the same survivorship window —
      // cluster formation, singleton handling, and survivor choice all
      // hash-checked.
      val docs = t(s, d, "documents").filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      def side(p: String) = docs.select(col("doc_id").as(s"${p}_id"),
        col("lang").as(s"${p}_lang"), col("source").as(s"${p}_source"),
        col("n_chars").as(s"${p}_nc"))
      val pa = side("a").join(side("b"),
          col("a_lang") === col("b_lang") &&
            col("a_nc") % 101 === col("b_nc") % 101 && col("a_id") < col("b_id"))
        .select(col("a_id").as("id_a"), col("b_id").as("id_b"))
      val pb = side("a").join(side("b"),
          col("a_source") === col("b_source") &&
            col("a_nc") % 23 === col("b_nc") % 23 && col("a_id") < col("b_id"))
        .select(col("a_id").as("id_a"), col("b_id").as("id_b"))
      Dedup.goldenRecords(docs, "doc_id", pa.unionByName(pb),
          survivorOrder = Seq(col("n_chars").desc, col("doc_id")))
        .select(col("cluster_id"), col("n_members"),
          // comma-joined string, not array<long>: the driver's pandas
          // canonicalizer cannot sort rows on an array-typed column
          concat_ws(",", col("member_ids").cast("array<string>")).as("member_ids"),
          col("doc_id").as("canonical_id"), col("lang"), col("source"),
          col("n_chars"))
        .orderBy("cluster_id")
    }),
    "d34_sorted_neighborhood" -> ((s, d) => {
      // sorted-neighborhood blocking (Merge/Purge): one range-partitioned
      // sort by a 20-char text-prefix key, pairs only within a 4-row
      // window (O(n*w) candidates), exact bigram-Jaccard >= 0.5 verify in
      // integer arithmetic. Near-dups share prefixes, so the positional
      // window finds them without signatures — the record-linkage
      // complement to d04's LSH blocking.
      // a small parquet arrives as ONE partition — spread BEFORE the gram
      // build, or the interpreted bigram transform runs single-threaded
      // when the checkpoint materializes it (count() never showed it: the
      // column gets pruned)
      val docs = t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      // token array as an attribute BEFORE the lambda (the d64 lesson)
      val grams = docs
        .select(col("doc_id"), substring(col("text"), 1, 20).as("bkey"),
          TextAnalysis.tokens(col("text")).as("__ts"))
        .filter(size(col("__ts")) >= 2)
        .select(col("doc_id"), col("bkey"),
          transform(sequence(lit(1), size(col("__ts")) - 1), i =>
            concat_ws(" ", element_at(col("__ts"), i), element_at(col("__ts"), i + 1))).as("grams"))
      Dedup.sortedNeighborhoodPairs(grams, "doc_id", col("bkey"), "grams",
          window = 4, minJaccard = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }),
    "d32_setsim_join" -> ((s, d) => {
      // EXACT set-similarity self-join (AllPairs prefix filtering): every
      // doc pair with TRIgram-Jaccard >= 0.5, no all-pairs pass, no
      // approximation — the oracle recomputes it brute-force, so the gate
      // also proves the candidate pruning is lossless. Trigrams, not
      // bigrams, deliberately: prefix filtering is only as strong as the
      // token space is discriminative — on this corpus's ~30-word
      // vocabulary the ~900 possible bigrams put thousands of docs in each
      // rare-prefix bucket (16.5M candidate pairs at sf0.1); the ~27k
      // observed trigrams cut that 38x (430k) with the same operator.
      val grams = t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("ts"))
        .filter(size(col("ts")) >= 3)
        // ts is already an attribute here, so the lambda reads are cheap
        .select(col("doc_id"), transform(sequence(lit(1), size(col("ts")) - 2), i =>
          concat_ws(" ", element_at(col("ts"), i), element_at(col("ts"), i + 1),
            element_at(col("ts"), i + 2))).as("grams"))
      Dedup.setSimilarityJoin(grams, "doc_id", "grams", minJaccard = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }),
    "s10_stream_funnel" -> ((s, d) => {
      // q47's ordered funnel as CUSTOM KEYED STATE on the stream: a 3-step
      // state machine per user (flatMapGroupsWithState, Update mode),
      // advanced in event-time order; the most-progressed row per user is
      // the final state. Same oracle SQL as q47.
      val ss = graft.streaming.Streaming.statefulSession(s)
      import ss.implicits._
      val ev = eventsStream(ss, d)
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
        .as[graft.streaming.Streaming.FunnelEvent]
      val out = graft.streaming.Streaming.runAvailableNow(
        graft.streaming.Streaming.funnelStream(ev, Seq("view", "click", "purchase")),
        s"s10_funnel_${System.nanoTime()}", outputMode = "update")
      val w = Window.partitionBy("user_id").orderBy(col("t3").desc_nulls_last,
        col("t2").desc_nulls_last, col("t1").desc_nulls_last)
      out.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
        .filter(col("t1").isNotNull)
        .withColumn("converted",
          coalesce(col("t3") - col("t1") <= 604800000000L, lit(false)))
        .orderBy(col("user_id"))
    }),
    "q47_funnel" -> ((s, d) => {
      // ordered funnel (view → click → purchase within 7 days): three
      // successive min-after-predecessor aggregates; each stage is a keyed
      // agg + broadcastable join on the shrinking user set. Timestamps
      // emitted as epoch micros (exact integer bridge to the oracle).
      val ev = t(s, d, "events").select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("us").as("t1"))
      val s2 = ev.filter(col("event_type") === "click").join(s1, "user_id")
        .filter(col("us") > col("t1"))
        .groupBy("user_id").agg(min("us").as("t2"))
      val s3 = ev.filter(col("event_type") === "purchase").join(s2, "user_id")
        .filter(col("us") > col("t2"))
        .groupBy("user_id").agg(min("us").as("t3"))
      s1.join(s2, Seq("user_id"), "left").join(s3, Seq("user_id"), "left")
        .withColumn("converted",
          coalesce(col("t3") - col("t1") <= 604800000000L, lit(false)))
        .orderBy(col("user_id"))
    }),
    "q48_cohort_retention" -> ((s, d) => {
      // cohort retention triangle: cohort = week of first event, offset =
      // event week − cohort week, cell = distinct active users. Two keyed
      // aggs; the first-event table is user-sized and broadcast back.
      val ev = t(s, d, "events").select(col("user_id"),
        expr("(unix_micros(ts) - 1704067200000000) div 604800000000").as("week"))
      val cohorts = ev.groupBy("user_id").agg(min("week").as("cohort_week"))
      ev.join(cohorts, "user_id")
        .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("offset_week"))
        .agg(count_distinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_week"), col("offset_week"))
    }),
    "q49_resample_locf" -> ((s, d) => {
      // time-series resampling to a per-user daily grid with last-
      // observation-carried-forward: per-(user, day) latest value (one
      // window), per-user day grid (sequence + explode — narrow), LOCF via
      // last(ignoreNulls) over the ordered grid. Values are carried
      // verbatim (no float arithmetic) — hash-safe.
      val ev = t(s, d, "events").select(col("user_id"), col("event_id"),
        col("value"), unix_micros(col("ts")).as("us"),
        expr("unix_micros(ts) div 86400000000").as("d"))
      val wLast = Window.partitionBy("user_id", "d")
        .orderBy(col("us").desc, col("event_id").desc)
      val perDay = ev.withColumn("__rn", row_number().over(wLast))
        .filter(col("__rn") === 1).select(col("user_id"), col("d"), col("value"))
      val grid = ev.groupBy("user_id")
        .agg(min("d").as("d0"), max("d").as("d1"))
        .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("d"))
      val wLocf = Window.partitionBy("user_id").orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
      grid.join(perDay, Seq("user_id", "d"), "left")
        .withColumn("locf_value", last(col("value"), ignoreNulls = true).over(wLocf))
        .select(col("user_id"), col("d").as("day"), col("locf_value"))
        .orderBy(col("user_id"), col("day"))
    }),
    "d31_inverted_index" -> ((s, d) => {
      // distributed inverted-index build (the IR/retrieval core): token →
      // document frequency + sorted posting list. Narrow per-doc distinct
      // explode → ONE hash aggregate; at 100 TB postings for stopword-like
      // tokens are the skew risk, hence the df band filter (and a bucketed
      // writer would range-partition on token).
      t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("ts"))
        .filter(size(col("ts")) >= 2)
        .select(col("doc_id"), explode(array_distinct(
          transform(sequence(lit(1), size(col("ts")) - 1), i =>
            concat_ws(" ", element_at(col("ts"), i), element_at(col("ts"), i + 1)))))
          .as("gram"))
        .groupBy("gram")
        // postings as a comma-joined string, not array<long>: the driver's
        // pandas canonicalizer cannot sort rows on an array-typed column
        .agg(count(lit(1)).as("df"),
          concat_ws(",", sort_array(collect_set(col("doc_id"))).cast("array<string>"))
            .as("postings"))
        .filter(col("df").between(3, 40))
        .orderBy(col("gram"))
    }),
    "s12_stream_ivm" -> ((s, d) => {
      // STREAMING IVM (Streaming.ivmRefreshStream): q51's change set
      // arrives in 3 microbatches; each merges into the persisted
      // materialized view via Ivm.refresh with versioned copy-on-write
      // commits (batch b: read v=b, write v=b+1 — idempotent under
      // replay). The final version is hash-checked against q51's FULL
      // RECOMPUTE oracle: stream-merged ≡ batch-refreshed ≡ re-materialized,
      // regardless of how the delta was split (refresh is associative and
      // commutative).
      import graft.ops.Ivm
      import org.apache.spark.sql.types._
      val ss = graft.streaming.Streaming.statefulSession(s)
      val ev = t(ss, d, "events").select(col("event_type"),
        (col("user_id") % 10).as("user_bucket"),
        floor(col("value") * 100).as("iv"), col("ts"))
      val cutoff = lit("2024-01-25 00:00:00").cast("timestamp")
      val base = ev.filter(col("ts") < cutoff)
      val keys = Seq("event_type", "user_bucket")
      val root = graft.util.TempDirs.scratch("s12")
      Ivm.materialize(base, keys, Seq("iv"))
        .coalesce(1).write.parquet(s"$root/view/v=0")
      val deletes = base.filter(col("user_bucket") === 3)
        .withColumn("__mult", lit(-1L))
      val inserts = ev.filter(col("ts") >= cutoff && col("user_bucket") =!= 3)
        .withColumn("__mult", lit(1L))
      deletes.unionByName(inserts).drop("ts").repartition(3)
        .write.parquet(s"$root/delta")
      val schema = StructType(Seq(
        StructField("event_type", StringType),
        StructField("user_bucket", LongType), StructField("iv", LongType),
        StructField("__mult", LongType)))
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/delta")
      graft.streaming.Streaming.ivmRefreshStream(stream, s"$root/view",
          s"$root/ckpt", keys, Seq("iv"), "__mult")
        .awaitTermination()
      graft.streaming.Streaming.latestIvmView(s, s"$root/view")
        .orderBy("event_type", "user_bucket")
    }),
    "s11_stream_heavy_hitters" -> ((s, d) => {
      // q38's heavy hitters with the corpus arriving as a STREAM: per-token
      // counts run as a stateful streaming aggregation (map-side partials
      // against the state store, complete mode); top-20 is taken on the
      // final state. Hash-checked against the same exact-count oracle as
      // q38 (minus the sketch column — the state store IS the exact
      // counter here; the mergeable CMS stays the batch/sketch path).
      import org.apache.spark.sql.types._
      val ss = graft.streaming.Streaming.statefulSession(s)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val stream = graft.streaming.Streaming.availableNowFileStream(
        ss, d, schema, glob = Some("documents.parquet"))
      val counts = stream
        .select(explode(TextAnalysis.tokens(col("text"))).as("item"))
        .groupBy("item").agg(count(lit(1)).as("n"))
      graft.streaming.Streaming.runAvailableNow(
          counts, s"s11_hh_${System.nanoTime()}", outputMode = "complete")
        .orderBy(col("n").desc, col("item")).limit(20)
    }),
    "s09_stream_audit" -> ((s, d) => {
      // q42's row-check audit over the orders stream: row checks fold into
      // a streaming GLOBAL aggregate (map-side partials against the state
      // store) — continuous data-quality monitoring. Uniqueness needs
      // distinct state, so it stays a batch/HLL concern (q42).
      import graft.ops.Audit.RowCheck
      val ss = graft.streaming.Streaming.statefulSession(s)
      val audited = graft.ops.Audit.audit(ordersStream(ss, d),
        rowChecks = Seq(
          RowCheck("orderkey_not_null", col("o_orderkey").isNotNull),
          RowCheck("totalprice_positive", col("o_totalprice") > 0),
          RowCheck("status_in_domain", col("o_orderstatus").isin("O", "F", "P")),
          RowCheck("date_in_range",
            col("o_orderdate") >= lit("1992-01-01") &&
              col("o_orderdate") < lit("1999-01-01")),
          RowCheck("priority_pattern", col("o_orderpriority").rlike("^[1-5]-"))))
      graft.streaming.Streaming.runAvailableNow(
          audited, s"s09_audit_${System.nanoTime()}", outputMode = "complete")
        .orderBy(col("check_name"))
    }),
    "q50_pagerank" -> ((s, d) => {
      // 5 power-iteration rounds on the same deterministic affine-map graph
      // as q46, with the ORDERED-fold variant: every inbound sum folds in
      // ascending-src order, so all 5 rounds of doubles are bit-identical
      // across engines (the q45 exact-fold trick) and the top-20 ranks
      // hash-check against DuckDB's unrolled 5-round CTE. Production path
      // is the unordered map-side-combinable sum (orderedFold = false).
      graft.ops.Graph.pageRank(affinePartGraph(s, d), iterations = 5,
          damping = 0.85, orderedFold = true)
        .orderBy(col("r").desc, col("v")).limit(20)
    }),
    "q52_bfs_distances" -> ((s, d) => {
      // multi-source BFS (Graph.bfsDistances) on the q46/q50 graph:
      // level-synchronous frontier expansion, one frontier-keyed equi-join
      // + anti-join per round, adaptive driver path on small graphs. Hop
      // counts are exact integers, so the full distance map hash-checks
      // against DuckDB's recursive-CTE shortest paths.
      import s.implicits._
      graft.ops.Graph.bfsDistances(affinePartGraph(s, d),
          Seq(1L, 2L, 3L).toDF("v"), maxDepth = 12)
        .orderBy("v")
    }),
    "q53_kmv_overlap" -> ((s, d) => {
      // KMV min-k sketches (ops/Kmv): per-priority sketch of the distinct
      // o_custkey set (k = 64 smallest md5s), then DIRECT pairwise
      // Jaccard/intersection estimation from the sketches alone — the set
      // operation HLL can't do without inclusion-exclusion blow-up. The
      // sketch contents and overlap counts are exact integers/strings
      // (lexicographic min-k over fixed-width hex), so the whole result
      // hash-checks; jaccard_est = both_k/union_k is one IEEE divide of
      // those integers, safe to hash too.
      graft.ops.Kmv.shardOverlap(t(s, d, "orders"),
        "o_orderpriority", "o_custkey", k = 64)
    }),
    "q54_skyline" -> ((s, d) => {
      // distributed 2-D Pareto frontier (ops/Skyline): parts minimizing
      // (p_size, p_retailprice) — bucket-partitioned local skylines, two
      // keyed windows, broadcast cross-bucket min merge. The oracle is the
      // O(n²) NOT EXISTS dominance definition; the distributed plan must
      // reproduce it exactly, ties and duplicate points included.
      graft.ops.Skyline.pareto2d(t(s, d, "part"), "p_size", "p_retailprice")
        .select(col("p_partkey"), col("p_size"),
          col("p_retailprice"))
        .orderBy("p_size", "p_retailprice", "p_partkey")
    }),
    "q55_mad_outliers" -> ((s, d) => {
      // robust per-group outlier gate (ops/Robust): EXACT median + MAD via
      // structural rank selection (both engines pick the same two middle
      // rows and fold them with one add + one divide), then count rows with
      // |x - med| > 3*MAD. Every float op is a single correctly-rounded
      // IEEE operation on identical operands — bit-identical across
      // engines, so med/mad/n_outliers all hash-check (see the PERF.md
      // float-determinism note: interpolated percentiles are NOT safe; this
      // construction is).
      graft.ops.Robust.madOutliers(t(s, d, "events"), Seq("event_type"), "value")
        .orderBy("event_type")
    }),
    "q56_trend" -> ((s, d) => {
      // exact per-group OLS trend as a RATIONAL (ops/Regression): x = day
      // index, y = centi-quantized value — every Σ is an exact 64-bit
      // integer, so slope/intercept numerators and denominator hash-check
      // bit for bit (float sums of raw doubles would not; see PERF.md).
      // One map-side-combinable aggregate, no window.
      val ev = t(s, d, "events")
        .filter(col("value").isNotNull && col("ts").isNotNull)
        .select(col("event_type"),
          datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).as("x"),
          floor(col("value") * 100).as("y"))
      graft.ops.Regression.exactOlsRational(ev, Seq("event_type"), "x", "y")
        .orderBy("event_type")
    }),
    "q57_weighted_median" -> ((s, d) => {
      // lower weighted median (ops/Robust.weightedMedian): smallest
      // quantity whose cumulative line-number weight reaches half the
      // group total — ties collapsed on (group, x) BEFORE the cumulative
      // pass, 2·cumw ≥ W in pure integers; the windows run over ≤50
      // distinct quantities per group, not the raw rows.
      graft.ops.Robust.weightedMedian(t(s, d, "lineitem"),
          Seq("l_returnflag"), "l_quantity", "l_linenumber")
        .orderBy("l_returnflag")
    }),
    "q58_transitions" -> ((s, d) => {
      // first-order Markov transition counts over each user's event
      // sequence (user-journey analysis): ONE keyed lag window (parallel
      // across users, (ts, event_id) total order makes the lag
      // deterministic under timestamp ties) + one map-side-combinable
      // count. Integers only. Null user_id/ts rows are dropped explicitly:
      // s14's typed stream decode (primitive Long fields) can't carry
      // them, and a null ts would sort nulls-first here vs nulls-last in
      // DuckDB — the filter pins identical semantics in all three places.
      val ev = t(s, d, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), col("event_type"),
          col("ts"), col("event_id"))
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      ev.withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev").as("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("from_type", "to_type")
    }),
    "q59_concurrency" -> ((s, d) => {
      // sweep-line max concurrency per event_type: each event holds for
      // floor(value)+1 seconds; +1/-1 boundary deltas, ends sorted before
      // starts at equal time ([s, e) semantics), ONE keyed running-sum
      // window, then max + earliest peak instant. Tied deltas make the
      // intermediate running sums order-dependent but not the maximum or
      // its earliest time — the hashed output is deterministic.
      val iv = t(s, d, "events")
        .filter(col("value").isNotNull && col("ts").isNotNull)
        .select(col("event_type"), unix_micros(col("ts")).as("st"),
          (unix_micros(col("ts")) +
            (floor(col("value")).cast("long") + 1) * 1000000L).as("en"))
      val deltas = iv.select(col("event_type"), col("st").as("t"), lit(1L).as("d"))
        .unionByName(iv.select(col("event_type"), col("en").as("t"), lit(-1L).as("d")))
      val w = Window.partitionBy("event_type").orderBy("t", "d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val run = deltas.withColumn("c", sum(col("d")).over(w))
      val mx = run.groupBy("event_type").agg(max(col("c")).as("max_concurrent"))
      run.join(mx, Seq("event_type"))
        .filter(col("c") === col("max_concurrent"))
        .groupBy("event_type")
        .agg(first(col("max_concurrent")).as("max_concurrent"),
          min(col("t")).as("peak_us"))
        .orderBy("event_type")
    }),
    "q60_snapshot_diff" -> ((s, d) => {
      // lakehouse TABLE DIFF (Cdc.snapshotDiff — applyChangeset's inverse):
      // two deterministic snapshot versions of orders (keys %10 dropped /
      // %7 dropped, %3 prices bumped) → the minimal I/U/D changeset from
      // ONE full outer join, payloads compared null-safe as structs.
      // CdcSpec pins the round-trip law (apply(old, diff) == new).
      val base = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderstatus"))
      val old = base.filter(col("o_orderkey") % 10 =!= 0)
      val nw = base.filter(col("o_orderkey") % 7 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
      graft.ops.Cdc.snapshotDiff(old, nw, Seq("o_orderkey"))
        .orderBy("o_orderkey")
    }),
    "s15_stream_trend" -> ((s, d) => {
      // q56's exact rational OLS with events arriving as a STREAM: the
      // five integer sums run as a stateful streaming aggregation
      // (map-side partials against the state store, complete mode) —
      // integer sums are order- and batching-insensitive, so the streamed
      // trend is bit-equal to batch whatever the microbatch layout was.
      // Same oracle as q56. The rational-derivation arithmetic happens on
      // the final state (post-sink), exactly like the batch finish.
      val ss = graft.streaming.Streaming.statefulSession(s)
      val ev = eventsStream(ss, d)
        .filter(col("value").isNotNull && col("ts").isNotNull)
        .select(col("event_type"),
          datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
            .cast("long").as("x"),
          floor(col("value") * 100).as("y"))
      val sums = ev.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sum_x"), sum(col("y")).as("sum_y"),
        sum(col("x") * col("y")).as("__sxy"), sum(col("x") * col("x")).as("__sxx"))
      graft.streaming.Streaming.runAvailableNow(sums,
          s"s15_trend_${System.nanoTime()}", outputMode = "complete")
        .select(col("event_type"), col("n"), col("sum_x"), col("sum_y"),
          (col("n") * col("__sxy") - col("sum_x") * col("sum_y")).as("slope_num"),
          (col("n") * col("__sxx") - col("sum_x") * col("sum_x")).as("slope_den"),
          (col("sum_y") * col("__sxx") - col("sum_x") * col("__sxy"))
            .as("intercept_num"))
        .orderBy("event_type")
    }),
    "s14_stream_transitions" -> ((s, d) => {
      // q58's Markov transitions with events arriving as a STREAM: the lag
      // window becomes flatMapGroupsWithState carrying ONE last-event per
      // user (O(users) state); emitted pairs are batch-counted after
      // AvailableNow. Same oracle as q58 — the streamed chain must
      // reproduce the batch lag bit for bit.
      val ss = graft.streaming.Streaming.statefulSession(s)
      import ss.implicits._
      val ev = eventsStream(ss, d)
        // q58's null filter, applied BEFORE the typed decode: a null
        // user_id/ts would crash the primitive-Long case-class decode
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"), col("event_id"))
        .as[graft.streaming.Streaming.TransitionEvent]
      val pairs = graft.streaming.Streaming.transitionStream(ev)
      graft.streaming.Streaming.runAvailableNow(pairs,
          s"s14_tr_${System.nanoTime()}", outputMode = "append")
        .groupBy("from_type", "to_type")
        .agg(count(lit(1)).as("n"))
        .orderBy("from_type", "to_type")
    }),
    "s13_stream_kmv" -> ((s, d) => {
      // q53's KMV sketches maintained under STREAMING ingest
      // (Streaming.kmvSketchStream): per-shard min-k state updated per
      // microbatch, then the emitted sketches are MERGED (min-k is
      // mergeable — explode + re-select) and the same pairwise overlap
      // derived. Hash-checked against the same oracle as q53: streamed
      // maintenance must converge to the batch sketch bit for bit.
      val ss = graft.streaming.Streaming.statefulSession(s)
      val hashed = ordersStream(ss, d)
        .filter(col("o_custkey").isNotNull)
        .select(col("o_orderpriority").as("shard"),
          graft.ops.Kmv.kmvHash(col("o_custkey")).as("h"))
      val emitted = graft.streaming.Streaming.runAvailableNow(
        graft.streaming.Streaming.kmvSketchStream(hashed, 64),
        s"s13_kmv_${System.nanoTime()}", outputMode = "update")
      // AvailableNow may split the input into several batches (several
      // emissions per shard) — min-k mergeability makes the union re-merge
      // exact, whatever the batch layout was
      val sketches = graft.ops.Kmv.sketchHashed(
        emitted.select(col("shard"), explode(col("kmv")).as("h")), k = 64)
      graft.ops.Kmv.pairOverlap(sketches, 64).orderBy("shard_a", "shard_b")
    }),
    "q51_ivm_refresh" -> ((s, d) => {
      // INCREMENTAL VIEW MAINTENANCE (ops/Ivm): materialize a per-key
      // COUNT+SUM view over the base slice, then apply a multiplicity-
      // weighted change set (deletes that wipe every user_bucket-3 row,
      // inserts from the post-cutoff slice) WITHOUT rescanning the base.
      // The oracle is the full recompute over the changed base — proving
      // delta-merge ≡ re-materialization, including whole-group drops
      // (bucket 3 vanishes: refreshed n_rows hits 0). Sum column is an
      // integer (floor(value*100)), so the hash is float-safe.
      import graft.ops.Ivm
      val ev = t(s, d, "events").select(col("event_type"),
        (col("user_id") % 10).as("user_bucket"),
        floor(col("value") * 100).as("iv"), col("ts"))
      val cutoff = lit("2024-01-25 00:00:00").cast("timestamp")
      val base = ev.filter(col("ts") < cutoff)
      val view = Ivm.materialize(base,
        Seq("event_type", "user_bucket"), Seq("iv"))
      val deletes = base.filter(col("user_bucket") === 3)
        .withColumn("__mult", lit(-1L))
      val inserts = ev.filter(col("ts") >= cutoff && col("user_bucket") =!= 3)
        .withColumn("__mult", lit(1L))
      Ivm.refresh(view, deletes.unionByName(inserts),
          Seq("event_type", "user_bucket"), Seq("iv"), "__mult")
        .orderBy("event_type", "user_bucket")
    }),
    "q46_triangle_count" -> ((s, d) => {
      // degree-oriented distributed triangle count (Suri-Vassilvitskii) on a
      // deterministic sparse affine-map graph over part keys — scale-free
      // density (5 out-edges/vertex at every SF), so the wedge join stays
      // bounded where a co-occurrence graph goes complete
      val raw = affinePartGraph(s, d)
      graft.ops.Graph.triangleCount(raw.filter(col("src") =!= col("dst")))
    }),
    "s08_stream_cdc_merge" -> ((s, d) => {
      // q43's CDC MERGE with the changelog arriving as a STREAM: the
      // latest-change-per-key half runs as a stateful streaming aggregation
      // (max_by against the state store), then the snapshot merge is the
      // same batch anti-join + union. Same oracle SQL as q43 — the streamed
      // formulation must converge to the batch MERGE bit for bit.
      val ss = graft.streaming.Streaming.statefulSession(s)
      val changes = ordersStream(ss, d)
        .filter(col("o_orderdate") >= lit("1997-01-01"))
        .select(col("o_custkey").as("custkey"), col("o_orderkey").as("last_orderkey"),
          col("o_totalprice").as("last_price"), col("o_orderstatus").as("last_status"),
          col("o_orderkey").as("__seq"), (col("o_orderstatus") === "F").as("__del"))
      val latest = graft.streaming.Streaming.latestChangePerKey(
        changes, Seq("custkey"), "__seq")
      val finalLatest = graft.streaming.Streaming.runAvailableNow(
        latest, s"s08_cdc_${System.nanoTime()}", outputMode = "complete")
      val wSnap = Window.partitionBy("custkey").orderBy(col("last_orderkey").desc)
      val snapshot = t(ss, d, "orders")
        .filter(col("o_orderdate") < lit("1997-01-01"))
        .select(col("o_custkey").as("custkey"), col("o_orderkey").as("last_orderkey"),
          col("o_totalprice").as("last_price"), col("o_orderstatus").as("last_status"))
        .withColumn("__rn", row_number().over(wSnap))
        .filter(col("__rn") === 1).drop("__rn")
      snapshot.join(finalLatest.select("custkey"), Seq("custkey"), "left_anti")
        .unionByName(finalLatest.filter(!col("__del")).drop("__seq", "__del"))
        .orderBy(col("custkey"))
    }),
    "q43_cdc_merge" -> ((s, d) => {
      // Lakehouse MERGE INTO (SCD1 latest-wins): snapshot = per-customer
      // latest order state before the cutoff; changes = post-cutoff orders
      // (seq = orderkey, status F = tombstone). One window over changes +
      // key-only anti-join + union — the copy-on-write MERGE shape.
      val orders = t(s, d, "orders")
      def state(df: DataFrame): DataFrame = df.select(
        col("o_custkey").as("custkey"), col("o_orderkey").as("last_orderkey"),
        col("o_totalprice").as("last_price"), col("o_orderstatus").as("last_status"))
      val wSnap = Window.partitionBy("custkey").orderBy(col("last_orderkey").desc)
      val snapshot = state(orders.filter(col("o_orderdate") < lit("1997-01-01")))
        .withColumn("__rn", row_number().over(wSnap))
        .filter(col("__rn") === 1).drop("__rn")
      val changes = state(orders.filter(col("o_orderdate") >= lit("1997-01-01")))
        .withColumn("__seq", col("last_orderkey"))
        .withColumn("__del", col("last_status") === "F")
      graft.ops.Cdc.applyChangeset(snapshot, changes, Seq("custkey"), "__seq", "__del")
        .orderBy(col("custkey"))
    }),
    "q61_grouping_sets" -> ((s, d) => {
      // explicit GROUPING SETS — the third multi-level-agg form next to
      // q35's ROLLUP and q44's CUBE: two independent one-dimension slices
      // ((priority), (status)) in ONE pass over orders (Catalyst Expand +
      // one shuffle), disambiguated by GROUPING flags.
      val ss = s
      t(ss, d, "orders").createOrReplaceTempView("__q61_orders")
      ss.sql("""
        SELECT CAST(GROUPING(o_orderpriority) AS INT) AS g_pri,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_st,
               o_orderpriority, o_orderstatus,
               COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
        FROM __q61_orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
        ORDER BY g_pri, g_st, o_orderpriority, o_orderstatus""")
    }),
    "q62_label_prop" -> ((s, d) => {
      // synchronous label propagation (Graph.labelPropagation) on the
      // q46/q50 affine graph, 3 rounds: per round one neighbour-keyed
      // equi-join + (v,label) count + argmax re-key (max-count,
      // min-label tie-break). Labels are exact longs, so all 3 rounds
      // hash-check against DuckDB's unrolled window-ranked replay.
      graft.ops.Graph.labelPropagation(affinePartGraph(s, d), rounds = 3)
        .orderBy("v")
    }),
    "q66_modularity" -> ((s, d) => {
      // Newman modularity of q62's LPA labelling as an EXACT RATIONAL
      // (Graph.modularity): q_num/q_den = Σ_c(4·m·l_c − D_c²) / 4m², all
      // 64-bit integers — the quality gate that tells you whether the
      // community structure beats random expectation, float-free.
      val edges = affinePartGraph(s, d)
      graft.ops.Graph.modularity(edges,
        graft.ops.Graph.labelPropagation(edges, rounds = 3))
    }),
    "q63_sssp" -> ((s, d) => {
      // round-synchronous Bellman-Ford (Graph.shortestPaths) over the
      // affine graph with deterministic integer weights w = (src*7 +
      // dst*3) % 20 + 1, sources {1,2,3}, at most 6 relaxation rounds.
      // Distances are exact longs (no float anywhere) and extra rounds
      // past convergence are no-ops, so the ≤6-round distance map
      // hash-checks against DuckDB's 6 unrolled min-relaxation CTEs.
      import s.implicits._
      val e = affinePartGraph(s, d).select(col("src"), col("dst"),
        ((col("src") * 7 + col("dst") * 3) % 20 + 1).as("w"))
      graft.ops.Graph.shortestPaths(e, Seq(1L, 2L, 3L).toDF("v"), maxRounds = 6)
        .orderBy("v")
    }),
    "q76_scc" -> ((s, d) => {
      // strongly connected components (Graph.stronglyConnectedComponents,
      // coloring/FW-BW-MIN) over a PLANTED digraph from part keys: each
      // block of 8 consecutive keys forms a directed cycle (one SCC; the
      // tail block wraps early), plus STAR forward bridges 0 -> blockStart
      // (the ScaleBench scc shape) — bridges merge nothing, so the engine
      // must recover component = block start, which the oracle states in
      // closed form. Star (not chained) bridges keep the condensation at
      // depth 2: the coloring SCC's outer rounds track condensation
      // depth, so the distributed path (forced at scale when part exceeds
      // localThreshold) settles in ~2 outer rounds instead of the ~n/8 a
      // chained condensation would need — the planted shape itself must
      // be 100 TB-safe, not just the algorithm.
      // part keys are 0-based (0..n-1)
      val n = t(s, d, "part").count()
      val v = t(s, d, "part")
        .select(col("p_partkey").cast("long").as("v"))
      val bStart = expr("(v div 8) * 8")
      val bEnd = least(bStart + 7, lit(n - 1))
      val cycle = v.select(col("v").as("src"),
        when(col("v") === bEnd, bStart).otherwise(col("v") + 1).as("dst"))
      val bridge = v.filter(col("v") % 8 === 0 && col("v") > 0)
        .select(lit(0L).as("src"), col("v").as("dst"))
      graft.ops.Graph.stronglyConnectedComponents(cycle.unionByName(bridge))
        .orderBy("v")
    }),
    "q79_subtree_rollup" -> ((s, d) => {
      // hierarchical (recursive) aggregation — the org-chart/BOM rollup
      // (ops/Hierarchy.subtreeSum): per node, the sum of values over its
      // whole descendant subtree, computed as bounded-round upward
      // accumulation (mass moves one edge per round and co-located mass
      // SUMS, so rounds = tree depth, moving set <= one row per node).
      // The planted forest is the binary tree parent(k) = k/2 over part
      // keys 1..n with value = key, whose subtree sums the oracle states
      // in CLOSED FORM (descendants of v at depth j are the consecutive
      // range [v·2^j, v·2^j + 2^j - 1] ∩ [1, n] — arithmetic-series
      // sums, no recursion).
      val keys = t(s, d, "part")
        .select((col("p_partkey") + 1).cast("long").as("v")) // 1-based
      val edges = keys.filter(col("v") >= 2)
        .select(col("v").as("child"), expr("v div 2").as("parent"))
      graft.ops.Hierarchy.subtreeSum(
          edges, keys.withColumn("value", col("v")))
        .orderBy("v")
    }),
    "q80_node_depth" -> ((s, d) => {
      // downward hierarchical propagation (Hierarchy.depthAndRoot): per
      // node, its root and depth — inherited-attribute resolution over
      // the same planted binary forest as q79. The oracle states depth
      // in closed form: depth(v) = number of powers of two <= v, minus
      // one (Σ_j [v >= 2^j]).
      val keys = t(s, d, "part")
        .select((col("p_partkey") + 1).cast("long").as("v"))
      val edges = keys.filter(col("v") >= 2)
        .select(col("v").as("child"), expr("v div 2").as("parent"))
      graft.ops.Hierarchy.depthAndRoot(edges, keys)
        .orderBy("v")
    }),
    "q83_grouping_sets" -> ((s, d) => {
      // multi-granularity aggregation in ONE pass — GROUPING SETS with
      // GROUPING() markers as one shared SQL text both engines run
      // (detail, per-nation subtotal, grand total). Catalyst plans this
      // as a single Expand + aggregate (one scan, one shuffle — not
      // three scans unioned), the §2.4 rollup surface a warehouse runs
      // constantly. COALESCE names the subtotal rows so no NULLs reach
      // the hash gate.
      t(s, d, "customer").createOrReplaceTempView("customer")
      t(s, d, "orders").createOrReplaceTempView("orders")
      t(s, d, "nation").createOrReplaceTempView("nation")
      s.sql(sqlGroupingSetsSql)
    }),
    "q84_kcore" -> ((s, d) => {
      // k-core decomposition (Graph.kCoreness, distributed peeling) over
      // a PLANTED graph with closed-form coreness: each full block of 8
      // part keys carries an m-clique (m = 3 + block%6) on its first m
      // positions plus a path chaining the remaining positions off the
      // clique's last member. Clique members peel together in phase m
      // (coreness m−1); path vertices cascade out in phase 2 (coreness
      // 1) — the generic peeling engine must recover the closed form
      // CASE pos < m THEN m−1 ELSE 1 the oracle states. Partial tail
      // blocks are excluded so the closed form stays total.
      val n = t(s, d, "part").count()
      val full = (n / 8) * 8
      val vv = t(s, d, "part")
        .select(col("p_partkey").cast("long").as("v"))
        .filter(col("v") < full)
        .select(col("v"), expr("v div 8").as("b"), (col("v") % 8).as("p"),
          expr("3 + (v div 8) % 6").as("m"))
      val cl = vv.filter(col("p") < col("m"))
      val cliqueEdges = cl.select(col("b"), col("p").as("p1"), col("v").as("src"))
        .join(cl.select(col("b"), col("p").as("p2"), col("v").as("dst")), Seq("b"))
        .filter(col("p1") < col("p2"))
        .select("src", "dst")
      val pathEdges = vv.filter(col("p") >= col("m") - 1 && col("p") < 7)
        .select(col("v").as("src"), (col("v") + 1).as("dst"))
      graft.ops.Graph.kCoreness(cliqueEdges.unionByName(pathEdges))
        .orderBy("v")
    }),
    "q85_gapfill_interpolate" -> ((s, d) => {
      // time-series gap fill + linear interpolation (ops/GapFill): daily
      // high-value sums per event_type are sparse (~30% missing days);
      // the series densifies to each type's full day range and interior
      // gaps interpolate between observed neighbours. Inputs are rounded
      // BEFORE interpolation (the q01 double-sum contract), and the
      // interpolation expression is one fixed IEEE op tree, so the
      // filled doubles replay bit-for-bit in the oracle's window twin.
      val daily = t(s, d, "events")
        .filter(col("value") > 190)
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), lit("2024-01-01")).as("day"))
        .agg(round(sum(col("value")), 2).as("v"))
      graft.ops.GapFill.fillInterpolate(daily, Seq("event_type"), "day", "v")
        .select(col("event_type"), col("day").cast("int").as("day"),
          round(col("v"), 4).as("v"), col("filled"))
        .orderBy("event_type", "day")
    }),
    "q88_unpivot" -> ((s, d) => {
      // UNPIVOT (wide→long melt, the inverse reshape of q34's pivot):
      // a per-returnflag metric table (3 BIGINT metric columns — count,
      // integral quantity sum, distinct parts) melts to (flag, metric,
      // value) rows via Dataset.unpivot. All metrics are exact integers,
      // so the oracle (a UNION ALL unroll — the engine-neutral spelling)
      // hashes bit-for-bit.
      val agg = t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          countDistinct(col("l_partkey")).as("distinct_parts"))
      agg.unpivot(Array(col("l_returnflag")),
          Array(col("n_items"), col("sum_qty"), col("distinct_parts")),
          "metric", "value")
        .orderBy("l_returnflag", "metric")
    }),
    "q91_ewma" -> ((s, d) => {
      // EWMA smoothing per user (ops/GapFill.ewma): e ← e/2 + x/2 over
      // the (ts, event_id) order, seeded with the first value. α = 0.5
      // is dyadic and the fold order is pinned, so the final smoothed
      // double replays bit-for-bit in the oracle's list_reduce (the
      // shared ordered-fold contract).
      graft.ops.GapFill.ewma(t(s, d, "events"), Seq("user_id"),
          "ts", "event_id", "value", alpha = 0.5)
        .orderBy("user_id")
    }),
    "q89_ohlc_resample" -> ((s, d) => {
      // OHLC time-bar resample (ops/GapFill.ohlcBars): hourly
      // open/high/low/close/volume bars per event_type over the raw tick
      // stream — picks and extremes only (min_by/max_by/min/max/count),
      // never a float fold, so the bars replay bit-for-bit in the
      // arg_min/arg_max oracle. One partial-aggregated shuffle.
      graft.ops.GapFill.ohlcBars(t(s, d, "events"),
          Seq("event_type"), "ts", "value", "hour")
        .orderBy("event_type", "bar_ts")
    }),
    "q78_sql_subqueries" -> ((s, d) => {
      // the spark.sql(...) surface with CORRELATED subqueries — EXISTS,
      // NOT EXISTS and two correlated scalar subqueries in one
      // statement; Catalyst decorrelates all four into joins (no
      // per-row re-execution). The SAME SQL text runs in DuckDB as the
      // oracle, so the decorrelation must be semantics-preserving row
      // for row.
      t(s, d, "customer").createOrReplaceTempView("customer")
      t(s, d, "orders").createOrReplaceTempView("orders")
      s.sql(sqlSubqueriesSql)
    }),
    "q81_sql_3way_topk" -> ((s, d) => {
      // TPC-H Q3's shape as ONE shared SQL text both engines run: 3-way
      // customer⋈orders⋈lineitem join under selective filters, grouped
      // revenue, top-k. q78 proved the decorrelation surface; this
      // proves join ordering + selectivity on the classic warehouse
      // shape. PlanSpec guards the plan: customer broadcasts (dimension
      // side), the top-k plans as TakeOrderedAndProject — not a global
      // sort — and the mktsegment filter reaches the parquet scan.
      t(s, d, "customer").createOrReplaceTempView("customer")
      t(s, d, "orders").createOrReplaceTempView("orders")
      t(s, d, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(sql3WayTopkSql)
    }),
    "q82_sql_4way_exists" -> ((s, d) => {
      // TPC-H Q21's shape as ONE shared SQL text: a 4-way join
      // (supplier⋈lineitem⋈orders⋈nation) with a correlated EXISTS
      // (another supplier in the same order) AND a correlated NOT EXISTS
      // (…but none of the others flagged 'R') — the hardest decorrelation
      // compose of the q78 family over a real multi-join. Catalyst plans
      // the EXISTS as a left-semi and the NOT EXISTS as a left-anti join,
      // both shuffled on l_orderkey; nation broadcasts.
      t(s, d, "supplier").createOrReplaceTempView("supplier")
      t(s, d, "lineitem").createOrReplaceTempView("lineitem")
      t(s, d, "orders").createOrReplaceTempView("orders")
      t(s, d, "nation").createOrReplaceTempView("nation")
      s.sql(sql4WayExistsSql)
    }),
    "q99_asof_forward" -> ((s, d) => {
      // FORWARD as-of join (pandas merge_asof direction='forward'): the
      // next purchase at or after each click, per user — q31's mirror,
      // same union + ONE window pass (no per-key cross product), frame
      // flipped to [current, following) with first(ignoreNulls). The
      // pair (q31, q99) gates both merge_asof directions.
      val ev = t(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("p_event_id"))
      Deltas.asofJoin(clicks, purchases, Seq("user_id"),
          leftTime = "ts", rightTime = "ts",
          payload = Seq("p_event_id", "ts"), tieBreak = Some("p_event_id"),
          direction = "forward")
        .filter(col("asof_p_event_id").isNotNull)
        .withColumn("__wait_us",
          unix_micros(col("asof_ts")) - unix_micros(col("ts")))
        .select(col("event_id"), col("user_id"), col("asof_p_event_id"),
          expr("__wait_us div 60000000").as("wait_min"))
        .orderBy(col("event_id"))
    }),
    "q98_theil_sen" -> ((s, d) => {
      // Theil-Sen robust trend (Theil 1950/Sen 1968): per event type,
      // the LOWER MEDIAN of all pairwise slopes of the hourly
      // integer-cent series — the outlier-proof complement to q56's
      // least-squares trend (one wild hour cannot move it). Each slope
      // is ONE IEEE divide of exact longs; the median is a structural
      // rank-pick at (n−1)/2 over the sorted slopes (deterministic —
      // no averaging, the q55 robust-ops contract). The pair join is
      // per-type (hour-count bounded, independent of corpus size at
      // fixed time range); Robust.theilSen ENFORCES that bound — a
      // per-type series past maxPoints loud-fails instead of silently
      // going O(n²) (window the series upstream, not the corpus).
      val hourly = t(s, d, "events")
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 3600000000L").as("h"))
        .agg(sum(round(col("value") * 100).cast("long")).as("x"))
      graft.ops.Robust.theilSen(hourly, "event_type", "h", "x", maxPoints = 10000)
        .orderBy("event_type")
    }),
    "q97_hits" -> ((s, d) => {
      // HITS hubs & authorities (Kleinberg, JACM'99) on the q50 affine
      // directed graph — 3 UNNORMALIZED mutual-reinforcement rounds:
      // a ← Σ_in h, h ← Σ_out a. Dropping the per-round normalization
      // keeps every score an exact LONG (rankings are invariant — the
      // norm is a positive scalar per round), so the whole result
      // hash-checks with no float contract at all. Two equi-join + agg
      // shuffles per round, map-side combinable, same budget as one
      // PageRank round; top-20 by authority.
      val e = affinePartGraph(s, d)
        .filter(col("src") =!= col("dst")).distinct()
        .localCheckpoint()
      var h = e.select(col("src").as("v")).unionByName(e.select(col("dst").as("v")))
        .distinct().select(col("v"), lit(1L).as("h"))
      var a: DataFrame = null
      (1 to 3).foreach { _ =>
        a = e.join(h.select(col("v").as("src"), col("h")), "src")
          .groupBy(col("dst").as("v")).agg(sum(col("h")).as("a"))
        h = e.join(a.select(col("v").as("dst"), col("a")), "dst")
          .groupBy(col("src").as("v")).agg(sum(col("a")).as("h"))
          .localCheckpoint()
      }
      a.join(h, Seq("v"), "full_outer")
        .select(col("v"), coalesce(col("a"), lit(0L)).as("auth"),
          coalesce(col("h"), lit(0L)).as("hub"))
        .orderBy(col("auth").desc, col("v")).limit(20)
    }),
    "q96_autocorrelation" -> ((s, d) => {
      // autocorrelation function (lags 1-3) of each event type's hourly
      // value series — the time-series seasonality/persistence probe
      // (Box-Jenkins model identification). Values become exact integer
      // CENTS, hours become integer epoch buckets, so every sum is a
      // long and the Pearson r per (type, lag) is ONE pinned IEEE op
      // tree over exact operands + ROUND(,4) — the d64 portability
      // contract. ROW-lag over the observed hourly series (gaps skipped,
      // stated contract; q73 gap-fill is the interpolation op). One
      // keyed agg + one window + one final agg — all map-side
      // combinable, series parallelize per type.
      val hourly = t(s, d, "events")
        .groupBy(col("event_type"),
          // div, not /: Spark's / on longs is a fractional Divide; the
          // epochs are positive so truncating div == DuckDB's floor //
          expr("unix_micros(ts) div 3600000000L").as("h"))
        .agg(sum(round(col("value") * 100).cast("long")).as("x"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      val pairs = (1 to 3).map { l =>
        hourly.select(col("event_type"), lit(l).as("lag"), col("x"),
          lag(col("x"), l).over(w).as("y"))
      }.reduce(_ unionByName _).filter(col("y").isNotNull)
      val a = pairs.groupBy("event_type", "lag")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"))
      val nD = col("n").cast("double")
      a.filter(col("n") >= 8)
        .select(col("event_type"), col("lag"), col("n"),
          round((nD * col("sxy") - col("sx").cast("double") * col("sy")) /
            sqrt((nD * col("sxx") - col("sx").cast("double") * col("sx")) *
              (nD * col("syy") - col("sy").cast("double") * col("sy"))), 4)
            .as("acf"))
        .orderBy("event_type", "lag")
    }),
    "q95_link_prediction" -> ((s, d) => {
      // link prediction (Graph.linkPrediction) on the q46/q50 affine-map
      // graph: for every non-edge sharing ≥1 neighbor, common-neighbor
      // count + resource-allocation index (Zhou/Lü/Zhang 2009) in exact
      // 1e-12 fixed-point — the "suggest missing links" primitive of a
      // crawl/citation graph. Wedges generate at the CENTER vertex from
      // its adjacency list (the triangle-count budget Σ deg²), hub
      // fanout loud-fails, one anti-join screens existing edges; all
      // integers, so top-50 hash-checks bit-for-bit.
      graft.ops.Graph.linkPrediction(affinePartGraph(s, d))
        .orderBy(col("cn").desc, col("ra_e12").desc, col("u"), col("v"))
        .limit(50)
    }),
    "q94_interval_coverage" -> ((s, d) => {
      // INTERVAL-UNION coverage (ops/Intervals.unionCoverage): total
      // covered time of overlapping spans per type — the sweep-line
      // classic, day-SLICED so parallelism is (keys × days), not keys
      // (a per-key-only window serializes months of one key on one
      // task). Spans are events extended by 1..7 minutes; everything is
      // int64 microseconds, so the oracle replays slicing, the prior-end
      // running max, and the clamped contributions exactly.
      val iv = t(s, d, "events").select(col("event_type"),
        unix_micros(col("ts")).as("st"),
        (unix_micros(col("ts")) +
          lit(60000000L) * (col("event_id") % 7 + 1)).as("en"))
      val counts = iv.groupBy("event_type")
        .agg(count(lit(1)).as("n_intervals"))
      graft.ops.Intervals.unionCoverage(iv, Seq("event_type"), "st", "en")
        .join(broadcast(counts), "event_type")
        .orderBy("event_type")
    }),
    "q93_sql_within_group" -> ((s, d) => {
      // ANSI WITHIN GROUP ordered-set aggregates as ONE shared SQL text:
      // percentile_disc picks an actual data value (exact on both
      // engines); percentile_cont interpolates at rank (n−1)·p with
      // ROUND(,2) absorbing the ≤1-ulp divergence (the q33 operator
      // exists; THIS gates the ANSI SQL surface itself).
      t(s, d, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(sqlWithinGroupSql)
    }),
    "q92_sql_scalar_min" -> ((s, d) => {
      // TPC-H Q2's shape as ONE shared SQL text: a correlated scalar MIN
      // subquery over its own 4-way join, gating the 5-way outer join —
      // the scalar-agg decorrelation surface (q78/q82 covered
      // EXISTS/IN). Catalyst rewrites the inner MIN as an aggregate
      // joined back on p_partkey; nation/region/supplier broadcast.
      t(s, d, "part").createOrReplaceTempView("part")
      t(s, d, "lineitem").createOrReplaceTempView("lineitem")
      t(s, d, "supplier").createOrReplaceTempView("supplier")
      t(s, d, "nation").createOrReplaceTempView("nation")
      t(s, d, "region").createOrReplaceTempView("region")
      s.sql(sqlScalarMinSql)
    }),
    "q102_seasonal_mase" -> ((s, d) => {
      // FORECAST-ACCURACY MONITORING: seasonal-naive forecast (x̂_t =
      // x_{t−7}) vs the naive-1 baseline, scored by MASE (Hyndman &
      // Koehler 2006) per event type over daily integer-cent totals —
      // the standard scale-free accuracy ratio a pipeline-health
      // dashboard tracks. Restricted to days where BOTH lags exist, so
      // numerator and denominator average over the SAME day set and the
      // ratio reduces to one divide of exact longs + ROUND(,4). Two
      // equi-self-joins on (type, day) — no window, no state.
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("x"))
        .localCheckpoint() // three aliases of one small aggregate
      val scored = daily.as("a")
        .join(daily.as("s7"),
          col("a.event_type") === col("s7.event_type") &&
            col("a.day") === date_add(col("s7.day"), 7))
        .join(daily.as("n1"),
          col("a.event_type") === col("n1.event_type") &&
            col("a.day") === date_add(col("n1.day"), 1))
        .select(col("a.event_type").as("event_type"),
          abs(col("a.x") - col("s7.x")).as("__es"),
          abs(col("a.x") - col("n1.x")).as("__en"))
      scored.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          sum(col("__es")).as("sad_seasonal"),
          sum(col("__en")).as("sad_naive"))
        .withColumn("mase",
          round(col("sad_seasonal").cast("double") / col("sad_naive"), 4))
        .orderBy("event_type")
    }),
    "q103_sql_volume_shipping" -> ((s, d) => {
      // TPC-H Q7's join breadth as ONE shared SQL text: six tables, the
      // symmetric nation-pair OR (which defeats naive single-sided
      // pushdown — Catalyst must keep it as a post-join filter over two
      // broadcast nation joins), a fact date range that must reach the
      // lineitem scan, and a year extract feeding the rollup. The
      // PlanSpec guard pins: dims broadcast, no nested loop, shipdate
      // range pushed to the parquet scan.
      Seq("supplier", "lineitem", "orders", "customer", "nation")
        .foreach(n => t(s, d, n).createOrReplaceTempView(n))
      s.sql(sqlVolumeShippingSql)
    }),
    "q104_sql_market_share" -> ((s, d) => {
      // TPC-H Q8's join breadth: EIGHT tables (nation twice), the
      // region+type selective dims gating the fact, and the per-year
      // conditional-share ratio. The join ORDER matters at 100 TB — the
      // region/part filters must reach their scans and every dim side
      // must broadcast; a sort-merge or nested-loop anywhere in this
      // chain is the scale failure the PlanSpec guard pins.
      Seq("part", "lineitem", "orders", "customer", "nation", "region",
        "supplier").foreach(n => t(s, d, n).createOrReplaceTempView(n))
      s.sql(sqlMarketShareSql)
    }),
    "q100_sql_scalar_avg" -> ((s, d) => {
      // TPC-H Q17's shape as ONE shared SQL text: a correlated scalar
      // AVERAGE over the LARGE fact gates the fact scan itself —
      // "lineitems below 20% of their part's average quantity". The
      // avg is spelled as its exact integer cross-multiplication
      // (5·n·qty < sum — two correlated scalar aggs over the same
      // correlated table, no float divide in the predicate), so the
      // hash carries no float contract. Catalyst must decorrelate BOTH
      // scalar subqueries to ONE per-part aggregate equi-joined back
      // (MergeScalarSubqueries + RewriteCorrelatedScalarSubquery) — a
      // nested-loop re-execution per outer row is the O(n²) failure the
      // PlanSpec guard pins. q92 covered scalar MIN over a join chain;
      // this is the scalar-agg-over-the-fact decorrelation q78/q92
      // didn't reach.
      t(s, d, "part").createOrReplaceTempView("part")
      t(s, d, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(sqlScalarAvgSql)
    }),
    "q101_sql_nested_in" -> ((s, d) => {
      // TPC-H Q20's shape as ONE shared SQL text: a nested IN chain —
      // suppliers IN (lineitems of parts IN (name-filtered part set)
      // whose quantity clears a correlated per-part MAX threshold).
      // Three nesting levels: IN → IN + correlated scalar agg. Every
      // predicate is exact integer arithmetic. Catalyst must plan the
      // INs as left-semi equi-joins and the scalar MAX as one per-part
      // aggregate join — PlanSpec-guarded against nested loops.
      t(s, d, "supplier").createOrReplaceTempView("supplier")
      t(s, d, "nation").createOrReplaceTempView("nation")
      t(s, d, "part").createOrReplaceTempView("part")
      t(s, d, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(sqlNestedInSql)
    }),
    "q90_recursive_cte" -> ((s, d) => {
      // WITH RECURSIVE as ONE shared SQL text (Spark 4's recursive CTE
      // — the iterative-fixpoint SQL surface): walk the implicit binary
      // tree parent(k) = ⌊k/2⌋ from root 1 over supplier and aggregate
      // per depth. Integer-only outputs; the FLOOR(x / 2.0) spelling is
      // the engine-neutral integer halving (bare `/` is float division
      // in DuckDB, `div` isn't Spark-portable). The iterative Graph/
      // Hierarchy operators remain the 100 TB scale path — this gates
      // the declarative surface over the same semantics.
      t(s, d, "supplier").createOrReplaceTempView("supplier")
      s.sql(sqlRecursiveCteSql)
    }),
    "q86_sql_setops" -> ((s, d) => {
      // the SQL set-operation surface as ONE shared text both engines
      // run: INTERSECT and EXCEPT (set semantics — Catalyst plans both as
      // left-semi/left-anti over distinct inputs) plus INTERSECT ALL (bag
      // semantics: min multiplicity per value, planned via a row_number
      // rewrite) — three tagged branches UNION ALL'd so one hash pins all
      // three operators' exact contents, duplicates included.
      t(s, d, "customer").createOrReplaceTempView("customer")
      t(s, d, "orders").createOrReplaceTempView("orders")
      t(s, d, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(sqlSetOpsSql)
    }),
    "q87_sql_lateral" -> ((s, d) => {
      // the LATERAL join surface as ONE shared SQL text: a correlated
      // subquery in FROM computing each customer's top-3 orders by price
      // (ORDER BY … LIMIT inside the lateral — the per-key-top-k idiom a
      // warehouse user writes instead of a window function). Catalyst
      // decorrelates it to a window-ranked join; DuckDB executes the
      // lateral directly — same rows either way.
      t(s, d, "customer").createOrReplaceTempView("customer")
      t(s, d, "orders").createOrReplaceTempView("orders")
      s.sql(sqlLateralSql)
    }),
    "q77_window_family" -> ((s, d) => {
      // the rest of the §2.5 window-function family in one gate:
      // percent_rank / cume_dist (exact single-divide rationals —
      // bit-identical across engines), ntile, lag, lead-with-default,
      // nth_value under the default ORDER BY frame, all over the same
      // deterministic (o_custkey, o_orderkey) order.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      t(s, d, "orders").filter(col("o_custkey") <= 300)
        .select(col("o_custkey"), col("o_orderkey"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          ntile(4).over(w).as("q4"),
          lag(col("o_orderkey"), 1).over(w).as("prev_key"),
          lead(col("o_orderkey"), 2, -1L).over(w).as("next2_key"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_key"))
        .orderBy("o_custkey", "o_orderkey")
    }),
    "q64_unpivot" -> ((s, d) => {
      // UNPIVOT/melt — wide metric columns to long (metric, value) rows,
      // the §2.6 inverse of q34's pivot. Native Dataset.unpivot (Catalyst
      // Expand: one pass, no join, output = rows × metrics); values are
      // verbatim source doubles, so the melt hash-checks exactly.
      t(s, d, "lineitem")
        .filter(col("l_orderkey") % 50 === 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_tax"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "metric", "value")
        .orderBy("l_orderkey", "l_linenumber", "metric")
    }),
    "s19_stream_scd2" -> ((s, d) => {
      // STREAMING SCD2 (Streaming.scd2Stream): q69's change set arrives
      // in 3 TIME-ORDERED microbatches (epoch-us cutoffs at Jan 10/20),
      // each folding into the versioned history with copy-on-write
      // commits. SCD2 application is batching-insensitive for
      // time-ordered changes, so the converged history equals the
      // one-shot batch application — s19 shares q69's oracle VERBATIM.
      import org.apache.spark.sql.types._
      val base = t(s, d, "customer").filter(col("c_custkey") <= 50)
        .select(col("c_custkey").as("custkey"),
          floor(col("c_acctbal")).cast("long").as("bal"),
          lit(0L).as("valid_from"), lit(null).cast("long").as("valid_to"))
      val ev = t(s, d, "events").filter(col("user_id") <= 50)
        .select(col("user_id").as("custkey"),
          floor(col("value") * 100).cast("long").as("bal"),
          unix_micros(col("ts")).as("ts"),
          when(col("event_type") === "purchase", "D").otherwise("U").as("op"),
          col("event_id"))
      val wDedup = Window.partitionBy("custkey", "ts").orderBy(col("event_id").desc)
      val ch = ev.withColumn("__rn", row_number().over(wDedup))
        .filter(col("__rn") === 1).drop("__rn", "event_id")
      val root = graft.util.TempDirs.scratch("s19")
      base.coalesce(1).write.parquet(s"$root/dim/v=0")
      val cut1 = 1704844800000000L // 2024-01-10 UTC in epoch-us
      val cut2 = 1705708800000000L // 2024-01-20
      Seq((0, col("ts") < cut1),
          (1, col("ts") >= cut1 && col("ts") < cut2),
          (2, col("ts") >= cut2)).foreach { case (b, cond) =>
        graft.streaming.Streaming.writeOrderedMicrobatch(
          ch.filter(cond), s"$root/in", b)
      }
      val ss = graft.streaming.Streaming.statefulSession(s)
      val schema = StructType(Seq(StructField("custkey", LongType),
        StructField("bal", LongType), StructField("ts", LongType),
        StructField("op", StringType)))
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
      graft.streaming.Streaming.scd2Stream(stream, s"$root/dim",
          s"$root/ckpt", Seq("custkey"), Seq("bal"), "ts", "op")
        .awaitTermination()
      graft.streaming.Streaming.latestIvmView(s, s"$root/dim")
        .withColumn("is_current", col("valid_to").isNull)
        .orderBy("custkey", "valid_from")
    }),
    "q69_scd2" -> ((s, d) => {
      // SCD TYPE 2 history merge (Cdc.applyChangesetScd2, the
      // history-tracking complement to q43's latest-wins SCD1): base
      // customer balances open at epoch 0, event changes (purchase ⇒
      // delete, else upsert at floor(value*100)) re-version each key —
      // ONE lead window per key builds the whole validity chain, deletes
      // close their predecessor but emit no row. All cells are exact
      // longs (epoch-us, floors), fully hash-checked.
      val base = t(s, d, "customer").filter(col("c_custkey") <= 50)
        .select(col("c_custkey").as("custkey"),
          floor(col("c_acctbal")).cast("long").as("bal"),
          lit(0L).as("valid_from"), lit(null).cast("long").as("valid_to"))
      val ev = t(s, d, "events").filter(col("user_id") <= 50)
        .select(col("user_id").as("custkey"),
          floor(col("value") * 100).cast("long").as("bal"),
          unix_micros(col("ts")).as("ts"),
          when(col("event_type") === "purchase", "D").otherwise("U").as("op"),
          col("event_id"))
      val wDedup = Window.partitionBy("custkey", "ts").orderBy(col("event_id").desc)
      val ch = ev.withColumn("__rn", row_number().over(wDedup))
        .filter(col("__rn") === 1).drop("__rn", "event_id")
      graft.ops.Cdc.applyChangesetScd2(base, ch,
          Seq("custkey"), Seq("bal"), "ts", "op")
        .orderBy("custkey", "valid_from")
    }),
    "q70_pit_join" -> ((s, d) => {
      // POINT-IN-TIME JOIN: facts (click events, first 2000) against the
      // q69 SCD2 dimension — each fact matches the version whose
      // [valid_from, valid_to) interval contains its timestamp, i.e. the
      // as-of operator (Deltas.asofJoin: union + ONE window pass, never a
      // per-key cross product) applied to version rows; the half-open
      // upper bound falls out because a later version always supersedes
      // at its own valid_from. Facts before any version left-join to null.
      val base = t(s, d, "customer").filter(col("c_custkey") <= 50)
        .select(col("c_custkey").as("custkey"),
          floor(col("c_acctbal")).cast("long").as("bal"),
          lit(0L).as("valid_from"), lit(null).cast("long").as("valid_to"))
      // changes = views (upsert) + purchases (delete) ONLY; clicks are
      // pure facts, so a click after a purchase and before the next view
      // lands in a real deletion gap and must resolve to null
      val ev = t(s, d, "events")
        .filter(col("user_id") <= 50 &&
          col("event_type").isin("view", "purchase"))
        .select(col("user_id").as("custkey"),
          floor(col("value") * 100).cast("long").as("bal"),
          unix_micros(col("ts")).as("ts"),
          when(col("event_type") === "purchase", "D").otherwise("U").as("op"),
          col("event_id"))
      val wDedup = Window.partitionBy("custkey", "ts").orderBy(col("event_id").desc)
      val ch = ev.withColumn("__rn", row_number().over(wDedup))
        .filter(col("__rn") === 1).drop("__rn", "event_id")
      val dim = graft.ops.Cdc.applyChangesetScd2(base, ch,
          Seq("custkey"), Seq("bal"), "ts", "op")
      val facts = t(s, d, "events")
        .filter(col("user_id") <= 50 && col("event_type") === "click" &&
          col("event_id") <= 2000)
        .select(col("event_id"), col("user_id").as("custkey"),
          unix_micros(col("ts")).as("t_us"))
      // delete tombstones enter the as-of input with null payload so a
      // fact inside a deletion gap resolves to null (true interval
      // semantics), not to the stale pre-delete version
      val lookup = dim.select(col("custkey"), col("valid_from"), col("bal"))
        .unionByName(ch.filter(col("op") === "D")
          .select(col("custkey"), col("ts").as("valid_from"),
            lit(null).cast("long").as("bal")))
      graft.ops.Deltas.asofJoin(facts, lookup,
          Seq("custkey"), leftTime = "t_us", rightTime = "valid_from",
          payload = Seq("bal"))
        .select(col("event_id"), col("custkey"), col("t_us"),
          col("asof_bal").as("bal_at_event"))
        .orderBy("event_id")
    }),
    "q75_filter_agg" -> ((s, d) => {
      // conditional aggregates via the SQL FILTER clause — one pass, one
      // shuffle, no CASE-WHEN contortions or self-joins: per priority the
      // total count plus status-filtered count and sum (ROUND(,2) per the
      // q61 precedent for totalprice sums).
      t(s, d, "orders").createOrReplaceTempView("__q75_orders")
      s.sql("""
        SELECT o_orderpriority, COUNT(*) AS n,
          COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
          ROUND(SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 2) AS open_total
        FROM __q75_orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    }),
    "q74_not_in_nulls" -> ((s, d) => {
      // the NOT IN null trap, pinned across engines: one NULL in the
      // subquery list makes `x NOT IN (...)` UNKNOWN for every row
      // (count 0), while NOT EXISTS / left-anti keeps the rows a reader
      // expects — both variants in one result so the gate certifies the
      // three-valued-logic behavior AND the correct alternative.
      t(s, d, "orders").createOrReplaceTempView("__q74_orders")
      t(s, d, "customer").createOrReplaceTempView("__q74_cust")
      s.sql("""
        SELECT variant, n FROM (
          SELECT 'not_in' AS variant, COUNT(*) AS n FROM __q74_cust
          WHERE c_custkey NOT IN (
            SELECT o_custkey FROM __q74_orders WHERE o_orderkey % 3 = 0
            UNION ALL SELECT CAST(NULL AS BIGINT))
          UNION ALL
          SELECT 'not_exists', COUNT(*) FROM __q74_cust c
          WHERE NOT EXISTS (SELECT 1 FROM __q74_orders o
                            WHERE o.o_custkey = c.c_custkey
                              AND o.o_orderkey % 3 = 0))
        ORDER BY variant""")
    }),
    "q72_range_frame" -> ((s, d) => {
      // value-RANGE window frame (the frame kind q45's ROWS frames don't
      // cover): per event, count and sum of the SAME USER's centi-values
      // within ±1 hour of event time — RANGE BETWEEN interval bounds over
      // the epoch-us long, exact integers end to end.
      val w = Window.partitionBy("user_id").orderBy(col("t_us"))
        .rangeBetween(-3600000000L, 3600000000L)
      t(s, d, "events")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("t_us"),
          floor(col("value") * 100).cast("long").as("v"))
        .withColumn("n_nearby", count(lit(1)).over(w))
        .withColumn("sum_nearby", sum(col("v")).over(w))
        .orderBy("event_id")
    }),
    "q73_typed_agg" -> ((s, d) => {
      // typed Aggregator UDAF (ops/TypedAggregators.ExactMoments): exact
      // (n, Σx, Σx²) per event type over integer centi-values — the
      // Dataset-API UDAF surface (case-class buffer + product encoders,
      // registered via functions.udaf), map-side combinable by
      // construction (reduce = partial, merge = combiner).
      val mm = udaf(graft.ops.TypedAggregators.ExactMoments)
      t(s, d, "events")
        .select(col("event_type"), floor(col("value") * 100).cast("long").as("v"))
        .groupBy("event_type")
        .agg(mm(col("v")).as("__m"))
        .select(col("event_type"), col("__m.n").as("n"),
          col("__m.sum").as("sum_v"), col("__m.sumSq").as("sum_sq"))
        .orderBy("event_type")
    }),
    "q71_explode_outer" -> ((s, d) => {
      // OUTER generator semantics (§2.9's table-function family): docs
      // explode into their long tokens (length >= 8), and posexplode_outer
      // KEEPS docs whose filtered array is empty as one null-pos/null-tok
      // row — the left-join-shaped lateral a plain explode silently drops.
      t(s, d, "documents").select(col("doc_id"),
          posexplode_outer(filter(TextAnalysis.tokens(col("text")),
            t => length(t) >= 8)).as(Seq("pos", "tok")))
        .orderBy("doc_id", "pos")
    }),
    "q67_set_ops" -> ((s, d) => {
      // explicit INTERSECT / EXCEPT — the §2.6 members q24's UNION left
      // implicit: customers with urgent orders ∩/∖ customers with 'F'
      // status orders, tagged and unioned into one result. Both plan as
      // keyed joins (left-semi/left-anti over distinct sets), never a
      // nested loop.
      val o = t(s, d, "orders")
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      val done = o.filter(col("o_orderstatus") === "F")
        .select(col("o_custkey"))
      urgent.intersect(done).withColumn("tag", lit("both"))
        .unionByName(urgent.except(done).withColumn("tag", lit("urgent_only")))
        .orderBy("tag", "o_custkey")
    }),
    "q68_ntile" -> ((s, d) => {
      // equi-DEPTH histogram via ntile(10) over the (value, event_id)
      // TOTAL order (the tie-break makes bucket boundaries deterministic,
      // so the bucket stats hash — lo/hi are verbatim source doubles).
      // The bucket is a PURE FUNCTION of the global rank, so this runs
      // through GlobalRank.withGlobalNtile (range partitions + broadcast
      // offsets + one scalar count) — bit-identical to the window ntile
      // (GlobalRankSpec pins the equivalence incl. the uneven-bucket
      // rule) with NO single-task global sort; the board-wide
      // GlobalWindowGuardSpec exemption is gone.
      graft.ops.GlobalRank.withGlobalNtile(
          t(s, d, "events").select(col("event_id"), col("value")),
          "decile", 10, col("value"), col("event_id"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n"), min(col("value")).as("lo"),
          max(col("value")).as("hi"))
        .orderBy("decile")
    }),
    "q65_histogram" -> ((s, d) => {
      // exact equi-width histogram (the profiling family next to q42's
      // audit and q40's approx quantiles): DYADIC bin width 32, so
      // value/32 is one exact IEEE divide and floor is exact — bin ids
      // are deterministic integers both engines agree on. One partial-
      // aggregated pass; at 100 TB this is the cheap first look before
      // the exact-percentile machinery.
      t(s, d, "events")
        .select(col("event_type"), floor(col("value") / 32).cast("long").as("bin"))
        .groupBy("event_type", "bin").agg(count(lit(1)).as("n"))
        .orderBy("event_type", "bin")
    }),
    "q44_cube" -> ((s, d) => {
      // CUBE grouping-set rollup with GROUPING disambiguators (the §2.6
      // family's missing multi-set member next to q35's ROLLUP)
      t(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping(col("l_returnflag")).cast("int").as("g_rf"),
          grouping(col("l_linestatus")).cast("int").as("g_ls"),
          count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("g_rf"), col("g_ls"), col("l_returnflag"), col("l_linestatus"))
    }),
    "q45_ewma" -> ((s, d) => {
      // exponential moving average over the last 20 events per user, as the
      // EXACT recursion y ← (y + x)/2 folded left over the ordered frame:
      // IEEE adds are exactly rounded and halving is exact, so the fold is
      // bit-identical in any engine that folds the same order — DuckDB
      // list_reduce recomputes it bit for bit (no sum-reorder ULP noise).
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-19, 0)
      t(s, d, "events")
        .withColumn("__lst", collect_list(col("value")).over(w))
        .select(col("event_id"),
          aggregate(slice(col("__lst"), lit(2), size(col("__lst"))),
            element_at(col("__lst"), 1), (a, x) => (a + x) / lit(2)).as("ewma"))
        .orderBy(col("event_id"))
    }),
    "q42_quality_audit" -> ((s, d) => {
      // Deequ-style constraint suite over orders, ONE aggregation pass:
      // row-level expectations fold into the same global agg (map-side
      // partials), uniqueness adds a count_distinct. Report rows are the
      // broadcastable gate a 100 TB pipeline checks before publishing.
      import graft.ops.Audit.{RowCheck, UniqueCheck}
      graft.ops.Audit.audit(t(s, d, "orders"),
        rowChecks = Seq(
          RowCheck("orderkey_not_null", col("o_orderkey").isNotNull),
          RowCheck("totalprice_positive", col("o_totalprice") > 0),
          RowCheck("status_in_domain", col("o_orderstatus").isin("O", "F", "P")),
          RowCheck("date_in_range",
            col("o_orderdate") >= lit("1992-01-01") &&
              col("o_orderdate") < lit("1999-01-01")),
          RowCheck("priority_pattern",
            col("o_orderpriority").rlike("^[1-5]-"))),
        uniqueChecks = Seq(UniqueCheck("orderkey_unique", "o_orderkey")))
        .orderBy(col("check_name"))
    }),
    "d30_winnow_pairs" -> ((s, d) => {
      // Winnowing (MOSS) substring-overlap candidate pairs: normalize →
      // k=16-gram polynomial hashes → min of every w=4-gram window
      // (rightmost-tie rule via the key encoding) → pairs sharing >= 3
      // selected gram hashes. Native codegen'd kernel; engine-portable
      // hash formula — DuckDB recomputes the identical fingerprint set.
      Dedup.winnowPairs(t(s, d, "documents"), "doc_id",
          k = 16, w = 4, minShared = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),
    "q41_zorder_stats" -> ((s, d) => {
      // Z-order data layout, with its pruning evidence in the hash: Morton-
      // interleave (l_suppkey, l_partkey), bucket the z order into 16
      // "files" (exact ntile semantics via GlobalRank — the oracle-stable
      // stand-in for the production
      // repartitionByRange in ZOrder.zOrdered), and emit each bucket's
      // per-dimension min/max — the file-stats table a 2-D predicate scan
      // prunes with. Pure integer bit arithmetic, bit-identical in DuckDB.
      graft.ops.ZOrder.zBucketStats(t(s, d, "lineitem"),
          col("l_suppkey"), col("l_partkey"),
          Seq(col("l_orderkey"), col("l_linenumber")), nBuckets = 16)
        .orderBy(col("bucket"))
    })
  )

  /** Shared oracle for q47 (batch funnel) and s10 (flatMapGroupsWithState
    * funnel state machine) — the stream must converge to the batch answer. */
  /** v06's oracle: `iters` unrolled Lloyd rounds over the embeddings
    * table — the same fixed-order float contract as q50/q45 (argmin on
    * dim-ordered distance folds with ties to the lower cluster id;
    * centroid means folded over members in ascending-id order from the
    * first member; inertia likewise), so every double matches the Spark
    * `Clustering.lloyd(orderedFold = true)` result bit for bit. */
  private def kmeansOracleSql(k: Int, iters: Int, dim: Int): String = {
    val dp = dim + 1
    def dist(v1: String, v2: String) =
      s"list_reduce(list_transform(range(1, $dp), i -> ($v1[i]-$v2[i])*($v1[i]-$v2[i])), (x,y) -> x + y)"
    val rounds = (1 to iters).map { m =>
      s"""a$m AS (SELECT vec_id, v, j AS cluster FROM (
         |    SELECT e.vec_id, e.v, c.j, row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${dist("e.v", "c.v")}, c.j) AS rn
         |    FROM emb e CROSS JOIN c${m - 1} c) t WHERE rn = 1),
         |g$m AS (SELECT cluster AS j, COUNT(*) AS n, list(v ORDER BY vec_id) AS vs
         |        FROM a$m GROUP BY cluster),
         |c$m AS (SELECT j, n, list_transform(
         |    list_reduce(vs, (acc, x) -> list_transform(range(1, $dp), i -> acc[i] + x[i])),
         |    s -> s / n) AS v FROM g$m)""".stripMargin
    }.mkString(",\n")
    s"""WITH emb AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |),
       |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, v
       |       FROM (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT $k) t),
       |$rounds,
       |d$iters AS (
       |  SELECT a.vec_id, a.cluster, ${dist("a.v", "c.v")} AS d2
       |  FROM a$iters a JOIN c$iters c ON c.j = a.cluster
       |),
       |inert AS (SELECT cluster, list_reduce(list(d2 ORDER BY vec_id), (x,y) -> x + y) AS inertia
       |          FROM d$iters GROUP BY cluster)
       |SELECT CAST(c$iters.j AS INTEGER) AS cluster, c$iters.n, inert.inertia,
       |  CAST(u.i - 1 AS INTEGER) AS dim, c$iters.v[u.i] AS c
       |FROM c$iters JOIN inert ON inert.cluster = c$iters.j,
       |  LATERAL unnest(range(1, $dp)) AS u(i)
       |ORDER BY cluster, dim""".stripMargin
  }

  /** q50's oracle: 5 unrolled PageRank rounds over the q46 affine graph.
    * Each round's inbound sum is an ORDERED `list_reduce` (ascending src)
    * so every double matches the Spark ordered fold bit for bit —
    * list_reduce has no init, but 0.0 + c == c exactly for the positive
    * contributions, so the missing seed cannot diverge from Spark's
    * aggregate(…, 0.0, +). Generated per round to keep the 5 copies
    * literally identical. */
  /** The q46/q50/q52 graph: 5 deterministic affine maps over part keys —
    * sparse (5 out-edges/vertex) at EVERY scale factor, where a data-derived
    * co-occurrence graph goes complete at sf0.01. */
  private def affinePartGraph(s: SparkSession, d: String): DataFrame = {
    val part = t(s, d, "part").select(col("p_partkey"))
    val withN = part.crossJoin(broadcast(part.agg(count(lit(1)).as("__n"))))
    Seq((31, 7), (17, 3), (13, 11), (7, 1), (41, 19)).map { case (a, b) =>
      withN.select(col("p_partkey").as("src"),
        (pmod(col("p_partkey") * a + b, col("__n")) + 1).as("dst"))
    }.reduce(_.unionByName(_))
  }

  /** q51 (batch IVM refresh) and s12 (streamed IVM) share one oracle: the
    * full recompute over the changed base — the thing IVM exists to avoid
    * doing, and the ground truth it must equal. */
  /** q53/s13: rebuild the KMV sketches from scratch — same md5 hash, same
    * lexicographic min-k (fixed-width hex ⇒ string order == numeric order)
    * — then derive the pairwise union-min-k and both-membership counts.
    * Integers + one IEEE divide: hash-safe. The streaming twin (s13) must
    * converge to the identical sketches, so it shares this oracle. */
  private val kmvOverlapOracleSql: String =
    """WITH h AS (
      |  SELECT DISTINCT o_orderpriority AS shard,
      |    md5(CAST(o_custkey AS VARCHAR)) AS h
      |  FROM orders WHERE o_custkey IS NOT NULL
      |), mink AS (
      |  SELECT shard, h FROM (
      |    SELECT shard, h, row_number() OVER (PARTITION BY shard ORDER BY h) AS rn
      |    FROM h) WHERE rn <= 64
      |), shards AS (SELECT DISTINCT shard FROM mink),
      |pairs AS (
      |  SELECT a.shard AS sa, b.shard AS sb
      |  FROM shards a JOIN shards b ON a.shard < b.shard
      |), u AS (
      |  SELECT p.sa, p.sb, m.h FROM pairs p
      |  JOIN mink m ON m.shard IN (p.sa, p.sb)
      |  GROUP BY 1, 2, 3
      |), uk AS (
      |  SELECT sa, sb, h FROM (
      |    SELECT sa, sb, h, row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
      |    FROM u) WHERE rn <= 64
      |)
      |SELECT uk.sa AS shard_a, uk.sb AS shard_b,
      |  CAST(COUNT(*) AS BIGINT) AS union_k,
      |  CAST(COUNT(CASE WHEN ma.h IS NOT NULL AND mb.h IS NOT NULL THEN 1 END) AS BIGINT) AS both_k,
      |  CAST(COUNT(CASE WHEN ma.h IS NOT NULL AND mb.h IS NOT NULL THEN 1 END) AS DOUBLE)
      |    / COUNT(*) AS jaccard_est
      |FROM uk
      |LEFT JOIN mink ma ON ma.shard = uk.sa AND ma.h = uk.h
      |LEFT JOIN mink mb ON mb.shard = uk.sb AND mb.h = uk.h
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private val trendOracleSql: String =
    """WITH b AS (
      |  SELECT event_type,
      |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
      |    CAST(floor(value * 100) AS BIGINT) AS y
      |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
      |)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(x) AS BIGINT) AS sum_x, CAST(SUM(y) AS BIGINT) AS sum_y,
      |  CAST(COUNT(*) * SUM(x*y) - SUM(x) * SUM(y) AS BIGINT) AS slope_num,
      |  CAST(COUNT(*) * SUM(x*x) - SUM(x) * SUM(x) AS BIGINT) AS slope_den,
      |  CAST(SUM(y) * SUM(x*x) - SUM(x) * SUM(x*y) AS BIGINT) AS intercept_num
      |FROM b GROUP BY event_type ORDER BY event_type""".stripMargin

  private val ivmOracleSql: String =
    """WITH ev AS (
      |  SELECT event_type, user_id % 10 AS user_bucket,
      |    CAST(floor(value * 100) AS BIGINT) AS iv, ts FROM events
      |), survivors AS (
      |  SELECT * FROM ev
      |  WHERE (ts < TIMESTAMP '2024-01-25 00:00:00' AND user_bucket <> 3)
      |     OR (ts >= TIMESTAMP '2024-01-25 00:00:00' AND user_bucket <> 3)
      |)
      |SELECT event_type, user_bucket, COUNT(*) AS n_rows,
      |  CAST(SUM(iv) AS BIGINT) AS sum_iv
      |FROM survivors GROUP BY event_type, user_bucket
      |ORDER BY event_type, user_bucket""".stripMargin

  /** q95: same affine-map graph as q50, canonicalized undirected; wedges
    * per center vertex, RA in integer 1e-12 units (// is floor division —
    * equal to Spark's long `/` truncation for these positive operands). */
  private val linkPredictionOracleSql: String =
    """WITH n0 AS (SELECT COUNT(*) AS n FROM part),
      |raw AS (
      |  SELECT p_partkey AS src, ((p_partkey * 31 + 7) % n0.n) + 1 AS dst FROM part, n0
      |  UNION ALL SELECT p_partkey, ((p_partkey * 17 + 3) % n0.n) + 1 FROM part, n0
      |  UNION ALL SELECT p_partkey, ((p_partkey * 13 + 11) % n0.n) + 1 FROM part, n0
      |  UNION ALL SELECT p_partkey, ((p_partkey * 7 + 1) % n0.n) + 1 FROM part, n0
      |  UNION ALL SELECT p_partkey, ((p_partkey * 41 + 19) % n0.n) + 1 FROM part, n0
      |), e AS (
      |  SELECT DISTINCT LEAST(src, dst) AS src, GREATEST(src, dst) AS dst
      |  FROM raw WHERE src <> dst
      |), adj AS (
      |  SELECT src AS w, dst AS v FROM e UNION ALL SELECT dst, src FROM e
      |), deg AS (SELECT w, COUNT(*) AS deg FROM adj GROUP BY 1),
      |wed AS (
      |  SELECT a.v AS u, b.v AS v, a.w AS w
      |  FROM adj a JOIN adj b ON a.w = b.w AND a.v < b.v
      |), sc AS (
      |  SELECT u, v, CAST(COUNT(*) AS BIGINT) AS cn,
      |    CAST(SUM(1000000000000 // d.deg) AS BIGINT) AS ra_e12
      |  FROM wed JOIN deg d ON d.w = wed.w GROUP BY 1, 2
      |)
      |SELECT sc.u, sc.v, sc.cn, sc.ra_e12 FROM sc
      |LEFT JOIN e ON e.src = sc.u AND e.dst = sc.v
      |WHERE e.src IS NULL
      |ORDER BY sc.cn DESC, sc.ra_e12 DESC, sc.u, sc.v LIMIT 50""".stripMargin

  /** d77: the shipped unigram vocab — 26 single-char fallback pieces
    * (cost 101 + index, so char segmentations never tie) plus multi-char
    * pieces planting the greedy-vs-optimal branches. Optima verified
    * unique over the documents corpus. */
  private val unigramVocab: Map[String, Long] =
    (0 until 26).map(i => ('a' + i).toChar.toString -> (101L + i)).toMap ++ Map(
      "ta" -> 150L, "ble" -> 160L, "table" -> 340L,
      "cust" -> 180L, "omer" -> 190L, "customer" -> 360L,
      "str" -> 140L, "eam" -> 145L, "win" -> 130L, "dow" -> 135L,
      "val" -> 150L, "ue" -> 120L, "filt" -> 170L, "er" -> 90L,
      "qu" -> 125L, "ow" -> 128L, "col" -> 155L, "umn" -> 165L)

  /** d77 oracle: exhaustive segmentation-path enumeration by recursive
    * CTE over the same vocab, per-word minimum. Enumeration is exact
    * because it runs over the DISTINCT word table (31 short words). */
  private val unigramOracleSql: String = {
    val values = unigramVocab.toSeq.sortBy(_._1)
      .map { case (p, c) => s"('$p', $c)" }.mkString(", ")
    s"""WITH freq AS (
       |  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS n_occ FROM (
       |    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
       |    FROM documents) WHERE w <> '' GROUP BY 1
       |), vocab AS (SELECT * FROM (VALUES $values) v(piece, cost)),
       |paths AS (
       |  WITH RECURSIVE dp AS (
       |    SELECT word, 0 AS pos, 0::BIGINT AS cost, '' AS seg,
       |      0::BIGINT AS n_pieces
       |    FROM freq
       |    UNION ALL
       |    SELECT dp.word, dp.pos + len(v.piece), dp.cost + v.cost,
       |      CASE WHEN dp.seg = '' THEN v.piece
       |           ELSE dp.seg || ' ' || v.piece END,
       |      dp.n_pieces + 1
       |    FROM dp JOIN vocab v
       |      ON substr(dp.word, dp.pos + 1, len(v.piece)) = v.piece
       |    WHERE dp.pos < len(dp.word)
       |  ) SELECT word, cost, seg, n_pieces FROM dp WHERE pos = len(word)
       |), best AS (
       |  SELECT word, cost, seg, n_pieces,
       |    row_number() OVER (PARTITION BY word ORDER BY cost) AS rn
       |  FROM paths
       |)
       |SELECT f.word, f.n_occ, b.seg, b.cost, b.n_pieces
       |FROM freq f LEFT JOIN best b ON b.word = f.word AND b.rn = 1
       |ORDER BY f.word""".stripMargin
  }
  // ^ LEFT JOIN, matching segmentWords' null contract for unsegmentable
  // words — an inner join would silently drop them from the oracle while
  // the engine emits them with null seg/cost (the gate only agreed by
  // luck of the current corpus being vocab-coverable).

  /** m25 + s38 (stream ≡ batch): the MP3 walk closed form. */
  private val mp3WalkOracleSql: String =
  """WITH m AS (
        |  SELECT p_partkey AS media_id,
        |    CASE p_partkey % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS sr,
        |    CASE p_partkey % 3 WHEN 0 THEN 128 WHEN 1 THEN 160 ELSE 192 END AS br,
        |    3 + p_partkey % 4 AS n
        |  FROM part WHERE p_partkey <= 200
        |), fr AS (
        |  SELECT m.media_id, m.sr, m.br, m.n,
        |    144000 * m.br // m.sr + (m.media_id + f.f) % 2 AS fs,
        |    (m.media_id * 31 + f.f * 17) % 251 AS v
        |  FROM m, LATERAL (SELECT unnest(range(m.n)) AS f) f
        |)
        |SELECT media_id,
        |  CAST(MAX(sr) AS INT) AS sample_rate,
        |  CAST(MAX(br) AS INT) AS bitrate_kbps,
        |  CAST(media_id % 4 AS INT) AS channel_mode,
        |  CAST(MAX(n) AS INT) AS n_frames,
        |  CAST(MAX(n) * 1152 AS BIGINT) AS n_samples,
        |  CAST(SUM(fs - 4) AS BIGINT) AS payload_bytes,
        |  CAST(SUM((fs - 4) * v) AS BIGINT) AS payload_sum
        |FROM fr GROUP BY media_id ORDER BY media_id""".stripMargin

  /** m24 + s37 (stream ≡ batch): the MP4 walk closed form. */
  private def mp4WalkOracleSql(bound: Int = 200): String =
    s"""WITH m AS (
        |  SELECT p_partkey AS media_id, 2 + p_partkey % 3 AS ns
        |  FROM part WHERE p_partkey <= $bound
        |), samp AS (
        |  SELECT m.media_id, m.ns, m.media_id * 101 + k.k AS img
        |  FROM m, LATERAL (SELECT unnest(range(m.ns)) AS k) k
        |), blk AS (
        |  SELECT s.media_id, s.ns, s.img,
        |    128 + 2 * (((s.img * 7 + bx.bx * 11 + by.by * 13) % 61) - 30) AS c0,
        |    128 + 2 * (((s.img * 7 + bx.bx * 11 + by.by * 13 + 17) % 61) - 30) AS c1,
        |    128 + 2 * (((s.img * 7 + bx.bx * 11 + by.by * 13 + 34) % 61) - 30) AS c2
        |  FROM samp s,
        |    LATERAL (SELECT unnest(range(2 + s.img % 2)) AS by) by,
        |    LATERAL (SELECT unnest(range(2 + s.img % 3)) AS bx) bx
        |), px AS (
        |  SELECT media_id, ns,
        |    CASE WHEN img % 2 = 0 THEN c0 ELSE
        |      GREATEST(0, LEAST(255, CAST(ROUND(c0 + 1.402 * (c2 - 128)) AS INT))) END AS r,
        |    CASE WHEN img % 2 = 0 THEN c0 ELSE
        |      GREATEST(0, LEAST(255, CAST(ROUND(c0 - 0.344136 * (c1 - 128) - 0.714136 * (c2 - 128)) AS INT))) END AS g,
        |    CASE WHEN img % 2 = 0 THEN c0 ELSE
        |      GREATEST(0, LEAST(255, CAST(ROUND(c0 + 1.772 * (c1 - 128)) AS INT))) END AS b
        |  FROM blk
        |)
        |SELECT media_id, 'isom' AS brand, 'jpeg' AS codec,
        |  CAST(600 AS BIGINT) AS timescale,
        |  CAST(MAX(ns) AS INT) AS n_samples,
        |  CAST(MAX(ns) * (100 + media_id % 5) AS BIGINT) AS duration,
        |  CAST(8 * (2 + (media_id * 101) % 3) AS INT) AS width,
        |  CAST(8 * (2 + (media_id * 101) % 2) AS INT) AS height,
        |  CAST(SUM(r) * 64 AS BIGINT) AS sum_r,
        |  CAST(SUM(g) * 64 AS BIGINT) AS sum_g,
        |  CAST(SUM(b) * 64 AS BIGINT) AS sum_b
        |FROM px GROUP BY media_id ORDER BY media_id""".stripMargin

  /** d74/s33: the shipped phrase dictionary (llm/PhraseSearch carries
    * the positional intersection both gates share). */
  private val phraseSearchPhrases: Seq[String] =
    Seq("slow hash batch", "row column sort", "window fast query")

  /** d74 + s33 (stream ≡ batch) oracle: brute-force positional scan. */
  private val phraseSearchOracleSql: String = {
    val values = phraseSearchPhrases.map(p => s"('$p')").mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS a
       |  FROM documents
       |), pw AS (
       |  SELECT phrase, regexp_split_to_array(phrase, ' ') AS w
       |  FROM (VALUES $values) v(phrase)
       |), m AS (
       |  SELECT pw.phrase, t.doc_id, g.i
       |  FROM t CROSS JOIN pw
       |  CROSS JOIN LATERAL (SELECT unnest(generate_series(
       |    1, GREATEST(len(t.a) - 2, 0))) AS i) g
       |  WHERE t.a[g.i] = pw.w[1] AND t.a[g.i + 1] = pw.w[2]
       |    AND t.a[g.i + 2] = pw.w[3]
       |)
       |SELECT phrase, doc_id, CAST(COUNT(*) AS BIGINT) AS n_occ,
       |  CAST(MIN(i) AS BIGINT) AS first_pos
       |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** q97: 3 unrolled unnormalized HITS rounds over the affine directed
    * graph — all-integer mutual reinforcement, no float contract. */
  private val hitsOracleSql: String =
    """WITH n0 AS (SELECT COUNT(*) AS n FROM part),
      |raw AS (
      |  SELECT p_partkey AS src, ((p_partkey * 31 + 7) % n0.n) + 1 AS dst FROM part, n0
      |  UNION ALL SELECT p_partkey, ((p_partkey * 17 + 3) % n0.n) + 1 FROM part, n0
      |  UNION ALL SELECT p_partkey, ((p_partkey * 13 + 11) % n0.n) + 1 FROM part, n0
      |  UNION ALL SELECT p_partkey, ((p_partkey * 7 + 1) % n0.n) + 1 FROM part, n0
      |  UNION ALL SELECT p_partkey, ((p_partkey * 41 + 19) % n0.n) + 1 FROM part, n0
      |), e AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
      |h0 AS (SELECT DISTINCT v, 1::BIGINT AS h FROM
      |  (SELECT src AS v FROM e UNION ALL SELECT dst FROM e)),
      |a1 AS (SELECT e.dst AS v, SUM(h0.h) AS a FROM e JOIN h0 ON h0.v = e.src GROUP BY 1),
      |h1 AS (SELECT e.src AS v, SUM(a1.a) AS h FROM e JOIN a1 ON a1.v = e.dst GROUP BY 1),
      |a2 AS (SELECT e.dst AS v, SUM(h1.h) AS a FROM e JOIN h1 ON h1.v = e.src GROUP BY 1),
      |h2 AS (SELECT e.src AS v, SUM(a2.a) AS h FROM e JOIN a2 ON a2.v = e.dst GROUP BY 1),
      |a3 AS (SELECT e.dst AS v, SUM(h2.h) AS a FROM e JOIN h2 ON h2.v = e.src GROUP BY 1),
      |h3 AS (SELECT e.src AS v, SUM(a3.a) AS h FROM e JOIN a3 ON a3.v = e.dst GROUP BY 1)
      |SELECT COALESCE(a3.v, h3.v) AS v,
      |  CAST(COALESCE(a3.a, 0) AS BIGINT) AS auth,
      |  CAST(COALESCE(h3.h, 0) AS BIGINT) AS hub
      |FROM a3 FULL OUTER JOIN h3 ON a3.v = h3.v
      |ORDER BY auth DESC, v LIMIT 20""".stripMargin

  /** d75: q50's unrolled 5-round ordered-fold PageRank replay, over the
    * word co-occurrence graph instead of the affine-map graph. */
  private val textRankOracleSql: String = {
    val rounds = (1 to 5).map { k =>
      s"""r$k AS (
         |  SELECT vv.v, (1.0::DOUBLE - 0.85::DOUBLE) / nn.n + 0.85::DOUBLE * COALESCE(s.s, 0.0::DOUBLE) AS r
         |  FROM v vv CROSS JOIN nn LEFT JOIN (
         |    SELECT e.dst AS v, list_reduce(list(rp.r / od.od ORDER BY e.src), (x,y) -> x + y) AS s
         |    FROM e JOIN r${k - 1} rp ON rp.v = e.src JOIN od ON od.src = e.src
         |    GROUP BY e.dst) s USING (v)
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH t AS (
       |  SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS a
       |  FROM documents
       |), raw AS (
       |  SELECT a[g.i] AS w1, a[g.i + 1] AS w2
       |  FROM t CROSS JOIN LATERAL (SELECT unnest(generate_series(
       |    1, GREATEST(len(a) - 1, 0))) AS i) g
       |), bg AS (
       |  SELECT DISTINCT w1, w2 FROM raw
       |  WHERE w1 <> w2 AND w1 <> '' AND w2 <> ''
       |), wd AS (
       |  SELECT DISTINCT w FROM
       |    (SELECT w1 AS w FROM bg UNION ALL SELECT w2 FROM bg) u
       |), ids AS (SELECT w, row_number() OVER (ORDER BY w) AS v FROM wd),
       |e AS (
       |  SELECT ia.v AS src, ib.v AS dst
       |  FROM bg JOIN ids ia ON ia.w = bg.w1 JOIN ids ib ON ib.w = bg.w2
       |  UNION
       |  SELECT ib.v, ia.v
       |  FROM bg JOIN ids ia ON ia.w = bg.w1 JOIN ids ib ON ib.w = bg.w2
       |),
       |v AS (SELECT DISTINCT v FROM (SELECT src AS v FROM e UNION ALL SELECT dst FROM e)),
       |nn AS (SELECT COUNT(*) AS n FROM v),
       |od AS (SELECT src, COUNT(*) AS od FROM e GROUP BY 1),
       |r0 AS (SELECT v.v, 1.0::DOUBLE / nn.n AS r FROM v, nn),
       |$rounds
       |SELECT ids.w AS word, r5.r FROM r5 JOIN ids ON ids.v = r5.v
       |ORDER BY r5.r DESC, word LIMIT 20""".stripMargin
  }

  private val pageRankOracleSql: String = {
    val rounds = (1 to 5).map { k =>
      s"""r$k AS (
         |  SELECT vv.v, (1.0::DOUBLE - 0.85::DOUBLE) / nn.n + 0.85::DOUBLE * COALESCE(s.s, 0.0::DOUBLE) AS r
         |  FROM v vv CROSS JOIN nn LEFT JOIN (
         |    SELECT e.dst AS v, list_reduce(list(rp.r / od.od ORDER BY e.src), (x,y) -> x + y) AS s
         |    FROM e JOIN r${k - 1} rp ON rp.v = e.src JOIN od ON od.src = e.src
         |    GROUP BY e.dst) s USING (v)
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH n0 AS (SELECT COUNT(*) AS n FROM part),
       |raw AS (
       |  SELECT p_partkey AS src, ((p_partkey * 31 + 7) % n0.n) + 1 AS dst FROM part, n0
       |  UNION ALL SELECT p_partkey, ((p_partkey * 17 + 3) % n0.n) + 1 FROM part, n0
       |  UNION ALL SELECT p_partkey, ((p_partkey * 13 + 11) % n0.n) + 1 FROM part, n0
       |  UNION ALL SELECT p_partkey, ((p_partkey * 7 + 1) % n0.n) + 1 FROM part, n0
       |  UNION ALL SELECT p_partkey, ((p_partkey * 41 + 19) % n0.n) + 1 FROM part, n0
       |), e AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
       |v AS (SELECT DISTINCT v FROM (SELECT src AS v FROM e UNION ALL SELECT dst FROM e)),
       |nn AS (SELECT COUNT(*) AS n FROM v),
       |od AS (SELECT src, COUNT(*) AS od FROM e GROUP BY 1),
       |r0 AS (SELECT v.v, 1.0::DOUBLE / nn.n AS r FROM v, nn),
       |$rounds
       |SELECT v, r FROM r5 ORDER BY r DESC, v LIMIT 20""".stripMargin
  }

  /** d47: the composed pipeline — span dedup (d40's CTEs) → survival
    * quality gate → token recount of the CLEANED text → per-lang
    * token-budget packing (d12's rule). Integers end to end. */
  private val pipelineE2eOracleSql: String =
    s"""WITH $spanDedupCtesSql,
       |kept AS (
       |  SELECT c.doc_id, d.lang,
       |    CAST(len(regexp_split_to_array(c.clean_text, '\\s+')) AS BIGINT) AS n_tokens
       |  FROM cleaned c JOIN documents d USING (doc_id)
       |  WHERE c.n_removed * 2 <= c.n_chunks AND c.clean_text <> ''
       |), packed AS (
       |  SELECT lang, doc_id, n_tokens,
       |    COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 256 AS bin_id
       |  FROM kept
       |)
       |SELECT lang, CAST(bin_id AS BIGINT) AS bin_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
       |FROM packed GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q69 + s19 (stream ≡ batch) SCD2 oracle: base opening events UNION
    * deduped changes, one LEAD chain per key, deletes filtered after
    * closing their predecessor. Exact longs throughout. */
  private val scd2OracleSql: String =
    """WITH base AS (
      |  SELECT c_custkey AS custkey, CAST(FLOOR(c_acctbal) AS BIGINT) AS bal,
      |    CAST(0 AS BIGINT) AS ts, 'U' AS op
      |  FROM customer WHERE c_custkey <= 50
      |), ch0 AS (
      |  SELECT user_id AS custkey, CAST(FLOOR(value * 100) AS BIGINT) AS bal,
      |    epoch_us(ts) AS ts,
      |    CASE WHEN event_type = 'purchase' THEN 'D' ELSE 'U' END AS op,
      |    event_id
      |  FROM events WHERE user_id <= 50
      |), ch AS (
      |  SELECT custkey, bal, ts, op FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY custkey, ts
      |      ORDER BY event_id DESC) AS rn FROM ch0)
      |  WHERE rn = 1
      |), ev AS (
      |  SELECT custkey, bal, ts, op FROM base
      |  UNION ALL SELECT custkey, bal, ts, op FROM ch
      |), vers AS (
      |  SELECT custkey, bal, ts AS valid_from,
      |    LEAD(ts) OVER (PARTITION BY custkey ORDER BY ts) AS valid_to, op
      |  FROM ev
      |)
      |SELECT custkey, bal, valid_from, valid_to, valid_to IS NULL AS is_current
      |FROM vers WHERE op <> 'D' ORDER BY custkey, valid_from""".stripMargin

  /** d20 + s18 (stream ≡ batch) cluster-formation oracle: the portable
    * minhash pair set UNION the deterministic id chain, closed with a
    * recursive CTE to min-id component labels. */
  private val dedupClustersOracleSql: String =
    """WITH RECURSIVE tk AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      |  FROM documents WHERE doc_id % 2 = 0
      |), g AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS grams
      |  FROM tk WHERE len(t) > 1
      |), banded AS (
      |  SELECT doc_id, k,
      |    list_min(list_transform(grams, x -> md5(CAST(k AS VARCHAR) || '|' || x))) AS sig
      |  FROM g, (SELECT unnest(range(0, 8)) AS k)
      |), mh AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM banded a JOIN banded b ON a.k = b.k AND a.sig = b.sig AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 4
      |), chain AS (
      |  SELECT d.doc_id AS id_a, d.doc_id + 7 AS id_b
      |  FROM documents d JOIN documents e ON e.doc_id = d.doc_id + 7
      |  WHERE d.doc_id % 7 = 0
      |), edges AS (
      |  SELECT id_a, id_b FROM mh UNION ALL SELECT id_a, id_b FROM chain
      |), sym AS (
      |  SELECT id_a AS u, id_b AS v FROM edges UNION SELECT id_b, id_a FROM edges
      |), reach AS (
      |  SELECT u, v FROM sym
      |  UNION
      |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
      |)
      |SELECT u AS doc_id, LEAST(u, MIN(v)) AS component
      |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin

  /** d40 + s16 (stream ≡ batch) span-dedup oracle. Chunking CTEs: 0-based
    * 5-token non-overlapping chunks (list_slice clamps the tail),
    * first-occurrence key encoded as doc_id*1000000+idx (idx < 1e6 — docs
    * are short), reassembly via position-ordered string_agg (fully-removed
    * docs -> ''). */
  // def, not val: referenced by pipelineE2eOracleSql, which is declared
  // earlier in this object — a val here would still be null at that point
  private def spanDedupCtesSql: String =
    """tk AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      |  FROM documents
      |), ix AS (
      |  SELECT doc_id, t,
      |    unnest(range(0, (len(t) + 4) // 5)) AS idx FROM tk
      |), ch AS (
      |  SELECT doc_id, idx,
      |    array_to_string(list_slice(t, idx * 5 + 1, (idx + 1) * 5), ' ') AS chunk
      |  FROM ix
      |), fo AS (
      |  SELECT chunk, MIN(doc_id * 1000000 + idx) AS first_key FROM ch GROUP BY 1
      |), m AS (
      |  SELECT c.doc_id, c.idx, c.chunk,
      |    (c.doc_id * 1000000 + c.idx) = f.first_key AS kept
      |  FROM ch c JOIN fo f USING (chunk)
      |), cleaned AS (
      |  SELECT doc_id,
      |    COALESCE(string_agg(CASE WHEN kept THEN chunk END, ' ' ORDER BY idx), '') AS clean_text,
      |    CAST(COUNT(*) AS BIGINT) AS n_chunks,
      |    CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_removed
      |  FROM m GROUP BY doc_id
      |)""".stripMargin

  private val spanDedupOracleSql: String =
    s"""WITH $spanDedupCtesSql
       |SELECT doc_id, clean_text, n_chunks, n_removed
       |FROM cleaned ORDER BY doc_id""".stripMargin

  /** (lang, n_chars%17)-blocked candidate pairs with id_a < id_b — the
    * shared blocking of d43/d53/d56. `docs` needs (doc_id, lang,
    * n_chars); extra columns ride along untouched. */
  private def blockedDocPairs(docs: DataFrame): DataFrame = {
    def key(p: String) = docs.select(col("doc_id").as(s"id_$p"),
      col("lang").as(s"__l_$p"), (col("n_chars") % 17).as(s"__k_$p"))
    key("a").join(key("b"),
        col("__l_a") === col("__l_b") && col("__k_a") === col("__k_b") &&
          col("id_a") < col("id_b"))
      .select("id_a", "id_b")
  }

  /** Stage the documents table as 3 ascending-doc_id microbatch drops and
    * return (file-source stream over them on a stateful sibling session,
    * fresh temp root for the query's state/checkpoint/sink dirs) — the
    * shared streamed-ingest scaffold of s16/s21/d42, so the batch-split
    * contract lives once. */
  private def docsThreeDropStream(s: SparkSession, d: String)
      : (DataFrame, String) = {
    import org.apache.spark.sql.types._
    val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
    val root = graft.util.TempDirs.scratch("docdrops")
    Seq((0, col("doc_id") < 167),
        (1, col("doc_id") >= 167 && col("doc_id") < 334),
        (2, col("doc_id") >= 334)).foreach { case (b, cond) =>
      graft.streaming.Streaming.writeOrderedMicrobatch(
        docs.filter(cond), s"$root/in", b)
    }
    val ss = graft.streaming.Streaming.statefulSession(s)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    (ss.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(s"$root/in"), root)
  }

  /** d57 + s22 (stream ≡ batch) PMI-collocation oracle: exact bigram/
    * margin counts, pinned-order ln, ROUND(,4), min support 10. */
  private val pmiOracleSql: String =
    """WITH tk AS (
        |  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents
        |), big AS (
        |  SELECT t[i.i] AS w1, t[i.i + 1] AS w2
        |  FROM tk, LATERAL (SELECT unnest(range(1, len(t))) AS i) i
        |  WHERE len(t) >= 2
        |), nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM big),
        |p12 AS (SELECT w1, w2, COUNT(*) AS n12 FROM big GROUP BY 1, 2),
        |p1 AS (SELECT w1, COUNT(*) AS n1 FROM big GROUP BY 1),
        |p2 AS (SELECT w2, COUNT(*) AS n2 FROM big GROUP BY 1)
        |SELECT p12.w1, p12.w2, CAST(p12.n12 AS BIGINT) AS n12,
        |  ROUND(ln(CAST(p12.n12 AS DOUBLE) * nn.n /
        |    (CAST(p1.n1 AS DOUBLE) * p2.n2)), 4) AS pmi
        |FROM p12 JOIN p1 USING (w1) JOIN p2 USING (w2) CROSS JOIN nn
        |WHERE p12.n12 >= 10
        |ORDER BY 1, 2""".stripMargin

  /** q78: one SQL text, two engines — correlated EXISTS / NOT EXISTS /
    * scalar subqueries; Spark runs it via spark.sql, DuckDB as the
    * oracle verbatim. */
  private val sqlSubqueriesSql: String =
    """SELECT c.c_custkey,
      |  (SELECT COUNT(*) FROM orders o
      |   WHERE o.o_custkey = c.c_custkey) AS n_orders,
      |  (SELECT MAX(o.o_totalprice) FROM orders o
      |   WHERE o.o_custkey = c.c_custkey) AS max_price
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
      |      AND o.o_totalprice < 10000)
      |ORDER BY c.c_custkey""".stripMargin

  /** d59 + s23 (stream ≡ batch) fuzzy-decontamination oracle: the d19
    * portable md5-minhash contract over a train×eval split. */
  private val fuzzyDecontamOracleSql: String =
    """WITH tk AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      |  FROM documents
      |), g AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS grams
      |  FROM tk WHERE len(t) > 1
      |), banded AS (
      |  SELECT doc_id, k,
      |    list_min(list_transform(grams, x -> md5(CAST(k AS VARCHAR) || '|' || x))) AS sig
      |  FROM g, (SELECT unnest(range(0, 8)) AS k)
      |)
      |SELECT tr.doc_id, ev.doc_id AS eval_id, CAST(COUNT(*) AS BIGINT) AS n_matching
      |FROM banded tr JOIN banded ev ON tr.k = ev.k AND tr.sig = ev.sig
      |WHERE tr.doc_id % 7 <> 3 AND ev.doc_id % 7 = 3
      |GROUP BY 1, 2 HAVING COUNT(*) >= 4
      |ORDER BY 1, 2""".stripMargin

  /** d60 + s24 shared URL-canonicalization CTEs: the synthetic messy-URL
    * generator + the full normalization chain (fragment strip, lower
    * scheme/host, default-port strip, trailing-slash collapse, utm_*
    * filter, param sort) in DuckDB string/list primitives. Both oracles
    * append their own final projection over `canon`. */
  private val urlCanonCteSql: String =
    """WITH urls AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END) || '://' ||
      |    (CASE WHEN doc_id % 3 = 0 THEN 'WWW.SITE' || CAST(doc_id % 50 AS VARCHAR) || '.COM'
      |          ELSE 'www.site' || CAST(doc_id % 50 AS VARCHAR) || '.com' END) ||
      |    (CASE WHEN doc_id % 4 = 0 THEN ':80' WHEN doc_id % 4 = 1 THEN ':8080' ELSE '' END) ||
      |    '/a/b' || CAST(doc_id % 7 AS VARCHAR) ||
      |    (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) ||
      |    (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=x&b=2&a=1'
      |          WHEN doc_id % 3 = 1 THEN '?a=1&b=2' ELSE '' END) ||
      |    (CASE WHEN doc_id % 6 = 0 THEN '#sec' ELSE '' END) AS url
      |  FROM documents
      |), parts AS (
      |  SELECT doc_id, url,
      |    regexp_replace(regexp_extract(regexp_replace(url, '#.*$', ''), '^[A-Za-z]+://[^/?#]+([^?]*)', 1), '/+$', '') AS p0,
      |    COALESCE(array_to_string(list_sort(list_filter(string_split(
      |      regexp_extract(regexp_replace(url, '#.*$', ''), '\?(.*)$', 1), '&'),
      |      p -> NOT starts_with(p, 'utm_') AND p <> '')), '&'), '') AS sq
      |  FROM urls
      |), canon AS (
      |  SELECT doc_id,
      |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) || '://' ||
      |    regexp_replace(lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)), ':(80|443)$', '') ||
      |    (CASE WHEN p0 = '' THEN '/' ELSE p0 END) ||
      |    (CASE WHEN sq = '' THEN '' ELSE '?' || sq END) AS canonical_url
      |  FROM parts
      |)""".stripMargin

  /** q81: one SQL text, two engines — TPC-H Q3's 3-way join + grouped
    * revenue + top-k. ROUND(,2) on the double sum is the q03-proven
    * cross-engine contract; the (revenue DESC, l_orderkey) sort makes
    * the LIMIT cutoff deterministic under ties. */
  private val sql3WayTopkSql: String =
    """SELECT l.l_orderkey,
      |  ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
      |  CAST(o.o_orderdate AS DATE) AS o_date
      |FROM customer c
      |JOIN orders o ON c.c_custkey = o.o_custkey
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |WHERE c.c_mktsegment = 'BUILDING'
      |  AND o.o_orderdate < TIMESTAMP '1998-01-01'
      |  AND l.l_shipdate > TIMESTAMP '1998-01-01'
      |GROUP BY l.l_orderkey, o.o_orderdate
      |ORDER BY revenue DESC, l.l_orderkey
      |LIMIT 50""".stripMargin

  /** q90: one SQL text, two engines — recursive CTE (binary-tree walk
    * with per-depth aggregation; terminates when no supplier joins the
    * frontier). */
  private val sqlRecursiveCteSql: String =
    """WITH RECURSIVE d(node, depth) AS (
      |  SELECT CAST(1 AS BIGINT) AS node, 0 AS depth
      |  UNION ALL
      |  SELECT s.s_suppkey, p.depth + 1
      |  FROM supplier s JOIN d p
      |    ON CAST(FLOOR(s.s_suppkey / 2.0) AS BIGINT) = p.node
      |  WHERE s.s_suppkey > 1
      |)
      |SELECT depth, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(node) AS BIGINT) AS sum_keys
      |FROM d GROUP BY depth ORDER BY depth""".stripMargin

  /** q86: one SQL text, two engines — the set-operation surface
    * (INTERSECT / EXCEPT set semantics + INTERSECT ALL bag semantics),
    * tagged branches so one hash pins all three operators. */
  private val sqlSetOpsSql: String =
    """SELECT 'both_status' AS tag, k FROM (
      |  SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
      |  INTERSECT
      |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F') t1
      |UNION ALL
      |SELECT 'never_ordered' AS tag, k FROM (
      |  SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
      |  EXCEPT
      |  SELECT o_custkey FROM orders) t2
      |UNION ALL
      |SELECT 'bag_overlap' AS tag, k FROM (
      |  SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R'
      |  INTERSECT ALL
      |  SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'A') t3
      |ORDER BY tag, k""".stripMargin

  /** q87: one SQL text, two engines — a correlated LATERAL subquery with
    * ORDER BY + LIMIT (per-customer top-3 orders by price; ties broken by
    * orderkey so the pick set is deterministic). */
  private val sqlLateralSql: String =
    """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
      |FROM customer c,
      |  LATERAL (
      |    SELECT o_orderkey, o_totalprice FROM orders o
      |    WHERE o.o_custkey = c.c_custkey
      |    ORDER BY o_totalprice DESC, o_orderkey
      |    LIMIT 3) t
      |WHERE c.c_mktsegment = 'MACHINERY'
      |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin

  /** q82: one SQL text, two engines — TPC-H Q21's 4-way join with
    * correlated EXISTS + NOT EXISTS ("an order this supplier flagged 'R'
    * where other suppliers participated but none of THEM flagged 'R'"). */
  private val sql4WayExistsSql: String =
    """SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
      |FROM supplier s
      |JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
      |JOIN orders o ON o.o_orderkey = l1.l_orderkey
      |JOIN nation n ON s.s_nationkey = n.n_nationkey
      |WHERE o.o_orderstatus = 'F'
      |  AND l1.l_returnflag = 'R'
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey
      |      AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |    WHERE l3.l_orderkey = l1.l_orderkey
      |      AND l3.l_suppkey <> l1.l_suppkey
      |      AND l3.l_returnflag = 'R')
      |  AND n.n_name IN ('NATION_0', 'NATION_1', 'NATION_2', 'NATION_3')
      |GROUP BY s.s_name
      |ORDER BY numwait DESC, s.s_name""".stripMargin

  /** q92: TPC-H Q2's shape as ONE shared SQL text — a correlated SCALAR
    * aggregate subquery (min price per part over its own 4-way join)
    * gating a 5-way outer join; lineitem stands in for partsupp (no such
    * table in the test data) with l_extendedprice as the offer price.
    * q78 proved decorrelation of EXISTS/IN; this proves the scalar-agg
    * rewrite (Catalyst plans the inner MIN as an aggregated left join on
    * p_partkey). DISTINCT collapses tie-duplicate offers so the gate is
    * a set, not a multiset, of minimal offers. */
  private val sqlScalarMinSql: String =
    """SELECT DISTINCT p.p_partkey, p.p_brand, s.s_name, n.n_name,
      |  l.l_extendedprice AS min_price
      |FROM part p
      |JOIN lineitem l ON l.l_partkey = p.p_partkey
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |JOIN nation n ON s.s_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |WHERE p.p_size < 15 AND r.r_name = 'EUROPE'
      |  AND l.l_extendedprice = (
      |    SELECT MIN(l2.l_extendedprice)
      |    FROM lineitem l2
      |    JOIN supplier s2 ON l2.l_suppkey = s2.s_suppkey
      |    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
      |    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
      |    WHERE l2.l_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
      |ORDER BY p.p_partkey, s.s_name""".stripMargin

  /** q100: TPC-H Q17 shape — correlated scalar AVG over the fact, spelled
    * as its exact integer cross-multiplication (no float in the hash). */
  private val sqlScalarAvgSql: String =
    """SELECT p.p_brand, CAST(COUNT(*) AS BIGINT) AS n_small,
      |  CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM lineitem l
      |JOIN part p ON p.p_partkey = l.l_partkey
      |WHERE p.p_size < 10
      |  AND CAST(l.l_quantity AS BIGINT) * 5 *
      |      (SELECT COUNT(*) FROM lineitem l2
      |       WHERE l2.l_partkey = p.p_partkey)
      |    < (SELECT SUM(CAST(l2.l_quantity AS BIGINT)) FROM lineitem l2
      |       WHERE l2.l_partkey = p.p_partkey)
      |GROUP BY p.p_brand
      |ORDER BY p.p_brand""".stripMargin

  /** q101: TPC-H Q20 shape — nested IN chain with a correlated scalar
    * MAX threshold at the innermost level; integer-exact throughout. */
  private val sqlNestedInSql: String =
    """SELECT s.s_suppkey, s.s_name, n.n_name
      |FROM supplier s
      |JOIN nation n ON s.s_nationkey = n.n_nationkey
      |WHERE n.n_regionkey = 0
      |  AND s.s_suppkey IN (
      |    SELECT l.l_suppkey FROM lineitem l
      |    WHERE l.l_partkey IN (
      |        SELECT p.p_partkey FROM part p WHERE p.p_name LIKE 'small%')
      |      AND CAST(l.l_quantity AS BIGINT) * 2 >
      |          (SELECT MAX(CAST(l2.l_quantity AS BIGINT)) FROM lineitem l2
      |           WHERE l2.l_partkey = l.l_partkey))
      |ORDER BY s.s_suppkey""".stripMargin

  /** q103: TPC-H Q7 shape — the 6-table "volume shipping" join breadth
    * (lineitem ⋈ orders ⋈ supplier ⋈ customer ⋈ nation×2) with the
    * symmetric nation-pair OR and a ship-date range; one shared text. */
  private val sqlVolumeShippingSql: String =
    """SELECT supp_nation, cust_nation, l_year,
      |  CAST(COUNT(*) AS BIGINT) AS n_ship,
      |  ROUND(SUM(volume), 2) AS revenue
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |    CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INT) AS l_year,
      |    l.l_extendedprice * (1 - l.l_discount) AS volume
      |  FROM supplier s
      |  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  JOIN customer c ON c.c_custkey = o.o_custkey
      |  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      |  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      |  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      |    AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
      |                         AND TIMESTAMP '1997-12-31 00:00:00'
      |) shipping
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** q104: TPC-H Q8 shape — the 8-table "market share" join breadth
    * (part ⋈ lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region + the
    * supplier→nation side), region + type + date-range filters, and the
    * conditional-share ratio per year; one shared text. */
  private val sqlMarketShareSql: String =
    """SELECT o_year,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  ROUND(SUM(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
      |        / SUM(volume), 4) AS mkt_share
      |FROM (
      |  SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS o_year,
      |    l.l_extendedprice * (1 - l.l_discount) AS volume,
      |    n2.n_name AS nation
      |  FROM part p
      |  JOIN lineitem l ON p.p_partkey = l.l_partkey
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  JOIN customer c ON c.c_custkey = o.o_custkey
      |  JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
      |  JOIN region r ON n1.n_regionkey = r.r_regionkey
      |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |  JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
      |  WHERE r.r_name = 'ASIA'
      |    AND p.p_type = 'PROMO'
      |    AND o.o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
      |                          AND TIMESTAMP '1997-12-31 00:00:00'
      |) all_nations
      |GROUP BY o_year
      |ORDER BY o_year""".stripMargin

  /** q93: ANSI ordered-set aggregates (WITHIN GROUP), one shared text. */
  private val sqlWithinGroupSql: String =
    """SELECT l_returnflag,
      |  percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice) AS med_disc,
      |  ROUND(percentile_cont(0.25) WITHIN GROUP (ORDER BY l_extendedprice), 2) AS q1_cont,
      |  ROUND(percentile_cont(0.75) WITHIN GROUP (ORDER BY l_extendedprice), 2) AS q3_cont,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** q83: one SQL text, two engines — GROUPING SETS at three
    * granularities with GROUPING() markers; COALESCE names subtotal rows
    * ('ALL') so the hash gate sees no NULL grouping keys. */
  private val sqlGroupingSetsSql: String =
    """SELECT COALESCE(n.n_name, 'ALL') AS nation,
      |  COALESCE(o.o_orderstatus, 'ALL') AS status,
      |  CAST(GROUPING(n.n_name) AS INT) * 2 +
      |    CAST(GROUPING(o.o_orderstatus) AS INT) AS gid,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  ROUND(SUM(o.o_totalprice), 2) AS total
      |FROM orders o
      |JOIN customer c ON c.c_custkey = o.o_custkey
      |JOIN nation n ON n.n_nationkey = c.c_nationkey
      |GROUP BY GROUPING SETS ((n.n_name, o.o_orderstatus), (n.n_name), ())
      |ORDER BY gid, nation, status""".stripMargin

  /** d52 + d54 shared corpus-checksum oracle: counts, exact char sums and
    * DISTINCT text md5s per (lang, source) — any corruption in a
    * round-tripped io format breaks the md5-distinct count. */
  private val corpusChecksumOracleSql: String =
    """SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(len(text)) AS BIGINT) AS sum_len,
      |  CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
      |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
      |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** d41 + d42 (stream ≡ batch) boilerplate-strip oracle: 5-token chunks,
    * drop every occurrence of any chunk in >= 3 distinct docs. */
  private val boilerplateStripOracleSql: String =
    """WITH tk AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      |  FROM documents
      |), ix AS (
      |  SELECT doc_id, t,
      |    unnest(range(0, (len(t) + 4) // 5)) AS idx FROM tk
      |), ch AS (
      |  SELECT doc_id, idx,
      |    array_to_string(list_slice(t, idx * 5 + 1, (idx + 1) * 5), ' ') AS chunk
      |  FROM ix
      |), df AS (
      |  SELECT chunk, COUNT(DISTINCT doc_id) AS df FROM ch GROUP BY 1
      |), m AS (
      |  SELECT c.doc_id, c.idx, c.chunk, f.df < 3 AS kept
      |  FROM ch c JOIN df f USING (chunk)
      |)
      |SELECT doc_id,
      |  COALESCE(string_agg(CASE WHEN kept THEN chunk END, ' ' ORDER BY idx), '') AS clean_text,
      |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
      |  CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_removed
      |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** d45 + s17 (stream ≡ batch) corpus-entropy oracle: per-source unigram
    * counts, -Σ p·ln p via the two-level md5-bucketed ordered fold (the
    * d39 double-portability contract with bounded buffers), exact
    * type-token ratio. */
  private val sourceEntropyOracleSql: String =
    """WITH tok AS (
      |  SELECT source,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
      |  FROM documents
      |), c AS (
      |  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
      |), t AS (
      |  SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
      |    CAST(COUNT(*) AS BIGINT) AS n_types
      |  FROM c GROUP BY 1
      |), tm AS (
      |  SELECT c.source, c.w,
      |    -(CAST(c.c AS DOUBLE) / t.n_tokens) * ln(CAST(c.c AS DOUBLE) / t.n_tokens) AS term
      |  FROM c JOIN t USING (source)
      |), hb AS (
      |  SELECT source, substr(md5(w), 1, 3) AS bk,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(term ORDER BY w)),
      |      (x, y) -> x + y) AS bs
      |  FROM tm GROUP BY 1, 2
      |), h AS (
      |  SELECT source,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(bs ORDER BY bk)),
      |      (x, y) -> x + y) AS hh
      |  FROM hb GROUP BY 1
      |)
      |SELECT h.source, t.n_tokens, t.n_types,
      |  CAST(t.n_types AS DOUBLE) / t.n_tokens AS ttr,
      |  ROUND(hh, 4) AS entropy
      |FROM h JOIN t USING (source) ORDER BY source""".stripMargin

  /** q62/q66 shared CTE chain: the affine graph's canonical undirected
    * edges + 3 synchronous LPA rounds — neighbour label counts, then the
    * (max count, min label) pick via a window rank over the grouped
    * counts. Labels are exact integers, so every round is portable. */
  private val lpaCtesSql: String = {
    val rounds = (1 to 3).map { k =>
      s"""c$k AS (
         |  SELECT b.v, p.label, COUNT(*) AS cnt
         |  FROM bi b JOIN l${k - 1} p ON p.v = b.nbr GROUP BY 1, 2
         |), l$k AS (
         |  SELECT v, label FROM (
         |    SELECT v, label, ROW_NUMBER() OVER (
         |      PARTITION BY v ORDER BY cnt DESC, label ASC) AS rn FROM c$k)
         |  WHERE rn = 1
         |)""".stripMargin
    }.mkString(",\n")
    s"""n0 AS (SELECT COUNT(*) AS n FROM part),
       |raw AS (
       |  SELECT p_partkey AS src, ((p_partkey * 31 + 7) % n0.n) + 1 AS dst FROM part, n0
       |  UNION ALL SELECT p_partkey, ((p_partkey * 17 + 3) % n0.n) + 1 FROM part, n0
       |  UNION ALL SELECT p_partkey, ((p_partkey * 13 + 11) % n0.n) + 1 FROM part, n0
       |  UNION ALL SELECT p_partkey, ((p_partkey * 7 + 1) % n0.n) + 1 FROM part, n0
       |  UNION ALL SELECT p_partkey, ((p_partkey * 41 + 19) % n0.n) + 1 FROM part, n0
       |), canon AS (
       |  SELECT DISTINCT LEAST(src, dst) AS s, GREATEST(src, dst) AS g
       |  FROM raw WHERE src <> dst
       |), bi AS (
       |  SELECT s AS v, g AS nbr FROM canon UNION ALL SELECT g, s FROM canon
       |), l0 AS (SELECT DISTINCT v AS v, v AS label FROM bi),
       |$rounds""".stripMargin
  }

  private val labelPropOracleSql: String =
    s"""WITH $lpaCtesSql
       |SELECT CAST(v AS BIGINT) AS v, CAST(label AS BIGINT) AS label
       |FROM l3 ORDER BY v""".stripMargin

  /** q66: modularity of the l3 labelling as the exact rational
    * q_num/q_den = Σ_c(4·m·l_c − D_c²) / 4m² — integers only. */
  private val modularityOracleSql: String =
    s"""WITH $lpaCtesSql,
       |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM canon),
       |degs AS (SELECT v, COUNT(*) AS d FROM bi GROUP BY 1),
       |dc AS (SELECT l.label, SUM(d.d) AS dc FROM l3 l JOIN degs d USING (v) GROUP BY 1),
       |lc AS (
       |  SELECT la.label, CAST(COUNT(*) AS BIGINT) AS lc
       |  FROM canon c JOIN l3 la ON la.v = c.s JOIN l3 lb ON lb.v = c.g
       |  WHERE la.label = lb.label GROUP BY 1
       |), terms AS (
       |  SELECT d.label, 4 * m.m * COALESCE(l.lc, 0) - d.dc * d.dc AS t
       |  FROM dc d LEFT JOIN lc l USING (label) CROSS JOIN m
       |)
       |SELECT m.m AS m_edges, CAST(COUNT(*) AS BIGINT) AS n_communities,
       |  CAST(SUM(t.t) AS BIGINT) AS q_num, CAST(4 * m.m * m.m AS BIGINT) AS q_den
       |FROM terms t CROSS JOIN m GROUP BY m.m""".stripMargin

  /** q63: 6 unrolled round-synchronous Bellman-Ford relaxations — each
    * round is (previous distances UNION ALL edge-relaxed candidates) →
    * MIN per vertex. Integer weights, so every distance is exact. */
  private val ssspOracleSql: String = {
    val rounds = (1 to 6).map { k =>
      s"""d$k AS (
         |  SELECT v, MIN(dist) AS dist FROM (
         |    SELECT v, dist FROM d${k - 1}
         |    UNION ALL
         |    SELECT e.dst AS v, p.dist + e.w AS dist
         |    FROM e JOIN d${k - 1} p ON p.v = e.src
         |  ) GROUP BY v
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH n0 AS (SELECT COUNT(*) AS n FROM part),
       |raw AS (
       |  SELECT p_partkey AS src, ((p_partkey * 31 + 7) % n0.n) + 1 AS dst FROM part, n0
       |  UNION ALL SELECT p_partkey, ((p_partkey * 17 + 3) % n0.n) + 1 FROM part, n0
       |  UNION ALL SELECT p_partkey, ((p_partkey * 13 + 11) % n0.n) + 1 FROM part, n0
       |  UNION ALL SELECT p_partkey, ((p_partkey * 7 + 1) % n0.n) + 1 FROM part, n0
       |  UNION ALL SELECT p_partkey, ((p_partkey * 41 + 19) % n0.n) + 1 FROM part, n0
       |), e AS (
       |  SELECT DISTINCT src, dst, (src * 7 + dst * 3) % 20 + 1 AS w
       |  FROM raw WHERE src <> dst
       |), d0 AS (SELECT CAST(v AS BIGINT) AS v, CAST(0 AS BIGINT) AS dist
       |          FROM (VALUES (1), (2), (3)) t(v)),
       |$rounds
       |SELECT CAST(v AS BIGINT) AS v, CAST(dist AS BIGINT) AS dist
       |FROM d6 ORDER BY v""".stripMargin
  }

  private val funnelOracleSql: String =
    """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |s1 AS (SELECT user_id, MIN(us) AS t1 FROM ev WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.us) AS t2 FROM ev e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.us > s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.us) AS t3 FROM ev e JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.us > s2.t2 GROUP BY 1)
        |SELECT s1.user_id, s1.t1, s2.t2, s3.t3,
        |  COALESCE(s3.t3 - s1.t1 <= 604800000000, FALSE) AS converted
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        |ORDER BY s1.user_id""".stripMargin

  /** d30's winnowing oracle; d33 wraps it as a CTE for the verify stage. */
  private val winnowPairsOracleSql: String =
    """WITH cleaned AS (
        |  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
        |  FROM documents
        |), grams AS (
        |  SELECT doc_id, i AS pos,
        |    list_reduce(
        |      list_prepend(CAST(42 AS BIGINT),
        |        list_transform(range(0, 16), j -> CAST(ord(s[i+j]) AS BIGINT))),
        |      (a, c) -> (a * 31 + c) % 2147483647) AS h
        |  FROM cleaned, LATERAL (SELECT unnest(range(1, length(s) - 16 + 2)) AS i) t
        |  WHERE length(s) >= 16
        |), keyed AS (
        |  SELECT doc_id, pos, h * 2097152 + (1048576 - pos) AS key,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
        |  FROM grams
        |), wins AS (
        |  SELECT doc_id,
        |    min(key) OVER (PARTITION BY doc_id ORDER BY pos
        |                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin, rn
        |  FROM keyed
        |), fps AS (
        |  SELECT DISTINCT doc_id, wmin // 2097152 AS h FROM wins WHERE rn >= 4
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
        |FROM fps a JOIN fps b ON a.h = b.h AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 3
        |ORDER BY 1, 2""".stripMargin

  /** d33: the d30 candidate set, verified by exact edit distance on the
    * normalized text (unit-cost Levenshtein is engine-identical). */
  private val winnowEditVerifyOracleSql: String =
    s"""WITH pairs AS (
       |${winnowPairsOracleSql.linesIterator.map("  " + _).mkString("\n")}
       |), cl AS (
       |  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
       |  FROM documents
       |)
       |SELECT p.id_a, p.id_b, p.n_shared,
       |  CAST(levenshtein(a.s, b.s) AS INT) AS edit_dist,
       |  levenshtein(a.s, b.s) * 4 <=
       |    greatest(length(a.s), length(b.s)) AS verified
       |FROM pairs p JOIN cl a ON a.doc_id = p.id_a JOIN cl b ON b.doc_id = p.id_b
       |ORDER BY p.id_a, p.id_b""".stripMargin

  /** Shared oracle for q43 (batch MERGE) and s08 (streamed changelog +
    * batch merge step) — both formulations must converge to this state. */
  private val cdcMergeOracleSql: String =
    """WITH snap AS (
        |  SELECT custkey, last_orderkey, last_price, last_status FROM (
        |    SELECT o_custkey AS custkey, o_orderkey AS last_orderkey,
        |      o_totalprice AS last_price, o_orderstatus AS last_status,
        |      row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn
        |    FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01') WHERE rn = 1
        |), latest AS (
        |  SELECT custkey, last_orderkey, last_price, last_status FROM (
        |    SELECT o_custkey AS custkey, o_orderkey AS last_orderkey,
        |      o_totalprice AS last_price, o_orderstatus AS last_status,
        |      row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn
        |    FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01') WHERE rn = 1
        |)
        |SELECT s.custkey, s.last_orderkey, s.last_price, s.last_status FROM snap s
        |WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.custkey = s.custkey)
        |UNION ALL
        |SELECT custkey, last_orderkey, last_price, last_status FROM latest
        |WHERE last_status <> 'F'
        |ORDER BY custkey""".stripMargin

  /** The q41 oracle's Morton interleave, unrolled as SQL bit arithmetic. */
  private def zInterleaveSql(x: String, y: String, bits: Int): String =
    (0 until bits).map(i =>
      s"((($x >> $i) & 1) << ${2 * i + 1}) + ((($y >> $i) & 1) << ${2 * i})")
      .mkString(" + ")

  /** Shared BPE-training CTE prefix (d28/d35 oracles): `numMerges` rounds
    * unrolled — each round recomputes pair counts from the previous
    * round's word table, picks the argmax rule (count DESC, pair ASC),
    * and re-segments with the same greedy string fold the Spark side
    * runs. The original word `w` rides along so the final round doubles
    * as a word → BPE-token-sequence dictionary (d35's encode). */
  private def bpeRoundsCte(numMerges: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH tk AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w FROM documents
        |), wf AS (
        |  SELECT w, COUNT(*) AS freq FROM tk WHERE length(w) > 0 GROUP BY w
        |), w0 AS (
        |  SELECT w, array_to_string(list_transform(range(1, length(w) + 1),
        |    i -> substring(w, i, 1)), ' ') AS sym, freq FROM wf
        |)""".stripMargin)
    for (m <- 1 to numMerges) {
      sb.append(s""", p$m AS (
        |  SELECT unnest(list_transform(range(1, len(string_split(sym, ' '))),
        |    i -> string_split(sym, ' ')[i] || ' ' || string_split(sym, ' ')[i+1])) AS pair,
        |    freq
        |  FROM w${m - 1}
        |), b$m AS (
        |  SELECT $m AS merge_rank, split_part(pair, ' ', 1) AS lft,
        |    split_part(pair, ' ', 2) AS rgt, CAST(n AS BIGINT) AS pair_freq
        |  FROM (SELECT pair, SUM(freq) AS n FROM p$m GROUP BY pair
        |        ORDER BY n DESC, pair LIMIT 1)
        |), w$m AS (
        |  SELECT w.w, list_reduce(string_split(w.sym, ' '),
        |    (acc, x) -> CASE WHEN (acc = b.lft OR ends_with(acc, ' ' || b.lft)) AND x = b.rgt
        |                THEN acc || x ELSE acc || ' ' || x END) AS sym, w.freq
        |  FROM w${m - 1} w CROSS JOIN b$m b
        |)""".stripMargin)
    }
    sb.toString
  }

  /** d62's shipped WordPiece vocab — plants every contract branch over
    * the 31-word corpus: longest-match preference ('custom' beats
    * 'cust', 'wind' beats 'win'), ten two-piece words, a dead-end
    * ('sor' matches but '##t' is absent, so `sort` → [UNK] with NO
    * backtracking) and a no-first-piece word (`dup` → [UNK]). */
  private val wordpieceVocab: Seq[String] = Seq(
    // full words
    "a", "the", "join", "data", "key", "row", "agg", "big", "hash",
    "scan", "slow", "fast", "merge", "order", "part", "query", "group",
    "line", "spark",
    // first pieces
    "bat", "custom", "cust", "wind", "win", "vec", "str", "tab", "col",
    "fil", "val", "sm", "sor",
    // continuations
    "##ch", "##er", "##ow", "##tor", "##eam", "##le", "##umn", "##ter",
    "##ue", "##all")

  /** d62's oracle: the greedy longest-match walk unrolled as `rounds`
    * LATERAL steps (the d28 fixed-unroll contract — rounds must be ≥ the
    * max pieces per word; a word needing more flags [UNK] on the oracle
    * side only and LOUDLY fails the hash). Each step picks the longest
    * vocab body matching at the current offset; a NULL pick with
    * characters left (or characters left after the last round) marks the
    * word [UNK], exactly like the no-backtrack Spark kernel. */
  private def wordpieceOracleSql(rounds: Int): String = {
    val vocabValues = wordpieceVocab.map { p =>
      val cont = p.startsWith("##")
      val body = if (cont) p.substring(2) else p
      s"('$p', '$body', ${body.length}, ${if (cont) "TRUE" else "FALSE"})"
    }.mkString(",\n    ")
    val steps = (2 to rounds).map { k =>
      s"""r$k AS (
         |  SELECT r.*, v.piece AS p$k, r.e${k - 1} + COALESCE(v.blen, 0) AS e$k
         |  FROM r${k - 1} r LEFT JOIN LATERAL (
         |    SELECT piece, blen FROM vocab
         |    WHERE cont AND r.p${k - 1} IS NOT NULL AND r.e${k - 1} < length(r.word)
         |      AND substr(r.word, r.e${k - 1} + 1, blen) = body
         |    ORDER BY blen DESC LIMIT 1) v ON TRUE
         |)""".stripMargin
    }.mkString(", ")
    val unkClauses = ("p1 IS NULL" +:
      (2 to rounds).map(k =>
        s"(p${k - 1} IS NOT NULL AND e${k - 1} < length(word) AND p$k IS NULL)") :+
      s"(p$rounds IS NOT NULL AND e$rounds < length(word))").mkString("\n     OR ")
    val pieceBranches = (1 to rounds).map(k =>
      s"  UNION ALL SELECT p$k AS piece, cnt FROM flagged WHERE NOT unk AND p$k IS NOT NULL")
      .mkString("\n")
    s"""WITH vocab(piece, body, blen, cont) AS (VALUES
       |    $vocabValues),
       |words AS (
       |  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
       |        FROM documents)
       |  WHERE length(w) > 0 GROUP BY 1
       |),
       |r1 AS (
       |  SELECT w.word, w.cnt, v.piece AS p1, COALESCE(v.blen, 0) AS e1
       |  FROM words w LEFT JOIN LATERAL (
       |    SELECT piece, blen FROM vocab
       |    WHERE NOT cont AND substr(w.word, 1, blen) = body
       |    ORDER BY blen DESC LIMIT 1) v ON TRUE
       |), $steps,
       |flagged AS (
       |  SELECT *,
       |    ($unkClauses) AS unk
       |  FROM r$rounds
       |),
       |pieces AS (
       |  SELECT '[UNK]' AS piece, cnt FROM flagged WHERE unk
       |$pieceBranches
       |)
       |SELECT piece, CAST(SUM(cnt) AS BIGINT) AS n FROM pieces
       |GROUP BY piece ORDER BY piece""".stripMargin
  }

  private def bpeOracleSql(numMerges: Int): String =
    bpeRoundsCte(numMerges) + "\n" + (1 to numMerges)
      .map(m => s"SELECT merge_rank, lft, rgt, pair_freq FROM b$m")
      .mkString("", "\nUNION ALL\n", "\nORDER BY merge_rank")

  /** The d35 oracle: learn the same 6 rules, then ENCODE the corpus with
    * the final word → token-sequence dictionary and aggregate integer
    * token statistics per source (all counts — hash-safe). */
  private def bpeEncodeOracleSql(numMerges: Int): String =
    bpeRoundsCte(numMerges) + s""",
      |enc AS (SELECT w, string_split(sym, ' ') AS toks FROM w$numMerges),
      |wfs AS (
      |  SELECT source, w, COUNT(*) AS freq FROM (
      |    SELECT source, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
      |    FROM documents) WHERE length(w) > 0 GROUP BY 1, 2
      |), ex AS (
      |  SELECT wfs.source, t.tok, wfs.freq
      |  FROM wfs JOIN enc USING (w), LATERAL unnest(enc.toks) AS t(tok)
      |)
      |SELECT source, CAST(SUM(freq) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct,
      |  CAST(SUM(freq * length(tok)) AS BIGINT) AS n_chars
      |FROM ex GROUP BY source ORDER BY source""".stripMargin

  /** d67's blocklist, priority order; "forbidden phrase" never occurs in
    * the corpus — it exercises automaton states that never fire. */
  private val blocklistPats: Seq[String] = Seq(
    "table table", "slow fast", "fast slow", "spark vector",
    "data data", "window window", "forbidden phrase")

  /** d67's oracle: the CASE/position chain the automaton must agree with,
    * generated from the same pattern list so the two can't drift. */
  private val d67OracleSql: String = {
    val first = blocklistPats
      .map(p => s"WHEN position('$p' IN text) > 0 THEN '$p'")
      .mkString("\n    ")
    val cnt = blocklistPats
      .map(p => s"(CASE WHEN position('$p' IN text) > 0 THEN 1 ELSE 0 END)")
      .mkString("\n    + ")
    s"""SELECT doc_id,
       |  CASE $first
       |    ELSE 'clean' END AS first_hit,
       |  CAST($cnt AS BIGINT) AS n_hits
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** d90's multi-format crawl chain replayed in closed form; shared
    * verbatim by s40_stream_crawl_multiformat (stream ≡ batch). */
  private val d90OracleSql: String =
    """WITH a AS (
        |  SELECT p_partkey AS archive_id FROM part WHERE p_partkey <= 150
        |), html AS (
        |  SELECT archive_id, CAST(0 AS INT) AS record_idx, 'html' AS kind,
        |    'T' || archive_id || ' ' ||
        |    (SELECT string_agg('h' || CAST((a.archive_id * 3 + k.k * 7) % 50 AS VARCHAR),
        |       ' ' ORDER BY k.k)
        |     FROM (SELECT unnest(range(5)) AS k) k) AS text
        |  FROM a
        |), pdflines AS (
        |  SELECT a.archive_id, j.j,
        |    string_agg('w' || CAST((a.archive_id * 7 + j.j * 11 + k.k * 13) % 100 AS VARCHAR),
        |      ' ' ORDER BY k.k) AS line
        |  FROM a,
        |    LATERAL (SELECT unnest(range(3 + a.archive_id % 4)) AS j) j,
        |    LATERAL (SELECT unnest(range(4 + (a.archive_id + j.j) % 3)) AS k) k
        |  GROUP BY 1, 2
        |), pdf AS (
        |  SELECT archive_id, CAST(1 AS INT) AS record_idx, 'pdf' AS kind,
        |    string_agg(line, chr(10) ORDER BY j) AS text
        |  FROM pdflines GROUP BY archive_id
        |)
        |SELECT * FROM (SELECT * FROM html UNION ALL SELECT * FROM pdf)
        |ORDER BY archive_id, record_idx""".stripMargin

  /** d88's planted GeoTIFF rasters replayed in closed form; shared
    * verbatim by s39_stream_raster_ingest (stream ≡ batch). */
  private val d88OracleSql: String =
    """WITH r AS (
        |  SELECT p_partkey AS raster_id FROM part WHERE p_partkey <= 200
        |), good AS (
        |  SELECT r.raster_id,
        |    CAST(160 AS BIGINT) AS n_cells, TRUE AS ok,
        |    (SELECT CAST(SUM((r.raster_id * 7 + y.y * 11 + x.x * 13) % 256) AS BIGINT)
        |     FROM (SELECT unnest(range(10)) AS y) y,
        |          (SELECT unnest(range(16)) AS x) x) AS sum_value,
        |    -72 + (r.raster_id % 5) * 0.5 + 0.015625 AS lon_min,
        |    -72 + (r.raster_id % 5) * 0.5 + 0.484375 AS lon_max,
        |    11 - (r.raster_id % 3) * 0.5 - 0.296875 AS lat_min,
        |    11 - (r.raster_id % 3) * 0.5 - 0.015625 AS lat_max
        |  FROM r WHERE r.raster_id % 9 <> 0
        |), bad AS (
        |  SELECT raster_id, CAST(1 AS BIGINT) AS n_cells, FALSE AS ok,
        |    CAST(0 AS BIGINT) AS sum_value,
        |    CAST(0 AS DOUBLE) AS lon_min, CAST(0 AS DOUBLE) AS lon_max,
        |    CAST(0 AS DOUBLE) AS lat_min, CAST(0 AS DOUBLE) AS lat_max
        |  FROM r WHERE raster_id % 9 = 0
        |)
        |SELECT raster_id, n_cells, ok, sum_value,
        |  CAST(lon_min AS DOUBLE) AS lon_min, CAST(lon_max AS DOUBLE) AS lon_max,
        |  CAST(lat_min AS DOUBLE) AS lat_min, CAST(lat_max AS DOUBLE) AS lat_max
        |FROM (SELECT * FROM good UNION ALL SELECT * FROM bad)
        |ORDER BY raster_id""".stripMargin

  /** d70's planted WARC archive replayed in closed form; shared verbatim
    * by s32_stream_warc (per-archive stateless explode — the stream
    * converges to the batch ingest exactly). */
  private val d70OracleSql: String =
    """WITH a AS (
      |  SELECT p_partkey AS archive_id, 3 + p_partkey % 4 AS n_rec
      |  FROM part WHERE p_partkey <= 200
      |), rec AS (
      |  SELECT a.archive_id, CAST(r.r AS INT) AS record_idx,
      |    'http://site' || (a.archive_id % 50) || '.com/p' || r.r AS uri,
      |    40 + (a.archive_id + r.r) % 30 AS len
      |  FROM a, LATERAL (SELECT unnest(range(a.n_rec)) AS r) r
      |), sums AS (
      |  SELECT archive_id, record_idx, uri, CAST(len AS BIGINT) AS n_bytes,
      |    (SELECT CAST(SUM((archive_id * 13 + record_idx * 7 + j.j * 3) % 26 + 97) AS BIGINT)
      |     FROM (SELECT unnest(range(len)) AS j) j) AS byte_sum
      |  FROM rec
      |)
      |SELECT archive_id, record_idx, uri, n_bytes, byte_sum
      |FROM sums ORDER BY archive_id, record_idx""".stripMargin

  /** d66's full train → score replay in closed SQL: the d64 Kneser-Ney
    * CTE chain restricted to the even-keyed half (minCount 2), then each
    * odd-keyed doc's bigrams left-joined to the model and folded in pinned
    * (w1, w2) order — `list_reduce(list(-ln(p) ORDER BY w1, w2))` is the
    * exact mirror of the Spark side's sort_array fold. Shared verbatim by
    * s29_stream_perplexity (streaming serving of the same model). */
  private val d66OracleSql: String =
    """WITH tk AS (
      |  SELECT doc_id, w, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS p
      |  FROM (
      |    SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w,
      |      generate_subscripts(regexp_split_to_array(trim(lower(text)), '\s+'), 1) AS pos
      |    FROM documents)
      |  WHERE length(w) > 0
      |), big AS (
      |  SELECT a.doc_id, a.w AS w1, b.w AS w2
      |  FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND b.p = a.p + 1
      |), c12 AS (
      |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      |  FROM big WHERE doc_id % 2 = 0 GROUP BY 1, 2
      |), types AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM c12),
      |lft AS (
      |  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
      |    CAST(COUNT(*) AS BIGINT) AS n1fw FROM c12 GROUP BY 1
      |), rgt AS (
      |  SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1pw FROM c12 GROUP BY 1
      |), model AS (
      |  SELECT c.w1, c.w2,
      |    (GREATEST(CAST(c.c12 AS DOUBLE) - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE)) / l.c1)
      |    + ((CAST(0.75 AS DOUBLE) * l.n1fw) / l.c1)
      |      * (CAST(r.n1pw AS DOUBLE) / ty.t) AS p_kn
      |  FROM c12 c
      |  JOIN lft l ON l.w1 = c.w1
      |  JOIN rgt r ON r.w2 = c.w2
      |  CROSS JOIN types ty
      |  WHERE c.c12 >= 2
      |), sc AS (
      |  SELECT b.doc_id, b.w1, b.w2, m.p_kn
      |  FROM big b LEFT JOIN model m ON m.w1 = b.w1 AND m.w2 = b.w2
      |  WHERE b.doc_id % 2 = 1
      |), cnt AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |    CAST(SUM(CASE WHEN p_kn IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
      |  FROM sc GROUP BY 1
      |), nl AS (
      |  SELECT doc_id,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(-ln(p_kn) ORDER BY w1, w2)),
      |      (x, y) -> x + y) AS nll_sum
      |  FROM sc WHERE p_kn IS NOT NULL GROUP BY 1
      |)
      |SELECT c.doc_id, c.n_bigrams, c.n_oov,
      |  ROUND(n.nll_sum / (c.n_bigrams - c.n_oov), 4) AS avg_nll
      |FROM cnt c JOIN nl n ON n.doc_id = c.doc_id
      |ORDER BY c.doc_id""".stripMargin

  /** d65's full weak-label → train → score replay in closed SQL; shared
    * verbatim by s28_stream_quality (streaming serving of the same model
    * converges to batch scoring exactly). */
  private val d65OracleSql: String =
    """WITH tok AS (
      |  SELECT doc_id, w, COUNT(*) AS cnt FROM (
      |    SELECT doc_id,
      |      unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
      |    FROM documents)
      |  WHERE length(w) > 0 GROUP BY 1, 2
      |), agg AS (
      |  SELECT doc_id,
      |    CAST(SUM(cnt) AS BIGINT) AS n_words,
      |    CAST(MAX(cnt) AS BIGINT) AS top_cnt,
      |    CAST(SUM(length(w) * cnt) AS BIGINT) AS n_wchars,
      |    CAST(SUM(CASE WHEN w IN ('the','a','of','and','to')
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
      |  FROM tok GROUP BY 1
      |), tr AS (
      |  SELECT doc_id,
      |    (n_words >= 25 AND n_words <= 70 AND n_wchars >= 3 * n_words
      |     AND n_wchars <= 7 * n_words AND n_stop >= 2
      |     AND top_cnt * 8 <= n_words) AS label
      |  FROM agg WHERE doc_id % 2 = 0
      |), cls AS (
      |  SELECT CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
      |    CAST(SUM(CASE WHEN label THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
      |  FROM tr
      |), dfs AS (
      |  SELECT t.w,
      |    CAST(SUM(CASE WHEN tr.label THEN 1 ELSE 0 END) AS BIGINT) AS df_pos,
      |    CAST(SUM(CASE WHEN tr.label THEN 0 ELSE 1 END) AS BIGINT) AS df_neg
      |  FROM (SELECT DISTINCT doc_id, w FROM tok) t JOIN tr USING (doc_id)
      |  GROUP BY t.w
      |  HAVING CAST(SUM(1) AS BIGINT) >= 5
      |), wts AS (
      |  SELECT w,
      |    CASE WHEN (df_pos + 1) * (n_neg + 2) > 2 * (df_neg + 1) * (n_pos + 2) THEN 1
      |         WHEN (df_neg + 1) * (n_pos + 2) > 2 * (df_pos + 1) * (n_neg + 2) THEN -1
      |         ELSE 0 END AS wt
      |  FROM dfs, cls
      |), te AS (
      |  SELECT DISTINCT doc_id, w FROM tok WHERE doc_id % 2 = 1
      |)
      |SELECT te.doc_id, CAST(COALESCE(SUM(wts.wt), 0) AS BIGINT) AS score,
      |  COALESCE(SUM(wts.wt), 0) > 0 AS predicted
      |FROM te LEFT JOIN wts USING (w)
      |GROUP BY te.doc_id ORDER BY te.doc_id""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
        | ROUND(SUM(l_extendedprice),2) AS sum_base_price,
        | ROUND(SUM(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
        | COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, ROUND(l_extendedprice,2) AS price
        |FROM lineitem WHERE l_quantity >= 48 AND l_discount > 0.07
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q03_isin_filter" ->
      """SELECT o_orderpriority, COUNT(*) AS n FROM orders
        |WHERE o_orderpriority IN ('1-URGENT','2-HIGH')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q04_date_filter" ->
      """SELECT YEAR(o_orderdate)*100 + MONTH(o_orderdate) AS ym, COUNT(*) AS n,
        | ROUND(SUM(o_totalprice),2) AS total
        |FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q05_dim_join" ->
      """SELECT r_name, n_name, COUNT(*) AS n_customers, ROUND(SUM(c_acctbal),2) AS total_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q06_left_join_fill" ->
      """SELECT n_name, COALESCE(cnt, 0) AS n_customers
        |FROM nation LEFT JOIN (SELECT c_nationkey, COUNT(*) AS cnt FROM customer GROUP BY c_nationkey) c
        |ON n_nationkey = c_nationkey ORDER BY n_name""".stripMargin,
    "q07_anti_join" ->
      """SELECT c_nationkey, COUNT(*) AS n_no_order FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q08_semi_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q27_join_agg_topk" ->
      """SELECT o_orderkey, revenue FROM (
        | SELECT o_orderkey, o_orderdate, ROUND(SUM(l_extendedprice*(1-l_discount)),2) AS revenue
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | GROUP BY o_orderkey, o_orderdate) t
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q14_count_distinct" ->
      """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_custs, COUNT(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q15_max_scan" ->
      """SELECT CAST(MAX(o_orderdate) AS DATE) AS max_orderdate,
        | CAST(MIN(o_orderdate) AS DATE) AS min_orderdate, COUNT(*) AS n FROM orders""".stripMargin,
    "q16_distinct" ->
      "SELECT DISTINCT o_orderpriority FROM orders ORDER BY o_orderpriority",
    "q17_optional_sum" ->
      """SELECT l_returnflag, l_linestatus,
        | ROUND(SUM(CASE WHEN l_quantity < 2 THEN l_extendedprice END),2) AS opt_sum,
        | COUNT(CASE WHEN l_quantity < 2 THEN 1 END) AS n_present
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q18_impact_rollup" ->
      s"""WITH tiles AS ($geoTilesSql), envs AS ($geoEnvelopesSql),
         |probs AS (
         | SELECT t.tile_id, t.population, e.wind_threshold, COUNT(*) AS n_members
         | FROM tiles t JOIN envs e
         |  ON t.minlon <= e.maxlon AND t.maxlon >= e.minlon
         |  AND t.minlat <= e.maxlat AND t.maxlat >= e.minlat
         | GROUP BY 1, 2, 3),
         |lbl AS (
         | SELECT *, CONCAT(CAST((CAST(tile_id AS BIGINT) % 40) // 8 AS VARCHAR), '_',
         |   CAST(((CAST(tile_id AS BIGINT) // 40) % 40) // 8 AS VARCHAR)) AS admin_id
         | FROM probs)
         |SELECT CAST(GROUPING(wind_threshold) AS INT) AS g_wind,
         |  CAST(GROUPING(admin_id) AS INT) AS g_admin,
         |  wind_threshold, admin_id,
         |  CAST((SUM(CAST(population AS BIGINT) * n_members) + 50) // 51 AS BIGINT)
         |    AS expected_pop_ceil,
         |  COUNT(*) AS n_rows
         |FROM lbl
         |GROUP BY GROUPING SETS ((wind_threshold), (wind_threshold, admin_id), ())
         |ORDER BY g_wind, g_admin, wind_threshold, admin_id""".stripMargin,
    "q21_report_sequence" ->
      """WITH ev AS (
        |  SELECT user_id % 5 AS storm_id,
        |    epoch_us(ts) // 21600000000 AS step,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS iv
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |), steps AS (
        |  SELECT storm_id, step, SUM(iv) AS total, COUNT(*) AS n_events
        |  FROM ev GROUP BY 1, 2
        |), seq AS (
        |  SELECT *,
        |    LAG(total) OVER (PARTITION BY storm_id ORDER BY step) AS prev_total,
        |    LAG(step) OVER (PARTITION BY storm_id ORDER BY step) AS prev_step
        |  FROM steps
        |)
        |SELECT storm_id, step, CAST(total AS BIGINT) AS total, n_events,
        |  CAST(prev_total AS BIGINT) AS prev_total, prev_step,
        |  CAST(CASE WHEN prev_total IS NULL THEN total
        |    ELSE total - prev_total END AS BIGINT) AS change,
        |  CASE WHEN prev_total IS NULL OR total - prev_total > 0
        |    THEN 'increased' ELSE 'decreased' END AS direction
        |FROM seq ORDER BY storm_id, step""".stripMargin,
    "q19_bucket_agg" ->
      """SELECT c_mktsegment,
        | CASE WHEN c_acctbal < 0 THEN 'severe' WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END AS band,
        | COUNT(*) AS n, ROUND(SUM(c_acctbal),2) AS total
        |FROM customer GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q09_topk" ->
      """SELECT o_orderkey, ROUND(o_totalprice,2) AS price FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 5""".stripMargin,
    "q10_first_per_key" ->
      """SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS first_ship FROM (
        | SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_shipdate, l_linenumber) AS rn
        | FROM lineitem) t WHERE rn = 1 ORDER BY l_orderkey""".stripMargin,
    "q11_argmax" ->
      """SELECT l_partkey, l_orderkey, ROUND(l_extendedprice,2) AS max_price FROM (
        | SELECT *, ROW_NUMBER() OVER (PARTITION BY l_partkey
        |   ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        | FROM lineitem) t WHERE rn = 1 ORDER BY l_partkey""".stripMargin,
    "q12_lag_delta" ->
      """SELECT user_id, event_id,
        | ROUND(value - COALESCE(LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 0.0),2) AS delta
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "q13_lead_band" ->
      """SELECT user_id, ROUND(SUM(band),2) AS band_sum, COUNT(*) AS n FROM (
        | SELECT user_id,
        |  ROUND(value - COALESCE(LEAD(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 0.0),2) AS band
        | FROM events) t GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q20_pct_change" ->
      """SELECT event_type, ym, total,
        | ROUND(CASE WHEN prev_total IS NULL OR prev_total = 0 THEN NULL
        |  ELSE (total - prev_total) / prev_total * 100.0 END, 4) AS pct_change
        |FROM (
        | SELECT event_type, ym, total, LAG(total) OVER (PARTITION BY event_type ORDER BY ym) AS prev_total
        | FROM (SELECT event_type, YEAR(ts)*100 + MONTH(ts) AS ym, ROUND(SUM(value),2) AS total
        |   FROM events GROUP BY 1, 2) m) t
        |ORDER BY event_type, ym""".stripMargin,
    "q24_union_distinct" ->
      """SELECT COUNT(*) AS n_keys FROM (
        | SELECT o_custkey AS k FROM orders UNION SELECT c_custkey AS k FROM customer) t""".stripMargin,
    "q23_signature_dedup" ->
      """SELECT COUNT(DISTINCT md5(CONCAT_WS('|', user_id, event_type, value))) AS n_distinct_sigs,
        | COUNT(*) AS n_rows FROM events""".stripMargin,
    "q22_regexp_extract" ->
      """SELECT COALESCE(regexp_extract(p_type, '([A-Z]+)$', 1), '') AS last_word, COUNT(*) AS n
        |FROM part GROUP BY 1 ORDER BY 1""".stripMargin,
    "q25_map_reclass" ->
      """SELECT CASE WHEN p_size <= 13 THEN 1 WHEN p_size <= 23 THEN 2 ELSE 3 END AS size_class,
        | COUNT(*) AS n FROM part GROUP BY 1 ORDER BY 1""".stripMargin,
    "q26_date_arith" ->
      """SELECT SUBSTR(STRFTIME(ts - INTERVAL 6 HOURS, '%Y%m%d%H'), 1, 8) AS compact_day, COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q28_json_extract" ->
      """SELECT event_type, CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // tileView twin: member counts by interval overlap, re-joined onto the
    // full tile x distinct-threshold grid (keepZeroRows), expected value =
    // population * (n/51.0) with the same two IEEE ops as the Spark side
    "g05_impact_pipeline" ->
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
         |ORDER BY zone_id, th.wind_threshold""".stripMargin,
    "g01_tile_probability" ->
      s"""WITH tiles AS ($geoTilesSql), envs AS ($geoEnvelopesSql)
         |SELECT t.tile_id, e.wind_threshold, COUNT(*) AS n_members,
         | ROUND(COUNT(*) / 51.0, 6) AS probability
         |FROM tiles t JOIN envs e
         | ON t.minlon <= e.maxlon AND t.maxlon >= e.minlon
         | AND t.minlat <= e.maxlat AND t.maxlat >= e.minlat
         |GROUP BY t.tile_id, e.wind_threshold
         |ORDER BY t.tile_id, e.wind_threshold""".stripMargin,
    "g02_cci" ->
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
         |ORDER BY tile_id""".stripMargin,
    "g03_points_in_zone" ->
      s"""WITH tiles AS ($geoTilesSql),
         |pts AS (
         | SELECT (p_partkey % 40) * 0.03125 + 0.0128 AS px,
         |  ((p_partkey // 40) % 40) * 0.03125 + 0.0131 AS py, p_retailprice
         | FROM part)
         |SELECT t.tile_id, COUNT(*) AS n_points, ROUND(SUM(p.p_retailprice),2) AS sum_value
         |FROM tiles t JOIN pts p
         | ON CAST(FLOOR(p.px / 0.03125) AS BIGINT) = CAST(t.tile_id AS BIGINT) % 40
         | AND CAST(FLOOR(p.py / 0.03125) AS BIGINT) = (CAST(t.tile_id AS BIGINT) // 40) % 40
         |GROUP BY t.tile_id ORDER BY t.tile_id""".stripMargin,
    "g04_admin_rollup" ->
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
         |FROM counts GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "g08_strategy_join" ->
      s"""WITH tiles AS ($geoTilesSql), envs AS ($geoEnvelopesSql)
         |SELECT t.tile_id, e.wind_threshold, COUNT(*) AS n_members
         |FROM tiles t JOIN envs e
         | ON t.minlon <= e.maxlon AND t.maxlon >= e.minlon
         | AND t.minlat <= e.maxlat AND t.maxlat >= e.minlat
         |GROUP BY t.tile_id, e.wind_threshold
         |ORDER BY t.tile_id, e.wind_threshold""".stripMargin,
    "g06_landfall" ->
      """SELECT member, MIN(CASE WHEN in_country THEN lead_time END) AS landfall_lead,
        | COUNT(*) AS n_points FROM (
        | SELECT o_custkey % 23 AS member,
        |  ((ROW_NUMBER() OVER (PARTITION BY o_custkey % 23 ORDER BY o_orderkey)) - 1) * 6 AS lead_time,
        |  (o_orderkey % 100) * 0.015625 >= 0.5 AND (o_orderkey % 100) * 0.015625 <= 0.9
        |   AND (o_orderkey % 83) * 0.015625 >= 0.3 AND (o_orderkey % 83) * 0.015625 <= 0.7 AS in_country
        | FROM orders) t
        |GROUP BY member ORDER BY member""".stripMargin,
    "s01_stream_window" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
        | COUNT(*) AS n, ROUND(SUM(value),2) AS total
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // s30: watermark progression replayed in closed SQL — w1 = watermark
    // after batch 0 (max pre-cut non-late ts − 1 h), wf = final watermark
    // (global max ts − 1 h); batch-1 rows in windows already finalized by
    // w1 are dropped; append mode emits only windows with end <= wf
    "s30_stream_late_drop" ->
      """WITH w1 AS (
        |  SELECT MAX(ts) - INTERVAL 1 HOUR AS wm FROM events
        |  WHERE ts < TIMESTAMP '2024-01-16 00:00:00' AND event_id % 97 <> 0
        |), wf AS (
        |  SELECT MAX(ts) - INTERVAL 1 HOUR AS wm FROM events
        |), kept AS (
        |  SELECT e.ts, e.event_type FROM events e, w1
        |  WHERE e.ts >= TIMESTAMP '2024-01-16 00:00:00'
        |     OR e.event_id % 97 <> 0
        |     OR date_trunc('day', e.ts) + INTERVAL 1 DAY > w1.wm
        |)
        |SELECT CAST(date_trunc('day', k.ts) AS DATE) AS day, k.event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM kept k, wf
        |WHERE date_trunc('day', k.ts) + INTERVAL 1 DAY <= wf.wm
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "m02_frame_sample" ->
      """SELECT p_partkey AS media_id,
        | ((p_partkey % 10000 + 1000) - 1) // 500 + 1 AS n_frames
        |FROM part WHERE p_partkey % 3 = 2 ORDER BY media_id""".stripMargin,
    "d01_exact_dedup" ->
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS group_size FROM documents
        |GROUP BY md5(text) HAVING COUNT(*) > 1 ORDER BY keep_id""".stripMargin,
    "s02_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type""",
    // s20: the bounded-state variant with a horizon wider than the corpus
    // span converges to the same DISTINCT — shared oracle.
    "s20_stream_dedup_bounded" ->
      """SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type""",
    "d08_embedding_neardup" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id % 4 = 0 AND b.vec_id % 4 = 0 AND a.vec_id < b.vec_id AND
        |  list_reduce(list_apply(list_zip(a.embedding, b.embedding),
        |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
        |  / (sqrt(list_reduce(list_apply(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))
        |     * sqrt(list_reduce(list_apply(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y)))
        |  >= 0.3125
        |ORDER BY id_a, id_b""".stripMargin,
    // m01's sum_r/g/b replay the DECODED pixels of the synthetic P6 PPMs:
    // channel value (id*7 + y*11 + x*13 + c*17) % 256 over a
    // (4 + id%5) × (3 + id%4) raster — if the engine's PPM decoder reads
    // the header or raster wrong, these sums cannot match.
    // m03: replay the integer nearest-neighbour resample analytically —
    // output dims (2·d·4 + m)/(2m) round-half-up, source pixel
    // ((x'·w)//w2, (y'·h)//h2), channel value from the synthetic formula.
    "m03_resize" ->
      """WITH img AS (
        |  SELECT p_partkey AS media_id, 4 + p_partkey % 5 AS w, 3 + p_partkey % 4 AS h
        |  FROM part WHERE p_partkey <= 200 AND p_partkey % 3 = 0
        |), dims AS (
        |  SELECT media_id, w, h,
        |    CASE WHEN GREATEST(w, h) <= 4 THEN w
        |         ELSE GREATEST((2 * w * 4 + GREATEST(w, h)) // (2 * GREATEST(w, h)), 1)
        |    END AS w2,
        |    CASE WHEN GREATEST(w, h) <= 4 THEN h
        |         ELSE GREATEST((2 * h * 4 + GREATEST(w, h)) // (2 * GREATEST(w, h)), 1)
        |    END AS h2
        |  FROM img
        |)
        |SELECT d.media_id, CAST(d.w2 AS INT) AS width, CAST(d.h2 AS INT) AS height,
        |  CAST(SUM((d.media_id * 7 + ((y.y * d.h) // d.h2) * 11 + ((x.x * d.w) // d.w2) * 13) % 256) AS BIGINT) AS sum_r,
        |  CAST(SUM((d.media_id * 7 + ((y.y * d.h) // d.h2) * 11 + ((x.x * d.w) // d.w2) * 13 + 17) % 256) AS BIGINT) AS sum_g,
        |  CAST(SUM((d.media_id * 7 + ((y.y * d.h) // d.h2) * 11 + ((x.x * d.w) // d.w2) * 13 + 34) % 256) AS BIGINT) AS sum_b
        |FROM dims d,
        |  LATERAL (SELECT unnest(range(d.h2)) AS y) y,
        |  LATERAL (SELECT unnest(range(d.w2)) AS x) x
        |GROUP BY 1, 2, 3 ORDER BY media_id""".stripMargin,
    // m04: replay the DECODED PCM16 samples of the synthetic WAVs —
    // 1 + id%2 channels at 8 kHz, 100 + id%50 frames, sample value
    // (id·31 + frame·7 + ch·13) % 4096 − 2048 — if the engine's RIFF
    // walk, fmt parse, or little-endian sample read is wrong, these
    // exact sums cannot match.
    // m22: replay every dHash bit from the synthetic pixel formula
    // through the same 9×8 grid mapping; per-channel mod BEFORE the
    // gray sum, exactly as the decoded bytes come back.
    "m22_image_dhash" ->
      """WITH img AS (
        |  SELECT p_partkey AS media_id, 4 + p_partkey % 5 AS w,
        |    3 + p_partkey % 4 AS h
        |  FROM part WHERE p_partkey <= 200 AND p_partkey % 3 = 0
        |), g AS (
        |  SELECT media_id, y.y AS y, x.x AS x,
        |    ((media_id * 7 + ((y.y * h) // 8) * 11 + ((x.x * w) // 9) * 13) % 256
        |     + (media_id * 7 + ((y.y * h) // 8) * 11 + ((x.x * w) // 9) * 13 + 17) % 256
        |     + (media_id * 7 + ((y.y * h) // 8) * 11 + ((x.x * w) // 9) * 13 + 34) % 256) AS gr
        |  FROM img,
        |    LATERAL (SELECT unnest(range(8)) AS y) y,
        |    LATERAL (SELECT unnest(range(9)) AS x) x
        |), bits AS (
        |  SELECT a.media_id, a.y * 8 + a.x AS idx
        |  FROM g a JOIN g b ON b.media_id = a.media_id
        |    AND b.y = a.y AND b.x = a.x + 1
        |  WHERE a.x < 8 AND a.gr > b.gr
        |)
        |SELECT i.media_id,
        |  CAST(COALESCE(SUM(CASE WHEN idx >= 32
        |    THEN (CAST(1 AS BIGINT) << (idx - 32)) END), 0) AS BIGINT) AS dhash_hi,
        |  CAST(COALESCE(SUM(CASE WHEN idx < 32
        |    THEN (CAST(1 AS BIGINT) << idx) END), 0) AS BIGINT) AS dhash_lo
        |FROM img i LEFT JOIN bits b USING (media_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // s37: the streamed MP4 metadata ingest must equal m24's batch walk
    // — shares its closed-form oracle verbatim (stream ≡ batch)
    "s37_stream_media_ingest" -> mp4WalkOracleSql(),
    // s36: m22's closed-form dHash bits, grouped to MIN(media_id) per
    // hash — the streamed min-state must converge to exactly this.
    "s36_stream_image_dedup" ->
      """WITH img AS (
        |  SELECT p_partkey AS media_id, 4 + p_partkey % 5 AS w,
        |    3 + p_partkey % 4 AS h
        |  FROM part WHERE p_partkey <= 200 AND p_partkey % 3 = 0
        |), g AS (
        |  SELECT media_id, y.y AS y, x.x AS x,
        |    ((media_id * 7 + ((y.y * h) // 8) * 11 + ((x.x * w) // 9) * 13) % 256
        |     + (media_id * 7 + ((y.y * h) // 8) * 11 + ((x.x * w) // 9) * 13 + 17) % 256
        |     + (media_id * 7 + ((y.y * h) // 8) * 11 + ((x.x * w) // 9) * 13 + 34) % 256) AS gr
        |  FROM img,
        |    LATERAL (SELECT unnest(range(8)) AS y) y,
        |    LATERAL (SELECT unnest(range(9)) AS x) x
        |), bits AS (
        |  SELECT a.media_id, a.y * 8 + a.x AS idx
        |  FROM g a JOIN g b ON b.media_id = a.media_id
        |    AND b.y = a.y AND b.x = a.x + 1
        |  WHERE a.x < 8 AND a.gr > b.gr
        |), hs AS (
        |  SELECT i.media_id,
        |    CAST(COALESCE(SUM(CASE WHEN idx >= 32
        |      THEN (CAST(1 AS BIGINT) << (idx - 32)) END), 0) AS BIGINT) AS dhash_hi,
        |    CAST(COALESCE(SUM(CASE WHEN idx < 32
        |      THEN (CAST(1 AS BIGINT) << idx) END), 0) AS BIGINT) AS dhash_lo
        |  FROM img i LEFT JOIN bits USING (media_id)
        |  GROUP BY 1
        |)
        |SELECT dhash_hi, dhash_lo, MIN(media_id) AS first_media_id
        |FROM hs GROUP BY 1, 2 ORDER BY dhash_hi, dhash_lo""".stripMargin,
    // m21: replay ZCR + abs-sum from the synthetic PCM formula with a
    // lag window over the per-channel sample series.
    "m21_audio_features" ->
      """WITH a AS (
        |  SELECT p_partkey AS media_id, 1 + p_partkey % 2 AS nc,
        |    100 + p_partkey % 50 AS nf
        |  FROM part WHERE p_partkey <= 200 AND p_partkey % 3 = 1
        |), samp AS (
        |  SELECT a.media_id, c.c, f.f,
        |    (a.media_id * 31 + f.f * 7 + c.c * 13) % 4096 - 2048 AS x,
        |    a.nf
        |  FROM a,
        |    LATERAL (SELECT unnest(range(a.nc)) AS c) c,
        |    LATERAL (SELECT unnest(range(a.nf)) AS f) f
        |), lagged AS (
        |  SELECT *, lag(x) OVER (PARTITION BY media_id, c ORDER BY f) AS lx
        |  FROM samp
        |)
        |SELECT media_id, CAST(c AS INT) AS channel,
        |  CAST(ANY_VALUE(nf) AS BIGINT) AS n_frames,
        |  CAST(SUM(CASE WHEN lx IS NOT NULL AND (x >= 0) <> (lx >= 0)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
        |  CAST(SUM(ABS(x)) AS BIGINT) AS abs_sum,
        |  ROUND(CAST(SUM(ABS(x)) AS DOUBLE) / ANY_VALUE(nf), 4) AS mean_abs
        |FROM lagged GROUP BY 1, 2 ORDER BY media_id, channel""".stripMargin,
    "m04_audio_stats" ->
      """WITH a AS (
        |  SELECT p_partkey AS media_id, 1 + p_partkey % 2 AS nc,
        |    100 + p_partkey % 50 AS nf
        |  FROM part WHERE p_partkey <= 200 AND p_partkey % 3 = 1
        |), s AS (
        |  SELECT a.media_id, a.nc, a.nf,
        |    CAST(SUM(CASE WHEN c.c = 0 THEN
        |      (a.media_id * 31 + f.f * 7) % 4096 - 2048 END) AS BIGINT) AS sum_ch0,
        |    CAST(COALESCE(SUM(CASE WHEN c.c > 0 THEN
        |      (a.media_id * 31 + f.f * 7 + c.c * 13) % 4096 - 2048 END), 0) AS BIGINT) AS sum_rest
        |  FROM a,
        |    LATERAL (SELECT unnest(range(a.nf)) AS f) f,
        |    LATERAL (SELECT unnest(range(a.nc)) AS c) c
        |  GROUP BY 1, 2, 3
        |)
        |SELECT media_id, CAST(nc AS INT) AS channels,
        |  CAST(8000 AS INT) AS sample_rate, CAST(nf AS INT) AS n_frames,
        |  CAST(nf * 1000 // 8000 AS BIGINT) AS duration_ms,
        |  sum_ch0, sum_rest
        |FROM s ORDER BY media_id""".stripMargin,
    // m05: replay the DECODED y4m planes — (4 + id%3·2) × (4 + id%2·2)
    // frames ×(3 + id%4) at 25 fps, plane byte
    // (id·7 + f·31 + y·11 + x·13 + plane·29) % 256 over the luma raster
    // and the two quarter chroma rasters — if the engine's header walk,
    // plane sizing, or frame stride is wrong, these exact sums cannot
    // match.
    "m05_video_stats" ->
      """WITH v AS (
        |  SELECT p_partkey AS media_id,
        |    4 + (p_partkey % 3) * 2 AS w, 4 + (p_partkey % 2) * 2 AS h,
        |    3 + p_partkey % 4 AS nf
        |  FROM part WHERE p_partkey <= 200 AND p_partkey % 3 = 2
        |), ysum AS (
        |  SELECT v.media_id,
        |    CAST(SUM((v.media_id * 7 + f.f * 31 + y.y * 11 + x.x * 13) % 256) AS BIGINT) AS sum_y
        |  FROM v,
        |    LATERAL (SELECT unnest(range(v.nf)) AS f) f,
        |    LATERAL (SELECT unnest(range(v.h)) AS y) y,
        |    LATERAL (SELECT unnest(range(v.w)) AS x) x
        |  GROUP BY 1
        |), csum AS (
        |  SELECT v.media_id,
        |    CAST(SUM((v.media_id * 7 + f.f * 31 + y.y * 11 + x.x * 13 + 29) % 256) AS BIGINT) AS sum_u,
        |    CAST(SUM((v.media_id * 7 + f.f * 31 + y.y * 11 + x.x * 13 + 58) % 256) AS BIGINT) AS sum_v
        |  FROM v,
        |    LATERAL (SELECT unnest(range(v.h // 2)) AS y) y,
        |    LATERAL (SELECT unnest(range(v.w // 2)) AS x) x,
        |    LATERAL (SELECT unnest(range(v.nf)) AS f) f
        |  GROUP BY 1
        |)
        |SELECT v.media_id, CAST(v.w AS INT) AS width, CAST(v.h AS INT) AS height,
        |  CAST(v.nf AS INT) AS n_frames, CAST(v.nf * 40 AS BIGINT) AS measured_ms,
        |  ysum.sum_y, csum.sum_u, csum.sum_v
        |FROM v JOIN ysum USING (media_id) JOIN csum USING (media_id)
        |ORDER BY media_id""".stripMargin,
    "m06_frame_sample_decoded" ->
      """WITH v AS (
        |  SELECT p_partkey AS media_id,
        |    4 + (p_partkey % 3) * 2 AS w, 4 + (p_partkey % 2) * 2 AS h,
        |    3 + p_partkey % 4 AS nf
        |  FROM part WHERE p_partkey <= 200 AND p_partkey % 3 = 2
        |), fr AS (
        |  SELECT v.media_id, v.w, v.h, f.f
        |  FROM v, LATERAL (SELECT unnest(range(v.nf)) AS f) f
        |  WHERE f.f % 2 = 0
        |)
        |SELECT fr.media_id, CAST(fr.f AS INT) AS frame_idx,
        |  CAST(SUM((fr.media_id * 7 + fr.f * 31 + y.y * 11 + x.x * 13) % 256) AS BIGINT) AS luma_sum
        |FROM fr,
        |  LATERAL (SELECT unnest(range(fr.h)) AS y) y,
        |  LATERAL (SELECT unnest(range(fr.w)) AS x) x
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // m07: the decoded-PNG channel sums replay in closed form from
    // syntheticPng's pixel formula (identical to m01's PPM formula; the
    // alpha channel of odd ids is dropped by decode, so the sums are
    // color-type-independent) — the Spark side must reach the same longs
    // through a REAL inflate + filter reversal.
    "m07_png_decode" ->
      """WITH img AS (
        |  SELECT p_partkey AS media_id,
        |    8 + p_partkey % 9 AS w, 5 + p_partkey % 6 AS h
        |  FROM part WHERE p_partkey <= 300
        |)
        |SELECT i.media_id,
        |  CAST(MAX(i.w) AS INT) AS width, CAST(MAX(i.h) AS INT) AS height,
        |  CAST(SUM((i.media_id * 7 + y.y * 11 + x.x * 13) % 256) AS BIGINT) AS sum_r,
        |  CAST(SUM((i.media_id * 7 + y.y * 11 + x.x * 13 + 17) % 256) AS BIGINT) AS sum_g,
        |  CAST(SUM((i.media_id * 7 + y.y * 11 + x.x * 13 + 34) % 256) AS BIGINT) AS sum_b
        |FROM img i,
        |  LATERAL (SELECT unnest(range(i.h)) AS y) y,
        |  LATERAL (SELECT unnest(range(i.w)) AS x) x
        |GROUP BY i.media_id ORDER BY i.media_id""".stripMargin,
    // m08: resized-PNG channel sums — compose the m07 pixel formula with
    // the integer nearest-neighbour mapping (round-half-up dims via the
    // (2·d·maxDim + m) / (2m) rational, source pixel (x'·w)//w2); all
    // divisions are positive-integer floor divisions in both engines.
    "m08_png_resize" ->
      """WITH img AS (
        |  SELECT p_partkey AS media_id,
        |    8 + p_partkey % 9 AS w, 5 + p_partkey % 6 AS h
        |  FROM part WHERE p_partkey <= 300
        |), d2 AS (
        |  SELECT media_id, w, h,
        |    GREATEST((2 * w * 6 + GREATEST(w, h)) // (2 * GREATEST(w, h)), 1) AS w2,
        |    GREATEST((2 * h * 6 + GREATEST(w, h)) // (2 * GREATEST(w, h)), 1) AS h2
        |  FROM img
        |)
        |SELECT d.media_id,
        |  CAST(MAX(d.w2) AS INT) AS width, CAST(MAX(d.h2) AS INT) AS height,
        |  CAST(SUM((d.media_id * 7 + ((y.y * d.h) // d.h2) * 11 + ((x.x * d.w) // d.w2) * 13) % 256) AS BIGINT) AS sum_r,
        |  CAST(SUM((d.media_id * 7 + ((y.y * d.h) // d.h2) * 11 + ((x.x * d.w) // d.w2) * 13 + 17) % 256) AS BIGINT) AS sum_g,
        |  CAST(SUM((d.media_id * 7 + ((y.y * d.h) // d.h2) * 11 + ((x.x * d.w) // d.w2) * 13 + 34) % 256) AS BIGINT) AS sum_b
        |FROM d2 d,
        |  LATERAL (SELECT unnest(range(d.h2)) AS y) y,
        |  LATERAL (SELECT unnest(range(d.w2)) AS x) x
        |GROUP BY d.media_id ORDER BY d.media_id""".stripMargin,
    // m09: decoded-GIF channel sums — the pixel-index formula composed
    // with the palette formula, all integer mod arithmetic
    "m09_gif_decode" ->
      """WITH img AS (
        |  SELECT p_partkey AS media_id,
        |    24 + (p_partkey % 9) * 2 AS w, 20 + (p_partkey % 7) * 2 AS h
        |  FROM part WHERE p_partkey <= 300
        |), px AS (
        |  SELECT i.media_id, i.w, i.h,
        |    (i.media_id * 7 + y.y * 11 + x.x * 13) % 256 AS idx
        |  FROM img i,
        |    LATERAL (SELECT unnest(range(i.h)) AS y) y,
        |    LATERAL (SELECT unnest(range(i.w)) AS x) x
        |)
        |SELECT media_id,
        |  CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
        |  CAST(SUM((idx * 3 + media_id) % 256) AS BIGINT) AS sum_r,
        |  CAST(SUM((idx * 5 + 2 * media_id) % 256) AS BIGINT) AS sum_g,
        |  CAST(SUM((idx * 7 + 3 * media_id) % 256) AS BIGINT) AS sum_b
        |FROM px GROUP BY media_id ORDER BY media_id""".stripMargin,
    // m11: decoded-JPEG channel sums — per-block planted constants
    // (DC-only blocks decode exactly), grayscale on even ids, CCIR-601
    // conversion on odd ids replayed with the decoder's own op order
    // (positive values ⇒ ROUND ties agree across engines)
    // m16: every format's closed form, routed by media_id % 8 and
    // UNION ALL'd — the dispatch twin of the per-format oracles
    // m17: replay the DECODED FLAC PCM — same planted formula as m04
    // (1 + id%2 channels, 100 + id%50 frames at 8 kHz, sample
    // (id·31 + f·7 + ch·13) % 4096 − 2048); FLAC is lossless, so the
    // decoded sums must equal the formula exactly no matter which
    // subframe types / partition orders / stereo modes the encoder chose
    "m17_flac_decode" ->
      """WITH a AS (
        |  SELECT p_partkey AS media_id, 1 + p_partkey % 2 AS nc,
        |    100 + p_partkey % 50 AS nf
        |  FROM part WHERE p_partkey <= 300
        |), s AS (
        |  SELECT a.media_id, a.nc, a.nf,
        |    CAST(SUM(CASE WHEN c.c = 0 THEN
        |      (a.media_id * 31 + f.f * 7) % 4096 - 2048 END) AS BIGINT) AS sum_ch0,
        |    CAST(COALESCE(SUM(CASE WHEN c.c > 0 THEN
        |      (a.media_id * 31 + f.f * 7 + c.c * 13) % 4096 - 2048 END), 0) AS BIGINT) AS sum_rest
        |  FROM a,
        |    LATERAL (SELECT unnest(range(a.nf)) AS f) f,
        |    LATERAL (SELECT unnest(range(a.nc)) AS c) c
        |  GROUP BY 1, 2, 3
        |)
        |SELECT media_id, CAST(nc AS INT) AS channels,
        |  CAST(8000 AS INT) AS sample_rate, CAST(nf AS INT) AS n_frames,
        |  CAST(nf * 1000 // 8000 AS BIGINT) AS duration_ms,
        |  sum_ch0, sum_rest
        |FROM s ORDER BY media_id""".stripMargin,
    // m18: the audio dispatch matrix — four closed forms (PCM16 WAV, the
    // three wavExt codecs, FLAC, AIFF) keyed by id%4, UNION ALL'd; a
    // magic-byte misrouting surfaces as the wrong branch's sums. Branch 1
    // (syntheticWavExt) picks ITS codec by id%3, so that branch replays
    // m14's µ-law/A-law/float32 forms under the id%4=1 filter.
    "m18_audio_matrix" ->
      """WITH w1 AS (
        |  SELECT p_partkey AS media_id, 1 + p_partkey % 2 AS nc,
        |    100 + p_partkey % 50 AS nf
        |  FROM part WHERE p_partkey <= 300 AND p_partkey % 4 = 0
        |), w1s AS (
        |  SELECT a.media_id, a.nc, a.nf,
        |    CAST(SUM(CASE WHEN c.c = 0 THEN
        |      (a.media_id * 31 + f.f * 7) % 4096 - 2048 END) AS BIGINT) AS sum_ch0,
        |    CAST(COALESCE(SUM(CASE WHEN c.c > 0 THEN
        |      (a.media_id * 31 + f.f * 7 + c.c * 13) % 4096 - 2048 END), 0) AS BIGINT) AS sum_rest
        |  FROM w1 a,
        |    LATERAL (SELECT unnest(range(a.nf)) AS f) f,
        |    LATERAL (SELECT unnest(range(a.nc)) AS c) c
        |  GROUP BY 1, 2, 3
        |), w1o AS (
        |  SELECT media_id, CAST(nc AS INT) AS channels,
        |    CAST(8000 AS INT) AS sample_rate, CAST(nf AS INT) AS n_frames,
        |    CAST(nf * 1000 // 8000 AS BIGINT) AS duration_ms, sum_ch0, sum_rest
        |  FROM w1s
        |), w2 AS ( -- id%4=1 -> syntheticWavExt; ITS codec = id%3
        |  SELECT p_partkey AS media_id,
        |    80 + p_partkey % 40 AS frames, p_partkey % 3 AS enc
        |  FROM part WHERE p_partkey <= 300 AND p_partkey % 4 = 1
        |), w2m AS (
        |  SELECT c.media_id, c.enc, c.frames,
        |    255 - ((c.media_id * 31 + i.i * 7) % 256) AS u,
        |    xor((c.media_id * 31 + i.i * 7) % 256, 85) AS a,
        |    (c.media_id * 31 + i.i * 7) % 4096 - 2048 AS k
        |  FROM w2 c, LATERAL (SELECT unnest(range(c.frames)) AS i) i
        |), w2d AS (
        |  SELECT media_id, frames,
        |    CASE WHEN enc = 2 THEN k
        |         WHEN enc = 0 THEN CASE WHEN u >= 128
        |           THEN 132 - ((u % 16) * 8 + 132) * (1 << ((u // 16) % 8))
        |           ELSE ((u % 16) * 8 + 132) * (1 << ((u // 16) % 8)) - 132 END
        |         ELSE (CASE WHEN a >= 128 THEN 1 ELSE -1 END) *
        |           (CASE WHEN ((a // 16) % 8) = 0 THEN (a % 16) * 16 + 8
        |                 WHEN ((a // 16) % 8) = 1 THEN (a % 16) * 16 + 264
        |                 ELSE ((a % 16) * 16 + 264) * (1 << (((a // 16) % 8) - 1)) END)
        |    END AS s
        |  FROM w2m
        |), w2o AS (
        |  SELECT media_id, CAST(1 AS INT) AS channels,
        |    CAST(8000 AS INT) AS sample_rate, CAST(MAX(frames) AS INT) AS n_frames,
        |    CAST(MAX(frames) // 8 AS BIGINT) AS duration_ms,
        |    CAST(SUM(s) AS BIGINT) AS sum_ch0,
        |    CAST(0 AS BIGINT) AS sum_rest
        |  FROM w2d GROUP BY media_id
        |), f3 AS (
        |  SELECT p_partkey AS media_id, 1 + p_partkey % 2 AS nc,
        |    100 + p_partkey % 50 AS nf
        |  FROM part WHERE p_partkey <= 300 AND p_partkey % 4 = 2
        |), f3s AS (
        |  SELECT a.media_id, a.nc, a.nf,
        |    CAST(SUM(CASE WHEN c.c = 0 THEN
        |      (a.media_id * 31 + f.f * 7) % 4096 - 2048 END) AS BIGINT) AS sum_ch0,
        |    CAST(COALESCE(SUM(CASE WHEN c.c > 0 THEN
        |      (a.media_id * 31 + f.f * 7 + c.c * 13) % 4096 - 2048 END), 0) AS BIGINT) AS sum_rest
        |  FROM f3 a,
        |    LATERAL (SELECT unnest(range(a.nf)) AS f) f,
        |    LATERAL (SELECT unnest(range(a.nc)) AS c) c
        |  GROUP BY 1, 2, 3
        |), f3o AS (
        |  SELECT media_id, CAST(nc AS INT) AS channels,
        |    CAST(8000 AS INT) AS sample_rate, CAST(nf AS INT) AS n_frames,
        |    CAST(nf * 1000 // 8000 AS BIGINT) AS duration_ms, sum_ch0, sum_rest
        |  FROM f3s
        |), a4 AS (
        |  SELECT p_partkey AS media_id, 1 + p_partkey % 2 AS nc,
        |    90 + p_partkey % 40 AS nf
        |  FROM part WHERE p_partkey <= 300 AND p_partkey % 4 = 3
        |), a4s AS (
        |  SELECT a.media_id, a.nc, a.nf,
        |    CAST(SUM(CASE WHEN c.c = 0 THEN
        |      (a.media_id * 37 + f.f * 11) % 4096 - 2048 END) AS BIGINT) AS sum_ch0,
        |    CAST(COALESCE(SUM(CASE WHEN c.c > 0 THEN
        |      (a.media_id * 37 + f.f * 11 + c.c * 17) % 4096 - 2048 END), 0) AS BIGINT) AS sum_rest
        |  FROM a4 a,
        |    LATERAL (SELECT unnest(range(a.nf)) AS f) f,
        |    LATERAL (SELECT unnest(range(a.nc)) AS c) c
        |  GROUP BY 1, 2, 3
        |), a4o AS (
        |  SELECT media_id, CAST(nc AS INT) AS channels,
        |    CAST(16000 AS INT) AS sample_rate, CAST(nf AS INT) AS n_frames,
        |    CAST(nf * 1000 // 16000 AS BIGINT) AS duration_ms, sum_ch0, sum_rest
        |  FROM a4s
        |)
        |SELECT * FROM w1o UNION ALL SELECT * FROM w2o UNION ALL
        |SELECT * FROM f3o UNION ALL SELECT * FROM a4o
        |ORDER BY media_id""".stripMargin,
    // m20: consecutive-frame luma SADs from the scene-keyed pixel formula
    // (plane 0 term), ABS of the %256 wrap per pixel; is_cut compares
    // against mean-threshold 8 x pixels
    // m23: scenes are planted at every seg frames, so keyframes sit at
    // k·seg and each keyframe's luma sum replays from the pixel formula.
    "m23_keyframes" ->
      """WITH v AS (
        |  SELECT p_partkey AS media_id,
        |    6 + (p_partkey % 3) * 2 AS w, 4 + (p_partkey % 2) * 2 AS h,
        |    12 + p_partkey % 6 AS nf, 3 + p_partkey % 3 AS seg
        |  FROM part WHERE p_partkey <= 200
        |), scenes AS (
        |  SELECT media_id, w, h, s.s AS scene, s.s * seg AS kf
        |  FROM v, LATERAL (SELECT unnest(range((nf + seg - 1) // seg)) AS s) s
        |)
        |SELECT media_id, CAST(scene AS INT) AS scene,
        |  CAST(kf AS INT) AS keyframe_idx,
        |  CAST(SUM((media_id * 7 + scene * 97 + y.y * 11 + x.x * 13) % 256)
        |    AS BIGINT) AS luma_sum
        |FROM scenes,
        |  LATERAL (SELECT unnest(range(h)) AS y) y,
        |  LATERAL (SELECT unnest(range(w)) AS x) x
        |GROUP BY 1, 2, 3 ORDER BY media_id, scene""".stripMargin,
    "m20_shot_cuts" ->
      """WITH v AS (
        |  SELECT p_partkey AS media_id,
        |    6 + (p_partkey % 3) * 2 AS w, 4 + (p_partkey % 2) * 2 AS h,
        |    12 + p_partkey % 6 AS nf, 3 + p_partkey % 3 AS seg
        |  FROM part WHERE p_partkey <= 200
        |), sad AS (
        |  SELECT v.media_id, CAST(f.f AS INT) AS frame_idx, v.w, v.h,
        |    CAST(SUM(ABS(
        |      (v.media_id * 7 + (f.f // v.seg) * 97 + y.y * 11 + x.x * 13) % 256
        |      - (v.media_id * 7 + ((f.f + 1) // v.seg) * 97 + y.y * 11 + x.x * 13) % 256
        |    )) AS BIGINT) AS luma_sad
        |  FROM v,
        |    LATERAL (SELECT unnest(range(v.nf - 1)) AS f) f,
        |    LATERAL (SELECT unnest(range(v.h)) AS y) y,
        |    LATERAL (SELECT unnest(range(v.w)) AS x) x
        |  GROUP BY 1, 2, 3, 4
        |)
        |SELECT media_id, frame_idx, luma_sad, luma_sad > 8 * w * h AS is_cut
        |FROM sad ORDER BY media_id, frame_idx""".stripMargin,
    // m19: AIFF decoded-sample sums — the closed-form (37/11/17) formula
    // over every id, 16 kHz (so the 80-bit extended-float parse is
    // load-bearing in the duration and rate columns)
    "m19_aiff_decode" ->
      """WITH a AS (
        |  SELECT p_partkey AS media_id, 1 + p_partkey % 2 AS nc,
        |    90 + p_partkey % 40 AS nf
        |  FROM part WHERE p_partkey <= 300
        |), s AS (
        |  SELECT a.media_id, a.nc, a.nf,
        |    CAST(SUM(CASE WHEN c.c = 0 THEN
        |      (a.media_id * 37 + f.f * 11) % 4096 - 2048 END) AS BIGINT) AS sum_ch0,
        |    CAST(COALESCE(SUM(CASE WHEN c.c > 0 THEN
        |      (a.media_id * 37 + f.f * 11 + c.c * 17) % 4096 - 2048 END), 0) AS BIGINT) AS sum_rest
        |  FROM a,
        |    LATERAL (SELECT unnest(range(a.nf)) AS f) f,
        |    LATERAL (SELECT unnest(range(a.nc)) AS c) c
        |  GROUP BY 1, 2, 3
        |)
        |SELECT media_id, CAST(nc AS INT) AS channels,
        |  CAST(16000 AS INT) AS sample_rate, CAST(nf AS INT) AS n_frames,
        |  CAST(nf * 1000 // 16000 AS BIGINT) AS duration_ms,
        |  sum_ch0, sum_rest
        |FROM s ORDER BY media_id""".stripMargin,
    "m16_media_matrix" ->
      """WITH ids AS (
        |  SELECT p_partkey AS media_id FROM part WHERE p_partkey <= 400
        |), raw3 AS ( -- ppm(0)/png(1)/bmp(3): the c·17 channel formula
        |  SELECT media_id,
        |    CASE media_id % 8 WHEN 0 THEN 4 + media_id % 5
        |      WHEN 1 THEN 8 + media_id % 9 ELSE 5 + media_id % 8 END AS w,
        |    CASE media_id % 8 WHEN 0 THEN 3 + media_id % 4
        |      WHEN 1 THEN 5 + media_id % 6 ELSE 4 + media_id % 6 END AS h
        |  FROM ids WHERE media_id % 8 IN (0, 1, 3)
        |), raw3_px AS (
        |  SELECT i.media_id, CAST(MAX(i.w) AS INT) AS width, CAST(MAX(i.h) AS INT) AS height,
        |    CAST(SUM((i.media_id * 7 + y.y * 11 + x.x * 13) % 256) AS BIGINT) AS sum_r,
        |    CAST(SUM((i.media_id * 7 + y.y * 11 + x.x * 13 + 17) % 256) AS BIGINT) AS sum_g,
        |    CAST(SUM((i.media_id * 7 + y.y * 11 + x.x * 13 + 34) % 256) AS BIGINT) AS sum_b
        |  FROM raw3 i,
        |    LATERAL (SELECT unnest(range(i.h)) AS y) y,
        |    LATERAL (SELECT unnest(range(i.w)) AS x) x
        |  GROUP BY i.media_id
        |), idx2 AS ( -- palette-png(2)/gif(4): index ∘ palette composition
        |  SELECT media_id,
        |    CASE media_id % 8 WHEN 2 THEN 8 + media_id % 9
        |      ELSE 24 + (media_id % 9) * 2 END AS w,
        |    CASE media_id % 8 WHEN 2 THEN 5 + media_id % 6
        |      ELSE 20 + (media_id % 7) * 2 END AS h
        |  FROM ids WHERE media_id % 8 IN (2, 4)
        |), idx2_px AS (
        |  SELECT media_id, CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
        |    CAST(SUM((idx * 3 + media_id) % 256) AS BIGINT) AS sum_r,
        |    CAST(SUM((idx * 5 + 2 * media_id) % 256) AS BIGINT) AS sum_g,
        |    CAST(SUM((idx * 7 + 3 * media_id) % 256) AS BIGINT) AS sum_b
        |  FROM (
        |    SELECT i.media_id, i.w, i.h,
        |      (i.media_id * 7 + y.y * 11 + x.x * 13) % 256 AS idx
        |    FROM idx2 i,
        |      LATERAL (SELECT unnest(range(i.h)) AS y) y,
        |      LATERAL (SELECT unnest(range(i.w)) AS x) x)
        |  GROUP BY media_id
        |), jflat AS ( -- baseline(5)/progressive(7): DC blocks, always color (odd ids)
        |  SELECT media_id, 2 + media_id % 3 AS wb, 2 + media_id % 2 AS hb
        |  FROM ids WHERE media_id % 8 IN (5, 7)
        |), jflat_blk AS (
        |  SELECT i.media_id, i.wb, i.hb,
        |    128 + 2 * (((i.media_id * 7 + bx.bx * 11 + by.by * 13) % 61) - 30) AS c0,
        |    128 + 2 * (((i.media_id * 7 + bx.bx * 11 + by.by * 13 + 17) % 61) - 30) AS c1,
        |    128 + 2 * (((i.media_id * 7 + bx.bx * 11 + by.by * 13 + 34) % 61) - 30) AS c2
        |  FROM jflat i,
        |    LATERAL (SELECT unnest(range(i.hb)) AS by) by,
        |    LATERAL (SELECT unnest(range(i.wb)) AS bx) bx
        |), j420b AS ( -- 4:2:0(6): Y per block, chroma per MCU
        |  SELECT media_id, 1 + media_id % 3 AS mx, 1 + media_id % 2 AS my
        |  FROM ids WHERE media_id % 8 = 6
        |), j420_blk AS (
        |  SELECT i.media_id, 2 * i.mx AS wb, 2 * i.my AS hb,
        |    128 + 2 * (((i.media_id * 7 + bx.bx * 11 + by.by * 13) % 61) - 30) AS c0,
        |    128 + 2 * (((i.media_id * 7 + (bx.bx // 2) * 11 + (by.by // 2) * 13 + 17) % 61) - 30) AS c1,
        |    128 + 2 * (((i.media_id * 7 + (bx.bx // 2) * 11 + (by.by // 2) * 13 + 34) % 61) - 30) AS c2
        |  FROM j420b i,
        |    LATERAL (SELECT unnest(range(2 * i.my)) AS by) by,
        |    LATERAL (SELECT unnest(range(2 * i.mx)) AS bx) bx
        |), jall AS (
        |  SELECT * FROM jflat_blk UNION ALL SELECT * FROM j420_blk
        |), j_px AS (
        |  SELECT media_id, CAST(MAX(wb) * 8 AS INT) AS width, CAST(MAX(hb) * 8 AS INT) AS height,
        |    CAST(SUM(GREATEST(0, LEAST(255, CAST(ROUND(c0 + 1.402 * (c2 - 128)) AS INT)))) * 64 AS BIGINT) AS sum_r,
        |    CAST(SUM(GREATEST(0, LEAST(255, CAST(ROUND(c0 - 0.344136 * (c1 - 128) - 0.714136 * (c2 - 128)) AS INT)))) * 64 AS BIGINT) AS sum_g,
        |    CAST(SUM(GREATEST(0, LEAST(255, CAST(ROUND(c0 + 1.772 * (c1 - 128)) AS INT)))) * 64 AS BIGINT) AS sum_b
        |  FROM jall GROUP BY media_id
        |)
        |SELECT * FROM raw3_px
        |UNION ALL SELECT * FROM idx2_px
        |UNION ALL SELECT * FROM j_px
        |ORDER BY media_id""".stripMargin,
    // m15: progressive shares m11's closed form (same planted raster)
    "m15_jpeg_progressive" ->
      """WITH img AS (
        |  SELECT p_partkey AS media_id,
        |    2 + p_partkey % 3 AS wb, 2 + p_partkey % 2 AS hb
        |  FROM part WHERE p_partkey <= 300
        |), blk AS (
        |  SELECT i.media_id, i.wb, i.hb,
        |    128 + 2 * (((i.media_id * 7 + bx.bx * 11 + by.by * 13) % 61) - 30) AS c0,
        |    128 + 2 * (((i.media_id * 7 + bx.bx * 11 + by.by * 13 + 17) % 61) - 30) AS c1,
        |    128 + 2 * (((i.media_id * 7 + bx.bx * 11 + by.by * 13 + 34) % 61) - 30) AS c2
        |  FROM img i,
        |    LATERAL (SELECT unnest(range(i.hb)) AS by) by,
        |    LATERAL (SELECT unnest(range(i.wb)) AS bx) bx
        |), px AS (
        |  SELECT media_id, wb, hb,
        |    CASE WHEN media_id % 2 = 0 THEN c0 ELSE
        |      GREATEST(0, LEAST(255, CAST(ROUND(c0 + 1.402 * (c2 - 128)) AS INT))) END AS r,
        |    CASE WHEN media_id % 2 = 0 THEN c0 ELSE
        |      GREATEST(0, LEAST(255, CAST(ROUND(c0 - 0.344136 * (c1 - 128) - 0.714136 * (c2 - 128)) AS INT))) END AS g,
        |    CASE WHEN media_id % 2 = 0 THEN c0 ELSE
        |      GREATEST(0, LEAST(255, CAST(ROUND(c0 + 1.772 * (c1 - 128)) AS INT))) END AS b
        |  FROM blk
        |)
        |SELECT media_id,
        |  CAST(MAX(wb) * 8 AS INT) AS width, CAST(MAX(hb) * 8 AS INT) AS height,
        |  CAST(SUM(r) * 64 AS BIGINT) AS sum_r,
        |  CAST(SUM(g) * 64 AS BIGINT) AS sum_g,
        |  CAST(SUM(b) * 64 AS BIGINT) AS sum_b
        |FROM px GROUP BY media_id ORDER BY media_id""".stripMargin,
    "m11_jpeg_decode" ->
      """WITH img AS (
        |  SELECT p_partkey AS media_id,
        |    2 + p_partkey % 3 AS wb, 2 + p_partkey % 2 AS hb
        |  FROM part WHERE p_partkey <= 300
        |), blk AS (
        |  SELECT i.media_id, i.wb, i.hb,
        |    128 + 2 * (((i.media_id * 7 + bx.bx * 11 + by.by * 13) % 61) - 30) AS c0,
        |    128 + 2 * (((i.media_id * 7 + bx.bx * 11 + by.by * 13 + 17) % 61) - 30) AS c1,
        |    128 + 2 * (((i.media_id * 7 + bx.bx * 11 + by.by * 13 + 34) % 61) - 30) AS c2
        |  FROM img i,
        |    LATERAL (SELECT unnest(range(i.hb)) AS by) by,
        |    LATERAL (SELECT unnest(range(i.wb)) AS bx) bx
        |), px AS (
        |  SELECT media_id, wb, hb,
        |    CASE WHEN media_id % 2 = 0 THEN c0 ELSE
        |      GREATEST(0, LEAST(255, CAST(ROUND(c0 + 1.402 * (c2 - 128)) AS INT))) END AS r,
        |    CASE WHEN media_id % 2 = 0 THEN c0 ELSE
        |      GREATEST(0, LEAST(255, CAST(ROUND(c0 - 0.344136 * (c1 - 128) - 0.714136 * (c2 - 128)) AS INT))) END AS g,
        |    CASE WHEN media_id % 2 = 0 THEN c0 ELSE
        |      GREATEST(0, LEAST(255, CAST(ROUND(c0 + 1.772 * (c1 - 128)) AS INT))) END AS b
        |  FROM blk
        |)
        |SELECT media_id,
        |  CAST(MAX(wb) * 8 AS INT) AS width, CAST(MAX(hb) * 8 AS INT) AS height,
        |  CAST(SUM(r) * 64 AS BIGINT) AS sum_r,
        |  CAST(SUM(g) * 64 AS BIGINT) AS sum_g,
        |  CAST(SUM(b) * 64 AS BIGINT) AS sum_b
        |FROM px GROUP BY media_id ORDER BY media_id""".stripMargin,
    // m12: 4:2:0 sums — Y constant per 8×8 Y-block, chroma constant per
    // 16×16 MCU (bx // 2 = the chroma grid), composed through CCIR-601
    "m12_jpeg_420" ->
      """WITH img AS (
        |  SELECT p_partkey AS media_id,
        |    1 + p_partkey % 3 AS mx, 1 + p_partkey % 2 AS my
        |  FROM part WHERE p_partkey <= 300
        |), yblk AS (
        |  SELECT i.media_id, i.mx, i.my,
        |    128 + 2 * (((i.media_id * 7 + bx.bx * 11 + by.by * 13) % 61) - 30) AS yv,
        |    128 + 2 * (((i.media_id * 7 + (bx.bx // 2) * 11 + (by.by // 2) * 13 + 17) % 61) - 30) AS cb,
        |    128 + 2 * (((i.media_id * 7 + (bx.bx // 2) * 11 + (by.by // 2) * 13 + 34) % 61) - 30) AS cr
        |  FROM img i,
        |    LATERAL (SELECT unnest(range(2 * i.my)) AS by) by,
        |    LATERAL (SELECT unnest(range(2 * i.mx)) AS bx) bx
        |), px AS (
        |  SELECT media_id, mx, my,
        |    GREATEST(0, LEAST(255, CAST(ROUND(yv + 1.402 * (cr - 128)) AS INT))) AS r,
        |    GREATEST(0, LEAST(255, CAST(ROUND(yv - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)) AS INT))) AS g,
        |    GREATEST(0, LEAST(255, CAST(ROUND(yv + 1.772 * (cb - 128)) AS INT))) AS b
        |  FROM yblk
        |)
        |SELECT media_id,
        |  CAST(MAX(mx) * 16 AS INT) AS width, CAST(MAX(my) * 16 AS INT) AS height,
        |  CAST(SUM(r) * 64 AS BIGINT) AS sum_r,
        |  CAST(SUM(g) * 64 AS BIGINT) AS sum_g,
        |  CAST(SUM(b) * 64 AS BIGINT) AS sum_b
        |FROM px GROUP BY media_id ORDER BY media_id""".stripMargin,
    // m24: the MP4 container walk — fixed brand/codec/timescale, stts
    // duration closed form, first-sample dims, and channel sums replayed
    // per SAMPLE from the m11 JPEG closed form at img = media_id*101 + k
    "m24_mp4_walk" -> mp4WalkOracleSql(),
    // m27: the binaryFile ingest must reproduce m24's walk over the
    // 60-file universe — same closed form, path-recovered ids
    "m27_binaryfile_ingest" -> mp4WalkOracleSql(60),
    // m31: the keyframe dHash sequence replayed from the planted scene
    // formula — scenes are frames/seg (every boundary cuts), the grid
    // resample is (g·dim) div 9/8, bits are plain comparisons
    "m31_video_fingerprint" ->
      """WITH v AS (
        |  SELECT p_partkey AS media_id,
        |    6 + (p_partkey % 3) * 2 AS w, 4 + (p_partkey % 2) * 2 AS h,
        |    12 + p_partkey % 6 AS nf, 3 + p_partkey % 3 AS seg
        |  FROM part WHERE p_partkey <= 200
        |), scenes AS (
        |  SELECT v.media_id, v.w, v.h, CAST(s.s AS INT) AS scene
        |  FROM v, LATERAL (SELECT unnest(range((v.nf + v.seg - 1) // v.seg)) AS s) s
        |), g AS (
        |  SELECT media_id, scene, y.y AS gy, x.x AS gx,
        |    (media_id * 7 + scene * 97 + ((y.y * h) // 8) * 11
        |      + ((x.x * w) // 9) * 13) % 256 AS l
        |  FROM scenes,
        |    LATERAL (SELECT unnest(range(8)) AS y) y,
        |    LATERAL (SELECT unnest(range(9)) AS x) x
        |), bits AS (
        |  SELECT a.media_id, a.scene, a.gy * 8 + a.gx AS idx
        |  FROM g a JOIN g b ON b.media_id = a.media_id AND b.scene = a.scene
        |    AND b.gy = a.gy AND b.gx = a.gx + 1
        |  WHERE a.gx < 8 AND a.l > b.l
        |)
        |SELECT s.media_id, s.scene,
        |  CAST(COALESCE(SUM(CASE WHEN idx >= 32
        |    THEN (CAST(1 AS BIGINT) << (idx - 32)) END), 0) AS BIGINT) AS dhash_hi,
        |  CAST(COALESCE(SUM(CASE WHEN idx < 32
        |    THEN (CAST(1 AS BIGINT) << idx) END), 0) AS BIGINT) AS dhash_lo
        |FROM scenes s LEFT JOIN bits b ON b.media_id = s.media_id AND b.scene = s.scene
        |GROUP BY s.media_id, s.scene
        |ORDER BY s.media_id, s.scene""".stripMargin,
    // m30: the fingerprint bits replayed from the planted PCM formula —
    // mixed sample, window w = (f·33) div nf, energies, lead-compare,
    // Σ (bit << w) — all exact integers
    "m30_audio_fingerprint" ->
      """WITH a AS (
        |  SELECT p_partkey AS media_id, 1 + p_partkey % 2 AS nc,
        |    100 + p_partkey % 50 AS nf
        |  FROM part WHERE p_partkey <= 200
        |), e AS (
        |  SELECT a.media_id, a.nf, (f.f * 33) // a.nf AS w,
        |    SUM(POW(
        |      ((a.media_id * 31 + f.f * 7) % 4096 - 2048) +
        |      CASE WHEN a.nc = 2
        |        THEN (a.media_id * 31 + f.f * 7 + 13) % 4096 - 2048
        |        ELSE 0 END, 2)) AS energy
        |  FROM a, LATERAL (SELECT unnest(range(a.nf)) AS f) f
        |  GROUP BY 1, 2, 3
        |), bits AS (
        |  SELECT media_id, nf, w,
        |    CASE WHEN LEAD(energy) OVER (PARTITION BY media_id ORDER BY w)
        |              > energy
        |      THEN CAST(1 AS BIGINT) << w ELSE 0 END AS bit
        |  FROM e
        |)
        |SELECT media_id, CAST(MAX(nf) AS INT) AS n_frames,
        |  CAST(SUM(bit) AS BIGINT) AS fingerprint
        |FROM bits GROUP BY media_id ORDER BY media_id""".stripMargin,
    // m29: the four TIFF variants' decoded channel sums — gray replicates
    // across channels, palette composes the index and palette formulas
    "m29_tiff_decode" ->
      """WITH img AS (
        |  SELECT p_partkey AS media_id,
        |    8 + p_partkey % 9 AS w, 5 + p_partkey % 5 AS h,
        |    p_partkey % 4 AS v
        |  FROM part WHERE p_partkey <= 300
        |)
        |SELECT i.media_id,
        |  CAST(MAX(i.w) AS INT) AS width, CAST(MAX(i.h) AS INT) AS height,
        |  CAST(SUM(CASE
        |    WHEN i.v = 1 THEN (i.media_id * 7 + y.y * 3 + x.x // 4) % 256
        |    WHEN i.v = 3 THEN (i.media_id * 5 + ((i.media_id + x.x + 2 * y.y) % 4) * 31) % 256
        |    ELSE (i.media_id * 7 + y.y * 11 + x.x * 13) % 256 END) AS BIGINT) AS sum_r,
        |  CAST(SUM(CASE
        |    WHEN i.v = 1 THEN (i.media_id * 7 + y.y * 3 + x.x // 4) % 256
        |    WHEN i.v = 3 THEN (i.media_id * 3 + ((i.media_id + x.x + 2 * y.y) % 4) * 47) % 256
        |    ELSE (i.media_id * 7 + y.y * 11 + x.x * 13 + 17) % 256 END) AS BIGINT) AS sum_g,
        |  CAST(SUM(CASE
        |    WHEN i.v = 1 THEN (i.media_id * 7 + y.y * 3 + x.x // 4) % 256
        |    WHEN i.v = 3 THEN (i.media_id * 11 + ((i.media_id + x.x + 2 * y.y) % 4) * 61) % 256
        |    ELSE (i.media_id * 7 + y.y * 11 + x.x * 13 + 34) % 256 END) AS BIGINT) AS sum_b
        |FROM img i,
        |  LATERAL (SELECT unnest(range(i.h)) AS y) y,
        |  LATERAL (SELECT unnest(range(i.w)) AS x) x
        |GROUP BY i.media_id ORDER BY i.media_id""".stripMargin,
    // m28: the six VP8L variants' decoded channel sums, one CASE per
    // variant over the planted closed-form pixels (all integer mod math)
    "m28_webp_decode" ->
      """WITH img AS (
        |  SELECT p_partkey AS media_id,
        |    8 + p_partkey % 9 AS w, 5 + p_partkey % 5 AS h,
        |    p_partkey % 6 AS v
        |  FROM part WHERE p_partkey <= 300
        |)
        |SELECT i.media_id,
        |  CAST(MAX(i.w) AS INT) AS width, CAST(MAX(i.h) AS INT) AS height,
        |  CAST(SUM(CASE
        |    WHEN i.v = 0 THEN (i.media_id * 7 + y.y * 11 + (x.x % 4) * 13) % 256
        |    WHEN i.v = 2 THEN (i.media_id * 5 + ((i.media_id + x.x + 2 * y.y) % 4) * 31) % 256
        |    WHEN i.v = 3 THEN (i.media_id * 7 + x.x * 13) % 256
        |    ELSE (i.media_id * 7 + y.y * 11 + x.x * 13) % 256 END) AS BIGINT) AS sum_r,
        |  CAST(SUM(CASE
        |    WHEN i.v = 0 THEN (i.media_id * 7 + y.y * 11 + (x.x % 4) * 13 + 17) % 256
        |    WHEN i.v = 2 THEN (i.media_id * 3 + ((i.media_id + x.x + 2 * y.y) % 4) * 47) % 256
        |    WHEN i.v = 3 THEN (i.media_id * 7 + x.x * 13 + 17) % 256
        |    ELSE (i.media_id * 7 + y.y * 11 + x.x * 13 + 17) % 256 END) AS BIGINT) AS sum_g,
        |  CAST(SUM(CASE
        |    WHEN i.v = 0 THEN (i.media_id * 7 + y.y * 11 + (x.x % 4) * 13 + 34) % 256
        |    WHEN i.v = 2 THEN (i.media_id * 11 + ((i.media_id + x.x + 2 * y.y) % 4) * 61) % 256
        |    WHEN i.v = 3 THEN (i.media_id * 7 + x.x * 13 + 34) % 256
        |    ELSE (i.media_id * 7 + y.y * 11 + x.x * 13 + 34) % 256 END) AS BIGINT) AS sum_b
        |FROM img i,
        |  LATERAL (SELECT unnest(range(i.h)) AS y) y,
        |  LATERAL (SELECT unnest(range(i.w)) AS x) x
        |GROUP BY i.media_id ORDER BY i.media_id""".stripMargin,
    // m26: the audio-trak + co64 walk — PCM sums from the closed form
    "m26_mp4_audio_co64" ->
      """WITH m AS (
        |  SELECT p_partkey AS media_id, 2 + p_partkey % 3 AS ns
        |  FROM part WHERE p_partkey <= 200
        |), pcm AS (
        |  SELECT m.media_id, m.ns,
        |    ((m.media_id * 13 + k.k * 7 + j.j) % 401) - 200 AS v
        |  FROM m,
        |    LATERAL (SELECT unnest(range(m.ns)) AS k) k,
        |    LATERAL (SELECT unnest(range(80)) AS j) j
        |)
        |SELECT media_id, 'isom' AS brand, 'twos' AS codec,
        |  CAST(8000 AS BIGINT) AS timescale,
        |  CAST(MAX(ns) AS INT) AS n_samples,
        |  CAST(MAX(ns) * 80 AS BIGINT) AS duration,
        |  CAST(COUNT(*) AS BIGINT) AS n_pcm,
        |  CAST(SUM(v) AS BIGINT) AS pcm_sum
        |FROM pcm GROUP BY media_id ORDER BY media_id""".stripMargin,
    // m25 + s38 (stream ≡ batch): MP3 frame-header walk — every field
    // from the generator's closed form, incl. the per-frame padding
    // length arithmetic
    "m25_mp3_walk" -> mp3WalkOracleSql,
    "s38_stream_mp3_ingest" -> mp3WalkOracleSql,
    // m14: decoded-PCM16 sums for the non-PCM16 WAV encodings — the ITU
    // G.711 expansions and the dyadic float scaling in closed integer
    // form (u = ~byte, a = byte⊕0x55; magnitudes via the segment shift)
    "m14_wav_codecs" ->
      """WITH clip AS (
        |  SELECT p_partkey AS media_id,
        |    80 + p_partkey % 40 AS frames, p_partkey % 3 AS enc
        |  FROM part WHERE p_partkey <= 300
        |), smp AS (
        |  SELECT c.media_id, c.enc,
        |    255 - ((c.media_id * 31 + i.i * 7) % 256) AS u,
        |    xor((c.media_id * 31 + i.i * 7) % 256, 85) AS a,
        |    (c.media_id * 31 + i.i * 7) % 4096 - 2048 AS k
        |  FROM clip c, LATERAL (SELECT unnest(range(c.frames)) AS i) i
        |), mag AS (
        |  SELECT media_id, enc, u, a, k,
        |    ((u % 16) * 8 + 132) * (1 << ((u // 16) % 8)) AS um,
        |    CASE WHEN ((a // 16) % 8) = 0 THEN (a % 16) * 16 + 8
        |         WHEN ((a // 16) % 8) = 1 THEN (a % 16) * 16 + 264
        |         ELSE ((a % 16) * 16 + 264) * (1 << (((a // 16) % 8) - 1)) END AS am
        |  FROM smp
        |), dec AS (
        |  SELECT media_id,
        |    CASE WHEN enc = 2 THEN k
        |         WHEN enc = 0 THEN CASE WHEN u >= 128 THEN 132 - um ELSE um - 132 END
        |         ELSE CASE WHEN a >= 128 THEN am ELSE -am END END AS s
        |  FROM mag
        |)
        |SELECT c.media_id,
        |  CAST(1 AS INT) AS channels, CAST(8000 AS INT) AS sample_rate,
        |  CAST(c.frames AS INT) AS n_frames,
        |  CAST(c.frames // 8 AS BIGINT) AS duration_ms,
        |  CAST(SUM(d.s) AS BIGINT) AS sum_ch0, CAST(0 AS BIGINT) AS sum_rest
        |FROM clip c JOIN dec d USING (media_id)
        |GROUP BY c.media_id, c.frames ORDER BY c.media_id""".stripMargin,
    // m13: palette-PNG sums — pixel-index ∘ palette formulas in closed
    // form (the m09 composition over the PNG container)
    "m13_png_palette" ->
      """WITH img AS (
        |  SELECT p_partkey AS media_id,
        |    8 + p_partkey % 9 AS w, 5 + p_partkey % 6 AS h
        |  FROM part WHERE p_partkey <= 300
        |), px AS (
        |  SELECT i.media_id, i.w, i.h,
        |    (i.media_id * 7 + y.y * 11 + x.x * 13) % 256 AS idx
        |  FROM img i,
        |    LATERAL (SELECT unnest(range(i.h)) AS y) y,
        |    LATERAL (SELECT unnest(range(i.w)) AS x) x
        |)
        |SELECT media_id,
        |  CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
        |  CAST(SUM((idx * 3 + media_id) % 256) AS BIGINT) AS sum_r,
        |  CAST(SUM((idx * 5 + 2 * media_id) % 256) AS BIGINT) AS sum_g,
        |  CAST(SUM((idx * 7 + 3 * media_id) % 256) AS BIGINT) AS sum_b
        |FROM px GROUP BY media_id ORDER BY media_id""".stripMargin,
    // m10: decoded-BMP channel sums — the raw pixel formula in closed form
    // (no palette indirection; the BMP layer contributes raster order,
    // BGR→RGB conversion, and row padding, all of which cancel out only
    // if the decode is exactly right)
    "m10_bmp_decode" ->
      """WITH img AS (
        |  SELECT p_partkey AS media_id,
        |    5 + p_partkey % 8 AS w, 4 + p_partkey % 6 AS h
        |  FROM part WHERE p_partkey <= 300
        |), px AS (
        |  SELECT i.media_id, i.w, i.h, y.y AS y, x.x AS x
        |  FROM img i,
        |    LATERAL (SELECT unnest(range(i.h)) AS y) y,
        |    LATERAL (SELECT unnest(range(i.w)) AS x) x
        |)
        |SELECT media_id,
        |  CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
        |  CAST(SUM((media_id * 7 + y * 11 + x * 13) % 256) AS BIGINT) AS sum_r,
        |  CAST(SUM((media_id * 7 + y * 11 + x * 13 + 17) % 256) AS BIGINT) AS sum_g,
        |  CAST(SUM((media_id * 7 + y * 11 + x * 13 + 34) % 256) AS BIGINT) AS sum_b
        |FROM px GROUP BY media_id ORDER BY media_id""".stripMargin,
    "m01_media_features" ->
      """WITH m AS (
        |  SELECT p_partkey AS media_id,
        |    CASE WHEN p_partkey % 3 = 0 THEN 'image'
        |         WHEN p_partkey % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type
        |  FROM part WHERE p_partkey <= 200
        |), img AS (
        |  SELECT media_id, 4 + media_id % 5 AS w, 3 + media_id % 4 AS h
        |  FROM m WHERE media_type = 'image'
        |), px AS (
        |  SELECT i.media_id,
        |    CAST(SUM((i.media_id * 7 + y.y * 11 + x.x * 13) % 256) AS BIGINT) AS sum_r,
        |    CAST(SUM((i.media_id * 7 + y.y * 11 + x.x * 13 + 17) % 256) AS BIGINT) AS sum_g,
        |    CAST(SUM((i.media_id * 7 + y.y * 11 + x.x * 13 + 34) % 256) AS BIGINT) AS sum_b
        |  FROM img i,
        |    LATERAL (SELECT unnest(range(i.h)) AS y) y,
        |    LATERAL (SELECT unnest(range(i.w)) AS x) x
        |  GROUP BY i.media_id
        |)
        |SELECT m.media_id, m.media_type, CAST(16 AS INT) AS dim,
        |  px.sum_r, px.sum_g, px.sum_b
        |FROM m LEFT JOIN px USING (media_id) ORDER BY media_id""".stripMargin,
    // cosine ordering is bit-identical across engines: both compute the dot
    // and norms as SEQUENTIAL double folds over the float vectors (Spark
    // `aggregate` with 0.0 init vs DuckDB list_reduce; 0.0+v1 == v1 exactly),
    // so equal ranks need no float output — only ids survive to the hash
    "v07_hard_negatives" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_apply(list_zip(q.embedding, c.embedding),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)
        |    / (sqrt(list_reduce(list_apply(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))
        |       * sqrt(list_reduce(list_apply(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))) AS cosine
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id AND c.label <> q.label
        |), ranked AS (
        |  SELECT query_id, neighbor_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
        |  FROM scored
        |)
        |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 3
        |ORDER BY query_id, rank""".stripMargin,
    // v10: EXACT brute-force range query — every pair with cosine >= 0.25
    // (dyadic threshold; the same sequential-fold cosine as v01, so the
    // boundary decision is bit-identical). The LSH path must reach
    // recall 1.0 to match this oracle.
    "v10_range_search" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_apply(list_zip(q.embedding, c.embedding),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)
        |    / (sqrt(list_reduce(list_apply(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))
        |       * sqrt(list_reduce(list_apply(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))) AS cosine
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
        |)
        |SELECT query_id, neighbor_id FROM scored WHERE cosine >= 0.25
        |ORDER BY query_id, neighbor_id""".stripMargin,
    // v08: the 3 greedy MMR steps unrolled — p1 = argmax rel, then each
    // step scores 0.5·rel − 0.5·max(sim to picked) over the survivors
    // (identical fold-order cosines, dyadic λ ⇒ every score op IEEE
    // exactly-rounded) with min-id tie-break. Only ids/picks survive.
    "v08_mmr_rerank" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_apply(list_zip(q.embedding, c.embedding),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)
        |    / (sqrt(list_reduce(list_apply(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))
        |       * sqrt(list_reduce(list_apply(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))) AS cosine
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
        |), topn AS (
        |  SELECT query_id, neighbor_id, cosine FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
        |    FROM scored) WHERE rn <= 8
        |), sim AS (
        |  SELECT a.query_id, a.neighbor_id AS ca, b.neighbor_id AS cb,
        |    list_reduce(list_apply(list_zip(ea.embedding, eb.embedding),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)
        |    / (sqrt(list_reduce(list_apply(ea.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a2, b2) -> a2 + b2))
        |       * sqrt(list_reduce(list_apply(eb.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a2, b2) -> a2 + b2))) AS s
        |  FROM topn a JOIN topn b ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id
        |  JOIN embeddings ea ON ea.vec_id = a.neighbor_id
        |  JOIN embeddings eb ON eb.vec_id = b.neighbor_id
        |), p1 AS (
        |  SELECT query_id, neighbor_id AS s1 FROM (
        |    SELECT query_id, neighbor_id,
        |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
        |    FROM topn) WHERE rn = 1
        |), c2 AS (
        |  SELECT t.query_id, t.neighbor_id, 0.5 * t.cosine - 0.5 * s.s AS score
        |  FROM topn t
        |  JOIN p1 ON p1.query_id = t.query_id AND t.neighbor_id <> p1.s1
        |  JOIN sim s ON s.query_id = t.query_id AND s.ca = t.neighbor_id AND s.cb = p1.s1
        |), p2 AS (
        |  SELECT query_id, neighbor_id AS s2 FROM (
        |    SELECT query_id, neighbor_id,
        |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn
        |    FROM c2) WHERE rn = 1
        |), c3 AS (
        |  SELECT t.query_id, t.neighbor_id,
        |    0.5 * t.cosine - 0.5 * GREATEST(sa.s, sb.s) AS score
        |  FROM topn t
        |  JOIN p1 ON p1.query_id = t.query_id
        |  JOIN p2 ON p2.query_id = t.query_id
        |  JOIN sim sa ON sa.query_id = t.query_id AND sa.ca = t.neighbor_id AND sa.cb = p1.s1
        |  JOIN sim sb ON sb.query_id = t.query_id AND sb.ca = t.neighbor_id AND sb.cb = p2.s2
        |  WHERE t.neighbor_id <> p1.s1 AND t.neighbor_id <> p2.s2
        |), p3 AS (
        |  SELECT query_id, neighbor_id AS s3 FROM (
        |    SELECT query_id, neighbor_id,
        |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn
        |    FROM c3) WHERE rn = 1
        |)
        |SELECT query_id, 1 AS pick, s1 AS neighbor_id FROM p1
        |UNION ALL SELECT query_id, 2, s2 FROM p2
        |UNION ALL SELECT query_id, 3, s3 FROM p3
        |ORDER BY query_id, pick""".stripMargin,
    // v11: the SQ8 pipeline replayed exactly — per-dim min/max (no
    // rounding), the same floor/clamp encode, the same dequant and the
    // same left-to-right squared-diff fold (list_reduce without init
    // starts at the first element; 0.0 + e0 = e0 exactly, so the engine's
    // zero-seeded fold agrees bit for bit)
    // v13: v01's exact-cosine ranks restricted by the metadata predicate
    // (pre-filtering) — same sequential-fold cosine, same id tie-break
    "v13_ann_filtered" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_apply(list_zip(q.embedding, c.embedding),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)
        |    / (sqrt(list_reduce(list_apply(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))
        |       * sqrt(list_reduce(list_apply(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))) AS cosine
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id AND c.label % 3 = 0
        |), ranked AS (
        |  SELECT query_id, neighbor_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
        |  FROM scored
        |)
        |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // v12: the sign-bit packing replayed word-for-word (32 bits/word —
    // DuckDB's << loud-fails on a shift into bit 63), Hamming = Σ
    // bit_count(xor), exact ranks with id tie-break
    // v14: stage 1 = v12's BQ hamming shortlist (top-64), stage 2 = v01's
    // exact cosine fold over ONLY the shortlist, re-ranked
    "v14_bq_rerank" ->
      """WITH sig AS (
        |  SELECT vec_id, list_transform(range(2), j ->
        |    list_reduce(list_prepend(0::BIGINT, list_transform(range(32), b ->
        |      CASE WHEN embedding[j * 32 + b + 1] > 0
        |           THEN (1::BIGINT << b) ELSE 0::BIGINT END)),
        |      (a, x) -> a | x)) AS sg
        |  FROM embeddings
        |), ham AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    bit_count(xor(q.sg[1], c.sg[1]))
        |      + bit_count(xor(q.sg[2], c.sg[2])) AS hamming
        |  FROM sig q, sig c
        |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
        |), shortlist AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY hamming ASC, neighbor_id) AS hrk
        |    FROM ham) WHERE hrk <= 64
        |), rer AS (
        |  SELECT s.query_id, s.neighbor_id,
        |    list_reduce(list_apply(list_zip(q.embedding, c.embedding),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)
        |    / (sqrt(list_reduce(list_apply(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))
        |       * sqrt(list_reduce(list_apply(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))) AS cosine
        |  FROM shortlist s
        |  JOIN embeddings q ON q.vec_id = s.query_id
        |  JOIN embeddings c ON c.vec_id = s.neighbor_id
        |)
        |SELECT query_id, neighbor_id, rank FROM (
        |  SELECT query_id, neighbor_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
        |  FROM rer)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "v12_ann_bq" ->
      """WITH sig AS (
        |  SELECT vec_id, list_transform(range(2), j ->
        |    list_reduce(list_prepend(0::BIGINT, list_transform(range(32), b ->
        |      CASE WHEN embedding[j * 32 + b + 1] > 0
        |           THEN (1::BIGINT << b) ELSE 0::BIGINT END)),
        |      (a, x) -> a | x)) AS sg
        |  FROM embeddings
        |), scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(bit_count(xor(q.sg[1], c.sg[1]))
        |       + bit_count(xor(q.sg[2], c.sg[2])) AS BIGINT) AS hamming
        |  FROM sig q, sig c
        |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id, hamming,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY hamming ASC, neighbor_id) AS INTEGER) AS rank
        |  FROM scored
        |)
        |SELECT query_id, neighbor_id, hamming, rank FROM ranked
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "v11_ann_sq8" ->
      """WITH dimmm AS (
        |  SELECT d.d AS d,
        |    MIN(CAST(e.embedding[d.d + 1] AS DOUBLE)) AS mn,
        |    MAX(CAST(e.embedding[d.d + 1] AS DOUBLE)) AS mx
        |  FROM embeddings e, (SELECT unnest(range(64)) AS d) d
        |  GROUP BY d.d
        |), mm AS (
        |  SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs
        |  FROM dimmm
        |), deq AS (
        |  SELECT e.vec_id, list_transform(range(64), i ->
        |    CASE WHEN mm.mxs[i + 1] = mm.mns[i + 1] THEN mm.mns[i + 1]
        |         ELSE mm.mns[i + 1] +
        |           LEAST(255, GREATEST(0,
        |             FLOOR((CAST(e.embedding[i + 1] AS DOUBLE) - mm.mns[i + 1])
        |               * 255.0 / (mm.mxs[i + 1] - mm.mns[i + 1]))))
        |           * (mm.mxs[i + 1] - mm.mns[i + 1]) / 255.0 END) AS r
        |  FROM embeddings e, mm
        |), scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_transform(range(64), i ->
        |      (CAST(q.embedding[i + 1] AS DOUBLE) - c.r[i + 1])
        |      * (CAST(q.embedding[i + 1] AS DOUBLE) - c.r[i + 1])),
        |      (a, b) -> a + b) AS dist
        |  FROM embeddings q, deq c
        |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id) AS INTEGER) AS rank
        |  FROM scored
        |)
        |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "v01_ann_bruteforce" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_apply(list_zip(q.embedding, c.embedding),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)
        |    / (sqrt(list_reduce(list_apply(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))
        |       * sqrt(list_reduce(list_apply(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))) AS cosine
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
        |  FROM scored
        |)
        |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // v15: the exact 5-NN graph of the planted clustered fixture — v01's
    // cosine fold with queries = corpus over closed-form dyadic vectors;
    // NN-Descent's parameters give exact convergence on clustered data,
    // so the hash pins recall = 1.0 (see the gate comment)
    "v15_knn_graph" ->
      """WITH v AS (
        |  SELECT p_partkey AS vec_id,
        |    list_transform(range(16), j -> CAST(
        |      ((p_partkey % 20) * 37 + j * 13) % 16 +
        |      ((p_partkey * 31 + j * 17) % 4) * 0.0625 AS DOUBLE)) AS embedding
        |  FROM part WHERE p_partkey <= 400
        |), scored AS (
        |  SELECT q.vec_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_apply(list_zip(q.embedding, c.embedding),
        |      p -> p[1] * p[2]), (acc, x) -> acc + x)
        |    / (sqrt(list_reduce(list_apply(q.embedding, x -> x * x), (a, b) -> a + b))
        |       * sqrt(list_reduce(list_apply(c.embedding, x -> x * x), (a, b) -> a + b))) AS cosine
        |  FROM v q, v c
        |  WHERE c.vec_id <> q.vec_id
        |), ranked AS (
        |  SELECT vec_id, neighbor_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
        |  FROM scored
        |)
        |SELECT vec_id, neighbor_id, rank FROM ranked WHERE rank <= 5
        |ORDER BY vec_id, rank""".stripMargin,
    // v02's oracle is the SAME exact top-k: the LSH query is parameterized
    // for full recall on this corpus (bits=5, 12 tables, Hamming-1
    // multiprobe), so candidate sets cover the true top-5 and the identical
    // cosine fold yields identical ranks — the hash pins recall = 1.0.
    "v02_ann_lsh" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_apply(list_zip(q.embedding, c.embedding),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)
        |    / (sqrt(list_reduce(list_apply(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))
        |       * sqrt(list_reduce(list_apply(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))) AS cosine
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
        |  FROM scored
        |)
        |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // g07: the screen's decision geometry has >= 19 km of margin at every
    // SF (country west edges sit 222/445/481 km or >= 667 km from the
    // envelope union's east edge, never near the 500 km cut), so a planar
    // equator-scaled twin (111.195 km/deg; Spark's haversine differs by the
    // cos(lat) factor, < 0.003% here) reproduces the exact in-range name
    // set. The nearest envelope is always the max-maxlon one: every country
    // box lies east of the whole envelope field with overlapping latitudes.
    "g07_country_screen" ->
      """WITH env AS (
        |  SELECT max(0.0625 + (s_suppkey % 17) * 0.046875
        |           + 0.0625 + (s_suppkey % 5) * 0.03125) AS maxlon
        |  FROM supplier
        |)
        |SELECT n_name FROM nation, env
        |WHERE (((n_nationkey % 5) * 2.0 + 3.0) - env.maxlon) * 111.195 <= 500.0
        |ORDER BY n_name""".stripMargin,
    // g10: every output boolean is a THEOREM of the quadrant-arc
    // construction (Tracks.windFieldUdf) — polygon null iff all four radii
    // are 0 (orderkey divisible by all four quadrant mods: impossible for
    // the key ranges here), the ring always passes through or around the
    // centre, any positive radius fans out positive area — so DuckDB can
    // derive them arithmetically while Spark computes them GEOMETRICALLY
    // (st_intersects / st_area_m2 on the constructed WKB). A construction
    // bug (null/empty/invalid polygon, missed centre, zero area) breaks the
    // hash; vertex-level geometry is separately checked in TracksSpec.
    "g10_wind_field" ->
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
        |FROM flags ORDER BY o_orderkey""".stripMargin,
    "g09_wind_radii" ->
      """SELECT o_orderkey,
        | (o_orderkey % 97 > 0 AND o_orderkey % 89 > 0 AND o_orderkey % 83 > 0 AND o_orderkey % 79 > 0) AS complete_34kt,
        | (o_orderkey % 47 > 0 AND o_orderkey % 43 > 0 AND o_orderkey % 41 > 0 AND o_orderkey % 37 > 0) AS complete_50kt,
        | (o_orderkey % 23 > 0 AND o_orderkey % 19 > 0 AND o_orderkey % 17 > 0 AND o_orderkey % 13 > 0) AS complete_64kt,
        | CAST(greatest(o_orderkey % 97, o_orderkey % 89, o_orderkey % 83, o_orderkey % 79,
        |   o_orderkey % 47, o_orderkey % 43, o_orderkey % 41, o_orderkey % 37,
        |   o_orderkey % 23, o_orderkey % 19, o_orderkey % 17, o_orderkey % 13) AS DOUBLE) AS max_radius_km
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "d02_text_quality" ->
      """SELECT doc_id,
        | CAST(length(text) AS INTEGER) AS n_chars_computed,
        | CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS INTEGER) AS n_tokens,
        | CASE WHEN length(text) > 0 THEN
        |   CAST(length(regexp_replace(text, '[^.,;:!?''"()\[\]-]', '', 'g')) AS DOUBLE) / length(text)
        | END AS punct_ratio,
        | CASE WHEN len(regexp_split_to_array(trim(lower(text)), '\s+')) > 0 THEN
        |   CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |     t -> list_contains(['the','and','of','to','in','is','that','it','for','was','with','are'], t))) AS DOUBLE)
        |   / len(regexp_split_to_array(trim(lower(text)), '\s+'))
        | END AS stopword_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d06_langid" ->
      """WITH toks AS (
        |  SELECT lang, regexp_split_to_array(trim(lower(text)), '\s+') AS tk FROM documents
        |), hits AS (
        |  SELECT lang,
        |    len(list_filter(tk, t -> list_contains(['der','die','und','in','den','von','zu','das','mit','sich','des','auf'], t))) AS h_de,
        |    len(list_filter(tk, t -> list_contains(['the','and','of','to','in','is','that','it','for','was','with','are'], t))) AS h_en,
        |    len(list_filter(tk, t -> list_contains(['el','la','de','que','y','en','los','del','se','las','por','un'], t))) AS h_es,
        |    len(list_filter(tk, t -> list_contains(['le','la','de','et','les','des','en','un','du','une','que','est'], t))) AS h_fr,
        |    len(list_filter(tk, t -> list_contains(['de','a','o','que','e','do','da','em','um','para','com','os'], t))) AS h_pt
        |  FROM toks
        |), mx AS (
        |  SELECT lang, h_de, h_en, h_es, h_fr, h_pt,
        |    greatest(h_de, h_en, h_es, h_fr, h_pt) AS m FROM hits
        |), pred AS (
        |  SELECT lang,
        |    CASE WHEN m = 0 OR ((h_de = m)::INT + (h_en = m)::INT + (h_es = m)::INT
        |                        + (h_fr = m)::INT + (h_pt = m)::INT) > 1 THEN NULL
        |         WHEN h_pt = m THEN 'pt' WHEN h_fr = m THEN 'fr' WHEN h_es = m THEN 'es'
        |         WHEN h_en = m THEN 'en' ELSE 'de' END AS lang_pred
        |  FROM mx
        |)
        |SELECT lang, lang_pred, COUNT(*) AS n FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "d03_token_stats" ->
      """SELECT lang,
        | CAST(SUM(len(regexp_split_to_array(trim(lower(text)), '\s+'))) AS BIGINT) AS total_tokens,
        | CAST(SUM(length(text)) AS BIGINT) AS total_chars, COUNT(*) AS n_docs
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // \w and \s are ASCII classes in both Java regex (default) and RE2, so
    // the segment count equals the match count of `\w+|[^\w\s]`
    "d09_bpeish_tokens" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS INTEGER) AS n_bpeish
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q29_salted_agg" ->
      """SELECT o_orderpriority, CAST(SUM(o_orderkey % 100) AS BIGINT) AS sum_mod, COUNT(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "d10_corpus_clean" ->
      """WITH q AS (
        |  SELECT doc_id, text,
        |    CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS INTEGER) AS n_tokens
        |  FROM documents
        |  WHERE length(text) >= 50
        |    AND len(regexp_split_to_array(trim(lower(text)), '\s+')) >= 10
        |    AND CASE WHEN length(text) > 0 THEN
        |      CAST(length(regexp_replace(text, '[^.,;:!?''"()\[\]-]', '', 'g')) AS DOUBLE) / length(text)
        |    END <= 0.25
        |), kept AS (
        |  SELECT doc_id, text, n_tokens FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM q) t
        |  WHERE rn = 1
        |), toks AS (
        |  SELECT doc_id, n_tokens, regexp_split_to_array(trim(lower(text)), '\s+') AS tk FROM kept
        |), hits AS (
        |  SELECT doc_id, n_tokens,
        |    len(list_filter(tk, t -> list_contains(['der','die','und','in','den','von','zu','das','mit','sich','des','auf'], t))) AS h_de,
        |    len(list_filter(tk, t -> list_contains(['the','and','of','to','in','is','that','it','for','was','with','are'], t))) AS h_en,
        |    len(list_filter(tk, t -> list_contains(['el','la','de','que','y','en','los','del','se','las','por','un'], t))) AS h_es,
        |    len(list_filter(tk, t -> list_contains(['le','la','de','et','les','des','en','un','du','une','que','est'], t))) AS h_fr,
        |    len(list_filter(tk, t -> list_contains(['de','a','o','que','e','do','da','em','um','para','com','os'], t))) AS h_pt
        |  FROM toks
        |), pred AS (
        |  SELECT doc_id, n_tokens,
        |    CASE WHEN m = 0 OR ((h_de = m)::INT + (h_en = m)::INT + (h_es = m)::INT
        |                        + (h_fr = m)::INT + (h_pt = m)::INT) > 1 THEN NULL
        |         WHEN h_pt = m THEN 'pt' WHEN h_fr = m THEN 'fr' WHEN h_es = m THEN 'es'
        |         WHEN h_en = m THEN 'en' ELSE 'de' END AS lang_pred
        |  FROM (SELECT *, greatest(h_de, h_en, h_es, h_fr, h_pt) AS m FROM hits) x
        |)
        |SELECT doc_id, n_tokens, lang_pred FROM pred WHERE lang_pred IN ('en','es')
        |ORDER BY doc_id""".stripMargin,
    "s03_stream_corpus_clean" ->
      """WITH q AS (
        |  SELECT DISTINCT text,
        |    CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS INTEGER) AS n_tokens
        |  FROM documents
        |  WHERE length(text) >= 50
        |    AND len(regexp_split_to_array(trim(lower(text)), '\s+')) >= 10
        |    AND CASE WHEN length(text) > 0 THEN
        |      CAST(length(regexp_replace(text, '[^.,;:!?''"()\[\]-]', '', 'g')) AS DOUBLE) / length(text)
        |    END <= 0.25
        |), toks AS (
        |  SELECT text, n_tokens, regexp_split_to_array(trim(lower(text)), '\s+') AS tk FROM q
        |), hits AS (
        |  SELECT text, n_tokens,
        |    len(list_filter(tk, t -> list_contains(['der','die','und','in','den','von','zu','das','mit','sich','des','auf'], t))) AS h_de,
        |    len(list_filter(tk, t -> list_contains(['the','and','of','to','in','is','that','it','for','was','with','are'], t))) AS h_en,
        |    len(list_filter(tk, t -> list_contains(['el','la','de','que','y','en','los','del','se','las','por','un'], t))) AS h_es,
        |    len(list_filter(tk, t -> list_contains(['le','la','de','et','les','des','en','un','du','une','que','est'], t))) AS h_fr,
        |    len(list_filter(tk, t -> list_contains(['de','a','o','que','e','do','da','em','um','para','com','os'], t))) AS h_pt
        |  FROM toks
        |), pred AS (
        |  SELECT text, n_tokens,
        |    CASE WHEN m = 0 OR ((h_de = m)::INT + (h_en = m)::INT + (h_es = m)::INT
        |                        + (h_fr = m)::INT + (h_pt = m)::INT) > 1 THEN NULL
        |         WHEN h_pt = m THEN 'pt' WHEN h_fr = m THEN 'fr' WHEN h_es = m THEN 'es'
        |         WHEN h_en = m THEN 'en' ELSE 'de' END AS lang_pred
        |  FROM (SELECT *, greatest(h_de, h_en, h_es, h_fr, h_pt) AS m FROM hits) x
        |)
        |SELECT md5(text) AS text_md5, n_tokens, lang_pred FROM pred
        |WHERE lang_pred IN ('en','es') ORDER BY text_md5""".stripMargin,
    "q30_sessionize" ->
      """WITH s AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 7200000000 THEN 1 ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), t AS (
        |  SELECT user_id, ts, value,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM s)
        |SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
        | ROUND(SUM(value),2) AS total_value
        |FROM t GROUP BY user_id, session_seq
        |ORDER BY user_id, session_start""".stripMargin,
    "s04_stream_session" ->
      """WITH s AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 7200000000 THEN 1 ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), t AS (
        |  SELECT user_id, ts, value,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM s)
        |SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n,
        | ROUND(SUM(value),2) AS total
        |FROM t GROUP BY user_id, session_seq
        |ORDER BY user_id, session_start""".stripMargin,
    "q99_asof_forward" ->
      """WITH c AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
        |), p AS (
        |  SELECT user_id, ts, event_id AS p_event_id FROM events WHERE event_type = 'purchase'
        |)
        |SELECT event_id, user_id, asof_p_event_id, wait_min FROM (
        |  SELECT c.event_id, c.user_id, p.p_event_id AS asof_p_event_id,
        |    (epoch_us(p.ts) - epoch_us(c.ts)) // 60000000 AS wait_min,
        |    ROW_NUMBER() OVER (PARTITION BY c.event_id
        |      ORDER BY p.ts ASC, p.p_event_id DESC) AS rn
        |  FROM c JOIN p ON p.user_id = c.user_id AND p.ts >= c.ts) t
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "q31_asof_join" ->
      """WITH c AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
        |), p AS (
        |  SELECT user_id, ts, event_id AS p_event_id FROM events WHERE event_type = 'purchase'
        |)
        |SELECT event_id, user_id, asof_p_event_id, wait_min FROM (
        |  SELECT c.event_id, c.user_id, p.p_event_id AS asof_p_event_id,
        |    (epoch_us(c.ts) - epoch_us(p.ts)) // 60000000 AS wait_min,
        |    ROW_NUMBER() OVER (PARTITION BY c.event_id
        |      ORDER BY p.ts DESC, p.p_event_id DESC) AS rn
        |  FROM c JOIN p ON p.user_id = c.user_id AND p.ts <= c.ts) t
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "q32_range_join" ->
      """WITH p AS (
        |  SELECT event_id AS p_event_id, user_id, epoch_us(ts) AS t0
        |  FROM events WHERE event_type = 'purchase'
        |), e AS (
        |  SELECT user_id, epoch_us(ts) AS t_us, value FROM events
        |)
        |SELECT p_event_id, COUNT(*) AS n_nearby, ROUND(SUM(value),2) AS total_value
        |FROM p JOIN e ON e.user_id = p.user_id
        |  AND e.t_us > p.t0 AND e.t_us <= p.t0 + 7200000000
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "s05_stream_interval_join" ->
      """SELECT p.event_id AS p_event_id, e.event_id AS e_event_id
        |FROM events p JOIN events e
        | ON e.user_id = p.user_id
        | AND epoch_us(e.ts) > epoch_us(p.ts)
        | AND epoch_us(e.ts) <= epoch_us(p.ts) + 7200000000
        |WHERE p.event_type = 'purchase'
        |ORDER BY p_event_id, e_event_id""".stripMargin,
    // s26: the LEFT JOIN twin over the watermark-finalized prefix
    // (max ts − 1 day − window − 1 h margin); unmatched rows as −1
    "s26_stream_interval_join_outer" ->
      """WITH mx AS (SELECT MAX(epoch_us(ts)) AS m FROM events)
        |SELECT p.event_id AS p_event_id,
        |  COALESCE(e.event_id, -1) AS e_event_id
        |FROM events p
        |LEFT JOIN events e
        | ON e.user_id = p.user_id
        | AND epoch_us(e.ts) > epoch_us(p.ts)
        | AND epoch_us(e.ts) <= epoch_us(p.ts) + 7200000000
        |CROSS JOIN mx
        |WHERE p.event_type = 'purchase'
        |  AND epoch_us(p.ts) <= mx.m - 86400000000 - 7200000000 - 3600000000
        |ORDER BY p_event_id, e_event_id""".stripMargin,
    // g11: every overlay step's decision is analytic on the constructed
    // boxes (see the query comment), so DuckDB derives the admin id
    // arithmetically while Spark resolves it geometrically (JTS STRtree,
    // centroid-contains, equal-area overlap, nearest) — a wrong step order,
    // boundary slip, or projection bug breaks the hash.
    "g11_admin_overlay" ->
      """SELECT o_orderkey,
        |  CAST(CASE WHEN (o_orderkey % 100) % 5 = 4
        |            THEN (o_orderkey % 100) // 5 + 1
        |            ELSE (o_orderkey % 100) // 5 END AS VARCHAR) AS id
        |FROM orders WHERE o_orderkey % 3 = 0
        |ORDER BY o_orderkey""".stripMargin,
    // g13: the dateline fold derived analytically — overflow east/west adds
    // a part and pins the folded bounds to ±180; width is always preserved.
    "g13_antimeridian" ->
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
        |FROM b ORDER BY o_orderkey""".stripMargin,
    // g14/g15: the DuckDB twin recomputes the Web-Mercator tile x/y and the
    // quadkey digit fold analytically (bit ops generated per zoom level), so
    // the hash pins the quadkey codec itself, not just the aggregation.
    "g14_zonal_bands" ->
      s"""WITH cells AS ($rasterCellsSql),
         |tiled AS (${tiledSql("cells")})
         |SELECT tile_id,
         |  CAST(SUM(CASE WHEN band BETWEEN 5 AND 14 THEN v END) AS BIGINT) AS school_age_population,
         |  CAST(SUM(CASE WHEN band BETWEEN 0 AND 1 THEN v END) AS BIGINT) AS infant_population,
         |  CAST(SUM(CASE WHEN band = 15 THEN v END) AS BIGINT) AS adolescent_population,
         |  CAST(SUM(v) AS BIGINT) AS population
         |FROM tiled GROUP BY tile_id ORDER BY tile_id""".stripMargin,
    "g15_base_layer" ->
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
         |ORDER BY p.tile_id""".stripMargin,
    "g12_track_segments" ->
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
        |ORDER BY member, o_orderkey""".stripMargin,
    // s06 pins a streamed-equals-batch equivalence computed in Spark (the
    // q37/v03 constant-oracle property pattern): the streamed ingest result
    // must equal the batch keepRepresentatives formulation, whose pair
    // algorithm is itself d04/d19-gated. Custom-hash pairs have no SQL twin.
    "s06_stream_neardup_ingest" ->
      "SELECT TRUE AS stream_matches_batch",
    "q33_percentiles" ->
      """SELECT l_returnflag,
        | quantile_cont(l_quantity, 0.25) AS q25,
        | quantile_cont(l_quantity, 0.5) AS median,
        | quantile_cont(l_quantity, 0.75) AS q75,
        | COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q34_pivot" ->
      """SELECT user_id,
        | COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        | COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        | COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        | COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        | COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q35_rollup" ->
      """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
        | ROUND(SUM(o_totalprice),2) AS total
        |FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
        |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin,
    "q36_rolling_window" ->
      """SELECT event_id, user_id,
        | COUNT(*) OVER w AS n_24h,
        | ROUND(SUM(value) OVER w, 2) AS total_24h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q37_hll_distinct" ->
      """SELECT event_type, COUNT(DISTINCT event_id) AS n_exact,
        | TRUE AS within_2pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "d11_hash_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE ((doc_id & 2147483647) * 2654435761) % 1000 <
        |  CASE WHEN lang = 'en' THEN 300 ELSE 100 END
        |ORDER BY doc_id""".stripMargin,
    "d17_chunk_spans" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, n,
        |    unnest(range(0, 1 + (greatest(n - 64, 0) + 47) // 48)) AS chunk_id FROM d
        |)
        |SELECT doc_id, chunk_id, chunk_id * 48 AS token_start,
        | least(64, n - chunk_id * 48) AS chunk_len
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "d18_bigram_vocab" ->
      """WITH tk AS (
        |  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
        |), g AS (
        |  SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
        |  FROM tk WHERE len(t) > 1
        |)
        |SELECT bigram, COUNT(*) AS n FROM g GROUP BY bigram
        |ORDER BY n DESC, bigram LIMIT 50""".stripMargin,
    // the same fold as TextAnalysis.fingerprintPortable: code-point token
    // hash (seed 42, x31) rolled into a doc hash (seed 7, x37), mod 2^31-1 —
    // intermediates < 2^36 so both engines stay in exact BIGINT arithmetic
    "d07_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(list_prepend(CAST(7 AS BIGINT), list_transform(
        |      regexp_split_to_array(trim(lower(text)), '\s+'), w ->
        |        list_reduce(list_prepend(CAST(42 AS BIGINT),
        |            list_transform(range(1, length(w) + 1), i ->
        |              CAST(ascii(substring(w, i, 1)) AS BIGINT))),
        |          (x, c) -> (x * 31 + c) % 2147483647))),
        |    (a, h) -> (a * 37 + h) % 2147483647) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Dedup.simhashPairsPortable's twin: md5-derived per-token bits
    // (position p = (j%16)+1, bit-plane s = j>>4), sign-sum per bit,
    // 4x16-char banding, 64-position Hamming verify
    "d21_simhash_sql" ->
      """WITH hs AS (
        |  SELECT doc_id,
        |    list_transform(regexp_split_to_array(trim(lower(text)), '\s+'), w -> md5(w)) AS hs
        |  FROM documents
        |), sigs AS (
        |  SELECT doc_id, array_to_string(list_transform(range(0, 64), j ->
        |    CASE WHEN list_reduce(list_prepend(0, list_transform(hs, h ->
        |        (((instr('0123456789abcdef', substring(h, CAST(j % 16 AS INTEGER) + 1, 1)) - 1)
        |          >> (j >> 4)) & 1) * 2 - 1)),
        |      (x, y) -> x + y) > 0 THEN '1' ELSE '0' END), '') AS sig
        |  FROM hs
        |), chunked AS (
        |  SELECT doc_id, sig, c AS chunk, substring(sig, CAST(c * 16 + 1 AS INTEGER), 16) AS key
        |  FROM sigs, (SELECT unnest(range(0, 4)) AS c)
        |), pairs AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sig_a, b.sig AS sig_b
        |  FROM chunked a JOIN chunked b ON a.chunk = b.chunk AND a.key = b.key AND a.doc_id < b.doc_id
        |), verified AS (
        |  SELECT id_a, id_b, list_reduce(list_prepend(0, list_transform(range(1, 65), i ->
        |      CASE WHEN substring(sig_a, CAST(i AS INTEGER), 1) <> substring(sig_b, CAST(i AS INTEGER), 1)
        |        THEN 1 ELSE 0 END)), (x, y) -> x + y) AS hamming
        |  FROM pairs
        |)
        |SELECT id_a, id_b, CAST(hamming AS INTEGER) AS hamming FROM verified
        |WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin,
    // v03-v05 pin a recall property, not ranks (approximate indexes): the
    // oracle emits the expected constants; Spark emits the measured
    // recall-floor boolean plus the match count CLAMPED at the floor
    // (constant while healthy, the real count when tripped) — the q37
    // pattern (a property pinned IN the hash). These constants are honest
    // only because v01 independently DuckDB-verifies the shared exact-top-k
    // code path (bruteForceTopK) these gates measure recall against.
    "v03_ann_ivf" ->
      "SELECT CAST(10 AS BIGINT) AS n_queries_found, CAST(35 AS BIGINT) AS n_matches_floored, TRUE AS recall_ok",
    // v09: v03's recall constants over the STREAMED index probe, plus the
    // completeness flag (|streamed index| = |corpus|)
    "v09_stream_vector_ingest" ->
      "SELECT CAST(10 AS BIGINT) AS n_queries_found, CAST(35 AS BIGINT) AS n_matches_floored, TRUE AS recall_ok, TRUE AS index_complete",
    "v04_ann_pq" ->
      "SELECT CAST(10 AS BIGINT) AS n_queries_found, CAST(40 AS BIGINT) AS n_matches_floored, TRUE AS recall_ok",
    "v05_ann_opq" ->
      "SELECT CAST(10 AS BIGINT) AS n_queries_found, CAST(40 AS BIGINT) AS n_matches_floored, TRUE AS recall_ok",
    "v06_kmeans" -> kmeansOracleSql(4, 3, 64),
    // d04/d05: recall-property gates (the v03 pattern). DuckDB recomputes
    // n_strong EXACTLY via the portable twin pipelines (d19/d21 SQL) and
    // emits the formula-derived floor + TRUE; the engine's measured row
    // hash-matches only while the custom paths find >= 90% of the
    // strongest portable pairs.
    "d04_minhash_lsh" ->
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents WHERE doc_id % 2 = 0
        |), g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS grams
        |  FROM tk WHERE len(t) > 1
        |), banded AS (
        |  SELECT doc_id, k,
        |    list_min(list_transform(grams, x -> md5(CAST(k AS VARCHAR) || '|' || x))) AS sig
        |  FROM g, (SELECT unnest(range(0, 8)) AS k)
        |), strong AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM banded a JOIN banded b ON a.k = b.k AND a.sig = b.sig AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING COUNT(*) = 8
        |), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_strong FROM strong)
        |SELECT n_strong,
        |  CAST((n_strong * 9) // 10 AS BIGINT) AS n_found_floored,
        |  TRUE AS recall_ok
        |FROM n""".stripMargin,
    "d05_simhash" ->
      """WITH hs AS (
        |  SELECT doc_id,
        |    list_transform(regexp_split_to_array(trim(lower(text)), '\s+'), w -> md5(w)) AS hs
        |  FROM documents
        |), sigs AS (
        |  SELECT doc_id, array_to_string(list_transform(range(0, 64), j ->
        |    CASE WHEN list_reduce(list_prepend(0, list_transform(hs, h ->
        |        (((instr('0123456789abcdef', substring(h, CAST(j % 16 AS INTEGER) + 1, 1)) - 1)
        |          >> (j >> 4)) & 1) * 2 - 1)),
        |      (x, y) -> x + y) > 0 THEN '1' ELSE '0' END), '') AS sig
        |  FROM hs
        |), chunked AS (
        |  SELECT doc_id, sig, c AS chunk, substring(sig, CAST(c * 16 + 1 AS INTEGER), 16) AS key
        |  FROM sigs, (SELECT unnest(range(0, 4)) AS c)
        |), pairs AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sig_a, b.sig AS sig_b
        |  FROM chunked a JOIN chunked b ON a.chunk = b.chunk AND a.key = b.key AND a.doc_id < b.doc_id
        |), verified AS (
        |  SELECT id_a, id_b, list_reduce(list_prepend(0, list_transform(range(1, 65), i ->
        |      CASE WHEN substring(sig_a, CAST(i AS INTEGER), 1) <> substring(sig_b, CAST(i AS INTEGER), 1)
        |        THEN 1 ELSE 0 END)), (x, y) -> x + y) AS hamming
        |  FROM pairs
        |), n AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_strong FROM verified WHERE hamming <= 1
        |)
        |SELECT n_strong,
        |  CAST((n_strong * 9) // 10 AS BIGINT) AS n_found_floored,
        |  TRUE AS recall_ok
        |FROM n""".stripMargin,
    "d19_minhash_sql" ->
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents WHERE doc_id % 2 = 0
        |), g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS grams
        |  FROM tk WHERE len(t) > 1
        |), banded AS (
        |  SELECT doc_id, k,
        |    list_min(list_transform(grams, x -> md5(CAST(k AS VARCHAR) || '|' || x))) AS sig
        |  FROM g, (SELECT unnest(range(0, 8)) AS k)
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_matching
        |FROM banded a JOIN banded b ON a.k = b.k AND a.sig = b.sig AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 4
        |ORDER BY id_a, id_b""".stripMargin,
    // d59: the d19 portable-signature contract over a train×eval split —
    // n_matching stays BIGINT (DuckDB COUNT) matching Spark's count
    "d59_fuzzy_decontam" -> fuzzyDecontamOracleSql,
    // d60: the same synthetic messy-URL generator + the same
    // normalization chain (fragment strip, lower scheme/host, default-
    // port strip, trailing-slash collapse, utm filter, param sort) in
    // DuckDB string/list primitives
    "d60_url_canonical" -> (urlCanonCteSql +
      """
        |SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_variants, MIN(doc_id) AS keep_id
        |FROM canon GROUP BY 1 ORDER BY 1""".stripMargin),
    // s24: the same canonicalization streamed with a stateful min(doc_id)
    // per canonical key — min is batching-order-free, so the converged
    // state equals the batch keep set (d60's projection minus the counts)
    "s24_stream_url_dedup" -> (urlCanonCteSql +
      """
        |SELECT canonical_url, MIN(doc_id) AS keep_id
        |FROM canon GROUP BY 1 ORDER BY 1""".stripMargin),
    // s23 screens the same training corpus one microbatch at a time
    // against the static broadcast eval signatures; the screen is per-doc
    // independent (batching-insensitive), so the converged union shares
    // d59's oracle verbatim.
    "s23_stream_fuzzy_decontam" -> fuzzyDecontamOracleSql,
    // closure by recursive CTE: tiny here, but the point of the Spark side
    // (large-star/small-star) is exactly that closure-by-joins does NOT
    // scale — the oracle pins the semantics, the operator owns the scale
    "d20_dedup_clusters" -> dedupClustersOracleSql,
    // s18 folds the SAME edge set into the versioned component map one
    // microbatch at a time; CC is batching-insensitive, so the converged
    // map shares d20's closure oracle verbatim.
    "s18_stream_cc" -> dedupClustersOracleSql,
    "d15_stratified_sample" ->
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
        |  FROM documents) t
        |WHERE rnk <= 20 ORDER BY lang, doc_id""".stripMargin,
    "d16_quantile_filter" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS INTEGER) AS n_tokens
        |  FROM documents
        |), th AS (
        |  SELECT lang, quantile_cont(n_tokens, 0.25) AS thresh FROM d GROUP BY lang
        |)
        |SELECT d.doc_id, d.lang, d.n_tokens
        |FROM d JOIN th ON d.lang = th.lang
        |WHERE d.n_tokens >= th.thresh
        |ORDER BY d.doc_id""".stripMargin,
    "d12_seq_pack" ->
      """WITH d AS (
        |  SELECT lang, doc_id,
        |    len(regexp_split_to_array(trim(lower(text)), '\s+')) AS n_tokens
        |  FROM documents
        |), b AS (
        |  SELECT lang, doc_id, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512 AS bin_id
        |  FROM d)
        |SELECT lang, CAST(bin_id AS BIGINT) AS bin_id, COUNT(*) AS n_docs,
        | CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // d61: the composed mix-builder replay — d14's ordered-fold weights,
    // floor quotas, d15's md5 rank, d12's packing window, one statement
    "d61_training_mix" ->
      """WITH c AS (
        |  SELECT lang, COUNT(*) AS n_rows FROM documents GROUP BY lang
        |), dn AS (
        |  SELECT list_reduce(list(sqrt(CAST(n_rows AS DOUBLE)) ORDER BY lang),
        |    (a, b) -> a + b) AS denom FROM c
        |), q AS (
        |  SELECT lang,
        |    CAST(FLOOR((sqrt(CAST(n_rows AS DOUBLE)) / denom) * 400) AS INT) AS quota
        |  FROM c, dn
        |), r AS (
        |  SELECT d0.lang, d0.doc_id, d0.n_tokens
        |  FROM (SELECT lang, doc_id,
        |          len(regexp_split_to_array(trim(lower(text)), '\s+')) AS n_tokens,
        |          ROW_NUMBER() OVER (PARTITION BY lang
        |            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
        |        FROM documents) d0
        |  JOIN q ON q.lang = d0.lang AND d0.rnk <= q.quota
        |), b AS (
        |  SELECT lang, doc_id, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512 AS bin_id
        |  FROM r
        |)
        |SELECT b.lang, CAST(bin_id AS BIGINT) AS bin_id,
        |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
        |  MAX(q.quota) AS quota
        |FROM b JOIN q ON q.lang = b.lang
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "d13_repetition" ->
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
        |), narrow AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) > 0 THEN
        |      1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t) END AS dup_word_ratio,
        |    CASE WHEN len(t) > 1 THEN
        |      1.0 - CAST(len(list_distinct(list_transform(range(1, len(t)),
        |        i -> t[i] || ' ' || t[i+1]))) AS DOUBLE) / (len(t) - 1) END AS dup_2gram_ratio
        |  FROM tk
        |), cnts AS (
        |  SELECT doc_id, tok, COUNT(*) AS c
        |  FROM (SELECT doc_id, unnest(t) AS tok FROM tk) u GROUP BY 1, 2
        |), top AS (
        |  SELECT doc_id, CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_token_frac
        |  FROM cnts GROUP BY doc_id
        |)
        |SELECT n.doc_id, n.dup_word_ratio, n.dup_2gram_ratio, top.top_token_frac
        |FROM narrow n LEFT JOIN top ON n.doc_id = top.doc_id
        |ORDER BY n.doc_id""".stripMargin,
    "d14_mix_weights" ->
      """WITH c AS (
        |  SELECT lang, COUNT(*) AS n_rows FROM documents GROUP BY lang
        |), d AS (
        |  SELECT list_reduce(list(sqrt(CAST(n_rows AS DOUBLE)) ORDER BY lang),
        |    (a, b) -> a + b) AS denom FROM c
        |)
        |SELECT lang, n_rows, sqrt(CAST(n_rows AS DOUBLE)) / denom AS weight
        |FROM c, d ORDER BY lang""".stripMargin,
    // decontamination twin: distinct word 3-grams; every ~97th doc is the
    // eval set, the rest the corpus; per-doc totals via LEFT joins so
    // zero-gram and zero-hit docs keep their rows
    "d22_decontaminate" ->
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
        |), g AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS grams
        |  FROM tk WHERE len(t) >= 3
        |), bench AS (
        |  SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0
        |), cg AS (
        |  SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 97 <> 0
        |), h AS (
        |  SELECT cg.doc_id, COUNT(*) AS n_grams, COUNT(b.gram) AS n_contaminated
        |  FROM cg LEFT JOIN bench b USING (gram) GROUP BY cg.doc_id
        |)
        |SELECT d.doc_id, COALESCE(h.n_grams, 0) AS n_grams,
        |  COALESCE(h.n_contaminated, 0) AS n_contaminated,
        |  COALESCE(h.n_contaminated, 0) > 0 AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
        |LEFT JOIN h USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    // PII twin: identical synthetic PII construction, counts via
    // regexp_extract_all, redaction via the same three patterns in the same
    // order (DuckDB needs the 'g' flag for replace-all; Spark's
    // regexp_replace is always global)
    "d23_pii_redact" ->
      """WITH p AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 3 = 0
        |         THEN ' mail user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
        |    || CASE WHEN doc_id % 4 = 0
        |         THEN ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.7' ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0
        |         THEN ' call +1 555 014 ' || lpad(CAST(doc_id % 100 AS VARCHAR), 4, '0') ELSE '' END
        |    AS s
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
        |  CAST(len(regexp_extract_all(s, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INTEGER) AS n_ipv4,
        |  CAST(len(regexp_extract_all(s, '\+\d{1,3}[ -]\d{2,4}[ -]\d{2,4}[ -]\d{2,4}')) AS INTEGER) AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(s,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+\d{1,3}[ -]\d{2,4}[ -]\d{2,4}[ -]\d{2,4}', '<PHONE>', 'g') AS redacted
        |FROM p ORDER BY doc_id""".stripMargin,
    // duplicated-span twin: per-position word 8-grams, cross-doc duplicates
    // via min!=max per gram, maximal spans via the same gaps-and-islands
    // window, zero rows kept by the final LEFT join
    "d24_dup_spans" ->
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
        |), pos AS (
        |  SELECT doc_id, unnest(range(1, len(t) - 6)) AS pos, t
        |  FROM tk WHERE len(t) >= 8
        |), pg AS (
        |  SELECT doc_id, pos, array_to_string(t[pos:pos+7], ' ') AS gram FROM pos
        |), dup AS (
        |  SELECT gram FROM pg GROUP BY gram HAVING MIN(doc_id) <> MAX(doc_id)
        |), dp AS (
        |  SELECT pg.doc_id, pg.pos, pg.pos + 7 AS e FROM pg JOIN dup USING (gram)
        |), isl AS (
        |  SELECT doc_id, pos, e,
        |    CASE WHEN MAX(e) OVER (PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |      OR pos > MAX(e) OVER (PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      THEN 1 ELSE 0 END AS ns
        |  FROM dp
        |), isl2 AS (
        |  SELECT doc_id, pos, e,
        |    SUM(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM isl
        |), per AS (
        |  SELECT doc_id, island, COUNT(*) AS npos, MIN(pos) AS s, MAX(e) AS ee
        |  FROM isl2 GROUP BY 1, 2
        |), agg AS (
        |  SELECT doc_id, CAST(SUM(npos) AS BIGINT) AS n_dup_positions,
        |    CAST(SUM(ee - s + 1) AS BIGINT) AS n_covered_tokens
        |  FROM per GROUP BY doc_id
        |)
        |SELECT tk.doc_id, CAST(len(tk.t) AS INTEGER) AS n_tokens,
        |  CAST(greatest(len(tk.t) - 7, 0) AS BIGINT) AS n_positions,
        |  COALESCE(agg.n_dup_positions, 0) AS n_dup_positions,
        |  COALESCE(agg.n_covered_tokens, 0) AS n_covered_tokens
        |FROM tk LEFT JOIN agg USING (doc_id) ORDER BY tk.doc_id""".stripMargin,
    // heavy hitters: the exact top-20 counts are fully oracle-checked; the
    // cms_ok boolean pins the sketch's (overestimate-only, eps*N) guarantee
    // in the hash — the q37 property-gate pattern for sketch outputs
    "q38_heavy_hitters" ->
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS item
        |  FROM documents
        |)
        |SELECT item, COUNT(*) AS n, TRUE AS cms_ok FROM tok
        |GROUP BY item ORDER BY n DESC, item LIMIT 20""".stripMargin,
    "s11_stream_heavy_hitters" ->
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS item
        |  FROM documents
        |)
        |SELECT item, COUNT(*) AS n FROM tok
        |GROUP BY item ORDER BY n DESC, item LIMIT 20""".stripMargin,
    // the streaming scrub is stateless, so its availableNow output is the
    // batch result bit for bit — same oracle as d23
    "s07_stream_pii" ->
      """WITH p AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 3 = 0
        |         THEN ' mail user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
        |    || CASE WHEN doc_id % 4 = 0
        |         THEN ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.7' ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0
        |         THEN ' call +1 555 014 ' || lpad(CAST(doc_id % 100 AS VARCHAR), 4, '0') ELSE '' END
        |    AS s
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
        |  CAST(len(regexp_extract_all(s, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INTEGER) AS n_ipv4,
        |  CAST(len(regexp_extract_all(s, '\+\d{1,3}[ -]\d{2,4}[ -]\d{2,4}[ -]\d{2,4}')) AS INTEGER) AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(s,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+\d{1,3}[ -]\d{2,4}[ -]\d{2,4}[ -]\d{2,4}', '<PHONE>', 'g') AS redacted
        |FROM p ORDER BY doc_id""".stripMargin,
    // group sizes are exact and oracle-checked; rank_ok pins the GK
    // sketch's |rank - q*n| <= n/accuracy guarantee in the hash (the
    // q37/q38 property-gate pattern, completing the sketch family:
    // distinct (HLL), frequency (CMS), quantiles (GK))
    "q40_approx_quantiles" ->
      """SELECT l_returnflag, q, COUNT(*) AS n, TRUE AS rank_ok
        |FROM lineitem CROSS JOIN (VALUES (CAST(0.25 AS DOUBLE)),
        |  (CAST(0.5 AS DOUBLE)), (CAST(0.75 AS DOUBLE))) v(q)
        |GROUP BY l_returnflag, q ORDER BY l_returnflag, q""".stripMargin,
    // the Bloom prefilter is exactness-preserving (no false negatives +
    // exact post-join), so the oracle is the plain semi-join
    "q39_bloom_semi" ->
      """SELECT l_orderkey, l_linenumber FROM lineitem
        |WHERE l_orderkey IN (
        |  SELECT o_orderkey FROM orders WHERE o_totalprice > 300000)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // the hash carries the score's exact integer inputs (tf, df), not the
    // double: Spark's StrictMath log and DuckDB's libm ln differ by 1 ulp
    // on ~8% of arguments (see the d25 comment in queries)
    "d25_tfidf_keywords" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM tk GROUP BY 1, 2
        |), dfx AS (
        |  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
        |), n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, term, tf, df,
        |    tf * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS tfidf
        |  FROM tf JOIN dfx USING (term) CROSS JOIN n
        |)
        |SELECT doc_id, term, tf, df FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk FROM scored
        |) WHERE rk <= 3 ORDER BY doc_id, term""".stripMargin,
    // same fold order as dotFast/normFast -> bit-identical cosines; the
    // transitive closure is the d20 recursive-CTE trick; zero-norm vectors
    // pair with nothing (NULL cosine in Spark, excluded here) but still
    // appear as singleton keepers via the left join
    "d26_semantic_dedup" ->
      """WITH RECURSIVE nz AS (
        |  SELECT vec_id, embedding, list_reduce(list_apply(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y) AS n2
        |  FROM embeddings
        |), p AS (
        |  SELECT a.vec_id AS ia, b.vec_id AS ib
        |  FROM nz a, nz b
        |  WHERE a.vec_id < b.vec_id AND a.n2 > 0 AND b.n2 > 0 AND
        |    list_reduce(list_apply(list_zip(a.embedding, b.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (x, y) -> x + y)
        |      / (sqrt(a.n2) * sqrt(b.n2)) >= 0.40
        |), sym AS (
        |  SELECT ia AS u, ib AS v FROM p UNION SELECT ib, ia FROM p
        |), reach AS (
        |  SELECT u, v FROM sym
        |  UNION
        |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
        |), comp AS (
        |  SELECT u AS vec_id, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u
        |)
        |SELECT e.vec_id, COALESCE(c.component, e.vec_id) AS component,
        |  (COALESCE(c.component, e.vec_id) = e.vec_id) AS keep
        |FROM embeddings e LEFT JOIN comp c ON c.vec_id = e.vec_id
        |ORDER BY e.vec_id""".stripMargin,
    // the exact-side dropped count is recomputed INDEPENDENTLY here (the
    // booleans are the property pins; see the d27 comment in queries)
    "d27_semdedup_cells" ->
      """WITH RECURSIVE nz AS (
        |  SELECT vec_id, embedding, list_reduce(list_apply(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y) AS n2
        |  FROM embeddings
        |), p AS (
        |  SELECT a.vec_id AS ia, b.vec_id AS ib
        |  FROM nz a, nz b
        |  WHERE a.vec_id < b.vec_id AND a.n2 > 0 AND b.n2 > 0 AND
        |    list_reduce(list_apply(list_zip(a.embedding, b.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (x, y) -> x + y)
        |      / (sqrt(a.n2) * sqrt(b.n2)) >= 0.40
        |), sym AS (
        |  SELECT ia AS u, ib AS v FROM p UNION SELECT ib, ia FROM p
        |), reach AS (
        |  SELECT u, v FROM sym
        |  UNION
        |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_dropped,
        |  TRUE AS subset_ok, TRUE AS recall_ok
        |FROM (SELECT u FROM reach GROUP BY u HAVING MIN(v) < u)""".stripMargin,
    // d64: every count exact-integer, the probability ONE pinned op tree
    // with every literal CAST to DOUBLE (DuckDB parses bare 0.75 as
    // DECIMAL — different rounding), parenthesization mirrored from the
    // Spark expression
    "d64_kneser_ney" ->
      """WITH tk AS (
        |  SELECT doc_id, w, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS p
        |  FROM (
        |    SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w,
        |      generate_subscripts(regexp_split_to_array(trim(lower(text)), '\s+'), 1) AS pos
        |    FROM documents)
        |  WHERE length(w) > 0
        |), big AS (
        |  SELECT a.w AS w1, b.w AS w2
        |  FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND b.p = a.p + 1
        |), c12 AS (
        |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM big GROUP BY 1, 2
        |), types AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM c12),
        |lft AS (
        |  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
        |    CAST(COUNT(*) AS BIGINT) AS n1fw FROM c12 GROUP BY 1
        |), rgt AS (
        |  SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1pw FROM c12 GROUP BY 1
        |)
        |SELECT c.w1, c.w2, c.c12, l.c1, l.n1fw, r.n1pw,
        |  (GREATEST(CAST(c.c12 AS DOUBLE) - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE)) / l.c1)
        |  + ((CAST(0.75 AS DOUBLE) * l.n1fw) / l.c1)
        |    * (CAST(r.n1pw AS DOUBLE) / ty.t) AS p_kn
        |FROM c12 c
        |JOIN lft l ON l.w1 = c.w1
        |JOIN rgt r ON r.w2 = c.w2
        |CROSS JOIN types ty
        |WHERE c.c12 >= 8
        |ORDER BY c.w1, c.w2""".stripMargin,
    // d63: all-integer rule chain — cross-multiplied thresholds, fixed
    // first-failure order, no float contract anywhere
    // d65: the full weak-label → train → score replay. The lab CTE is
    // d63's rule chain collapsed to one boolean; weights and scores are
    // integer-only (cross-multiplied odds, summed {−1,0,+1}).
    "d65_quality_classifier" -> d65OracleSql,
    // s28 serves the d65 model over a stream of the same odd-keyed docs and
    // converges to the batch scoring exactly, so it shares d65's oracle —
    // duplicated under its own key so the gate is hash-checked (the driver
    // treats a missing key as rows-only).
    "s28_stream_quality" -> d65OracleSql,
    // d66: KN train (even half) → perplexity score (odd half), the pinned
    // (w1, w2)-ordered fold; s29 is the streaming serving of the SAME
    // model and converges exactly, so it shares the SQL under its own key.
    "d66_lm_perplexity" -> d66OracleSql,
    "s29_stream_perplexity" -> d66OracleSql,
    "d67_blocklist" -> d67OracleSql,
    // d68: the public-suffix walk in closed SQL — suffix CASE is
    // longest-first (co.uk/gov.uk before com/io/org/uk, the Scala sort
    // order), registrable = the last (|suffix labels| + 1) host labels
    // d72: the whole crawl chain replayed — page template (d71's),
    // extraction regexes, token/rule chain (d63's) over the EXTRACTED
    // text, and the archive placement (row_number within doc_id//5)
    "d75_textrank" -> textRankOracleSql,
    "d77_unigram_tokenize" -> unigramOracleSql,
    // d86: both rendezvous assignments replayed with arg_max over the
    // same md5 weights; hrw_ok pins the minimal-disruption invariant
    "d86_hrw_sharding" ->
      """WITH w AS (
        |  SELECT d.doc_id, s.sh,
        |    md5(CAST(d.doc_id AS VARCHAR) || ':' || CAST(s.sh AS VARCHAR)) AS w
        |  FROM documents d, (SELECT unnest(range(5)) AS sh) s
        |), a4 AS (
        |  SELECT doc_id, CAST(arg_max(sh, w) AS INT) AS shard4
        |  FROM w WHERE sh < 4 GROUP BY doc_id
        |), a5 AS (
        |  SELECT doc_id, CAST(arg_max(sh, w) AS INT) AS shard5
        |  FROM w GROUP BY doc_id
        |)
        |SELECT a4.doc_id, a4.shard4, a5.shard5,
        |  a4.shard4 != a5.shard5 AS moved,
        |  (a4.shard4 = a5.shard5) OR (a5.shard5 = 4) AS hrw_ok
        |FROM a4 JOIN a5 USING (doc_id) ORDER BY a4.doc_id""".stripMargin,
    // d84: the same md5 ordering replayed with a window — the ORACLE may
    // single-task-sort; the engine's GlobalRank result must equal it
    "d84_epoch_shuffle" ->
      """WITH e AS (SELECT unnest([1, 2]) AS epoch),
        |h AS (
        |  SELECT e.epoch, d.doc_id,
        |    md5(CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)) AS hh
        |  FROM e, documents d
        |)
        |SELECT epoch, doc_id,
        |  CAST(row_number() OVER (PARTITION BY epoch ORDER BY hh) AS BIGINT) AS pos
        |FROM h ORDER BY epoch, doc_id""".stripMargin,
    "d83_lexical_richness" ->
      """WITH uni AS (
        |  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c FROM (
        |    SELECT source,
        |      unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |    FROM documents) WHERE w <> '' GROUP BY 1, 2
        |), agg AS (
        |  SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS vocab,
        |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
        |    CAST(SUM(c * (c - 1)) AS BIGINT) AS coll
        |  FROM uni GROUP BY 1
        |)
        |SELECT source, n_tokens, vocab, hapax,
        |  ROUND(CAST(coll AS DOUBLE) /
        |    CAST(n_tokens * (n_tokens - 1) AS DOUBLE), 6) AS simpson_d
        |FROM agg ORDER BY source""".stripMargin,
    "d81_vocab_growth" ->
      """WITH pos AS (
        |  SELECT doc_id, g.i AS p, a[g.i] AS w
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(trim(lower(text)), '\s+') AS a
        |        FROM documents) t,
        |  LATERAL (SELECT unnest(generate_series(1, len(t.a))) AS i) g
        |  WHERE a[g.i] <> ''
        |), counts AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nt FROM pos GROUP BY 1
        |), offs AS (
        |  SELECT doc_id, COALESCE(SUM(nt) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM counts
        |), fp AS (
        |  SELECT w, MIN(o.off + p.p) AS fp
        |  FROM pos p JOIN offs o USING (doc_id) GROUP BY w
        |), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pos),
        |ks AS (
        |  SELECT CAST(v.k AS BIGINT) AS k,
        |    CAST((n.n * v.k) // 8 AS BIGINT) AS n_prefix
        |  FROM (VALUES (1), (2), (3), (4), (5), (6), (7), (8)) v(k)
        |  CROSS JOIN n
        |)
        |SELECT ks.k, ks.n_prefix, CAST(COUNT(*) AS BIGINT) AS vocab
        |FROM fp CROSS JOIN ks WHERE fp.fp <= ks.n_prefix
        |GROUP BY 1, 2 ORDER BY ks.k""".stripMargin,
    "d80_dispersion" ->
      """WITH tok AS (
        |  SELECT source, w FROM (
        |    SELECT source,
        |      unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |    FROM documents) WHERE w <> ''
        |), sizes AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS nt FROM tok GROUP BY 1
        |), n AS (SELECT CAST(SUM(nt) AS DOUBLE) AS n FROM sizes),
        |top AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS cw FROM tok GROUP BY 1
        |  ORDER BY cw DESC, w LIMIT 30
        |), cwi AS (
        |  SELECT w, source, CAST(COUNT(*) AS BIGINT) AS cwi
        |  FROM tok GROUP BY 1, 2
        |), grid AS (
        |  SELECT t.w, t.cw, s.source,
        |    ABS(CAST(COALESCE(c.cwi, 0) AS DOUBLE) / t.cw
        |        - CAST(s.nt AS DOUBLE) / n.n) AS term
        |  FROM top t CROSS JOIN sizes s CROSS JOIN n
        |  LEFT JOIN cwi c ON c.w = t.w AND c.source = s.source
        |)
        |SELECT w, cw AS freq,
        |  ROUND(list_reduce(list(term ORDER BY source), (x, y) -> x + y) / 2,
        |    4) AS dp
        |FROM grid GROUP BY w, cw ORDER BY freq DESC, w""".stripMargin,
    "d79_rake_keywords" ->
      """WITH pos AS (
        |  SELECT doc_id, g.i AS p, a[g.i] AS w
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(trim(lower(text)), '\s+') AS a
        |        FROM documents) t,
        |  LATERAL (SELECT unnest(generate_series(1, len(t.a))) AS i) g
        |  WHERE a[g.i] <> ''
        |), grouped AS (
        |  SELECT doc_id, p, w, w IN ('the', 'a') AS st,
        |    SUM(CASE WHEN w IN ('the', 'a') THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY p
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM pos
        |), phr AS (
        |  SELECT doc_id, grp, string_agg(w, ' ' ORDER BY p) AS phrase,
        |    CAST(COUNT(*) AS BIGINT) AS len
        |  FROM grouped WHERE NOT st GROUP BY 1, 2
        |), words AS (
        |  SELECT len, unnest(regexp_split_to_array(phrase, ' ')) AS w FROM phr
        |), wstat AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
        |    CAST(SUM(len) AS BIGINT) AS deg
        |  FROM words GROUP BY 1
        |), pstat AS (
        |  SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occ FROM phr GROUP BY 1
        |), member AS (
        |  SELECT ps.phrase, g.i AS wp,
        |    regexp_split_to_array(ps.phrase, ' ')[g.i] AS w
        |  FROM pstat ps, LATERAL (SELECT unnest(generate_series(
        |    1, len(regexp_split_to_array(ps.phrase, ' ')))) AS i) g
        |), scored AS (
        |  SELECT m.phrase,
        |    list_reduce(list(CAST(ws.deg AS DOUBLE) / ws.freq ORDER BY m.wp),
        |      (x, y) -> x + y) AS sc
        |  FROM member m JOIN wstat ws ON ws.w = m.w
        |  GROUP BY 1
        |)
        |SELECT ps.phrase, ps.n_occ, ROUND(sc.sc, 4) AS score
        |FROM pstat ps JOIN scored sc USING (phrase)
        |ORDER BY sc.sc DESC, ps.phrase LIMIT 20""".stripMargin,
    "d78_dictionary_encode" ->
      """WITH post AS (
        |  SELECT doc_id, g.i AS p, a[g.i] AS w
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(trim(lower(text)), '\s+') AS a
        |        FROM documents) t,
        |  LATERAL (SELECT unnest(generate_series(1, len(t.a))) AS i) g
        |  WHERE a[g.i] <> ''
        |), dict AS (
        |  SELECT w, row_number() OVER (ORDER BY w) AS id
        |  FROM (SELECT DISTINCT w FROM post)
        |), encp AS (SELECT doc_id, p, id FROM post JOIN dict USING (w)),
        |rec AS (SELECT e.doc_id, e.p, e.id, d2.w FROM encp e JOIN dict d2 USING (id)),
        |agg AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    CAST(SUM(p * id) AS BIGINT) AS enc_checksum,
        |    string_agg(w, ' ' ORDER BY p) AS rt
        |  FROM rec GROUP BY 1
        |)
        |SELECT a.doc_id, a.n_tokens, a.enc_checksum,
        |  (a.rt = regexp_replace(trim(lower(d.text)), '\s+', ' '))
        |    AS roundtrip_ok
        |FROM agg a JOIN documents d USING (doc_id)
        |ORDER BY a.doc_id""".stripMargin,
    "d76_good_turing" ->
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |  FROM documents
        |), uni AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS r FROM tok
        |  WHERE w <> '' GROUP BY 1
        |), fof AS (
        |  SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r FROM uni GROUP BY 1
        |)
        |SELECT f.r, f.n_r,
        |  ROUND(CAST(f.r + 1 AS DOUBLE) * fn.n_r / f.n_r, 4) AS r_star
        |FROM fof f LEFT JOIN fof fn ON fn.r = f.r + 1
        |ORDER BY f.r LIMIT 30""".stripMargin,
    "d74_phrase_search" -> phraseSearchOracleSql,
    "s33_stream_phrase_search" -> phraseSearchOracleSql,
    "s35_stream_static_join" ->
      """SELECT c.c_mktsegment,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events e JOIN customer c ON c.c_custkey = e.user_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "s34_stream_cusum" ->
      """WITH pre AS (
        |  SELECT source, doc_id, SUM(n_chars - 280) OVER w AS p
        |  FROM documents
        |  WINDOW w AS (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), scored AS (
        |  SELECT source, doc_id, p - LEAST(0, MIN(p) OVER w) AS s
        |  FROM pre
        |  WINDOW w AS (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), peak AS (SELECT source, MAX(s) AS peak FROM scored GROUP BY 1),
        |counts AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY 1
        |)
        |SELECT sc.source, ANY_VALUE(c.n_docs) AS n_docs,
        |  CAST(p.peak AS BIGINT) AS peak, MIN(sc.doc_id) AS peak_doc
        |FROM scored sc JOIN peak p USING (source) JOIN counts c USING (source)
        |WHERE sc.s = p.peak
        |GROUP BY sc.source, p.peak
        |ORDER BY sc.source""".stripMargin,
    "d73_cusum_changepoint" ->
      """WITH tot AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(n_chars) AS BIGINT) AS total
        |  FROM documents GROUP BY 1
        |), pre AS (
        |  SELECT d.source, d.doc_id, t.n,
        |    SUM(t.n * d.n_chars - t.total) OVER w AS p
        |  FROM documents d JOIN tot t USING (source)
        |  WINDOW w AS (PARTITION BY d.source ORDER BY d.doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), scored AS (
        |  SELECT source, doc_id, n, p - LEAST(0, MIN(p) OVER w) AS s
        |  FROM pre
        |  WINDOW w AS (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), peak AS (SELECT source, MAX(s) AS peak FROM scored GROUP BY 1)
        |SELECT sc.source, ANY_VALUE(sc.n) AS n_docs,
        |  CAST(p.peak AS BIGINT) AS peak,
        |  MIN(sc.doc_id) AS peak_doc,
        |  ROUND(CAST(p.peak AS DOUBLE) / ANY_VALUE(sc.n), 4) AS peak_per_doc
        |FROM scored sc JOIN peak p USING (source)
        |WHERE sc.s = p.peak
        |GROUP BY sc.source, p.peak
        |ORDER BY sc.source""".stripMargin,
    "d72_crawl_e2e" ->
      """WITH pg AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc ' || doc_id || '</title>' ||
        |    '<style>p{color:red}</style><script>var x=1;</script></head>' ||
        |    '<body><h1>Head ' || (doc_id % 7) || '</h1><p>para one ' ||
        |    (doc_id % 5) || '</p><!-- hidden --><p>' || text ||
        |    '</p><p>two &amp; three &lt;ok&gt;</p></body></html>' AS html
        |  FROM documents
        |), ex AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(
        |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |          regexp_replace(html,
        |          '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
        |          '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
        |          '(?s)<!--.*?-->', ' ', 'g'),
        |          '<[^>]*>', ' ', 'g'),
        |          '&lt;', '<', 'g'),
        |          '&gt;', '>', 'g'),
        |          '&quot;', '"', 'g'),
        |          '&nbsp;', ' ', 'g'),
        |          '&amp;', '&', 'g'),
        |      '\s+', ' ', 'g')) AS t
        |  FROM pg
        |), tok AS (
        |  SELECT doc_id, w, COUNT(*) AS cnt FROM (
        |    SELECT doc_id,
        |      unnest(regexp_split_to_array(trim(lower(t)), '\s+')) AS w
        |    FROM ex)
        |  WHERE length(w) > 0 GROUP BY 1, 2
        |), agg AS (
        |  SELECT doc_id,
        |    CAST(SUM(cnt) AS BIGINT) AS n_words,
        |    CAST(MAX(cnt) AS BIGINT) AS top_cnt,
        |    CAST(SUM(length(w) * cnt) AS BIGINT) AS n_wchars,
        |    CAST(SUM(CASE WHEN w IN ('the','a','of','and','to')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
        |  FROM tok GROUP BY 1
        |), ruled AS (
        |  SELECT doc_id,
        |    CASE WHEN n_words < 25 THEN 'too_short'
        |         WHEN n_words > 70 THEN 'too_long'
        |         WHEN n_wchars < 3 * n_words THEN 'word_len'
        |         WHEN n_wchars > 7 * n_words THEN 'word_len'
        |         WHEN n_stop < 2 THEN 'stopwords'
        |         WHEN top_cnt * 8 > n_words THEN 'repetition'
        |         ELSE 'ok' END AS reason
        |  FROM agg
        |)
        |SELECT CAST(e.doc_id // 5 AS BIGINT) AS archive_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY e.doc_id // 5
        |    ORDER BY e.doc_id) - 1 AS INT) AS record_idx,
        |  e.doc_id, md5(e.t) AS text_md5, r.reason,
        |  r.reason = 'ok' AS accepted
        |FROM ex e JOIN ruled r USING (doc_id)
        |ORDER BY e.doc_id""".stripMargin,
    // d71: the same page template and the same regex pipeline, each
    // replace global ('g'); entity order pinned (&amp; last)
    "d71_html_extract" ->
      """WITH pg AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc ' || doc_id || '</title>' ||
        |    '<style>p{color:red}</style><script>var x=1;</script></head>' ||
        |    '<body><h1>Head ' || (doc_id % 7) || '</h1><p>para one ' ||
        |    (doc_id % 5) || '</p><!-- hidden --><p>' || text ||
        |    '</p><p>two &amp; three &lt;ok&gt;</p></body></html>' AS html
        |  FROM documents
        |), ex AS (
        |  SELECT doc_id, html,
        |    trim(regexp_replace(
        |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |          regexp_replace(html,
        |          '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
        |          '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
        |          '(?s)<!--.*?-->', ' ', 'g'),
        |          '<[^>]*>', ' ', 'g'),
        |          '&lt;', '<', 'g'),
        |          '&gt;', '>', 'g'),
        |          '&quot;', '"', 'g'),
        |          '&nbsp;', ' ', 'g'),
        |          '&amp;', '&', 'g'),
        |      '\s+', ' ', 'g')) AS t
        |  FROM pg
        |)
        |SELECT doc_id, regexp_extract(html, '<title>(.*?)</title>', 1) AS title,
        |  md5(t) AS text_md5,
        |  CAST(len(regexp_split_to_array(t, '\s+')) AS BIGINT) AS n_tokens
        |FROM ex ORDER BY doc_id""".stripMargin,
    // d70: the planted WARC formula in closed form — record count
    // 3 + id%4, body length 40 + (id+r)%30, byte j = (id·13+r·7+j·3)%26
    // + 'a' (97)
    "d70_warc_ingest" -> d70OracleSql,
    // d88: the GeoTIFF closed form — 16×10 Float32 band, value
    // (id·7+y·11+x·13)%256, origin (−72+(id%5)/2, 11−(id%3)/2), pixel
    // 1/32° — every lon/lat a dyadic rational, corrupt ids one marker row
    "d88_geotiff_ingest" -> d88OracleSql,
    // d90: both routed extractions rebuilt verbatim — the HTML title +
    // word list (tag strip ≡ the d71 contract) and the d89 PDF text
    "d90_crawl_multiformat" -> d90OracleSql,
    // d92: the weight table and every doc's bag-of-words score rebuilt —
    // printf('%03x') buckets, ascii-mix weights, md5-prefix feature hash
    "d92_linear_quality" ->
      """WITH wt AS (
        |  SELECT printf('%03x', i.i) AS bucket,
        |    (ascii(substr(printf('%03x', i.i), 1, 1)) * 7 +
        |     ascii(substr(printf('%03x', i.i), 2, 1)) * 11 +
        |     ascii(substr(printf('%03x', i.i), 3, 1)) * 13) % 401 - 200 AS weight
        |  FROM (SELECT unnest(range(4096)) AS i) i
        |), tk AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |  FROM documents
        |), b AS (
        |  SELECT doc_id, substr(md5(w), 1, 3) AS bucket
        |  FROM tk WHERE length(w) > 0
        |)
        |SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(COALESCE(wt.weight, 0)) AS BIGINT) AS score,
        |  SUM(COALESCE(wt.weight, 0)) > 0 AS keep
        |FROM b LEFT JOIN wt USING (bucket)
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,
    // d91: label by wire variant, text rebuilt verbatim (é is literal
    // UTF-8 in this SQL text — both engines read it identically)
    "d91_charset_detect" ->
      """SELECT p_partkey AS doc_id,
        |  CASE p_partkey % 4 WHEN 2 THEN 'utf-16le'
        |    WHEN 3 THEN 'latin-1' ELSE 'utf-8' END AS charset,
        |  'café w' || (p_partkey % 97) || ' n' || (p_partkey % 7) AS text,
        |  CAST(length('café w' || (p_partkey % 97) || ' n' || (p_partkey % 7)) AS BIGINT) AS n_chars
        |FROM part WHERE p_partkey <= 300
        |ORDER BY doc_id""".stripMargin,
    "s40_stream_crawl_multiformat" -> d90OracleSql,
    // d89: the extracted text rebuilt verbatim — words via string_agg in
    // k order, lines joined with chr(10) in j order, corrupt ids null
    "d89_pdf_extract" ->
      """WITH docs AS (
        |  SELECT p_partkey AS doc_id, 3 + p_partkey % 4 AS n_lines
        |  FROM part WHERE p_partkey <= 200
        |), lines AS (
        |  SELECT d.doc_id, j.j,
        |    string_agg('w' || CAST((d.doc_id * 7 + j.j * 11 + k.k * 13) % 100 AS VARCHAR),
        |      ' ' ORDER BY k.k) AS line
        |  FROM docs d,
        |    LATERAL (SELECT unnest(range(d.n_lines)) AS j) j,
        |    LATERAL (SELECT unnest(range(4 + (d.doc_id + j.j) % 3)) AS k) k
        |  GROUP BY 1, 2
        |), texts AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY j) AS text
        |  FROM lines GROUP BY 1
        |)
        |SELECT d.doc_id,
        |  d.doc_id % 9 <> 0 AS ok,
        |  CASE WHEN d.doc_id % 9 = 0 THEN NULL
        |    ELSE CAST(length(t.text) AS BIGINT) END AS n_chars,
        |  CASE WHEN d.doc_id % 9 = 0 THEN NULL ELSE t.text END AS text
        |FROM docs d LEFT JOIN texts t USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "s39_stream_raster_ingest" -> d88OracleSql,
    // d87: d70's closed form restricted to the clean archives, UNION'd
    // with one (-1, NULL, NULL, NULL, true) marker per corrupt archive
    "d87_warc_quarantine" ->
      """WITH a AS (
        |  SELECT p_partkey AS archive_id, 3 + p_partkey % 4 AS n_rec
        |  FROM part WHERE p_partkey <= 200
        |), rec AS (
        |  SELECT a.archive_id, CAST(r.r AS INT) AS record_idx,
        |    'http://site' || (a.archive_id % 50) || '.com/p' || r.r AS uri,
        |    40 + (a.archive_id + r.r) % 30 AS len
        |  FROM a, LATERAL (SELECT unnest(range(a.n_rec)) AS r) r
        |  WHERE a.archive_id % 7 <> 0
        |), sums AS (
        |  SELECT archive_id, record_idx, uri, CAST(len AS BIGINT) AS n_bytes,
        |    (SELECT CAST(SUM((archive_id * 13 + record_idx * 7 + j.j * 3) % 26 + 97) AS BIGINT)
        |     FROM (SELECT unnest(range(len)) AS j) j) AS byte_sum,
        |    FALSE AS quarantined
        |  FROM rec
        |), bad AS (
        |  SELECT archive_id, CAST(-1 AS INT) AS record_idx,
        |    CAST(NULL AS VARCHAR) AS uri, CAST(NULL AS BIGINT) AS n_bytes,
        |    CAST(NULL AS BIGINT) AS byte_sum, TRUE AS quarantined
        |  FROM a WHERE archive_id % 7 = 0
        |)
        |SELECT * FROM (SELECT * FROM sums UNION ALL SELECT * FROM bad)
        |ORDER BY archive_id, record_idx""".stripMargin,
    // s32: record explode is per-archive stateless, so the streamed
    // ingest converges to the batch ingest exactly — shared oracle
    "s32_stream_warc" -> d70OracleSql,
    // d69: same vowel-run / terminal-punctuation regexes, same pinned
    // (a − b·x) − c·y op tree over exact integer ratios
    "d69_readability" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |  FROM documents
        |), wc AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
        |    CAST(SUM(GREATEST(1, len(regexp_extract_all(w, '[aeiouy]+')))) AS BIGINT) AS n_syll
        |  FROM tok WHERE length(w) > 0 GROUP BY 1
        |), sc AS (
        |  SELECT doc_id,
        |    GREATEST(1, len(regexp_extract_all(text, '[.!?]+'))) AS n_sent
        |  FROM documents
        |)
        |SELECT wc.doc_id, wc.n_words, wc.n_syll,
        |  CAST(sc.n_sent AS BIGINT) AS n_sent,
        |  ROUND(CAST(206.835 AS DOUBLE)
        |    - CAST(1.015 AS DOUBLE) * (CAST(wc.n_words AS DOUBLE) / sc.n_sent)
        |    - CAST(84.6 AS DOUBLE) * (CAST(wc.n_syll AS DOUBLE) / wc.n_words), 4)
        |    AS flesch
        |FROM wc JOIN sc USING (doc_id)
        |ORDER BY wc.doc_id""".stripMargin,
    "d68_domain_stats" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 31 = 0 THEN 'co.uk'
        |         WHEN doc_id % 29 = 0 THEN 'site' || (doc_id % 20) || '.xyz'
        |         WHEN doc_id % 5 = 0 THEN 'a.b.site' || (doc_id % 20) || '.co.uk'
        |         WHEN doc_id % 5 = 1 THEN 'www.site' || (doc_id % 20) || '.com'
        |         WHEN doc_id % 5 = 2 THEN 'deep.sub.site' || (doc_id % 20) || '.org'
        |         WHEN doc_id % 5 = 3 THEN 'site' || (doc_id % 20) || '.uk'
        |         ELSE 'sub.site' || (doc_id % 20) || '.gov.uk' END AS host
        |  FROM documents
        |), m AS (
        |  SELECT doc_id, host,
        |    CASE WHEN host = 'co.uk' OR host LIKE '%.co.uk' THEN 'co.uk'
        |         WHEN host = 'gov.uk' OR host LIKE '%.gov.uk' THEN 'gov.uk'
        |         WHEN host = 'com' OR host LIKE '%.com' THEN 'com'
        |         WHEN host = 'io' OR host LIKE '%.io' THEN 'io'
        |         WHEN host = 'org' OR host LIKE '%.org' THEN 'org'
        |         WHEN host = 'uk' OR host LIKE '%.uk' THEN 'uk'
        |         END AS sfx
        |  FROM h
        |), r AS (
        |  SELECT doc_id,
        |    CASE WHEN sfx IS NULL OR host = sfx THEN NULL
        |         ELSE array_to_string(list_slice(string_split(host, '.'),
        |           len(string_split(host, '.')) - len(string_split(sfx, '.')),
        |           len(string_split(host, '.'))), '.') END AS registrable
        |  FROM m
        |)
        |SELECT COALESCE(registrable, '(none)') AS domain,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs, MIN(doc_id) AS first_doc
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "d63_gopher_rules" ->
      """WITH tok AS (
        |  SELECT doc_id, w, COUNT(*) AS cnt FROM (
        |    SELECT doc_id,
        |      unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |    FROM documents)
        |  WHERE length(w) > 0 GROUP BY 1, 2
        |), agg AS (
        |  SELECT doc_id,
        |    CAST(SUM(cnt) AS BIGINT) AS n_words,
        |    CAST(MAX(cnt) AS BIGINT) AS top_cnt,
        |    CAST(SUM(length(w) * cnt) AS BIGINT) AS n_wchars,
        |    CAST(SUM(CASE WHEN w IN ('the','a','of','and','to')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
        |  FROM tok GROUP BY 1
        |), ruled AS (
        |  SELECT doc_id, n_words, top_cnt, n_stop,
        |    CASE WHEN n_words < 25 THEN 'too_short'
        |         WHEN n_words > 70 THEN 'too_long'
        |         WHEN n_wchars < 3 * n_words THEN 'word_len'
        |         WHEN n_wchars > 7 * n_words THEN 'word_len'
        |         WHEN n_stop < 2 THEN 'stopwords'
        |         WHEN top_cnt * 8 > n_words THEN 'repetition'
        |         ELSE 'ok' END AS reason
        |  FROM agg
        |)
        |SELECT doc_id, n_words, top_cnt, n_stop, reason,
        |  reason = 'ok' AS accepted
        |FROM ruled ORDER BY doc_id""".stripMargin,
    "d62_wordpiece" -> wordpieceOracleSql(4),
    "d28_bpe_merges" -> bpeOracleSql(6),
    "d35_bpe_encode" -> bpeEncodeOracleSql(6),
    // identical multiplicative-hash uniform and A-ES ranking; only the
    // integer sample is hashed (ln key is engine-local, d25 rule)
    "d29_weighted_sample" ->
      """WITH keyed AS (
        |  SELECT lang, doc_id, n_chars,
        |    ln((((doc_id & 2147483647) * 2654435761) % 2147483648 + 0.5)
        |       / 2147483648.0) / CAST(n_chars AS DOUBLE) AS k
        |  FROM documents WHERE n_chars > 0
        |)
        |SELECT lang, doc_id, n_chars FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY lang ORDER BY k DESC, doc_id) AS rk FROM keyed)
        |WHERE rk <= 15 ORDER BY lang, doc_id""".stripMargin,
    // brute-force ground truth — no prefix filter; equality proves the
    // Spark side's pruning is lossless
    // d34: the same bigram sets as d32, but candidates come from the
    // positional window over the (text-prefix, id) sort order — the oracle
    // recomputes the global order with a window row_number and pairs rows
    // at distance 1..3, so the hash also checks the scalable position
    // assignment (range partitions + offsets) against a plain sort.
    // d36: the oracle independently replays blocking, transitive closure
    // (recursive CTE), singleton fill, survivorship window, and lineage agg
    // d37: same bucket stats, same integer masses, same (score desc, id)
    // top-k — md5-prefix buckets keep the feature space a portable string.
    "d37_importance_rank" ->
      """WITH tok AS (
        |  SELECT doc_id, lang = 'en' AS t,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |  FROM documents
        |), f AS (
        |  SELECT doc_id, t, substr(md5(w), 1, 3) AS f FROM tok
        |), stats AS (
        |  SELECT f, CAST(COUNT(*) AS BIGINT) AS r_cnt,
        |    CAST(COUNT(*) FILTER (WHERE t) AS BIGINT) AS t_cnt
        |  FROM f GROUP BY 1
        |), pd AS (
        |  SELECT doc_id, f, CAST(COUNT(*) AS BIGINT) AS c FROM f GROUP BY 1, 2
        |), m AS (
        |  SELECT pd.doc_id,
        |    SUM(pd.c * stats.t_cnt) AS t_mass,
        |    SUM(pd.c * stats.r_cnt) AS r_mass
        |  FROM pd JOIN stats USING (f) GROUP BY 1
        |)
        |SELECT doc_id, CAST(t_mass AS BIGINT) AS t_mass,
        |  CAST(r_mass AS BIGINT) AS r_mass,
        |  CAST(t_mass AS DOUBLE) / r_mass AS score
        |FROM m ORDER BY score DESC, doc_id LIMIT 100""".stripMargin,
    // d38: same BM25 fold (sorted-term order) with DuckDB's own ln; the
    // hash carries the selection + (tf_sum, dl), never the score
    "d38_bm25" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM tk GROUP BY 1, 2
        |), dl AS (
        |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1
        |), dfx AS (
        |  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
        |), sc AS (
        |  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl
        |), q AS (
        |  SELECT * FROM (VALUES
        |    ('q1', 'spark'), ('q1', 'join'),
        |    ('q2', 'hash'), ('q2', 'window'), ('q2', 'dup'),
        |    ('q3', 'vector'), ('q3', 'stream'),
        |    ('q4', 'batch'), ('q4', 'sort'), ('q4', 'key'),
        |    ('q5', 'dup'), ('q5', 'merge')) AS v(query_id, term)
        |), ts AS (
        |  SELECT q.query_id, tf.doc_id, tf.term, tf.tf, dl.dl,
        |    ln(1.0 + ((sc.n_docs - dfx.df) + CAST(0.5 AS DOUBLE)) / (dfx.df + CAST(0.5 AS DOUBLE)))
        |      * (tf.tf * CAST(2.25 AS DOUBLE))
        |      / (tf.tf + CAST(1.25 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl.dl / sc.avgdl)) AS s
        |  FROM tf JOIN q USING (term) JOIN dfx USING (term)
        |  JOIN dl USING (doc_id) CROSS JOIN sc
        |), agg AS (
        |  SELECT query_id, doc_id,
        |    list_reduce(list(s ORDER BY term), (x, y) -> x + y) AS bm25,
        |    CAST(SUM(tf) AS BIGINT) AS tf_sum, MAX(dl) AS dl
        |  FROM ts GROUP BY 1, 2
        |)
        |SELECT query_id, rank, doc_id, tf_sum, dl FROM (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS INTEGER) AS rank
        |  FROM agg)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "d39_bigram_lm" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w,
        |    generate_subscripts(regexp_split_to_array(trim(lower(text)), '\s+'), 1) AS pos
        |  FROM documents
        |), big AS (
        |  SELECT doc_id, pos, w,
        |    lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |  FROM tk QUALIFY w2 IS NOT NULL
        |), c2 AS (
        |  SELECT w, w2, COUNT(*) AS c2 FROM big GROUP BY 1, 2
        |), c1 AS (
        |  SELECT w, SUM(c2) AS c1 FROM c2 GROUP BY 1
        |), v AS (
        |  SELECT COUNT(DISTINCT w) AS v FROM tk
        |), lp AS (
        |  SELECT b.doc_id, b.pos,
        |    ln(CAST(c2.c2 + 1 AS DOUBLE) / CAST(c1.c1 + v.v AS DOUBLE)) AS logp
        |  FROM big b JOIN c2 USING (w, w2) JOIN c1 USING (w) CROSS JOIN v
        |), agg AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |    -list_reduce(list(logp ORDER BY pos), (x, y) -> x + y) AS nll
        |  FROM lp GROUP BY 1
        |)
        |SELECT doc_id, n_bigrams, ROUND(nll / n_bigrams, 4) AS avg_nll
        |FROM agg ORDER BY doc_id""".stripMargin,
    "d40_span_dedup" -> spanDedupOracleSql,
    // s16 streams the same corpus in ascending-doc_id microbatches through
    // the persisted seen-chunk index; first-occurrence-wins order matches
    // the batch formulation, so the streamed corpus shares d40's oracle
    // verbatim.
    "s16_stream_span_dedup" -> spanDedupOracleSql,
    "d58_keyness_g2" ->
      """WITH tok AS (
        |  SELECT source,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |  FROM documents
        |), c AS (
        |  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS a FROM tok GROUP BY 1, 2
        |), ctt AS (SELECT w, CAST(SUM(a) AS BIGINT) AS ct FROM c GROUP BY 1),
        |rt AS (SELECT source, CAST(SUM(a) AS BIGINT) AS ns FROM c GROUP BY 1),
        |nn AS (SELECT CAST(SUM(a) AS BIGINT) AS n FROM c)
        |SELECT c.source, c.w, c.a, CAST(ctt.ct - c.a AS BIGINT) AS b,
        |  ROUND((
        |    CAST(c.a AS DOUBLE) * ln(CAST(c.a AS DOUBLE) * CAST(nn.n AS DOUBLE) /
        |      (CAST(rt.ns AS DOUBLE) * ctt.ct)) +
        |    CASE WHEN ctt.ct - c.a > 0 THEN
        |      CAST(ctt.ct - c.a AS DOUBLE) * ln(CAST(ctt.ct - c.a AS DOUBLE) * CAST(nn.n AS DOUBLE) /
        |        (CAST(nn.n - rt.ns AS DOUBLE) * ctt.ct))
        |    ELSE 0.0 END) * 2, 4) AS g2
        |FROM c JOIN ctt USING (w) JOIN rt USING (source) CROSS JOIN nn
        |WHERE ctt.ct >= 50
        |ORDER BY 1, 2""".stripMargin,
    "d57_pmi_collocations" -> pmiOracleSql,
    // s22: the streamed bigram-count state DERIVES the margins, so the
    // converged scores equal batch d57 — shared oracle VERBATIM.
    "s22_stream_pmi" -> pmiOracleSql,
    "d52_jsonl_roundtrip" -> corpusChecksumOracleSql,
    "d54_orc_roundtrip" -> corpusChecksumOracleSql,
    "d82_csv_gzip_roundtrip" -> corpusChecksumOracleSql,
    "d55_jaro_winkler" ->
      """WITH fixture(doc_id, key) AS (VALUES
        |  (-1, 'martha'), (-38, 'marhta'), (-2, 'dwayne'), (-39, 'duane'),
        |  (-3, 'dixon'), (-40, 'dicksonx'), (-4, 'aXXXX'), (-41, 'aYYYY'),
        |  (-5, 'ab'), (-42, 'ba')
        |), k AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, key FROM fixture
        |  UNION ALL SELECT doc_id, substr(text, 1, 12) FROM documents
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  ROUND(jaro_winkler_similarity(a.key, b.key), 4) AS jw
        |FROM k a JOIN k b ON a.doc_id % 37 = b.doc_id % 37 AND a.doc_id < b.doc_id
        |ORDER BY id_a, id_b""".stripMargin,
    "d51_normalize_text" ->
      """WITH fixture(doc_id, text) AS (VALUES
        |  (-1, 'Cafe' || chr(769) || '  du  Monde'),
        |  (-2, chr(193) || 'ngel ' || chr(209) || 'o' || chr(241) || 'o'),
        |  (-3, 'Z' || chr(220) || 'RICH' || chr(9) || 'na' || chr(239) || 've c' || chr(244) || 'te'),
        |  (-4, '  Fa' || chr(231) || 'ade ' || chr(229) || 'r  '),
        |  (-5, 'plain ascii text')
        |), u AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM fixture
        |  UNION ALL SELECT doc_id, text FROM documents
        |)
        |SELECT doc_id,
        |  trim(regexp_replace(lower(strip_accents(nfc_normalize(text))), '\s+', ' ', 'g')) AS norm_text
        |FROM u ORDER BY doc_id""".stripMargin,
    "d41_boilerplate_strip" -> boilerplateStripOracleSql,
    // d42: the streamed df-map formulation converges to the identical
    // cleaned corpus (the strip is non-causal, so the convergent artifact
    // is the view over the final df map) — shares d41's oracle VERBATIM.
    "d42_stream_boilerplate" -> boilerplateStripOracleSql,
    // q70: interval semantics directly — each fact LEFT JOINs the single
    // version whose [valid_from, valid_to) contains it (deletion gaps and
    // pre-history match nothing -> null), which must equal the Spark
    // as-of-with-tombstones formulation.
    "q70_pit_join" ->
      """WITH base AS (
        |  SELECT c_custkey AS custkey, CAST(FLOOR(c_acctbal) AS BIGINT) AS bal,
        |    CAST(0 AS BIGINT) AS ts, 'U' AS op
        |  FROM customer WHERE c_custkey <= 50
        |), ch0 AS (
        |  SELECT user_id AS custkey, CAST(FLOOR(value * 100) AS BIGINT) AS bal,
        |    epoch_us(ts) AS ts,
        |    CASE WHEN event_type = 'purchase' THEN 'D' ELSE 'U' END AS op,
        |    event_id
        |  FROM events WHERE user_id <= 50 AND event_type IN ('view', 'purchase')
        |), ch AS (
        |  SELECT custkey, bal, ts, op FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY custkey, ts
        |      ORDER BY event_id DESC) AS rn FROM ch0)
        |  WHERE rn = 1
        |), ev AS (
        |  SELECT custkey, bal, ts, op FROM base
        |  UNION ALL SELECT custkey, bal, ts, op FROM ch
        |), vers AS (
        |  SELECT custkey, bal, ts AS valid_from,
        |    LEAD(ts) OVER (PARTITION BY custkey ORDER BY ts) AS valid_to, op
        |  FROM ev
        |), facts AS (
        |  SELECT event_id, user_id AS custkey, epoch_us(ts) AS t_us
        |  FROM events
        |  WHERE user_id <= 50 AND event_type = 'click' AND event_id <= 2000
        |)
        |SELECT f.event_id, f.custkey, f.t_us, v.bal AS bal_at_event
        |FROM facts f LEFT JOIN vers v ON v.custkey = f.custkey AND v.op <> 'D'
        |  AND f.t_us >= v.valid_from
        |  AND (v.valid_to IS NULL OR f.t_us < v.valid_to)
        |ORDER BY event_id""".stripMargin,
    "q69_scd2" -> scd2OracleSql,
    // s19 folds the SAME change set into the versioned history one
    // time-ordered microbatch at a time; the converged history equals the
    // one-shot application, so it shares q69's oracle verbatim.
    "s19_stream_scd2" -> scd2OracleSql,
    "q75_filter_agg" ->
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f,
        |  ROUND(SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 2) AS open_total
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q74_not_in_nulls" ->
      """SELECT variant, CAST(n AS BIGINT) AS n FROM (
        |  SELECT 'not_in' AS variant, COUNT(*) AS n FROM customer
        |  WHERE c_custkey NOT IN (
        |    SELECT o_custkey FROM orders WHERE o_orderkey % 3 = 0
        |    UNION ALL SELECT CAST(NULL AS BIGINT))
        |  UNION ALL
        |  SELECT 'not_exists', COUNT(*) FROM customer c
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                    WHERE o.o_custkey = c.c_custkey
        |                      AND o.o_orderkey % 3 = 0))
        |ORDER BY variant""".stripMargin,
    "q72_range_frame" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS t_us,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS v
        |  FROM events
        |)
        |SELECT event_id, user_id, t_us, v,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS n_nearby,
        |  CAST(SUM(v) OVER w AS BIGINT) AS sum_nearby
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY t_us
        |  RANGE BETWEEN 3600000000 PRECEDING AND 3600000000 FOLLOWING)
        |ORDER BY event_id""".stripMargin,
    "q73_typed_agg" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS sum_v,
        |  CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT) * CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS sum_sq
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q71_explode_outer" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      t -> len(t) >= 8) AS fs
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CASE WHEN len(fs) = 0 THEN NULL ELSE CAST(i - 1 AS INT) END AS pos,
        |  CASE WHEN len(fs) = 0 THEN NULL ELSE fs[CAST(i AS INTEGER)] END AS tok
        |FROM d, LATERAL (SELECT unnest(range(1, GREATEST(len(fs), 1) + 1)) AS i) r
        |ORDER BY doc_id, pos""".stripMargin,
    "d48_novelty" ->
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents
        |), g AS (
        |  SELECT DISTINCT doc_id, gram FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS gram
        |    FROM tk WHERE len(t) > 1)
        |), fo AS (
        |  SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY 1
        |)
        |SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |  CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) AS novelty
        |FROM g JOIN fo f USING (gram)
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,
    "q67_set_ops" ->
      """WITH urgent AS (
        |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |), done AS (
        |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |)
        |SELECT o_custkey, 'both' AS tag FROM (
        |  SELECT o_custkey FROM urgent INTERSECT SELECT o_custkey FROM done)
        |UNION ALL
        |SELECT o_custkey, 'urgent_only' FROM (
        |  SELECT o_custkey FROM urgent EXCEPT SELECT o_custkey FROM done)
        |ORDER BY tag, o_custkey""".stripMargin,
    "q68_ntile" ->
      """WITH b AS (
        |  SELECT event_id, value,
        |    NTILE(10) OVER (ORDER BY value, event_id) AS decile
        |  FROM events
        |)
        |SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
        |  MIN(value) AS lo, MAX(value) AS hi
        |FROM b GROUP BY decile ORDER BY decile""".stripMargin,
    "q65_histogram" ->
      """SELECT event_type, CAST(FLOOR(value / 32) AS BIGINT) AS bin,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q64_unpivot" ->
      """WITH b AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        |    l_discount, l_tax
        |  FROM lineitem WHERE l_orderkey % 50 = 0
        |)
        |SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM b
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM b
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM b
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM b
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,
    "d45_source_entropy" -> sourceEntropyOracleSql,
    // s17 accumulates the same (source, token) counts in the state store
    // (complete mode) and derives entropy from the FINAL state — the
    // converged metrics must equal the batch formulation, so it shares
    // d45's oracle verbatim.
    "s17_stream_entropy" -> sourceEntropyOracleSql,
    "d50_jsd_drift" ->
      """WITH tok AS (
        |  SELECT source,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |  FROM documents
        |), c AS (
        |  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
        |), t AS (
        |  SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY 1
        |), g AS (SELECT DISTINCT source FROM c),
        |pairs AS (
        |  SELECT a.source AS g_a, b.source AS g_b
        |  FROM g a JOIN g b ON a.source < b.source
        |), vocab AS (SELECT DISTINCT w FROM c),
        |grid AS (
        |  SELECT p.g_a, p.g_b, v.w, ca.c AS ca, cb.c AS cb, ta.n AS na, tb.n AS nb
        |  FROM pairs p CROSS JOIN vocab v
        |  LEFT JOIN c ca ON ca.source = p.g_a AND ca.w = v.w
        |  LEFT JOIN c cb ON cb.source = p.g_b AND cb.w = v.w
        |  JOIN t ta ON ta.source = p.g_a JOIN t tb ON tb.source = p.g_b
        |), tm AS (
        |  SELECT g_a, g_b, w,
        |    COALESCE(CASE WHEN ca IS NOT NULL THEN
        |      (CAST(ca AS DOUBLE) / na) * ln((CAST(ca AS DOUBLE) / na) /
        |        ((COALESCE(CAST(ca AS DOUBLE) / na, 0) + COALESCE(CAST(cb AS DOUBLE) / nb, 0)) / 2)) / 2
        |      END, 0) +
        |    COALESCE(CASE WHEN cb IS NOT NULL THEN
        |      (CAST(cb AS DOUBLE) / nb) * ln((CAST(cb AS DOUBLE) / nb) /
        |        ((COALESCE(CAST(ca AS DOUBLE) / na, 0) + COALESCE(CAST(cb AS DOUBLE) / nb, 0)) / 2)) / 2
        |      END, 0) AS tt,
        |    CASE WHEN ca IS NOT NULL AND cb IS NOT NULL THEN 1 ELSE 0 END AS in_both
        |  FROM grid
        |)
        |, jb AS (
        |  SELECT g_a, g_b, substr(md5(w), 1, 3) AS bk,
        |    CAST(SUM(in_both) AS BIGINT) AS bshared,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(tt ORDER BY w)),
        |      (x, y) -> x + y) AS bs
        |  FROM tm GROUP BY 1, 2, 3
        |)
        |SELECT g_a, g_b, CAST(SUM(bshared) AS BIGINT) AS n_shared,
        |  ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(bs ORDER BY bk)),
        |    (x, y) -> x + y), 4) AS jsd
        |FROM jb GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "d49_pair_metrics" ->
      """WITH d AS (
        |  SELECT doc_id, lang, source, n_chars FROM documents
        |), cand AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib FROM d a JOIN d b
        |  ON a.lang = b.lang AND a.n_chars % 7 = b.n_chars % 7
        |    AND a.doc_id < b.doc_id
        |), truth AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib FROM d a JOIN d b
        |  ON a.source = b.source AND a.n_chars % 5 = b.n_chars % 5
        |    AND a.doc_id < b.doc_id
        |), j AS (
        |  SELECT COALESCE(c.ia, t.ia) AS ia, c.ia IS NOT NULL AS in_c,
        |    t.ia IS NOT NULL AS in_t
        |  FROM cand c FULL OUTER JOIN truth t ON c.ia = t.ia AND c.ib = t.ib
        |), m AS (
        |  SELECT CAST(SUM(CASE WHEN in_c AND in_t THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN in_c AND NOT in_t THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(SUM(CASE WHEN NOT in_c AND in_t THEN 1 ELSE 0 END) AS BIGINT) AS fn
        |  FROM j
        |)
        |SELECT tp, fp, fn,
        |  CAST(tp AS DOUBLE) / NULLIF(tp + fp, 0) AS precision,
        |  CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0) AS recall
        |FROM m""".stripMargin,
    "d47_pipeline_e2e" -> pipelineE2eOracleSql,
    // s21: the streamed composition converges to d47's batch result —
    // shared oracle VERBATIM (the s16 stream ≡ d40 contract composed
    // with deterministic downstream stages).
    "s21_stream_pipeline_e2e" -> pipelineE2eOracleSql,
    "d46_leakfree_split" ->
      """WITH RECURSIVE tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents WHERE doc_id % 2 = 0
        |), g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS grams
        |  FROM tk WHERE len(t) > 1
        |), banded AS (
        |  SELECT doc_id, k,
        |    list_min(list_transform(grams, x -> md5(CAST(k AS VARCHAR) || '|' || x))) AS sig
        |  FROM g, (SELECT unnest(range(0, 8)) AS k)
        |), mh AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM banded a JOIN banded b ON a.k = b.k AND a.sig = b.sig AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 4
        |), sym AS (
        |  SELECT id_a AS u, id_b AS v FROM mh UNION SELECT id_b, id_a FROM mh
        |), reach AS (
        |  SELECT u, v FROM sym
        |  UNION
        |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
        |), comp AS (
        |  SELECT u AS doc_id, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u
        |), d AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0)
        |SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component,
        |  CASE WHEN substring(md5(CAST(COALESCE(c.component, d.doc_id) AS VARCHAR)), 1, 1) < '8'
        |       THEN 'train' ELSE 'test' END AS split
        |FROM d LEFT JOIN comp c USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    "d43_linkage_scores" ->
      """WITH d AS (
        |  SELECT doc_id, lang, source, n_chars, text FROM documents
        |), p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    a.source AS source_a, b.source AS source_b,
        |    a.n_chars AS nc_a, b.n_chars AS nc_b,
        |    regexp_split_to_array(trim(lower(a.text)), '\s+')[1] AS ft_a,
        |    regexp_split_to_array(trim(lower(b.text)), '\s+')[1] AS ft_b
        |  FROM d a JOIN d b ON a.lang = b.lang
        |    AND a.n_chars % 17 = b.n_chars % 17 AND a.doc_id < b.doc_id
        |), sc AS (
        |  SELECT id_a, id_b,
        |    CASE WHEN source_a = source_b THEN 1 ELSE 0 END AS same_source_agree,
        |    CASE WHEN abs(nc_a - nc_b) <= 5 THEN 1 ELSE 0 END AS close_length_agree,
        |    CASE WHEN ft_a = ft_b THEN 1 ELSE 0 END AS first_token_agree,
        |    (CASE WHEN source_a = source_b THEN 24 ELSE -8 END
        |     + CASE WHEN abs(nc_a - nc_b) <= 5 THEN 11 ELSE -5 END
        |     + CASE WHEN ft_a = ft_b THEN 6 ELSE -2 END) AS score
        |  FROM p
        |)
        |SELECT id_a, id_b, same_source_agree, close_length_agree,
        |  first_token_agree, CAST(score AS BIGINT) AS score,
        |  CASE WHEN score >= 20 THEN 'link' WHEN score > 0 THEN 'possible'
        |       ELSE 'non-link' END AS decision
        |FROM sc ORDER BY id_a, id_b""".stripMargin,
    "d56_fuzzy_linkage" ->
      """WITH d AS (
        |  SELECT doc_id, lang, source, n_chars, substr(text, 1, 12) AS prefix
        |  FROM documents
        |), p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CASE WHEN a.source = b.source THEN 1 ELSE 0 END AS same_source_agree,
        |    CASE WHEN ROUND(jaro_winkler_similarity(a.prefix, b.prefix), 4) >= 0.9
        |      THEN 1 ELSE 0 END AS fuzzy_prefix_agree,
        |    (CASE WHEN a.source = b.source THEN 24 ELSE -8 END
        |     + CASE WHEN ROUND(jaro_winkler_similarity(a.prefix, b.prefix), 4) >= 0.9
        |       THEN 13 ELSE -4 END) AS score
        |  FROM d a JOIN d b ON a.lang = b.lang
        |    AND a.n_chars % 17 = b.n_chars % 17 AND a.doc_id < b.doc_id
        |)
        |SELECT id_a, id_b, same_source_agree, fuzzy_prefix_agree,
        |  CAST(score AS BIGINT) AS score,
        |  CASE WHEN score >= 30 THEN 'link' WHEN score > 5 THEN 'possible'
        |       ELSE 'non-link' END AS decision
        |FROM p ORDER BY id_a, id_b""".stripMargin,
    // d53: d43's scored pairs at decision='link' (score >= 20) feed
    // d36's recursive closure + survivorship — the whole ER pipeline in
    // one gate.
    "d53_er_e2e" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, lang, source, n_chars, text FROM documents
        |), p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    (CASE WHEN a.source = b.source THEN 24 ELSE -8 END
        |     + CASE WHEN abs(a.n_chars - b.n_chars) <= 5 THEN 11 ELSE -5 END
        |     + CASE WHEN regexp_split_to_array(trim(lower(a.text)), '\s+')[1] =
        |            regexp_split_to_array(trim(lower(b.text)), '\s+')[1]
        |       THEN 6 ELSE -2 END) AS score
        |  FROM d a JOIN d b ON a.lang = b.lang
        |    AND a.n_chars % 17 = b.n_chars % 17 AND a.doc_id < b.doc_id
        |), edges AS (
        |  SELECT id_a, id_b FROM p WHERE score >= 20
        |), sym AS (
        |  SELECT id_a AS u, id_b AS v FROM edges UNION SELECT id_b, id_a FROM edges
        |), reach AS (
        |  SELECT u, v FROM sym
        |  UNION
        |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
        |), comp AS (
        |  SELECT u AS doc_id, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u
        |), lbl AS (
        |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster_id
        |  FROM d LEFT JOIN comp c USING (doc_id)
        |), stats AS (
        |  SELECT cluster_id, COUNT(*) AS n_members,
        |    list_sort(list(doc_id)) AS member_ids
        |  FROM lbl GROUP BY cluster_id
        |), ranked AS (
        |  SELECT l.cluster_id, d.doc_id, d.lang, d.source, d.n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY l.cluster_id
        |      ORDER BY d.n_chars DESC, d.doc_id) AS rn
        |  FROM lbl l JOIN d USING (doc_id)
        |)
        |SELECT r.cluster_id, s.n_members,
        |  array_to_string(s.member_ids, ',') AS member_ids,
        |  r.doc_id AS canonical_id, r.lang, r.source, r.n_chars
        |FROM ranked r JOIN stats s USING (cluster_id)
        |WHERE rn = 1 ORDER BY r.cluster_id""".stripMargin,
    "d44_source_containment" ->
      """WITH tk AS (
        |  SELECT source, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents
        |), g AS (
        |  SELECT DISTINCT source, gram FROM (
        |    SELECT source,
        |      unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS gram
        |    FROM tk WHERE len(t) > 1)
        |), tot AS (
        |  SELECT source AS source_a, CAST(COUNT(*) AS BIGINT) AS n_a FROM g GROUP BY 1
        |), com AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_common
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.source <> b.source
        |  GROUP BY 1, 2
        |)
        |SELECT c.source_a, c.source_b, c.n_common, t.n_a,
        |  CAST(c.n_common AS DOUBLE) / t.n_a AS containment
        |FROM com c JOIN tot t USING (source_a)
        |ORDER BY source_a, source_b""".stripMargin,
    "d36_golden_records" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id % 2 = 0
        |), pa AS (
        |  SELECT x.doc_id AS id_a, y.doc_id AS id_b FROM d x JOIN d y
        |  ON x.lang = y.lang AND x.n_chars % 101 = y.n_chars % 101
        |    AND x.doc_id < y.doc_id
        |), pb AS (
        |  SELECT x.doc_id AS id_a, y.doc_id AS id_b FROM d x JOIN d y
        |  ON x.source = y.source AND x.n_chars % 23 = y.n_chars % 23
        |    AND x.doc_id < y.doc_id
        |), edges AS (
        |  SELECT id_a, id_b FROM pa UNION SELECT id_a, id_b FROM pb
        |), sym AS (
        |  SELECT id_a AS u, id_b AS v FROM edges UNION SELECT id_b, id_a FROM edges
        |), reach AS (
        |  SELECT u, v FROM sym
        |  UNION
        |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
        |), comp AS (
        |  SELECT u AS doc_id, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u
        |), lbl AS (
        |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster_id
        |  FROM d LEFT JOIN comp c USING (doc_id)
        |), stats AS (
        |  SELECT cluster_id, COUNT(*) AS n_members,
        |    list_sort(list(doc_id)) AS member_ids
        |  FROM lbl GROUP BY cluster_id
        |), ranked AS (
        |  SELECT l.cluster_id, d.doc_id, d.lang, d.source, d.n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY l.cluster_id
        |      ORDER BY d.n_chars DESC, d.doc_id) AS rn
        |  FROM lbl l JOIN d USING (doc_id)
        |)
        |SELECT r.cluster_id, s.n_members,
        |  array_to_string(s.member_ids, ',') AS member_ids,
        |  r.doc_id AS canonical_id, r.lang, r.source, r.n_chars
        |FROM ranked r JOIN stats s USING (cluster_id)
        |WHERE rn = 1 ORDER BY r.cluster_id""".stripMargin,
    "d34_sorted_neighborhood" ->
      """WITH toks AS (
        |  SELECT doc_id, text, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
        |  FROM documents
        |), f AS (SELECT * FROM toks WHERE len(ts) >= 2),
        |grams AS (
        |  SELECT doc_id, substr(text, 1, 20) AS bkey,
        |         list_sort(list_distinct([ts[i] || ' ' || ts[i+1] FOR i IN range(1, len(ts))])) AS gs
        |  FROM f
        |), pos AS (
        |  SELECT doc_id, gs, len(gs) AS m,
        |         row_number() OVER (ORDER BY bkey, doc_id) AS pos
        |  FROM grams
        |), cand AS (
        |  SELECT least(a.doc_id, b.doc_id) AS id_a, greatest(a.doc_id, b.doc_id) AS id_b,
        |         len(list_intersect(a.gs, b.gs)) AS inter,
        |         CASE WHEN a.doc_id < b.doc_id THEN a.m ELSE b.m END AS m_a,
        |         CASE WHEN a.doc_id < b.doc_id THEN b.m ELSE a.m END AS m_b
        |  FROM pos a JOIN pos b ON b.pos - a.pos BETWEEN 1 AND 3
        |)
        |SELECT id_a, id_b, inter, m_a, m_b FROM cand
        |WHERE inter * 2 >= (m_a + m_b - inter)
        |ORDER BY id_a, id_b""".stripMargin,
    "d32_setsim_join" ->
      """WITH toks AS (
        |  SELECT doc_id, ts FROM (
        |    SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
        |    FROM documents) WHERE len(ts) >= 3
        |), big AS (
        |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS gram
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(ts) - 1)) AS i) u
        |), m AS (SELECT doc_id, COUNT(*) AS m FROM big GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM big a JOIN big b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT id_a, id_b, inter, ma.m AS m_a, mb.m AS m_b
        |FROM inter JOIN m ma ON ma.doc_id = id_a JOIN m mb ON mb.doc_id = id_b
        |WHERE inter * 2 >= (ma.m + mb.m - inter)
        |ORDER BY id_a, id_b""".stripMargin,
    "q47_funnel" -> funnelOracleSql,
    "s10_stream_funnel" -> funnelOracleSql,
    "q48_cohort_retention" ->
      """WITH ev AS (
        |  SELECT user_id,
        |    (epoch_us(ts) - 1704067200000000) // 604800000000 AS week
        |  FROM events
        |), c AS (SELECT user_id, MIN(week) AS cohort_week FROM ev GROUP BY 1)
        |SELECT c.cohort_week, ev.week - c.cohort_week AS offset_week,
        |  CAST(COUNT(DISTINCT ev.user_id) AS BIGINT) AS n_users
        |FROM ev JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q49_resample_locf" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS us,
        |    epoch_us(ts) // 86400000000 AS d
        |  FROM events
        |), per_day AS (
        |  SELECT user_id, d, value FROM (
        |    SELECT user_id, d, value,
        |      row_number() OVER (PARTITION BY user_id, d
        |                         ORDER BY us DESC, event_id DESC) AS rn
        |    FROM ev) WHERE rn = 1
        |), grid AS (
        |  SELECT user_id, unnest(range(MIN(d), MAX(d) + 1)) AS d
        |  FROM ev GROUP BY user_id
        |)
        |SELECT g.user_id, g.d AS day,
        |  last_value(p.value IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_value
        |FROM grid g LEFT JOIN per_day p ON g.user_id = p.user_id AND g.d = p.d
        |ORDER BY g.user_id, g.d""".stripMargin,
    "d31_inverted_index" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
        |  FROM documents
        |), big AS (
        |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] AS gram
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(ts))) AS i) u
        |)
        |SELECT gram, CAST(COUNT(*) AS BIGINT) AS df,
        |  array_to_string(list_sort(list(doc_id)), ',') AS postings
        |FROM big GROUP BY gram HAVING COUNT(*) BETWEEN 3 AND 40
        |ORDER BY gram""".stripMargin,
    "s09_stream_audit" ->
      """WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM orders),
        |v AS (
        |  SELECT 'date_in_range' AS check_name,
        |    CAST(COUNT(*) FILTER (WHERE NOT COALESCE(
        |      o_orderdate >= TIMESTAMP '1992-01-01'
        |      AND o_orderdate < TIMESTAMP '1999-01-01', FALSE)) AS BIGINT) AS n_violations
        |  FROM orders
        |  UNION ALL SELECT 'orderkey_not_null',
        |    CAST(COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT) FROM orders
        |  UNION ALL SELECT 'priority_pattern',
        |    CAST(COUNT(*) FILTER (WHERE NOT COALESCE(
        |      regexp_matches(o_orderpriority, '^[1-5]-'), FALSE)) AS BIGINT) FROM orders
        |  UNION ALL SELECT 'status_in_domain',
        |    CAST(COUNT(*) FILTER (WHERE NOT COALESCE(
        |      o_orderstatus IN ('O','F','P'), FALSE)) AS BIGINT) FROM orders
        |  UNION ALL SELECT 'totalprice_positive',
        |    CAST(COUNT(*) FILTER (WHERE NOT COALESCE(o_totalprice > 0, FALSE)) AS BIGINT) FROM orders
        |)
        |SELECT check_name, n.c AS n_rows, n_violations, n_violations = 0 AS passed
        |FROM v, n ORDER BY check_name""".stripMargin,
    "q50_pagerank" -> pageRankOracleSql,
    "q62_label_prop" -> labelPropOracleSql,
    "q63_sssp" -> ssspOracleSql,
    "q78_sql_subqueries" -> sqlSubqueriesSql,
    "q81_sql_3way_topk" -> sql3WayTopkSql,
    "q82_sql_4way_exists" -> sql4WayExistsSql,
    "q92_sql_scalar_min" -> sqlScalarMinSql,
    "q100_sql_scalar_avg" -> sqlScalarAvgSql,
    "q103_sql_volume_shipping" -> sqlVolumeShippingSql,
    "q104_sql_market_share" -> sqlMarketShareSql,
    "q102_seasonal_mase" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2
        |), scored AS (
        |  SELECT a.event_type, ABS(a.x - s7.x) AS es, ABS(a.x - n1.x) AS en
        |  FROM daily a
        |  JOIN daily s7 ON s7.event_type = a.event_type
        |    AND a.day = s7.day + INTERVAL 7 DAY
        |  JOIN daily n1 ON n1.event_type = a.event_type
        |    AND a.day = n1.day + INTERVAL 1 DAY
        |)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |  CAST(SUM(es) AS BIGINT) AS sad_seasonal,
        |  CAST(SUM(en) AS BIGINT) AS sad_naive,
        |  ROUND(CAST(SUM(es) AS DOUBLE) / CAST(SUM(en) AS DOUBLE), 4) AS mase
        |FROM scored GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q101_sql_nested_in" -> sqlNestedInSql,
    "q93_sql_within_group" -> sqlWithinGroupSql,
    // s31: per-doc stateless screen — the stream converges to the batch
    // screen exactly, so it shares d67's oracle under its own key
    "s31_stream_blocklist" -> d67OracleSql,
    // q94: the day-sliced sweep in closed SQL — same slicing (floor-div
    // day index, clamped segments), same prior-end running max, same
    // int64 contributions
    "q95_link_prediction" -> linkPredictionOracleSql,
    "q97_hits" -> hitsOracleSql,
    "q98_theil_sen" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2
        |), pairs AS (
        |  SELECT a.event_type,
        |    CAST(b.x - a.x AS DOUBLE) / CAST(b.h - a.h AS DOUBLE) AS slope
        |  FROM hourly a JOIN hourly b
        |    ON a.event_type = b.event_type AND a.h < b.h
        |), ranked AS (
        |  SELECT event_type, slope,
        |    row_number() OVER (PARTITION BY event_type ORDER BY slope) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM pairs
        |)
        |SELECT event_type, n AS n_pairs, ROUND(slope, 4) AS slope_med
        |FROM ranked WHERE rn = (n - 1) // 2 + 1
        |ORDER BY event_type""".stripMargin,
    "q96_autocorrelation" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2
        |), pairs AS (
        |  SELECT event_type, 1 AS lag, x,
        |    lag(x, 1) OVER (PARTITION BY event_type ORDER BY h) AS y FROM hourly
        |  UNION ALL SELECT event_type, 2, x,
        |    lag(x, 2) OVER (PARTITION BY event_type ORDER BY h) FROM hourly
        |  UNION ALL SELECT event_type, 3, x,
        |    lag(x, 3) OVER (PARTITION BY event_type ORDER BY h) FROM hourly
        |), agg AS (
        |  SELECT event_type, lag, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    CAST(SUM(y * y) AS BIGINT) AS syy
        |  FROM pairs WHERE y IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT event_type, lag, n,
        |  ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
        |    sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
        |      (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 4) AS acf
        |FROM agg WHERE n >= 8
        |ORDER BY event_type, lag""".stripMargin,
    "q94_interval_coverage" ->
      """WITH iv AS (
        |  SELECT event_type, epoch_us(ts) AS st,
        |    epoch_us(ts) + 60000000 * (event_id % 7 + 1) AS en
        |  FROM events
        |), seg AS (
        |  SELECT event_type, s.s AS slice,
        |    GREATEST(st, s.s * 86400000000) AS st2,
        |    LEAST(en, (s.s + 1) * 86400000000) AS en2
        |  FROM iv, LATERAL (SELECT unnest(range(st // 86400000000,
        |    en // 86400000000 + 1)) AS s) s
        |), sw AS (
        |  SELECT event_type, st2, en2,
        |    MAX(en2) OVER (PARTITION BY event_type, slice
        |      ORDER BY st2, en2
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM seg
        |), cov AS (
        |  SELECT event_type,
        |    GREATEST(en2 - GREATEST(st2, COALESCE(pmax, st2)), 0) AS c
        |  FROM sw
        |)
        |SELECT c.event_type, CAST(SUM(c.c) AS BIGINT) AS covered_us,
        |  n.n_intervals
        |FROM cov c
        |JOIN (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_intervals
        |      FROM iv GROUP BY 1) n USING (event_type)
        |GROUP BY c.event_type, n.n_intervals
        |ORDER BY c.event_type""".stripMargin,
    "q86_sql_setops" -> sqlSetOpsSql,
    "q90_recursive_cte" -> sqlRecursiveCteSql,
    "q87_sql_lateral" -> sqlLateralSql,
    "q83_grouping_sets" -> sqlGroupingSetsSql,
    // q85: spine + two IGNORE NULLS neighbour windows + the same fixed
    // interpolation tree over the same ROUND(,2)-pinned daily sums
    // q88: the melt unrolled as UNION ALL — the engine-neutral spelling
    // (DuckDB's UNPIVOT statement syntax differs from Spark's; the
    // CONTENT is what the gate pins). All-integer metrics.
    "q88_unpivot" ->
      """WITH agg AS (
        |  SELECT l_returnflag,
        |    CAST(COUNT(*) AS BIGINT) AS n_items,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |    CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS distinct_parts
        |  FROM lineitem GROUP BY l_returnflag
        |)
        |SELECT l_returnflag, 'n_items' AS metric, n_items AS value FROM agg
        |UNION ALL
        |SELECT l_returnflag, 'sum_qty' AS metric, sum_qty FROM agg
        |UNION ALL
        |SELECT l_returnflag, 'distinct_parts' AS metric, distinct_parts FROM agg
        |ORDER BY l_returnflag, metric""".stripMargin,
    // q91: the same pinned-order fold — DuckDB list_reduce seeds with
    // the first element exactly like the null-init Spark fold, and each
    // step is the identical e*0.5 + x*0.5 op tree
    "q91_ewma" ->
      """SELECT user_id,
        |  list_reduce(list(value ORDER BY ts, event_id),
        |    (e, x) -> e * 0.5 + x * 0.5) AS ewma
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // s27: the streaming twin shares q91's fold oracle (stream ≡ batch)
    "s27_stream_ewma" ->
      """SELECT user_id,
        |  list_reduce(list(value ORDER BY ts, event_id),
        |    (e, x) -> e * 0.5 + x * 0.5) AS ewma
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // q89: OHLC bars — open/close via arg_min/arg_max on ts (unique
    // within (event_type, hour) at every SF, verified), high/low/count
    // order-free; no float folds anywhere, so doubles match exactly.
    "q89_ohlc_resample" ->
      """SELECT event_type, date_trunc('hour', ts) AS bar_ts,
        |  arg_min(value, ts) AS open, MAX(value) AS high, MIN(value) AS low,
        |  arg_max(value, ts) AS close, CAST(COUNT(*) AS BIGINT) AS volume
        |FROM events GROUP BY event_type, date_trunc('hour', ts)
        |ORDER BY event_type, bar_ts""".stripMargin,
    // s25: the streaming twin shares q89's exact-bars oracle (stream must
    // converge to batch)
    "s25_stream_ohlc" ->
      """SELECT event_type, date_trunc('hour', ts) AS bar_ts,
        |  arg_min(value, ts) AS open, MAX(value) AS high, MIN(value) AS low,
        |  arg_max(value, ts) AS close, CAST(COUNT(*) AS BIGINT) AS volume
        |FROM events GROUP BY event_type, date_trunc('hour', ts)
        |ORDER BY event_type, bar_ts""".stripMargin,
    "q85_gapfill_interpolate" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
        |    ROUND(SUM(value), 2) AS v
        |  FROM events WHERE value > 190 GROUP BY 1, 2
        |), spine AS (
        |  SELECT event_type, unnest(range(lo, hi + 1)) AS day
        |  FROM (SELECT event_type, MIN(day) AS lo, MAX(day) AS hi
        |        FROM daily GROUP BY 1)
        |), j AS (
        |  SELECT s.event_type, s.day, d.v
        |  FROM spine s LEFT JOIN daily d
        |    ON d.event_type = s.event_type AND d.day = s.day
        |), w AS (
        |  SELECT event_type, day, v,
        |    LAST_VALUE(v IGNORE NULLS) OVER pw AS pv,
        |    LAST_VALUE(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER pw AS pb,
        |    FIRST_VALUE(v IGNORE NULLS) OVER nw AS nv,
        |    FIRST_VALUE(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER nw AS nb
        |  FROM j
        |  WINDOW pw AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  nw AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |)
        |SELECT event_type, CAST(day AS INT) AS day,
        |  ROUND(CASE WHEN v IS NOT NULL THEN v
        |    ELSE pv + (nv - pv) * CAST(day - pb AS DOUBLE) / CAST(nb - pb AS DOUBLE)
        |  END, 4) AS v,
        |  v IS NULL AS filled
        |FROM w ORDER BY event_type, day""".stripMargin,
    // q84: the planted block-clique+path graph's coreness is known in
    // closed form — clique position => m-1, path position => 1.
    "q84_kcore" ->
      """SELECT p_partkey AS v,
        |  CAST(CASE WHEN p_partkey % 8 < 3 + (p_partkey // 8) % 6
        |       THEN 2 + (p_partkey // 8) % 6 ELSE 1 END AS BIGINT) AS coreness
        |FROM part
        |WHERE p_partkey < (SELECT (COUNT(*) // 8) * 8 FROM part)
        |ORDER BY v""".stripMargin,
    // q79: the binary forest parent(k) = k/2 has closed-form subtree
    // sums — descendants of v at depth j are the consecutive range
    // [v·2^j, v·2^j + 2^j − 1] ∩ [1, n], so each level contributes one
    // arithmetic-series sum. The generic engine must recover them by
    // upward accumulation.
    "q80_node_depth" ->
      """WITH k AS (SELECT p_partkey + 1 AS v FROM part)
        |SELECT k.v, CAST(1 AS BIGINT) AS root,
        |  CAST(SUM(CASE WHEN k.v >= (1 << j.j) THEN 1 ELSE 0 END) AS BIGINT) AS depth
        |FROM k, LATERAL (SELECT unnest(range(1, 40)) AS j) j
        |GROUP BY k.v ORDER BY k.v""".stripMargin,
    "q79_subtree_rollup" ->
      """WITH k AS (SELECT p_partkey + 1 AS v FROM part),
        |nn AS (SELECT MAX(v) AS n FROM k)
        |SELECT k.v,
        |  CAST(SUM(CASE WHEN k.v * (1 << j.j) <= nn.n THEN
        |    ((k.v * (1 << j.j)) +
        |     LEAST(k.v * (1 << j.j) + (1 << j.j) - 1, nn.n)) *
        |    (LEAST(k.v * (1 << j.j) + (1 << j.j) - 1, nn.n)
        |     - k.v * (1 << j.j) + 1) // 2
        |  ELSE 0 END) AS BIGINT) AS subtree_sum
        |FROM k CROSS JOIN nn, LATERAL (SELECT unnest(range(0, 40)) AS j) j
        |GROUP BY k.v ORDER BY k.v""".stripMargin,
    "q77_window_family" ->
      """SELECT o_custkey, o_orderkey,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd,
        |  CAST(ntile(4) OVER w AS INT) AS q4,
        |  lag(o_orderkey, 1) OVER w AS prev_key,
        |  lead(o_orderkey, 2, -1) OVER w AS next2_key,
        |  nth_value(o_orderkey, 2) OVER w AS second_key
        |FROM orders WHERE o_custkey <= 300
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    // q76: the planted block-cycle digraph's SCCs are known in closed
    // form — each 8-key block is one cycle (one SCC labelled by its
    // min = block start); the star forward bridges merge nothing.
    "q76_scc" ->
      """SELECT p_partkey AS v,
        |  (p_partkey // 8) * 8 AS component
        |FROM part ORDER BY v""".stripMargin,
    "q66_modularity" -> modularityOracleSql,
    // q51/s12's oracle deliberately recomputes the aggregate FROM SCRATCH
    // over the changed base (survivors = base minus deleted bucket plus the
    // non-bucket-3 post-cutoff inserts): the Spark side must reproduce it
    // via the incremental delta-merge path (batch q51, streamed s12),
    // including dropping bucket 3's groups when their refreshed count
    // reaches zero.
    "q51_ivm_refresh" -> ivmOracleSql,
    "s12_stream_ivm" -> ivmOracleSql,
    // q52: recursive-CTE shortest paths over the same affine-map graph.
    // UNION (distinct) recursion generates every (v, depth<=12) pair once;
    // MIN(d) is the hop distance — exact integers end to end, so the full
    // distance map is hash-safe.
    "q52_bfs_distances" ->
      """WITH RECURSIVE n AS (SELECT COUNT(*) AS n FROM part),
        |raw AS (
        |  SELECT p_partkey AS src, ((p_partkey * 31 + 7) % n.n) + 1 AS dst FROM part, n
        |  UNION ALL SELECT p_partkey, ((p_partkey * 17 + 3) % n.n) + 1 FROM part, n
        |  UNION ALL SELECT p_partkey, ((p_partkey * 13 + 11) % n.n) + 1 FROM part, n
        |  UNION ALL SELECT p_partkey, ((p_partkey * 7 + 1) % n.n) + 1 FROM part, n
        |  UNION ALL SELECT p_partkey, ((p_partkey * 41 + 19) % n.n) + 1 FROM part, n
        |), e AS (
        |  SELECT DISTINCT src, dst FROM raw WHERE src <> dst
        |), bfs AS (
        |  SELECT CAST(v AS BIGINT) AS v, 0 AS d FROM (VALUES (1), (2), (3)) AS s(v)
        |  UNION
        |  SELECT e.dst AS v, bfs.d + 1 AS d FROM bfs JOIN e ON e.src = bfs.v
        |  WHERE bfs.d < 12
        |)
        |SELECT v, CAST(MIN(d) AS INTEGER) AS d FROM bfs GROUP BY v ORDER BY v""".stripMargin,
    "q53_kmv_overlap" -> kmvOverlapOracleSql,
    "s13_stream_kmv" -> kmvOverlapOracleSql,
    // q56/s15: same five integer sums, same rational numerators — DuckDB's
    // hugeint sums are cast back to BIGINT so both engines hash longs (the
    // streamed twin accumulates the sums in the state store; integer sums
    // are batching-insensitive, so it shares this oracle bit for bit).
    "s15_stream_trend" -> trendOracleSql,
    "q56_trend" -> trendOracleSql,
    // q60: same full outer join, per-column IS DISTINCT FROM = the
    // null-safe struct compare.
    "q60_snapshot_diff" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders
        |), o AS (SELECT * FROM base WHERE o_orderkey % 10 <> 0),
        |n AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice,
        |    o_orderstatus
        |  FROM base WHERE o_orderkey % 7 <> 0
        |), d AS (
        |  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |    CASE WHEN n.o_orderkey IS NULL THEN o.o_custkey
        |         ELSE n.o_custkey END AS o_custkey,
        |    CASE WHEN n.o_orderkey IS NULL THEN o.o_totalprice
        |         ELSE n.o_totalprice END AS o_totalprice,
        |    CASE WHEN n.o_orderkey IS NULL THEN o.o_orderstatus
        |         ELSE n.o_orderstatus END AS o_orderstatus,
        |    CASE WHEN o.o_orderkey IS NULL THEN 'I'
        |         WHEN n.o_orderkey IS NULL THEN 'D'
        |         WHEN (o.o_custkey IS DISTINCT FROM n.o_custkey)
        |           OR (o.o_totalprice IS DISTINCT FROM n.o_totalprice)
        |           OR (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
        |         THEN 'U' END AS change_type
        |  FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
        |)
        |SELECT * FROM d WHERE change_type IS NOT NULL ORDER BY o_orderkey""".stripMargin,
    // q58/s14: same lag over the same (ts, event_id) total order (the
    // streamed twin carries one last-event per user instead of a window).
    "s14_stream_transitions" ->
      """WITH r AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |)
        |SELECT prev AS from_type, event_type AS to_type,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM r WHERE prev IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q58_transitions" ->
      """WITH r AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |)
        |SELECT prev AS from_type, event_type AS to_type,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM r WHERE prev IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q59: same +1/-1 sweep — ends before starts at equal instants, the
    // peak and its earliest time are order-independent under tied deltas.
    "q59_concurrency" ->
      """WITH iv AS (
        |  SELECT event_type, epoch_us(ts) AS st,
        |    epoch_us(ts) + (CAST(floor(value) AS BIGINT) + 1) * 1000000 AS en
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
        |), deltas AS (
        |  SELECT event_type, st AS t, CAST(1 AS BIGINT) AS d FROM iv
        |  UNION ALL SELECT event_type, en, CAST(-1 AS BIGINT) FROM iv
        |), run AS (
        |  SELECT event_type, t,
        |    SUM(d) OVER (PARTITION BY event_type ORDER BY t, d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        |  FROM deltas
        |), mx AS (
        |  SELECT event_type, MAX(c) AS max_concurrent FROM run GROUP BY 1
        |)
        |SELECT r.event_type, CAST(m.max_concurrent AS BIGINT) AS max_concurrent,
        |  MIN(r.t) AS peak_us
        |FROM run r JOIN mx m ON r.event_type = m.event_type
        |  AND r.c = m.max_concurrent
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    // q57: ties collapsed on (group, x) first, then the integer 2·cumw ≥ W
    // rule over distinct x — identical construction both engines.
    "q57_weighted_median" ->
      """WITH perx AS (
        |  SELECT l_returnflag, l_quantity AS x,
        |    SUM(CAST(l_linenumber AS BIGINT)) AS w
        |  FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1, 2
        |), c AS (
        |  SELECT l_returnflag, x,
        |    SUM(w) OVER (PARTITION BY l_returnflag ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |    SUM(w) OVER (PARTITION BY l_returnflag) AS tw
        |  FROM perx
        |)
        |SELECT l_returnflag, MIN(x) AS wmed FROM c
        |WHERE cw * 2 >= tw GROUP BY 1 ORDER BY 1""".stripMargin,
    // q54: the O(n²) dominance definition — the distributed bucketed plan
    // must reproduce it exactly (ties and duplicate points included).
    "q54_skyline" ->
      """SELECT p1.p_partkey, p1.p_size, p1.p_retailprice FROM part p1
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part p2
        |  WHERE p2.p_size <= p1.p_size AND p2.p_retailprice <= p1.p_retailprice
        |    AND (p2.p_size < p1.p_size OR p2.p_retailprice < p1.p_retailprice))
        |ORDER BY p1.p_size, p1.p_retailprice, p1.p_partkey""".stripMargin,
    // q55: structural median/MAD — both engines pick ranks ⌊(n+1)/2⌋ and
    // ⌊(n+2)/2⌋ from the same per-group sort and fold them with ONE add +
    // ONE divide, so the doubles are bit-identical (no interpolation
    // formula in play; see PERF.md's float-determinism note).
    "q55_mad_outliers" ->
      """WITH b AS (
        |  SELECT event_type, CAST(value AS DOUBLE) AS x
        |  FROM events WHERE value IS NOT NULL
        |), r AS (
        |  SELECT event_type, x,
        |    row_number() OVER (PARTITION BY event_type ORDER BY x) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM b
        |), m AS (
        |  SELECT event_type, SUM(x) / COUNT(*) AS med
        |  FROM r WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
        |  GROUP BY event_type
        |), dev AS (
        |  SELECT b.event_type, ABS(b.x - m.med) AS dv, m.med AS med
        |  FROM b JOIN m USING (event_type)
        |), r2 AS (
        |  SELECT event_type, dv,
        |    row_number() OVER (PARTITION BY event_type ORDER BY dv) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM dev
        |), mad AS (
        |  SELECT event_type, SUM(dv) / COUNT(*) AS mad
        |  FROM r2 WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
        |  GROUP BY event_type
        |)
        |SELECT d.event_type, d.med AS med, mad.mad AS mad,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN d.dv > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM dev d JOIN mad USING (event_type)
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,
    "q46_triangle_count" ->
      """WITH n AS (SELECT COUNT(*) AS n FROM part),
        |raw AS (
        |  SELECT p_partkey AS src, ((p_partkey * 31 + 7) % n.n) + 1 AS dst FROM part, n
        |  UNION ALL SELECT p_partkey, ((p_partkey * 17 + 3) % n.n) + 1 FROM part, n
        |  UNION ALL SELECT p_partkey, ((p_partkey * 13 + 11) % n.n) + 1 FROM part, n
        |  UNION ALL SELECT p_partkey, ((p_partkey * 7 + 1) % n.n) + 1 FROM part, n
        |  UNION ALL SELECT p_partkey, ((p_partkey * 41 + 19) % n.n) + 1 FROM part, n
        |), e AS (
        |  SELECT DISTINCT least(src, dst) AS s, greatest(src, dst) AS t
        |  FROM raw WHERE src <> dst
        |)
        |SELECT CAST((SELECT COUNT(*) FROM e e1
        |  JOIN e e2 ON e1.t = e2.s AND e1.s < e2.s
        |  JOIN e e3 ON e3.s = e1.s AND e3.t = e2.t) AS BIGINT) AS n_triangles""".stripMargin,
    "s08_stream_cdc_merge" -> cdcMergeOracleSql,
    "q43_cdc_merge" -> cdcMergeOracleSql,
    "q61_grouping_sets" ->
      """SELECT CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_pri,
        |  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_st,
        |  o_orderpriority, o_orderstatus,
        |  CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
        |ORDER BY g_pri, g_st, o_orderpriority, o_orderstatus""".stripMargin,
    "q44_cube" ->
      """SELECT CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rf,
        |  CAST(GROUPING(l_linestatus) AS INTEGER) AS g_ls,
        |  l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  SUM(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""".stripMargin,
    "q45_ewma" ->
      """WITH fr AS (
        |  SELECT event_id,
        |    array_agg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS lst
        |  FROM events
        |)
        |SELECT event_id, list_reduce(lst, (a, x) -> (a + x) / 2) AS ewma
        |FROM fr ORDER BY event_id""".stripMargin,
    "q42_quality_audit" ->
      """WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM orders),
        |v AS (
        |  SELECT 'date_in_range' AS check_name,
        |    CAST(COUNT(*) FILTER (WHERE NOT COALESCE(
        |      o_orderdate >= TIMESTAMP '1992-01-01'
        |      AND o_orderdate < TIMESTAMP '1999-01-01', FALSE)) AS BIGINT) AS n_violations
        |  FROM orders
        |  UNION ALL SELECT 'orderkey_not_null',
        |    CAST(COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT) FROM orders
        |  UNION ALL SELECT 'orderkey_unique',
        |    CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) FROM orders
        |  UNION ALL SELECT 'priority_pattern',
        |    CAST(COUNT(*) FILTER (WHERE NOT COALESCE(
        |      regexp_matches(o_orderpriority, '^[1-5]-'), FALSE)) AS BIGINT) FROM orders
        |  UNION ALL SELECT 'status_in_domain',
        |    CAST(COUNT(*) FILTER (WHERE NOT COALESCE(
        |      o_orderstatus IN ('O','F','P'), FALSE)) AS BIGINT) FROM orders
        |  UNION ALL SELECT 'totalprice_positive',
        |    CAST(COUNT(*) FILTER (WHERE NOT COALESCE(o_totalprice > 0, FALSE)) AS BIGINT) FROM orders
        |)
        |SELECT check_name, n.c AS n_rows, n_violations, n_violations = 0 AS passed
        |FROM v, n ORDER BY check_name""".stripMargin,
    // identical winnowing pipeline from shared primitives: same polynomial
    // gram hash (seed 42, ·31 mod 2³¹−1), same h·2²¹+(2²⁰−pos) key encoding
    // (min ⇒ rightmost-tie winnowing rule), same window-min selection
    "d30_winnow_pairs" -> winnowPairsOracleSql,
    "d33_winnow_edit_verify" -> winnowEditVerifyOracleSql,
    "q41_zorder_stats" ->
      s"""WITH z AS (
         |  SELECT l_suppkey, l_partkey, l_orderkey, l_linenumber,
         |    ${zInterleaveSql("l_suppkey", "l_partkey", 16)} AS zval
         |  FROM lineitem
         |)
         |SELECT bucket, MIN(l_suppkey) AS x_min, MAX(l_suppkey) AS x_max,
         |  MIN(l_partkey) AS y_min, MAX(l_partkey) AS y_max, COUNT(*) AS n
         |FROM (SELECT *, ntile(16) OVER (
         |        ORDER BY zval, l_orderkey, l_linenumber) AS bucket FROM z)
         |GROUP BY bucket ORDER BY bucket""".stripMargin
  )
}
