package graft.pipeline

import graft.geo.GeoFunctions._
import graft.ops.{Aggregations, Cci, SpatialJoin}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/**
 * The storm impact dataflow (SURVEY.md §3.1) re-expressed as declarative
 * DataFrame pipelines. One call = one (storm, forecast, country) unit, like
 * the reference's create_views_from_envelopes_in_country
 * (impact_analysis.py:2757-2933) — but each per-threshold pandas loop
 * becomes a single DataFrame carrying `wind_threshold`.
 *
 * Scale notes: envelopes are ≤ 51 members × 8 thresholds per storm — always
 * broadcastable. Every view below is therefore a narrow map over the big side
 * (tiles/facilities) plus at most one small aggregation shuffle; tiles can be
 * partitioned by quadkey prefix without affecting results.
 */
object ImpactPipeline {

  /**
   * Tile impact view (impact_analysis.py:1855-1927): per (tile, threshold)
   * probability = intersecting-member-count / 51, E_col = col * probability
   * for every data column, raw data columns dropped. All tiles are retained
   * per threshold (probability 0 included) — the CCI band algebra needs the
   * complete grid.
   */
  def tileView(tiles: DataFrame, envelopes: DataFrame): DataFrame = {
    val withProb = SpatialJoin.probabilityByThreshold(
      tiles, "geometry", envelopes, "geometry", keepZeroRows = true)
    val withE = Aggregations.expectedValues(withProb, Constants.TileDataCols)
    withE
      .drop(Constants.TileDataCols.filter(withE.columns.contains): _*)
      .withColumnRenamed("tile_id", "zone_id")
      .drop("geometry")
  }

  /**
   * Per-facility impact view (impact_analysis.py:1620-1686): facilities
   * buffered 150 m, probability per (facility, threshold); all facility
   * attributes preserved; one row per facility per threshold.
   */
  def facilityView(facilities: DataFrame, envelopes: DataFrame, idCol: String,
                   bufferMeters: Double = Constants.FacilityBufferMeters): DataFrame = {
    val buffered = facilities.withColumn("__buffered",
      st_buffer_m(col("geometry"), lit(bufferMeters)))
    SpatialJoin.probabilityByThreshold(
        buffered, "__buffered", envelopes, "geometry", keepZeroRows = true)
      .drop("__buffered")
      .withColumn("zone_id", col(idCol))
  }

  /**
   * Admin impact view (impact_analysis.py:1930-2035): tile view rows mapped
   * to admin `id`, grouped: SUM for E_ count/population columns (optional —
   * all-null stays null — for the facility-count E_cols,
   * impact_analysis.py:152-164), MEAN for E_smod/E_rwi/probability. Output
   * keys the admin id in a column named `tile_id` (reference naming quirk,
   * impact_analysis.py:2019-2022) plus the admin `name`.
   */
  def adminView(tileViewDf: DataFrame, tileAdminIds: DataFrame, admins: DataFrame): DataFrame = {
    val sumCols = Seq("E_population", "E_school_age_population",
      "E_infant_population", "E_adolescent_population", "E_built_surface_m2",
      "E_num_schools", "E_num_hcs", "E_num_shelters", "E_num_wash")
    val avgCols = Seq("E_smod_class", "E_smod_class_l1", "E_rwi", "probability")
    // the tile view retains the base layer's admin `id` when present
    // (reference create_admin_view_from_envelopes_new: reuses df_view['id'])
    val withId =
      if (tileViewDf.columns.contains("id")) tileViewDf
      else tileViewDf.join(
        broadcast(tileAdminIds.select(col("tile_id").as("zone_id"), col("id"))),
        Seq("zone_id"), "left")
    val aggs = sumCols.filter(withId.columns.contains).map(c => sum(col(c)).as(c)) ++
      avgCols.filter(withId.columns.contains).map(c => avg(col(c)).as(c))
    withId.groupBy(col("wind_threshold"), col("id"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumnRenamed("id", "tile_id")
      .join(broadcast(admins.select(col("id").as("tile_id"), col("name"))), Seq("tile_id"), "left")
  }

  /**
   * Track (per-ensemble-member) severity view (impact_analysis.py:2038-2091):
   * per (threshold, member) envelope — facility counts within the envelope
   * (null column when a facility layer is absent or empty) and sums of tile
   * metrics over intersecting tiles.
   *
   * One pass: a single broadcast match over the facility points (tagged by
   * kind) and the tiles, at the cluster's width, one groupBy(kind, envelope),
   * and one collect of at most (kinds + 1) × envelopes rows; the rows are
   * assembled on the driver into a local relation, one per envelope in
   * envelope order.
   */
  def trackView(envelopes: DataFrame,
                schools: DataFrame, hcs: DataFrame,
                shelters: Option[DataFrame], wash: Option[DataFrame],
                tiles: DataFrame): DataFrame = {
    val spark = envelopes.sparkSession
    val envRows = graft.util.Collects.boundedCollect(
      envelopes.select(col("wind_threshold"), col("ensemble_member"), col("geometry")),
      what = "trackView envelope side",
      alternative = "SpatialJoin.quadkeyRefineJoin + groupBy")
    val envWkb = envRows.map(_.getAs[Array[Byte]](2))

    val tileMetrics = Seq("population", "school_age_population",
      "infant_population", "adolescent_population", "built_surface_m2")
      .filter(tiles.columns.contains)
    // kinds 0..3 are the facility layers (schools and hcs always present),
    // the tiles come last
    val facilityCols = Seq("severity_schools", "severity_hcs",
      "severity_num_shelters", "severity_num_wash")
    val layers = Seq(Some(schools), Some(hcs), shelters, wash)
    val tileKind = layers.size
    def tagged(kind: Int, df: DataFrame, metrics: Seq[Column]): DataFrame =
      df.select(lit(kind).as("__kind") +: col("geometry") +: metrics: _*)
    val sides = layers.zipWithIndex.collect { case (Some(df), k) =>
      tagged(k, df, tileMetrics.map(c => lit(null).cast(tiles.schema(c).dataType).as(c)))
    } :+ tagged(tileKind, tiles, tileMetrics.map(col))
    // every facility row also counts under envelope -1, which tells an empty
    // layer (null column) from one that misses every envelope (0)
    val envIdx = coalesce(col("__envs"), typedLit(Seq.empty[Int]))
    // the union has every side's partitions, most of them near-empty: the
    // match runs at the cluster's width instead
    val sided = sides.reduce(_ union _).coalesce(spark.sparkContext.defaultParallelism)
    val perKind = SpatialJoin.broadcastMatch(sided, "geometry", envWkb,
        SpatialJoin.Intersects, "__envs")
      .select(col("__kind") +: explode(
          when(col("__kind") < tileKind, concat(envIdx, array(lit(-1)))).otherwise(envIdx))
        .as("__env") +: tileMetrics.map(col): _*)
      .groupBy("__kind", "__env")
      .agg(count(lit(1)).as("__n"), tileMetrics.map(c => sum(col(c)).as(s"severity_$c")): _*)
    val sums = perKind.collect().map(r => (r.getInt(0), r.getInt(1)) -> r).toMap

    // shelters and wash: a count column when the layer has rows, else a null
    // double column
    val counted = facilityCols.indices.map(k => k < 2 || sums.contains((k, -1)))
    val schema = StructType(
      Seq(StructField("wind_threshold", IntegerType, nullable = false),
        StructField("ensemble_member", IntegerType, nullable = false)) ++
      facilityCols.zip(counted).map { case (c, n) => StructField(c, if (n) LongType else DoubleType) } ++
      tileMetrics.map(c => perKind.schema(s"severity_$c")))
    val rows = envRows.indices.map { i =>
      val counts = counted.zipWithIndex.map { case (n, k) =>
        if (n) sums.get((k, i)).map(_.getLong(2)).getOrElse(0L) else null
      }
      val metrics = tileMetrics.indices.map(j => sums.get((tileKind, i)).map(_.get(3 + j)).orNull)
      Row.fromSeq(Seq[Any](envRows(i).getInt(0), envRows(i).getInt(1)) ++ counts ++ metrics)
    }
    spark.createDataFrame(rows.asJava, schema)
      .na.fill(0, tileMetrics.map(c => s"severity_$c"))
  }

  /** CCI tile + admin views (impact_analysis.py:2579-2748, 2897-2917). */
  def cciViews(tileViewDf: DataFrame, tilesWithAdminId: DataFrame): (DataFrame, DataFrame) = {
    val cciTiles = Cci.calculate(tileViewDf, tilesWithAdminId)
    (cciTiles, Cci.adminRollup(cciTiles))
  }
}
