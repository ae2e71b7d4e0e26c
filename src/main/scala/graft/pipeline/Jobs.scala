package graft.pipeline

import graft.io.DataStore
import graft.ops.{AdminOverlay, Aggregations, Cci}
import graft.util.Collects
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.chaining._

/**
 * The three pipeline entry modes (reference main_pipeline.py:816-828):
 * initialize (build base layers), update (process a storm forecast), patch
 * (backfill columns). Each is a deterministic job graph over a [[DataStore]]
 * following the reference's directory layout (FILE_STRUCTURE.md).
 *
 * Incremental semantics (SURVEY.md §2.8): processed-state is a JSON file of
 * "(storm|countries, forecast_time)" keys (storms.json,
 * impact_analysis.py:1590-1606); update() skips already-processed keys
 * unless rewrite=true (J13 anti-join dedup), deletes stale outputs by
 * filename prefix before rewriting (S15), and appends a run-log row after
 * each storm (S16 analogue).
 */
object Jobs {

  val ViewDirs = Seq("school_views", "hc_views", "shelter_views", "wash_views",
    "mercator_impact_views", "admin_impact_views", "track_views", "reports_json")

  // --- processed-state (S14) --------------------------------------------

  def loadProcessed(store: DataStore): Map[String, Any] =
    if (store.exists("storms.json")) Reports.fromJson(store.readText("storms.json"))
    else Map.empty

  def saveProcessed(store: DataStore, processed: Map[String, Any]): Unit =
    store.writeText("storms.json", Reports.toJson(processed))

  def processedKey(storm: String, countries: Seq[String], date: String): String =
    s"$storm|${countries.sorted.mkString(",")}|$date"

  // --- run log (S16) -----------------------------------------------------

  def appendRunLog(store: DataStore, spark: SparkSession, storm: String, date: String,
                   status: String, runtimeSeconds: Double): Unit = {
    import spark.implicits._
    val row = Seq((storm, date, status, runtimeSeconds,
      java.time.Instant.now().toString)).toDF(
      "storm", "forecast_time", "status", "runtime_seconds", "logged_at")
    store.controlTables.append(row, "run_log")
  }

  // --- initialize --------------------------------------------------------

  /**
   * Build and persist the base layers for a country
   * (main_pipeline.py:384-419 → impact_analysis.py:1505-1584): the mercator
   * tile layer with admin ids, per-level admin rollups, and facility caches.
   */
  def initialize(spark: SparkSession, store: DataStore, country: String, zoom: Int,
                 tiles: DataFrame, admins: DataFrame,
                 facilities: Map[String, DataFrame],
                 extraAdminLevels: Map[Int, DataFrame] = Map.empty): Unit = {
    val withIds = AdminOverlay.assign(
      Aggregations.nanToNull(tiles, Constants.TileDataCols), admins)
    store.writeParquet(withIds, s"mercator_views/${country}_$zoom.parquet")
    store.writeParquet(adminLayer(withIds, admins), s"admin_views/${country}_admin1.parquet")

    facilities.foreach { case (kind, df) =>
      store.writeParquet(df, s"${kind}_views/${country}_$kind.parquet")
    }
    extraAdminLevels.foreach { case (level, boundaries) =>
      initializeAdminLevel(spark, store, country, zoom, level, boundaries)
    }
  }

  /**
   * Build + persist the base admin{level} layer from the existing mercator
   * view (create_admin_country_layer; also the patch-mode on-request
   * creation, impact_analysis.py:1456-1466): overlay the tiles onto the
   * level's boundaries, roll up, attach names + geometry. Levels other than
   * 1 also store their tile→region map, which `update` and `patch` read
   * (see [[tileRegions]]).
   */
  def initializeAdminLevel(spark: SparkSession, store: DataStore, country: String,
                           zoom: Int, level: Int, adminBoundaries: DataFrame): Unit = {
    require(level >= 1 && level <= 5, s"admin level $level outside 1..5")
    val base = store.readParquet(spark, s"mercator_views/${country}_$zoom.parquet")
    val withIds =
      if (level == 1) base // the mercator parquet already carries admin1 ids
      else AdminOverlay.assign(base.drop("id"), adminBoundaries)
    if (level != 1) {
      // persist the storm-independent tile→region mapping so each storm
      // update reads it instead of re-running the overlay over every tile
      store.writeParquet(withIds.select("tile_id", "id"),
        s"admin_views/${country}_admin${level}_tile_map.parquet")
    }
    store.writeParquet(adminLayer(withIds, adminBoundaries),
      s"admin_views/${country}_admin$level.parquet")
  }

  /** The admin-level layer (impact_analysis.py:1469-1502): the tiles'
    * sums + means per region `id`, keyed by the region id in a column
    * *named* tile_id (reference naming quirk), with the region's name and
    * geometry from `boundaries` (id, name, geometry). */
  private def adminLayer(withIds: DataFrame, boundaries: DataFrame): DataFrame =
    Aggregations.adminRollup(withIds.drop("tile_id", "geometry"), "id")
      .withColumnRenamed("id", "tile_id")
      .join(broadcast(boundaries.select(col("id").as("tile_id"), col("name"), col("geometry"))),
        Seq("tile_id"), "left")

  /** Admin levels with an initialized base parquet — these determine which
    * per-level storm views `update` produces
    * (get_initialized_admin_levels, impact_analysis.py:1123-1142). */
  def initializedAdminLevels(store: DataStore, country: String): Seq[Int] =
    (1 to 5).filter(l => store.exists(s"admin_views/${country}_admin$l.parquet"))

  /** Each tile's region id at admin `level` as (tile_id, id): level 1's ids
    * ride on the mercator layer `tiles`; a deeper level's were stored by
    * [[initializeAdminLevel]], and only a store without that map runs the
    * overlay of `tiles` onto the level's `boundaries` (id, geometry). */
  private def tileRegions(spark: SparkSession, store: DataStore, country: String,
                          level: Int, tiles: DataFrame, boundaries: DataFrame): DataFrame = {
    val mapRel = s"admin_views/${country}_admin${level}_tile_map.parquet"
    if (level == 1) tiles.select("tile_id", "id")
    else if (store.exists(mapRel)) store.readParquet(spark, mapRel)
    else AdminOverlay.assign(tiles.select("tile_id", "geometry"), boundaries).select("tile_id", "id")
  }

  /** @param published the rels of every view and report the update wrote */
  case class UpdateResult(processed: Boolean, reason: String,
                          report: Map[String, Any] = Map.empty,
                          published: Seq[String] = Nil)

  // --- update ------------------------------------------------------------

  /**
   * Process one (storm, forecast) for one country
   * (impact_analysis.py:2757-2933): all views + CCI + report, with
   * prefix cleanup, processed-state dedup and run logging.
   *
   * Two phases. The build phase, on the calling thread, cleans the stale
   * outputs by prefix, reads the base layers (with the schemas their
   * footers store, so no read starts a Spark job) and builds every view
   * frame, caching each shared one. A cached frame that ends in a shuffle
   * (the admin1 view and both CCI views) is first narrowed to the cluster's
   * width, since a cached plan keeps its output partitioning and would
   * otherwise be filled and read at the full `spark.sql.shuffle.partitions`.
   *
   * The publish phase then runs each output on a thread of its own (see
   * [[Outputs]]), so their small Spark jobs share the cores instead of
   * queueing. An output that reads a shared cache starts after the one
   * output that fills it. The first output fills the tiles and the tile
   * view in one job; the tile-view fan-out, the CCI tile view, each admin
   * level's fan-out, the track view and the report's tile totals all start
   * once it is done, and each facility view at once. The report is one
   * output per query, each starting once its input is filled, and one that
   * assembles it (see [[Reports.publish]]). Only when every output has been
   * published does the update record the forecast in storms.json and append
   * a SUCCESS row to the run log. A failed output is rethrown as itself,
   * with the other outputs' failures attached as suppressed, once every
   * output has stopped and before the caches are released.
   *
   * @param viewFormat "csv" (default — the reference's single-file-per-view
   *                   contract) or "parquet" (partitioned, multi-writer:
   *                   the at-scale layout; same directory/name scheme with
   *                   a .parquet extension)
   */
  def update(spark: SparkSession, store: DataStore, country: String, zoom: Int,
             storm: String, date: String,
             envelopes: DataFrame, tracks: Option[DataFrame],
             countryBoundaryWkb: Option[Array[Byte]] = None,
             rewrite: Boolean = false, viewFormat: String = "csv"): UpdateResult = {
    require(viewFormat == "csv" || viewFormat == "parquet",
      s"viewFormat must be csv or parquet, got $viewFormat")
    val vext = viewFormat
    // each writer returns the rels it published
    def fanoutViews(df: DataFrame, dir: String, name: String => String): Seq[String] =
      (if (viewFormat == "csv") store.writePartitionedCsv(df, dir, "wind_threshold", name)
       else store.writePartitionedParquet(df, dir, "wind_threshold", name)).map(n => s"$dir/$n")
    def written(rel: String)(write: String => Unit): Seq[String] = { write(rel); Seq(rel) }
    def singleView(df: DataFrame, rel: String): Seq[String] =
      written(rel)(if (viewFormat == "csv") store.writeSingleCsv(df, _) else store.writeParquet(df, _))
    val t0 = System.nanoTime()
    val key = processedKey(storm, Seq(country), date)
    val processed = loadProcessed(store)
    if (!rewrite && processed.contains(key))
      return UpdateResult(processed = false, reason = "already-processed")

    // the envelope side is small by construction (≤ 51 members × 8
    // thresholds): collect it once into a local relation, so this check and
    // every view's envelope collect below run no Spark job
    val envs = {
      val rows = Collects.boundedCollect(envelopes, what = "update envelope side",
        alternative = "SpatialJoin.quadkeyRefineJoin + groupBy")
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), envelopes.schema)
    }
    if (envs.isEmpty)
      return UpdateResult(processed = false, reason = "no-envelopes")

    val prefix = s"${country}_${storm}_${date}_"
    store.removeByPrefix(ViewDirs, prefix)

    // each shared view is computed once and cached where it is built; every
    // cache is released on every exit path
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def cache(df: DataFrame): DataFrame = { cached += df; df.cache() }
    // A cached plan keeps its output partitioning, so a cached aggregate
    // would be filled, and read, at the full spark.sql.shuffle.partitions:
    // each one is narrowed to the cluster's width first (no shuffle), and
    // every frame that reads it is built from the narrowed frame, so its
    // plan finds the cache.
    def cacheNarrow(df: DataFrame): DataFrame =
      cache(df.coalesce(spark.sparkContext.defaultParallelism))
    // The publish phase: each output's Spark work, run once the build is
    // done. A cached frame is filled by the first query that reads it, and
    // every query that starts reading it before that fill ends runs a fill
    // job of its own. So each shared cache has one output that fills it, and
    // the other outputs that read it start after that one has finished.
    val outputs = new Outputs
    import outputs.publish
    // the outputs that write files, whose rels the result names
    val writers = scala.collection.mutable.ArrayBuffer.empty[Output[Seq[String]]]
    def publishFiles(after: Output[_]*)(body: => Seq[String]): Output[Seq[String]] =
      publish(after: _*)(body).tap(writers += _)
    try {
      val tiles = cache(store.readParquet(spark, s"mercator_views/${country}_$zoom.parquet"))
      val admins = store.readParquet(spark, s"admin_views/${country}_admin1.parquet")
        .select(col("tile_id").as("id"), col("name"), col("geometry"))

      // one job fills tiles and tv, so every output that reads them starts
      // at once
      val tv = cache(ImpactPipeline.tileView(tiles, envs))
      val filled = publish()(tv.write.format("noop").mode(SaveMode.Overwrite).save())

      // tile view + per-threshold CSVs (S9 layout: one per threshold) — one
      // partitionBy pass fans out all thresholds (SURVEY.md §7.4)
      publishFiles(filled)(fanoutViews(tv, "mercator_impact_views", th => s"$prefix${th}_$zoom.$vext"))

      // facility views ×4 (only kinds with a cached layer): kind -> (layer,
      // view); the track view reads the same layers. Each view's output
      // fills its cache.
      val facilities: Map[String, (DataFrame, Reports.Ready)] =
        Seq("school" -> "school_id", "hc" -> "hc_id", "shelter" -> "shelter_id", "wash" -> "wash_id")
          .flatMap { case (kind, idCol) =>
            val rel = s"${kind}_views/${country}_$kind.parquet"
            if (!store.exists(rel)) None
            else {
              val layer = store.readParquet(spark, rel)
              val fv = cache(ImpactPipeline.facilityView(layer, envs, idCol))
              // one partitionBy pass fans out every threshold (S9 layout)
              val output = publishFiles()(store.writePartitionedParquet(fv.drop("geometry"),
                s"${kind}_views", "wind_threshold", th => s"$prefix$th.parquet")
                .map(n => s"${kind}_views/$n"))
              Some(kind -> (layer, Reports.Ready(fv, output)))
            }
          }.toMap
      def facilityLayer(kind: String) = facilities.get(kind).map(_._1)

      // admin views + CCIs — one pass per initialized admin level
      // (impact_analysis.py:2868-2907): level 1 reuses the admin ids already
      // on the tiles; deeper levels read the tile map stored at init — no
      // external lookup, mirroring the reference's reuse of the admin
      // parquet's geometries.
      val cciTiles = cacheNarrow(Cci.calculate(tv, tiles))
      val cciAdmin = cacheNarrow(Cci.adminRollup(cciTiles))
      val cciOutput = // fills cciTiles
        publishFiles(filled)(singleView(cciTiles, s"mercator_impact_views/$prefix${zoom}_cci.$vext"))

      val levels = initializedAdminLevels(store, country) match {
        case Seq() => Seq(1)
        case ls => ls
      }
      // level -> its admin view and CCI rollup, each with the output that
      // fills it at level 1, where they double as the report's inputs
      val levelViews = levels.map { level =>
        val adminsN = if (level == 1) admins
          else store.readParquet(spark, s"admin_views/${country}_admin$level.parquet")
            .select(col("tile_id").as("id"), col("name"), col("geometry"))
        val tileIds = tileRegions(spark, store, country, level, tiles, adminsN)
        val avN = if (level == 1) cacheNarrow(ImpactPipeline.adminView(tv, tileIds, adminsN))
          else ImpactPipeline.adminView(tv.drop("id"), tileIds, adminsN)
        val cciAdminN = if (level == 1) cciAdmin
          else Cci.adminRollup(cciTiles.drop("id").join(
            broadcast(tileIds.withColumnRenamed("tile_id", "zone_id")), Seq("zone_id"), "left"))
        val viewOutput = publishFiles(filled)(fanoutViews(avN.drop("geometry"),
          "admin_impact_views", th => s"$prefix${th}_admin$level.$vext"))
        val cciOutputN = publishFiles(cciOutput)(
          singleView(cciAdminN, s"admin_impact_views/${prefix}admin${level}_cci.$vext"))
        level -> (Reports.Ready(avN, viewOutput), Reports.Ready(cciAdminN, cciOutputN))
      }.toMap
      // the JSON report always reads the admin1 view, even when level 1 is not
      // among the initialized levels (impact_analysis.py:2909-2914)
      val (adminReady, cciAdminReady) = levelViews.getOrElse(1, (
        Reports.Ready(cacheNarrow(ImpactPipeline.adminView(tv, tiles.select("tile_id", "id"), admins)), filled),
        Reports.Ready(cciAdmin, cciOutput)))

      // track view, over the facility layers the facility views read
      (facilityLayer("school"), facilityLayer("hc")) match {
        case (Some(schools), Some(hcs)) =>
          publishFiles(filled)(written(s"track_views/${prefix}tracks.parquet")(
            store.writeParquet(ImpactPipeline.trackView(envs, schools, hcs,
              facilityLayer("shelter"), facilityLayer("wash"), tiles), _)))
        case _ => ()
      }

      // report with as-of previous (J15)
      val report = Reports.publish(outputs, Reports.Ready(tv, filled), adminReady,
        Seq("school", "hc", "shelter", "wash").map(k => facilities.get(k).map(_._2)), cciAdminReady,
        publish()(Reports.adminNames(admins)), tracks, countryBoundaryWkb, country, storm, date,
        previous = {
          val prevRel = s"reports_json/${country}_${storm}_${Reports.previousDate(date)}.json"
          if (store.exists(prevRel)) Reports.fromJson(store.readText(prevRel)) else Map.empty
        })
      publishFiles(report)(if (report.get.isEmpty) Nil
        else written(s"reports_json/${country}_${storm}_$date.json")(
          store.writeText(_, Reports.toJson(report.get))))

      outputs.run()
      saveProcessed(store, processed + (key -> date))
      appendRunLog(store, spark, storm, date, "SUCCESS", (System.nanoTime() - t0) / 1e9)
      UpdateResult(processed = true, reason = "ok", report = report.get,
        published = writers.flatMap(_.get).toSeq)
    } finally cached.foreach(_.unpersist())
  }

  // --- patch -------------------------------------------------------------

  /**
   * Backfill/overwrite tile columns on the base layer
   * (impact_analysis.py:1189-1466): join new per-tile values on tile_id with
   * coalesce(new, old), rewrite the base parquet, re-aggregate admin views.
   */
  def patch(spark: SparkSession, store: DataStore, country: String, zoom: Int,
            columnValues: DataFrame /* tile_id + columns to patch */): Unit = {
    val baseRel = s"mercator_views/${country}_$zoom.parquet"
    val base = store.readParquet(spark, baseRel)
    val patchCols = columnValues.columns.filterNot(_ == "tile_id")
    val renamed = patchCols.foldLeft(columnValues) { (d, c) => d.withColumnRenamed(c, s"__new_$c") }
    val joined = base.join(renamed, Seq("tile_id"), "left")
    val patched = patchCols.foldLeft(joined) { (d, c) =>
      (if (d.columns.contains(c)) d.withColumn(c, coalesce(col(s"__new_$c"), col(c)))
       else d.withColumn(c, col(s"__new_$c"))).drop(s"__new_$c")
    }
    // the temp copy is complete before the base it reads is removed
    store.replace(baseRel)(tmp => store.writeParquet(patched, tmp))

    // re-aggregate every initialized admin view (impact_analysis.py:1421-1454)
    initializedAdminLevels(store, country).foreach { level =>
      val adminRel = s"admin_views/${country}_admin$level.parquet"
      val boundaries = store.readParquet(spark, adminRel)
        .select(col("tile_id").as("id"), col("name"), col("geometry"))
      val refreshed = store.readParquet(spark, baseRel)
      val withIds = if (level == 1) refreshed
        else refreshed.drop("id").join(
          tileRegions(spark, store, country, level, refreshed, boundaries), Seq("tile_id"), "left")
      store.replace(adminRel)(tmp => store.writeParquet(adminLayer(withIds, boundaries), tmp))
    }
  }
}
