package graft.pipeline

import graft.io.DataStore
import graft.ops.{AdminOverlay, Aggregations, Cci}
import graft.util.Collects
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.util.concurrent.{Callable, ExecutionException, Executors, Future, TimeUnit}

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

    // admin rollup (impact_analysis.py:1469-1502): sums + means keyed by the
    // admin ucode in a column *named* tile_id (reference naming quirk)
    val rolled = Aggregations.adminRollup(withIds.drop("tile_id", "geometry"), "id")
      .withColumnRenamed("id", "tile_id")
      .join(broadcast(admins.select(col("id").as("tile_id"), col("name"), col("geometry"))),
        Seq("tile_id"), "left")
    store.writeParquet(rolled, s"admin_views/${country}_admin1.parquet")

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
   * 1 store their own tile→region assignment implicitly via the boundary
   * geometries; `update` re-derives it per level.
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
    val rolled = Aggregations.adminRollup(withIds.drop("tile_id", "geometry"), "id")
      .withColumnRenamed("id", "tile_id")
      .join(broadcast(adminBoundaries.select(col("id").as("tile_id"), col("name"), col("geometry"))),
        Seq("tile_id"), "left")
    store.writeParquet(rolled, s"admin_views/${country}_admin$level.parquet")
  }

  /** Admin levels with an initialized base parquet — these determine which
    * per-level storm views `update` produces
    * (get_initialized_admin_levels, impact_analysis.py:1123-1142). */
  def initializedAdminLevels(store: DataStore, country: String): Seq[Int] =
    (1 to 5).filter(l => store.exists(s"admin_views/${country}_admin$l.parquet"))

  case class UpdateResult(processed: Boolean, reason: String,
                          report: Map[String, Any] = Map.empty)

  // --- update ------------------------------------------------------------

  /**
   * Process one (storm, forecast) for one country
   * (impact_analysis.py:2757-2933): all views + CCI + report, with
   * prefix cleanup, processed-state dedup and run logging.
   *
   * Two phases. The build phase, on the calling thread, cleans the stale
   * outputs by prefix, reads the base layers and builds every view frame,
   * caching each shared one. The publish phase then runs each output (the
   * tile-view fan-out, each facility view, the CCI tile view, each admin
   * level's fan-out and CCI rollup, the track view, the report) on a thread
   * of its own, so their small Spark jobs share the cores instead of
   * queueing. An output that reads a shared cache starts after the one
   * output that fills it, so an update runs the same jobs as when its outputs
   * run one by one. The threads are created by the caller, so every job
   * carries the caller's local properties (job group, description, scheduler
   * pool). Only when every output has been published does the update record
   * the forecast in storms.json and append a SUCCESS row to the run log. A
   * failed output is rethrown as itself, with the other outputs' failures
   * attached as suppressed, once every output has stopped and before the
   * caches are released.
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
    def fanoutViews(df: DataFrame, dir: String, name: String => String): Unit =
      if (viewFormat == "csv") { store.writePartitionedCsv(df, dir, "wind_threshold", name); () }
      else { store.writePartitionedParquet(df, dir, "wind_threshold", name); () }
    def singleView(df: DataFrame, rel: String): Unit =
      if (viewFormat == "csv") store.writeSingleCsv(df, rel)
      else store.writeParquet(df, rel)
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
    // The publish phase: each output's Spark work, run once the build is
    // done. A cached frame is filled by the first query that reads it, and
    // every query that starts reading it before that fill ends runs a fill
    // job of its own. So each shared cache has one output that fills it, and
    // the other outputs that read it start after that one has finished.
    val outputs = scala.collection.mutable.ArrayBuffer.empty[Output]
    def publish(after: Int*)(output: => Unit): Int = {
      outputs += Output(after, () => output)
      outputs.size - 1
    }
    var report = Map.empty[String, Any] // set by the report output
    try {
      val tiles = cache(store.readParquet(spark, s"mercator_views/${country}_$zoom.parquet"))
      val admins = store.readParquet(spark, s"admin_views/${country}_admin1.parquet")
        .select(col("tile_id").as("id"), col("name"), col("geometry"))

      // tile view + per-threshold CSVs (S9 layout: one per threshold) — one
      // partitionBy pass fans out all thresholds (SURVEY.md §7.4)
      val tv = cache(ImpactPipeline.tileView(tiles, envs))
      val tileOutput = // fills tiles and tv
        publish()(fanoutViews(tv, "mercator_impact_views", th => s"$prefix${th}_$zoom.$vext"))

      // facility views ×4 (only kinds with a cached layer): kind -> (layer,
      // view); the track view reads the same layers. Each view's output
      // fills its cache; the report, which reads it too, starts after.
      val reportAfter = scala.collection.mutable.ArrayBuffer(tileOutput)
      val facilities: Map[String, (DataFrame, DataFrame)] =
        Seq("school" -> "school_id", "hc" -> "hc_id", "shelter" -> "shelter_id", "wash" -> "wash_id")
          .flatMap { case (kind, idCol) =>
            val rel = s"${kind}_views/${country}_$kind.parquet"
            if (!store.exists(rel)) None
            else {
              val layer = store.readParquet(spark, rel)
              val fv = cache(ImpactPipeline.facilityView(layer, envs, idCol))
              // one partitionBy pass fans out every threshold (S9 layout)
              reportAfter += publish()(store.writePartitionedParquet(fv.drop("geometry"),
                s"${kind}_views", "wind_threshold", th => s"$prefix$th.parquet"))
              Some(kind -> (layer, fv))
            }
          }.toMap
      def facilityLayer(kind: String) = facilities.get(kind).map(_._1)
      def facilityView(kind: String) = facilities.get(kind).map(_._2)

      // admin views + CCIs — one pass per initialized admin level
      // (impact_analysis.py:2868-2907): level 1 reuses the admin ids already
      // on the tiles; deeper levels re-overlay against the level's stored
      // boundaries — no external lookup, mirroring the reference's reuse of
      // the admin parquet's geometries.
      val (cciTiles, cciAdmin) = ImpactPipeline.cciViews(tv, tiles)
      cache(cciTiles); cache(cciAdmin)
      val cciOutput = // fills cciTiles
        publish(tileOutput)(singleView(cciTiles, s"mercator_impact_views/$prefix${zoom}_cci.$vext"))
      reportAfter += cciOutput

      val levels = initializedAdminLevels(store, country) match {
        case Seq() => Seq(1)
        case ls => ls
      }
      var av: DataFrame = null // level-1 view doubles as the report input
      levels.foreach { level =>
        val adminsN = if (level == 1) admins
          else store.readParquet(spark, s"admin_views/${country}_admin$level.parquet")
            .select(col("tile_id").as("id"), col("name"), col("geometry"))
        val mapRel = s"admin_views/${country}_admin${level}_tile_map.parquet"
        val tileIds = if (level == 1) tiles.select("tile_id", "id")
          else if (store.exists(mapRel)) store.readParquet(spark, mapRel) // precomputed at init
          else AdminOverlay.assign(tiles.select("tile_id", "geometry"), adminsN)
            .select("tile_id", "id")
        val avN = ImpactPipeline.adminView(
          if (level == 1) tv else tv.drop("id"), tileIds, adminsN)
        if (level == 1) av = cache(avN)
        val cciAdminN = if (level == 1) cciAdmin
          else Cci.adminRollup(cciTiles.drop("id").join(
            broadcast(tileIds.withColumnRenamed("tile_id", "zone_id")), Seq("zone_id"), "left"))
        // at level 1 these two fill av and cciAdmin
        val viewOutput = publish(tileOutput)(fanoutViews(avN.drop("geometry"),
          "admin_impact_views", th => s"$prefix${th}_admin$level.$vext"))
        val cciOutputN = publish(cciOutput)(
          singleView(cciAdminN, s"admin_impact_views/${prefix}admin${level}_cci.$vext"))
        if (level == 1) reportAfter ++= Seq(viewOutput, cciOutputN)
      }
      // the JSON report always reads the admin1 view, even when level 1 is not
      // among the initialized levels (impact_analysis.py:2909-2914)
      if (av == null)
        av = cache(ImpactPipeline.adminView(tv, tiles.select("tile_id", "id"), admins))

      // track view, over the facility layers the facility views read
      (facilityLayer("school"), facilityLayer("hc")) match {
        case (Some(schools), Some(hcs)) =>
          publish(tileOutput)(store.writeParquet(ImpactPipeline.trackView(envs, schools, hcs,
            facilityLayer("shelter"), facilityLayer("wash"), tiles),
            s"track_views/${prefix}tracks.parquet"))
        case _ => ()
      }

      // report with as-of previous (J15)
      val adminView = av
      publish(reportAfter.toSeq: _*) {
        val prevDate = Reports.previousDate(date)
        val prevRel = s"reports_json/${country}_${storm}_$prevDate.json"
        val previous = if (store.exists(prevRel)) Reports.fromJson(store.readText(prevRel)) else Map.empty[String, Any]
        val adminNames = admins.select("id", "name").collect()
          .map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq
        report = Reports.doReport(
          tv, adminView, facilityView("school"), facilityView("hc"),
          facilityView("shelter"), facilityView("wash"),
          cciTiles, cciAdmin, adminNames, tracks, countryBoundaryWkb,
          country, storm, date, previous)
        if (report.nonEmpty)
          store.writeText(s"reports_json/$prefix.json".replace("_.json", ".json"),
            Reports.toJson(report))
      }

      runConcurrently(outputs.toSeq)
      saveProcessed(store, processed + (key -> date))
      appendRunLog(store, spark, storm, date, "SUCCESS", (System.nanoTime() - t0) / 1e9)
      UpdateResult(processed = true, reason = "ok", report = report)
    } finally cached.foreach(_.unpersist())
  }

  /** One output of an update: its Spark work, and the indices of the earlier
    * outputs it starts after. */
  private final case class Output(after: Seq[Int], run: () => Unit)

  /** Runs each output on a thread of its own, once the outputs it starts
    * after have finished, and returns once all of them have stopped. The
    * threads are created here, on the calling thread, so they inherit its
    * Spark local properties. The first output's failure, in output order, is
    * rethrown as itself with the later ones attached as suppressed. */
  private def runConcurrently(outputs: Seq[Output]): Unit = {
    val pool = Executors.newFixedThreadPool(outputs.size)
    try {
      val futures = scala.collection.mutable.ArrayBuffer.empty[Future[Unit]]
      outputs.foreach { output =>
        val after = output.after.map(futures)
        futures += pool.submit(new Callable[Unit] {
          def call(): Unit = {
            // an earlier output's failure is reported through its own future
            after.foreach(f => try f.get() catch { case _: ExecutionException => () })
            output.run()
          }
        })
      }
      val failures = futures.flatMap { f =>
        try { f.get(); None }
        catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach { first =>
        failures.tail.filter(_ ne first).foreach(first.addSuppressed)
        throw first
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }

  // --- patch -------------------------------------------------------------

  /**
   * Backfill/overwrite tile columns on the base layer
   * (impact_analysis.py:1189-1466): join new per-tile values on tile_id with
   * coalesce(new, old), rewrite the base parquet, re-aggregate admin views.
   */
  def patch(spark: SparkSession, store: DataStore, country: String, zoom: Int,
            columnValues: DataFrame /* tile_id + columns to patch */): Unit = {
    val base = store.readParquet(spark, s"mercator_views/${country}_$zoom.parquet")
    val patchCols = columnValues.columns.filterNot(_ == "tile_id")
    val renamed = patchCols.foldLeft(columnValues) { (d, c) => d.withColumnRenamed(c, s"__new_$c") }
    val joined = base.join(renamed, Seq("tile_id"), "left")
    val patched = patchCols.foldLeft(joined) { (d, c) =>
      (if (d.columns.contains(c)) d.withColumn(c, coalesce(col(s"__new_$c"), col(c)))
       else d.withColumn(c, col(s"__new_$c"))).drop(s"__new_$c")
    }
    val out = patched.cache()
    out.count() // materialize before overwriting the file being read
    val tmp = s"mercator_views/${country}_$zoom.parquet.__tmp__"
    store.writeParquet(out, tmp)
    store.remove(s"mercator_views/${country}_$zoom.parquet")
    java.nio.file.Files.move(
      java.nio.file.Paths.get(store.path(tmp)),
      java.nio.file.Paths.get(store.path(s"mercator_views/${country}_$zoom.parquet")))

    // re-aggregate every initialized admin view (impact_analysis.py:1421-1454)
    initializedAdminLevels(store, country).foreach { level =>
      val adminRel = s"admin_views/${country}_admin$level.parquet"
      val adminsGeom = store.readParquet(spark, adminRel).select("tile_id", "name", "geometry")
      val refreshed = store.readParquet(spark, s"mercator_views/${country}_$zoom.parquet")
      val withIds = if (level == 1) refreshed
        else AdminOverlay.assign(refreshed.drop("id"),
          adminsGeom.select(col("tile_id").as("id"), col("geometry")))
      val rolled = Aggregations.adminRollup(withIds.drop("tile_id", "geometry"), "id")
        .withColumnRenamed("id", "tile_id")
        .join(broadcast(adminsGeom), Seq("tile_id"), "left")
      val tmpA = adminRel + ".__tmp__"
      store.writeParquet(rolled, tmpA)
      store.remove(adminRel)
      java.nio.file.Files.move(
        java.nio.file.Paths.get(store.path(tmpA)),
        java.nio.file.Paths.get(store.path(adminRel)))
    }
    out.unpersist()
  }
}
