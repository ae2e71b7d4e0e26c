package stormbench

import graft.ops.{AdminOverlay, SpatialJoin}
import graft.pipeline.{ImpactPipeline, Jobs, Reports}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * A storm workload: one country initialized once, then a chain of forecasts
 * 6 h apart, each one `Jobs.update`, run as a closed loop with one caller
 * (each call starts when the previous returns, as the 6-hourly cron runs
 * them). Every forecast is checked by the [[Oracle]] between calls.
 */
final class StormWorkload(run: Run, shape: StormShape) {
  import run._

  private val in = new StormInputs(spark, shape, seed)
  private val root = work.resolve("store")
  private val store = new TracingStore(root.toString, probe)
  private val oracle = new Oracle(in, root)
  private val zoom = Tiles.Zoom
  private val kinds = shape.facilities.map(_._1)

  private def update(f: Int): Jobs.UpdateResult =
    Jobs.update(spark, store, in.country, zoom, in.storm, in.date(f), in.envelopes(f),
      Some(in.tracks(f)), Some(in.countryWkb), viewFormat = "csv")

  /** Jobs.update as a checked operation: it must process, and the oracle
    * must accept what it published. */
  private def checkedUpdate(f: Int, name: String): (Double, Map[String, Double]) = {
    probe.setForecast(in.date(f))
    val fromUs = probe.clockUs
    val state0 = if (probe.tracing) probe.sessionState() else Set.empty[String]
    val outcome = attempt(s"$name ${in.date(f)}") { probe.call("pipeline.update")(update(f)) }
    outcome.map { case (res, wall, layers) =>
      val persisted = probe.persisted()
      if (corrupt && f == 1) oracle.tamper(f)
      val misses =
        (if (res.processed) Nil else Seq(s"forecast $f not processed: ${res.reason}")) ++ oracle.check(f)
      val (files, bytes) = oracle.footprint(f)
      val changes = if (probe.tracing) diff(state0, probe.sessionState()) else Nil
      record(CallRecord(name, in.date(f), wall, persisted, changes, misses))
      oracle.retire(f)
      (wall, layers ++ Map("io.write_s" -> probe.spanSeconds("io.write", fromUs),
        "io.files_written" -> files.toDouble, "io.bytes_written" -> bytes.toDouble))
    }.getOrElse((Double.NaN, Map.empty))
  }

  /** The steps of `Jobs.update` called one by one in its order, each
    * materialized to a `noop` sink, for the per-step spans. */
  private def decompose(f: Int): Map[String, Double] = {
    val envs = in.envelopes(f)
    def step(name: String)(body: => Unit): (String, Double) = {
      val t0 = System.nanoTime()
      probe.span(name)(body)
      name -> (System.nanoTime() - t0) / 1e9
    }
    val tiles = spark.read.parquet(root.resolve(s"mercator_views/${in.country}_$zoom.parquet").toString).cache()
    val admins = in.admins(1).select("id", "name", "geometry")
    var tv: DataFrame = null
    var av: DataFrame = null
    var cci: (DataFrame, DataFrame) = null
    val facilityViews = kinds.map { k =>
      k -> spark.read.parquet(root.resolve(s"${k}_views/${in.country}_$k.parquet").toString)
    }.toMap
    var fvs: Map[String, DataFrame] = Map.empty
    val steps = Seq(
      step("pipeline.tile_view") { tv = ImpactPipeline.tileView(tiles, envs).cache(); Probe.noop(tv) },
      step("pipeline.facility_views") {
        fvs = facilityViews.map { case (k, df) => k -> ImpactPipeline.facilityView(df, envs, s"${k}_id") }
        fvs.values.foreach(Probe.noop)
      },
      step("pipeline.cci") {
        cci = ImpactPipeline.cciViews(tv, tiles)
        Probe.noop(cci._1); Probe.noop(cci._2)
      },
      step("pipeline.admin_views") {
        shape.levels.foreach { l =>
          val adminsL = if (l == 1) admins else in.admins(l).select("id", "name", "geometry")
          val tileIds = if (l == 1) tiles.select("tile_id", "id")
            else spark.read.parquet(root.resolve(s"admin_views/${in.country}_admin${l}_tile_map.parquet").toString)
          val avL = ImpactPipeline.adminView(if (l == 1) tv else tv.drop("id"), tileIds, adminsL)
          if (l == 1) av = avL.cache()
          Probe.noop(avL)
          if (l > 1) Probe.noop(graft.ops.Cci.adminRollup(cci._1.drop("id").join(
            broadcast(tileIds.withColumnRenamed("tile_id", "zone_id")), Seq("zone_id"), "left")))
        }
      },
      step("pipeline.track_view") {
        Probe.noop(ImpactPipeline.trackView(envs, facilityViews("school"), facilityViews("hc"),
          facilityViews.get("shelter"), facilityViews.get("wash"), tiles))
      },
      step("pipeline.report") {
        val names = admins.select("id", "name").collect().map(r => (r.getString(0), r.getString(1))).toSeq
        Reports.doReport(tv, av, fvs.get("school"), fvs.get("hc"), fvs.get("shelter"), fvs.get("wash"),
          cci._1, cci._2, names, Some(in.tracks(f)), Some(in.countryWkb),
          in.country, in.storm, in.date(f), Map.empty)
      })
    tiles.unpersist(); tv.unpersist(); av.unpersist()
    val join = step("ops.probability_join") {
      Probe.noop(SpatialJoin.probabilityByThreshold(
        spark.read.parquet(root.resolve(s"mercator_views/${in.country}_$zoom.parquet").toString),
        "geometry", envs, "geometry", keepZeroRows = true))
    }
    (steps :+ join).map { case (k, v) => s"${k}_s" -> v }.toMap
  }

  def execute(): Result = {
    Oracle.delete(root)
    probe.attach(probe.tracing)
    val tiles = in.tiles.cache()
    val admins = shape.levels.map(l => l -> in.admins(l).cache()).toMap
    val facilities = in.facilityLayers.map { case (k, df) => k -> df.cache() }
    val inputs = Seq(tiles) ++ admins.values ++ facilities.values
    inputs.foreach(_.count())
    phase("inputs generated")

    val init = attempt("initialize") {
      probe.call("pipeline.initialize") {
        Jobs.initialize(spark, store, in.country, zoom, tiles, admins(1), facilities,
          admins.filter(_._1 > 1))
      }
    }
    val initS = init.map(_._2).getOrElse(Double.NaN)
    phase("initialize done")
    val overlay = if (probe.tracing) probe.call("ops.admin_overlay")(Probe.noop(AdminOverlay.assign(tiles, admins(1))))._2
      else 0.0
    // the program's own persisted state is what the chain should show
    inputs.foreach(_.unpersist(blocking = true))

    val (firstS, _) = checkedUpdate(0, "first_update")
    phase("first update done")
    // the remaining forecasts; the JIT is still warming over the first of
    // them, which the median of three or more absorbs
    val m = measure(timedCalls(StormWorkload.NominalUpdateS)) { (i, traced) =>
      val (wall, layers) = checkedUpdate(i + 1, "update")
      if (traced) (wall, layers ++ attempt(s"decompose ${in.date(i + 1)}")(decompose(i + 1)).getOrElse(Map.empty))
      else (wall, layers)
    }
    val updateS = Stats.median(m.untraced)

    val endToEnd = Map("setup_s" -> m.setupS, "initialize_s" -> initS,
      "first_call_s" -> firstS, "call_s" -> updateS)
    val perLayer: Map[String, Double] =
      if (!probe.tracing) Map.empty
      else {
        val coverage = Stats.median(m.traced.map { t =>
          Seq("tile_view", "facility_views", "admin_views", "cci", "track_view", "report")
            .map(s => t.getOrElse(s"pipeline.${s}_s", Double.NaN)).sum / t("wall_s")
        })
        run.perLayer(m, Map(
          "pipeline.coverage" -> coverage,
          "pipeline.persisted_after_update" -> calls.map(_.persisted.toDouble).maxOption.getOrElse(0.0),
          "engine.conf_changes" -> calls.map(_.confChanges.size.toDouble).sum,
          "ops.admin_overlay_s" -> overlay))
      }
    Result(endToEnd, perLayer, Map("timed_updates" -> m.untraced.size.toDouble,
      "initialize_s" -> initS, "first_update_s" -> firstS, "update_s" -> updateS))
  }
}

object StormWorkload {
  /** A warm `Jobs.update` on a 4-core host, for sizing the timed count. */
  val NominalUpdateS = 10.0
}
