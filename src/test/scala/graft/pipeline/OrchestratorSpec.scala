package graft.pipeline

import graft.SparkSpec
import graft.geo.Geo
import graft.io.DataStore
import org.apache.spark.sql.functions._

/** update_storms orchestration (main_pipeline.py:556-767) + country registry
  * control tables (country_utils.py) end-to-end on the synthetic scenario. */
class OrchestratorSpec extends SparkSpec {

  import spark.implicits._

  private val root = java.nio.file.Files.createTempDirectory("graft-orch").toString
  private val store = new DataStore(root)
  private val country = "SYN"
  private val zoom = 14
  private val today = java.time.LocalDate.of(2026, 8, 2)

  private lazy val tiles = SyntheticScenario.tiles(spark, nx = 16, ny = 16)
  private lazy val admins = SyntheticScenario.admins(spark, tiles)
  private lazy val envs = SyntheticScenario.envelopes(spark, members = 51)

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private lazy val catalog = Seq(
    ("ALPHA", ts("2026-08-01 00:00:00")),
    ("ALPHA", ts("2026-08-01 06:00:00")),
    ("BRAVO", ts("2026-08-01 00:00:00")),
    ("STALE", ts("2026-07-20 00:00:00")) // outside the 2-day window
  ).toDF("track_id", "forecast_time")

  private def initOnce(): Unit =
    if (!store.exists(s"mercator_views/${country}_$zoom.parquet"))
      Jobs.initialize(spark, store, country, zoom, tiles, admins, Map(
        "school" -> SyntheticScenario.facilities(spark, "school", 40, nx = 16, ny = 16),
        "hc" -> SyntheticScenario.facilities(spark, "hc", 20, nx = 16, ny = 16)))

  test("selectStorms: recency window, target date, target storm") {
    val recent = Orchestrator.selectStorms(catalog, timeDeltaDays = 2, today = today)
      .map(r => (r.storm, r.date))
    assert(recent.toSet == Set(
      ("ALPHA", "20260801000000"), ("ALPHA", "20260801060000"), ("BRAVO", "20260801000000")))

    val byDate = Orchestrator.selectStorms(catalog, 2, today, targetDate = Some("2026-07-20"))
      .map(_.storm)
    assert(byDate.toSeq == Seq("STALE")) // targetDate overrides the window

    val byStorm = Orchestrator.selectStorms(catalog, 2, today, targetStorm = Some("BRAVO"))
      .map(r => (r.storm, r.date))
    assert(byStorm.toSeq == Seq(("BRAVO", "20260801000000")))
  }

  test("updateStorms: skips processed, processes the rest, signals completion") {
    initOnce()
    // pre-process one key so the anti-join path skips it
    val pre = Jobs.update(spark, store, country, zoom, "ALPHA", "20260801000000", envs, None)
    assert(pre.processed)

    val stats = Orchestrator.updateStorms(spark, store, catalog, Seq(country), zoom,
      envelopesFor = (_, _) => envs, today = today)

    assert(stats.processed.map(r => (r.storm, r.date)).toSet ==
      Set(("ALPHA", "20260801060000"), ("BRAVO", "20260801000000")))
    assert(stats.skipped.map(_._1.storm) == Seq("ALPHA"))
    assert(stats.skipped.head._2 == "already-processed")
    assert(stats.errors.isEmpty, stats.errors.mkString("; "))
    assert(stats.countriesProcessed == 2)
    assert(stats.filesWritten > 0)
    // the rels the updates name are the entries a listing of the view dirs finds
    val listed = stats.processed.map(r => Jobs.ViewDirs.map(d =>
      store.list(d).count(_.startsWith(s"${country}_${r.storm}_${r.date}"))).sum).sum
    assert(stats.filesWritten == listed)

    // completion signal appended exactly once, naming both storms
    val log = Orchestrator.readCompletionLog(spark, store)
    assert(log.count() == 1)
    val row = log.head()
    assert(row.getSeq[String](log.columns.indexOf("storm_ids")).toSet == Set("ALPHA", "BRAVO"))
    assert(row.getSeq[String](log.columns.indexOf("countries_processed")) == Seq(country))
    assert(row.getString(log.columns.indexOf("status")) == "SUCCESS")

    // nothing left to do -> no second completion row
    val again = Orchestrator.updateStorms(spark, store, catalog, Seq(country), zoom,
      envelopesFor = (_, _) => envs, today = today)
    assert(again.processed.isEmpty && again.skipped.size == 3)
    assert(Orchestrator.readCompletionLog(spark, store).count() == 1)
  }

  test("country registry: add, activate filter, initialization stamps") {
    assert(CountryRegistry.addCountry(spark, store, "SYN", Some("Synthetica"), zoomLevel = 14))
    assert(!CountryRegistry.addCountry(spark, store, "SYN")) // duplicate -> no-op
    assert(CountryRegistry.addCountry(spark, store, "ABC", zoomLevel = 12))
    assert(CountryRegistry.activeCountries(spark, store) == Seq("ABC", "SYN"))

    CountryRegistry.markInitialized(spark, store, "SYN", now = "2026-08-02T00:00:00Z")
    val zl = CountryRegistry.zoomLevels(spark, store)
    assert(zl.count() == 1)
    assert(zl.head().getInt(1) == 14) // zoom defaulted from the registry row
    val cs = CountryRegistry.countries(spark, store)
    assert(cs.filter(col("country_code") === "SYN")
      .head().getAs[String]("last_initialized") == "2026-08-02T00:00:00Z")
    assert(cs.filter(col("country_code") === "ABC")
      .head().getAs[String]("last_initialized") == null)

    // re-stamp upserts (still one row per (country, zoom))
    CountryRegistry.markInitialized(spark, store, "SYN", Some(14), now = "2026-08-03T00:00:00Z")
    assert(CountryRegistry.zoomLevels(spark, store).count() == 1)
  }

  test("country boundary write: union + span heuristic, coalesce semantics") {
    CountryRegistry.addCountry(spark, store, "BND", centerLat = Some(99.0))
    // two admin-0 parts spanning 1.5 degrees -> view_zoom 9
    val admin0 = Seq(
      Geo.toWkb(Geo.box(-72.0, 18.0, -71.0, 19.0)),
      Geo.toWkb(Geo.box(-71.0, 18.0, -70.5, 19.5))).toDF("geometry")
    CountryRegistry.writeCountryBoundary(spark, store, "BND", admin0)

    val row = CountryRegistry.countries(spark, store)
      .filter(col("country_code") === "BND").head()
    assert(row.getAs[Int]("view_zoom") == 9)
    assert(row.getAs[Double]("center_lat") == 99.0) // manually-set center preserved
    assert(row.getAs[Double]("center_lon") != 0.0)
    val boundary = Geo.fromWkb(row.getAs[Array[Byte]]("country_boundary"))
    assert(math.abs(boundary.getArea - (1.0 + 0.75)) < 1e-9)
  }
}
