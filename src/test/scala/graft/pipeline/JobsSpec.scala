package graft.pipeline

import graft.SparkSpec
import graft.io.DataStore
import graft.geo.Geo
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

object JobsSpec {
  final class WriteFailed extends RuntimeException("single-file CSV write failed")

  /** A store whose every single-file CSV write fails. */
  final class FailingCsvStore(root: String) extends DataStore(root) {
    val calls = new AtomicInteger()
    override def writeSingleCsv(df: DataFrame, rel: String): Unit = {
      calls.incrementAndGet()
      throw new WriteFailed
    }
  }
}

/** Lifecycle test: initialize → update → next-forecast update (as-of deltas)
  * → patch → idempotent re-run. Mirrors SURVEY.md §3 on the synthetic
  * scenario. */
class JobsSpec extends SparkSpec {

  import spark.implicits._

  private val root = java.nio.file.Files.createTempDirectory("graft-jobs").toString
  private val store = new DataStore(root)
  private val country = "SYN"
  private val zoom = 14

  private lazy val tiles = SyntheticScenario.tiles(spark, nx = 16, ny = 16)
  private lazy val admins = SyntheticScenario.admins(spark, tiles)
  private lazy val envs = SyntheticScenario.envelopes(spark, members = 51)
  private lazy val tracks = SyntheticScenario.tracks(spark, members = 20)
  // country boundary placed on the synthetic tracks' NW path
  // (tracks march from (-71.1, 18.3) toward (-72.0, 19.1))
  private lazy val boundary = Geo.toWkb(Geo.box(-72.2, 18.8, -71.7, 19.2))

  private def initOnce(): Unit =
    if (!store.exists(s"mercator_views/${country}_$zoom.parquet")) {
      Jobs.initialize(spark, store, country, zoom, tiles, admins, Map(
        "school" -> SyntheticScenario.facilities(spark, "school", 40, nx = 16, ny = 16),
        "hc" -> SyntheticScenario.facilities(spark, "hc", 20, nx = 16, ny = 16)))
    }

  test("initialize writes base mercator + admin layers with admin ids") {
    initOnce()
    val base = store.readParquet(spark, s"mercator_views/${country}_$zoom.parquet")
    assert(base.count() == 256)
    assert(base.filter(col("id").isNull).count() == 0)
    val adminView = store.readParquet(spark, s"admin_views/${country}_admin1.parquet")
    assert(adminView.count() == admins.count())
    // conservation: admin population sums = tile population sums
    val tileSum = tiles.agg(sum("population")).as[Double].head()
    val adminSum = adminView.agg(sum("population")).as[Double].head()
    assert(math.abs(tileSum - adminSum) < 1e-6)
  }

  test("update produces all views, a report, and is idempotent") {
    initOnce()
    val r1 = Jobs.update(spark, store, country, zoom, "TESTSTORM", "20260801000000",
      envs, Some(tracks), Some(boundary))
    assert(r1.processed, r1.reason)
    assert(r1.report.nonEmpty)
    assert(r1.report("storm") == "TESTSTORM")
    assert(r1.report("forecast_date") == "August 01, 2026 00:00 UTC")
    assert(r1.report("children_change_perc") == "-") // no previous forecast
    assert(store.list("mercator_impact_views").exists(_.endsWith("_cci.csv")))
    assert(store.list("admin_impact_views").nonEmpty)
    assert(store.list("track_views").nonEmpty)
    assert(store.list("reports_json").nonEmpty)
    // landfall: tracks march into the bbox -> not Unknown
    assert(r1.report("expected_landfall") != "Unknown")

    // re-run without rewrite: skipped
    val r2 = Jobs.update(spark, store, country, zoom, "TESTSTORM", "20260801000000",
      envs, Some(tracks), Some(boundary))
    assert(!r2.processed && r2.reason == "already-processed")

    // rewrite=true reprocesses
    val r3 = Jobs.update(spark, store, country, zoom, "TESTSTORM", "20260801000000",
      envs, Some(tracks), Some(boundary), rewrite = true)
    assert(r3.processed)
  }

  test("update with viewFormat=parquet writes partitioned-parquet views matching the CSV layout") {
    initOnce()
    val r = Jobs.update(spark, store, country, zoom, "PQSTORM", "20260801000000",
      envs, Some(tracks), Some(boundary), viewFormat = "parquet")
    assert(r.processed, r.reason)
    val mviews = store.list("mercator_impact_views").filter(_.startsWith("SYN_PQSTORM_"))
    assert(mviews.nonEmpty && mviews.forall(_.endsWith(".parquet")), mviews.mkString(","))
    assert(mviews.exists(_.endsWith("_cci.parquet")))
    val aviews = store.list("admin_impact_views").filter(_.startsWith("SYN_PQSTORM_"))
    assert(aviews.nonEmpty && aviews.forall(_.endsWith(".parquet")), aviews.mkString(","))
    // a per-threshold parquet view reads back with rows
    val one = aviews.find(f => f.contains("_admin1") && !f.contains("_cci")).get
    assert(store.readParquet(spark, s"admin_impact_views/$one").count() > 0)
  }

  test("next-forecast update computes change fields from the T-6h report (J15)") {
    initOnce()
    Jobs.update(spark, store, country, zoom, "TESTSTORM", "20260801000000",
      envs, Some(tracks), Some(boundary), rewrite = true)
    val r = Jobs.update(spark, store, country, zoom, "TESTSTORM", "20260801060000",
      envs, Some(tracks), Some(boundary))
    assert(r.processed)
    // identical envelopes -> all change fields vs previous forecast are 0
    val changes = r.report.collect {
      case (k, v: Long) if k.startsWith("change_children_") => v
    }
    assert(changes.nonEmpty && changes.forall(_ == 0L), s"changes=$changes")
    assert(r.report("children_change") == "+0" || r.report("children_change") == "0")
  }

  test("multi-admin-level update writes per-level views with conserved sums") {
    initOnce()
    // initialize a finer admin2 layer on demand (patch-mode creation,
    // impact_analysis.py:1456-1466) from coarse zoom-12 quadkey blocks
    val admins2 = SyntheticScenario.admins(spark, tiles, adminZoom = 12)
    Jobs.initializeAdminLevel(spark, store, country, zoom, 2, admins2)
    assert(Jobs.initializedAdminLevels(store, country) == Seq(1, 2))

    // base admin2 layer conserves tile sums
    val base2 = store.readParquet(spark, s"admin_views/${country}_admin2.parquet")
    assert(base2.count() == admins2.count())
    val tileSum = tiles.agg(sum("population")).as[Double].head()
    assert(math.abs(base2.agg(sum("population")).as[Double].head() - tileSum) < 1e-6)

    val r = Jobs.update(spark, store, country, zoom, "TESTSTORM", "20260801000000",
      envs, Some(tracks), Some(boundary), rewrite = true)
    assert(r.processed, r.reason)
    val adminFiles = store.list("admin_impact_views")
    assert(adminFiles.exists(_.endsWith("_admin2.csv")), s"admin2 views missing: $adminFiles")
    assert(adminFiles.exists(_.endsWith("_admin2_cci.csv")), s"admin2 cci missing: $adminFiles")

    // per-threshold E_population conservation: admin2 view sums = admin1 view sums
    def levelSums(level: Int): Map[String, Double] =
      adminFiles.filter(f => f.contains("TESTSTORM") && f.endsWith(s"_admin$level.csv")).map { f =>
        val df = spark.read.option("header", "true").option("inferSchema", "true")
          .csv(store.path(s"admin_impact_views/$f"))
        f.split("_").reverse(1) -> df.agg(sum("E_population")).as[Double].head()
      }.toMap
    val s1 = levelSums(1); val s2 = levelSums(2)
    assert(s1.keySet == s2.keySet, s"thresholds differ: ${s1.keySet} vs ${s2.keySet}")
    s1.foreach { case (th, v1) =>
      assert(math.abs(v1 - s2(th)) < 1e-6, s"threshold $th: admin1=$v1 admin2=${s2(th)}")
    }

    // CCI conservation across levels
    val cci1 = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(store.path(s"admin_impact_views/${country}_TESTSTORM_20260801000000_admin1_cci.csv"))
    val cci2 = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(store.path(s"admin_impact_views/${country}_TESTSTORM_20260801000000_admin2_cci.csv"))
    assert(cci2.count() > cci1.count()) // finer level -> more regions
    val c1 = cci1.agg(sum("E_CCI_pop")).as[Double].head()
    val c2 = cci2.agg(sum("E_CCI_pop")).as[Double].head()
    assert(math.abs(c1 - c2) < 1e-6, s"cci admin1=$c1 admin2=$c2")

    // the storm-independent tile map was persisted at init and used by update
    assert(store.exists(s"admin_views/${country}_admin2_tile_map.parquet"))

    // cleanup so the remaining single-level tests keep their expectations
    store.remove(s"admin_views/${country}_admin2.parquet")
    store.remove(s"admin_views/${country}_admin2_tile_map.parquet")
  }

  test("patch overwrites a column and re-aggregates admin views") {
    initOnce()
    val newVals = tiles.select(col("tile_id"), (col("population") * 2).as("population"))
    Jobs.patch(spark, store, country, zoom, newVals)
    val base = store.readParquet(spark, s"mercator_views/${country}_$zoom.parquet")
    val newSum = base.agg(sum("population")).as[Double].head()
    val origSum = tiles.agg(sum("population")).as[Double].head()
    assert(math.abs(newSum - 2 * origSum) < 1e-6)
    val adminView = store.readParquet(spark, s"admin_views/${country}_admin1.parquet")
    assert(math.abs(adminView.agg(sum("population")).as[Double].head() - 2 * origSum) < 1e-6)
  }

  test("report structure validates against the reference template") {
    initOnce()
    val r = Jobs.update(spark, store, country, zoom, "TESTSTORM", "20260801000000",
      envs, Some(tracks), Some(boundary), rewrite = true)
    val (missing, extra) = Reports.validate(r.report)
    // no invented keys
    assert(extra.isEmpty, s"extra keys: $extra")
    // only keys for unreached thresholds (96/113/137 — synthetic storm tops
    // out below) may be missing, same as the reference's debug-logged case
    val allowedMissingWinds = Set("96", "113", "137")
    val unexpected = missing.filterNot(k => allowedMissingWinds.exists(w => k.endsWith(s"_$w")))
      // top-k slots beyond the number of facilities present may be absent
      .filterNot(k => k.matches(".*_(name|edulevel|type|prob)_[1-5]$"))
      // shelters/wash layers are not initialized in this test: the reference
      // likewise omits change_* keys when expected_* is None (reports.py:688)
      .filterNot(k => k.startsWith("change_shelters_") || k.startsWith("change_wash_"))
    assert(unexpected.isEmpty, s"unexpectedly missing: $unexpected")
  }

  test("an update that fails releases every cache it made") {
    initOnce()
    // caches left by earlier suites are not this update's
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val persisted0 = sc.getPersistentRDDs.keySet
    // the report's landfall estimate orders each member's track by valid_time
    intercept[org.apache.spark.sql.AnalysisException] {
      Jobs.update(spark, store, country, zoom, "LEAKSTORM", "20260801000000",
        envs, Some(tracks.drop("valid_time")), Some(boundary))
    }
    assert(sc.getPersistentRDDs.keySet == persisted0)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("an update whose output fails rethrows that failure once every output has stopped") {
    initOnce()
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val persisted0 = sc.getPersistentRDDs.keySet
    val failing = new JobsSpec.FailingCsvStore(root)
    val thrown = intercept[JobsSpec.WriteFailed] {
      Jobs.update(spark, failing, country, zoom, "FAILSTORM", "20260801000000",
        envs, Some(tracks), Some(boundary))
    }
    // the CCI tile view and each admin level's CCI rollup are single CSVs
    assert(failing.calls.get >= 2)
    assert(thrown.getSuppressed.length == failing.calls.get - 1)
    assert(thrown.getSuppressed.forall(_.isInstanceOf[JobsSpec.WriteFailed]))
    ListenerBusDrain(sc)
    assert(sc.statusTracker.getActiveJobIds().isEmpty)
    assert(sc.getPersistentRDDs.keySet == persisted0)
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(!Jobs.loadProcessed(store).contains(
      Jobs.processedKey("FAILSTORM", Seq(country), "20260801000000")))
    assert(!store.exists("run_log") ||
      spark.read.parquet(store.path("run_log")).filter(col("storm") === "FAILSTORM").isEmpty)
  }

  test("every job an update starts carries the caller's job group") {
    initOnce()
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup("g", "storm update")
    try assert(Jobs.update(spark, store, country, zoom, "TESTSTORM", "20260801000000",
      envs, Some(tracks), Some(boundary), rewrite = true).processed)
    finally { sc.clearJobGroup(); ListenerBusDrain(sc); sc.removeSparkListener(listener) }
    assert(!groups.isEmpty)
    assert(groups.asScala.forall(_ == "g"), groups.asScala.toSeq.distinct)
  }

  test("report JSON round-trips through the serializer") {
    val report = Map[String, Any]("a" -> 1L, "b" -> "x", "c" -> null,
      "rows" -> Seq(Map[String, Any]("name" -> "R1", "34" -> 5L, "64" -> null)))
    val parsed = Reports.fromJson(Reports.toJson(report))
    assert(parsed("a") == 1L && parsed("b") == "x" && parsed("c") == null)
    val rows = parsed("rows").asInstanceOf[Seq[Map[String, Any]]]
    assert(rows.head("name") == "R1" && rows.head("34") == 5L && rows.head("64") == null)
  }

  test("date helpers match reference formats") {
    assert(Reports.previousDate("20260801060000") == "20260801000000")
    assert(Reports.futureDate("20260810000000", 6) == "August 10, 2026 06:00 UTC")
    assert(Reports.humanDate("20260410060000") == "April 10, 2026 06:00 UTC")
  }
}
