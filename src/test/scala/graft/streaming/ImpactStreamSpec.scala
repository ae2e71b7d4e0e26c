package graft.streaming

import graft.SparkSpec
import graft.geo.Geo
import graft.io.DataStore
import graft.pipeline.{Jobs, Orchestrator, Reports, SyntheticScenario}
import graft.pipeline.Orchestrator.StormRun
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

object ImpactStreamSpec {
  /** A store whose single-file writes under names containing `failing`
    * throw while `fail` is set. */
  final class FlakyStore(root: String, failing: String) extends DataStore(root) {
    @volatile var fail = true
    override def writeSingleCsv(df: DataFrame, rel: String): Unit =
      if (fail && rel.contains(failing)) throw new IllegalStateException(s"$rel unwritable")
      else super.writeSingleCsv(df, rel)
  }
}

/** End-to-end: envelope drops on a watched directory drive the full
  * update pipeline, with checkpoint + processed-state double dedup. */
class ImpactStreamSpec extends SparkSpec {

  import spark.implicits._

  private def tempDir(name: String) = java.nio.file.Files.createTempDirectory(name).toString

  private val store = new DataStore(tempDir("graft-istream"))
  private val dropDir = tempDir("graft-idrops")
  private val country = "SYN"
  private val zoom = 14

  private lazy val tiles = SyntheticScenario.tiles(spark, nx = 16, ny = 16)
  private lazy val envs = SyntheticScenario.envelopes(spark, members = 51)
  private lazy val tracks = SyntheticScenario.tracks(spark, members = 20)
  // on the synthetic tracks' NW path, so the report has a landfall
  private lazy val boundary = Geo.toWkb(Geo.box(-72.2, 18.8, -71.7, 19.2))

  private def initOnce(store: DataStore): Unit = {
    val layer = tiles // builds the session the store resolves its file system from
    if (!store.exists(s"mercator_views/${country}_$zoom.parquet"))
      Jobs.initialize(spark, store, country, zoom, layer,
        SyntheticScenario.admins(spark, layer), Map(
          "school" -> SyntheticScenario.facilities(spark, "school", 40, nx = 16, ny = 16),
          "hc" -> SyntheticScenario.facilities(spark, "hc", 20, nx = 16, ny = 16)))
  }

  private def drop(storm: String, date: String, n: String, dir: String = dropDir): Unit = {
    val keyed = envs
      .withColumn("track_id", lit(storm))
      .withColumn("forecast_time", lit(date))
      .select("track_id", "forecast_time", "ensemble_member", "wind_threshold", "geometry")
    val staging = tempDir("graft-istage")
    keyed.coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new java.io.File(staging).listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(dir, s"$n.parquet"))
  }

  private def report(store: DataStore, run: StormRun): Map[String, Any] =
    Reports.fromJson(store.readText(s"reports_json/${country}_${run.storm}_${run.date}.json"))

  private def completionRows(store: DataStore): Seq[Seq[String]] =
    Orchestrator.readCompletionLog(spark, store).orderBy("logged_at")
      .select("storm_ids").as[Seq[String]].collect().toSeq

  test("envelope drops drive the update pipeline with double dedup") {
    initOnce(store)

    // batch 1: one storm, one forecast
    drop("ALPHA", "20260801000000", "d1")
    val r1 = ImpactStream.runOnce(spark, store, dropDir, Seq(country), zoom)
    assert(r1.processed == Seq(StormRun("ALPHA", "20260801000000")), r1.toString)
    assert(store.list("mercator_impact_views")
      .exists(_.startsWith(s"${country}_ALPHA_20260801000000_")))
    assert(Jobs.loadProcessed(store).contains(
      Jobs.processedKey("ALPHA", Seq(country), "20260801000000")))

    // batch 2: a NEW forecast plus a RE-DROP of the processed one (new file,
    // same key): checkpoint passes the new file through, Jobs.update's
    // processed-state check skips the replayed key
    drop("ALPHA", "20260801060000", "d2")
    drop("ALPHA", "20260801000000", "d3")
    val r2 = ImpactStream.runOnce(spark, store, dropDir, Seq(country), zoom)
    assert(r2.processed == Seq(StormRun("ALPHA", "20260801060000")), r2.toString)
    assert(r2.skipped == Seq(StormRun("ALPHA", "20260801000000") -> "already-processed"))

    // restart with nothing new: the checkpoint remembers all consumed files
    val r3 = ImpactStream.runOnce(spark, store, dropDir, Seq(country), zoom)
    assert(r3 == Orchestrator.UpdateStats(), r3.toString)
  }

  test("a unit publishes the same report from the stream as from updateStorms") {
    val run = StormRun("ALPHA", "20260801000000")
    val streamed = new DataStore(tempDir("graft-istream-same"))
    val batched = new DataStore(tempDir("graft-ibatch-same"))
    Seq(streamed, batched).foreach(initOnce)

    val drops = tempDir("graft-idrops-same")
    drop(run.storm, run.date, "d1", drops)
    val s = ImpactStream.runOnce(spark, streamed, drops, Seq(country), zoom,
      tracksFor = _ => Some(tracks), boundaryFor = _ => Some(boundary))
    val catalog = Seq((run.storm, java.sql.Timestamp.valueOf("2026-08-01 00:00:00")))
      .toDF("track_id", "forecast_time")
    val b = Orchestrator.updateStorms(spark, batched, catalog, Seq(country), zoom,
      envelopesFor = (_, _) => envs, tracksFor = _ => Some(tracks),
      boundaryFor = _ => Some(boundary), today = java.time.LocalDate.of(2026, 8, 2))
    assert(s.processed == Seq(run) && b.processed == Seq(run), s"$s / $b")
    assert(s.filesWritten == b.filesWritten)

    val (fromStream, fromBatch) = (report(streamed, run), report(batched, run))
    assert(fromStream("expected_landfall") != "Unknown")
    assert(fromStream.keySet == fromBatch.keySet)
    (fromStream.keySet - "report_date").foreach { k =>
      assert(fromStream(k) == fromBatch(k), s"report key $k")
    }
  }

  test("a batch with a failed unit publishes the others and is replayed uncommitted") {
    // ALPHA's single-file views fail to write until `fail` is cleared; ALPHA
    // runs first in its batch
    val failing = new ImpactStreamSpec.FlakyStore(tempDir("graft-istream-fail"), "_ALPHA_")
    initOnce(failing)
    val drops = tempDir("graft-idrops-fail")
    val (alpha, bravo) = (StormRun("ALPHA", "20260801000000"), StormRun("BRAVO", "20260801000000"))
    drop(alpha.storm, alpha.date, "d1", drops)
    drop(bravo.storm, bravo.date, "d2", drops)

    intercept[Exception](ImpactStream.runOnce(spark, failing, drops, Seq(country), zoom))
    val recorded = Jobs.loadProcessed(failing)
    assert(!recorded.contains(Jobs.processedKey(alpha.storm, Seq(country), alpha.date)))
    assert(recorded.contains(Jobs.processedKey(bravo.storm, Seq(country), bravo.date)))
    assert(failing.exists(s"reports_json/${country}_BRAVO_${bravo.date}.json"))

    failing.fail = false
    val replayed = ImpactStream.runOnce(spark, failing, drops, Seq(country), zoom)
    assert(replayed.processed == Seq(alpha), replayed.toString)
    assert(replayed.skipped == Seq(bravo -> "already-processed"))
    assert(replayed.errors.isEmpty)
    // the replayed batch was committed
    assert(ImpactStream.runOnce(spark, failing, drops, Seq(country), zoom) == Orchestrator.UpdateStats())
    assert(completionRows(failing) == Seq(Seq("BRAVO"), Seq("ALPHA")))
  }

  test("a stream batch that processed a unit appends one completion row") {
    val logged = new DataStore(tempDir("graft-istream-log"))
    initOnce(logged)
    val drops = tempDir("graft-idrops-log")
    drop("ALPHA", "20260801000000", "d1", drops)
    ImpactStream.runOnce(spark, logged, drops, Seq(country), zoom)
    assert(completionRows(logged) == Seq(Seq("ALPHA")))

    // a re-drop of the processed key processes nothing: no row
    drop("ALPHA", "20260801000000", "d2", drops)
    val again = ImpactStream.runOnce(spark, logged, drops, Seq(country), zoom)
    assert(again.processed.isEmpty && again.skipped.size == 1, again.toString)
    assert(completionRows(logged) == Seq(Seq("ALPHA")))
  }
}
