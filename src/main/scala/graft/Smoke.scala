package graft

import graft.geo.Geo
import graft.io.DataStore
import graft.pipeline.{Jobs, Orchestrator, Reports, SyntheticScenario}

/** Local smoke runner: exercises SparkEntry.entry the way the driver does
  * (rows > 0) plus the full initialize→update pipeline lifecycle on a temp
  * DataStore, printing the produced views and report keys. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = EngineSession.start("graft-smoke")

    // 1. flagship entry
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(3, truncate = false)
    println(s"[smoke] entry rows = $n")
    assert(n > 0, "entry must return rows")

    // 2. full pipeline lifecycle on a temp store
    val root = java.nio.file.Files.createTempDirectory("graft-smoke").toString
    val store = new DataStore(root)
    val tiles = SyntheticScenario.tiles(spark, nx = 16, ny = 16)
    Jobs.initialize(spark, store, "SYN", 14, tiles,
      SyntheticScenario.admins(spark, tiles), Map(
        "school" -> SyntheticScenario.facilities(spark, "school", 40, nx = 16, ny = 16),
        "hc" -> SyntheticScenario.facilities(spark, "hc", 20, nx = 16, ny = 16)))
    val stats = Orchestrator.runUnits(spark, store,
      Seq(Orchestrator.StormRun("SMOKE", "20260801000000")), Seq("SYN"), 14,
      envelopesFor = (_, _) => SyntheticScenario.envelopes(spark, members = 51),
      tracksFor = _ => Some(SyntheticScenario.tracks(spark, members = 20)),
      boundaryFor = _ => Some(Geo.toWkb(Geo.box(-72.2, 18.8, -71.7, 19.2))))
    println(s"[smoke] update $stats")
    assert(stats.processed.nonEmpty, stats.errors.mkString("; "))
    val report = Reports.fromJson(store.readText("reports_json/SYN_SMOKE_20260801000000.json"))
    println(s"[smoke] report keys = ${report.size}")
    println("[smoke] report sample: " + Seq("storm", "storm_category", "expected_landfall",
      "expected_children").map(k => s"$k=${report.get(k)}").mkString(" "))
    Jobs.ViewDirs.foreach(d => println(s"[smoke] $d: ${store.list(d).size} files"))
    assert(report.nonEmpty)
    spark.stop()
  }
}
