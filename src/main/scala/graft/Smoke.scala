package graft

import graft.geo.Geo
import graft.io.DataStore
import graft.pipeline.{Jobs, SyntheticScenario}

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
    val result = Jobs.update(spark, store, "SYN", 14, "SMOKE", "20260801000000",
      SyntheticScenario.envelopes(spark, members = 51),
      Some(SyntheticScenario.tracks(spark, members = 20)),
      Some(Geo.toWkb(Geo.box(-72.2, 18.8, -71.7, 19.2))))
    println(s"[smoke] update processed=${result.processed} reason=${result.reason}")
    println(s"[smoke] report keys = ${result.report.size}")
    println(s"[smoke] report sample: storm=${result.report.get("storm")} " +
      s"category=${result.report.get("storm_category")} " +
      s"landfall=${result.report.get("expected_landfall")} " +
      s"expected_children=${result.report.get("expected_children")}")
    Jobs.ViewDirs.foreach { d =>
      println(s"[smoke] $d: ${store.list(d).size} files")
    }
    assert(result.processed && result.report.nonEmpty)
    spark.stop()
  }
}
