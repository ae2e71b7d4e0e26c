package graft

/** The gate registry: 296 uniquely named gates, each in its family and
  * with oracle SQL, and a gate leaves the session it runs on as it found
  * it. */
class GateRegistrySpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("the 296 gates have unique names with their family's letter, non-blank oracle SQL, and both maps carry every name") {
    val names = SparkEntry.gates.map(_.name)
    val dups = names.diff(names.distinct)
    assert(dups.isEmpty, s"duplicate gate names: $dups")
    assert(names.size == 296)
    val families = Seq(
      "q" -> graft.gates.RelationalGates.gates, "d" -> graft.gates.DataOpsGates.gates,
      "s" -> graft.gates.StreamingGates.gates, "m" -> graft.gates.MediaGates.gates,
      "g" -> graft.gates.GeoGates.gates, "v" -> graft.gates.VectorGates.gates)
    val misfiled = families.flatMap { case (letter, gates) =>
      gates.map(_.name).filterNot(_.startsWith(letter))
    }
    assert(misfiled.isEmpty, s"gates outside their family: $misfiled")
    val blank = SparkEntry.gates.filter(_.oracleSql.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"gates with blank oracle SQL: $blank")
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == names.toSet)
  }

  test("g08 and an events-reading gate leave the shared session's conf, strategies and functions unchanged") {
    def state = (spark.conf.getAll, spark.experimental.extraStrategies,
      spark.catalog.listFunctions().collect().map(_.name).toSet)
    val before = state
    val g08 = SparkEntry.queries("g08_strategy_join")(spark, sf)
    assert(g08.queryExecution.executedPlan.toString.contains("BroadcastSpatialJoin"))
    assert(g08.count() > 0)
    assert(SparkEntry.queries("q12_lag_delta")(spark, sf).count() > 0)
    val after = state
    assert(after._1 == before._1, s"conf changed: ${after._1.toSet diff before._1.toSet}")
    assert(after._2 == before._2)
    assert(after._3 == before._3)
  }
}
