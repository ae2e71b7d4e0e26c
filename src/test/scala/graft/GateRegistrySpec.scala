package graft

/** The gate registry: every gate has oracle SQL, and a gate leaves the
  * session it runs on as it found it. */
class GateRegistrySpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("every gate has oracle SQL and every oracle SQL names a gate") {
    val gates = SparkEntry.queries.keySet
    val oracle = SparkEntry.oracleSql.keySet
    assert(gates == oracle,
      s"gates without oracle SQL: ${(gates -- oracle).toSeq.sorted}; " +
        s"oracle SQL without a gate: ${(oracle -- gates).toSeq.sorted}")
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
