package graft.plans

import graft.{SparkSpec, TestSpark}
import graft.geo.{Geo, GeoFunctions}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

class SpatialJoinStrategySpec extends SparkSpec {

  // a sibling session of this spec's own, so its broadcast-threshold
  // change stays out of the shared session's conf
  override lazy val spark: SparkSession = TestSpark.spark.newSession()

  import spark.implicits._

  private def boxes(n: Int, seed: Int, pfx: String) = {
    val rng = new scala.util.Random(seed)
    (1 to n).map { i =>
      val x = rng.nextDouble() * 3; val y = rng.nextDouble() * 3
      (s"$pfx$i", Geo.toWkb(Geo.box(x, y, x + 0.4, y + 0.4)))
    }
  }

  test("join with st_intersects plans as BroadcastSpatialJoinExec and matches ground truth") {
    val left = boxes(80, 1, "L").toDF("lid", "lgeom")
    val right = boxes(25, 2, "R").toDF("rid", "rgeom")
    val joined = left.join(right, call_function("st_intersects", $"lgeom", $"rgeom"))

    val planStr = joined.queryExecution.executedPlan.toString()
    assert(planStr.contains("BroadcastSpatialJoin"), s"plan was:\n$planStr")

    val got = joined.select("lid", "rid").as[(String, String)].collect().toSet
    val expected = (for {
      (lid, lg) <- boxes(80, 1, "L"); (rid, rg) <- boxes(25, 2, "R")
      if Geo.fromWkb(lg).intersects(Geo.fromWkb(rg))
    } yield (lid, rid)).toSet
    assert(got == expected, s"missing=${expected -- got} extra=${got -- expected}")
  }

  test("reversed operand order (right geom first) still plans and matches") {
    val left = boxes(30, 3, "L").toDF("lid", "lgeom")
    val right = boxes(10, 4, "R").toDF("rid", "rgeom")
    val joined = left.join(right, call_function("st_intersects", $"rgeom", $"lgeom"))
    assert(joined.queryExecution.executedPlan.toString().contains("BroadcastSpatialJoin"))
    val viaUdf = left.join(right, GeoFunctions.st_intersects($"rgeom", $"lgeom"))
      .select("lid", "rid").as[(String, String)].collect().toSet
    assert(joined.select("lid", "rid").as[(String, String)].collect().toSet == viaUdf)
  }

  test("st_within/st_contains join conditions plan and match ground truth, both operand orders") {
    val rng = new scala.util.Random(9)
    val pts = (1 to 50).map { i =>
      (s"P$i", Geo.toWkb(Geo.point(rng.nextDouble() * 3, rng.nextDouble() * 3)))
    }
    val zones = boxes(12, 10, "Z")
    val ptsDf = pts.toDF("pid", "pgeom")
    val zonesDf = zones.toDF("zid", "zgeom")
    val expected = (for {
      (pid, pg) <- pts; (zid, zg) <- zones
      if Geo.fromWkb(pg).within(Geo.fromWkb(zg))
    } yield (pid, zid)).toSet

    val within = ptsDf.join(zonesDf, call_function("st_within", $"pgeom", $"zgeom"))
    assert(within.queryExecution.executedPlan.toString().contains("BroadcastSpatialJoin"))
    assert(within.select("pid", "zid").as[(String, String)].collect().toSet == expected)

    // contains with zone on the left of the predicate (operand swap path)
    val contains = ptsDf.join(zonesDf, call_function("st_contains", $"zgeom", $"pgeom"))
    assert(contains.queryExecution.executedPlan.toString().contains("BroadcastSpatialJoin"))
    assert(contains.select("pid", "zid").as[(String, String)].collect().toSet == expected)
  }

  test("declines when neither side fits under autoBroadcastJoinThreshold") {
    val left = boxes(40, 7, "L").toDF("lid", "lgeom")
    val right = boxes(40, 8, "R").toDF("rid", "rgeom")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
      val joined = left.join(right, call_function("st_intersects", $"lgeom", $"rgeom"))
      val planStr = joined.queryExecution.executedPlan.toString()
      assert(!planStr.contains("BroadcastSpatialJoin"),
        s"large-both-sides join must NOT collect to the driver; plan was:\n$planStr")
      // Catalyst's fallback plan must still produce the right answer
      val got = joined.select("lid", "rid").as[(String, String)].collect().toSet
      val expected = (for {
        (lid, lg) <- boxes(40, 7, "L"); (rid, rg) <- boxes(40, 8, "R")
        if Geo.fromWkb(lg).intersects(Geo.fromWkb(rg))
      } yield (lid, rid)).toSet
      assert(got == expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("builds the smaller (left) side and still emits left++right column order") {
    val left = boxes(8, 11, "L").toDF("lid", "lgeom")
    val right = boxes(300, 12, "R").toDF("rid", "rgeom")
    val joined = left.join(right, call_function("st_intersects", $"lgeom", $"rgeom"))
    val planStr = joined.queryExecution.executedPlan.toString()
    assert(planStr.contains("BroadcastSpatialJoin"), s"plan was:\n$planStr")
    assert(planStr.contains("BuildLeftSide"), s"expected left build side; plan was:\n$planStr")
    assert(joined.columns.toSeq == Seq("lid", "lgeom", "rid", "rgeom"))
    val got = joined.select("lid", "rid").as[(String, String)].collect().toSet
    val expected = (for {
      (lid, lg) <- boxes(8, 11, "L"); (rid, rg) <- boxes(300, 12, "R")
      if Geo.fromWkb(lg).intersects(Geo.fromWkb(rg))
    } yield (lid, rid)).toSet
    assert(got == expected, s"missing=${expected -- got} extra=${got -- expected}")
  }

  test("st_within with a small LEFT zone side builds left and flips containment correctly") {
    val rng = new scala.util.Random(21)
    val pts = (1 to 400).map { i =>
      (s"P$i", Geo.toWkb(Geo.point(rng.nextDouble() * 3, rng.nextDouble() * 3)))
    }
    val zones = boxes(6, 22, "Z")
    val zonesDf = zones.toDF("zid", "zgeom")
    val ptsDf = pts.toDF("pid", "pgeom")
    // zones on the LEFT (small side), points streamed: st_contains(zone, pt)
    val joined = zonesDf.join(ptsDf, call_function("st_contains", $"zgeom", $"pgeom"))
    val planStr = joined.queryExecution.executedPlan.toString()
    assert(planStr.contains("BuildLeftSide"), s"plan was:\n$planStr")
    val got = joined.select("pid", "zid").as[(String, String)].collect().toSet
    val expected = (for {
      (pid, pg) <- pts; (zid, zg) <- zones
      if Geo.fromWkb(zg).contains(Geo.fromWkb(pg))
    } yield (pid, zid)).toSet
    assert(got == expected, s"missing=${expected -- got} extra=${got -- expected}")
  }

  test("downstream aggregation over the spatial join is correct (row reuse safety)") {
    val left = boxes(60, 5, "L").toDF("lid", "lgeom")
    val right = boxes(20, 6, "R").toDF("rid", "rgeom")
    val counts = left.join(right, call_function("st_intersects", $"lgeom", $"rgeom"))
      .groupBy("lid").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = boxes(60, 5, "L").map { case (lid, lg) =>
      lid -> boxes(20, 6, "R").count { case (_, rg) =>
        Geo.fromWkb(lg).intersects(Geo.fromWkb(rg))
      }.toLong
    }.filter(_._2 > 0).toMap
    assert(counts == expected)
  }
}
