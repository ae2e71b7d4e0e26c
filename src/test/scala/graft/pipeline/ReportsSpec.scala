package graft.pipeline

import graft.SparkSpec
import graft.geo.Geo
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Null semantics of report assembly (reference reports.py:29-40,645-658):
  * non-optional demographic totals follow pandas' DEFAULT sum (all-NaN →
  * 0.0 → a confirmed 0 in the report); only the facility-count keys use
  * `_optional_ceil` (all-NaN → None = N/A). And no NPEs on null sums. */
class ReportsSpec extends SparkSpec {

  import spark.implicits._

  test("maxWindThreshold is null-safe: an all-null probability threshold breaks the scan, no NPE") {
    val adminView = Seq(
      ("A1", 34, Some(0.5)),
      ("A1", 40, None: Option[Double]), // all-null group -> sum = null
      ("A1", 50, Some(0.4))
    ).toDF("tile_id", "wind_threshold", "probability")
    // NaN > 0 is False in the reference -> ordered scan breaks at 40
    assert(Reports.maxWindThreshold(adminView) == 34)
  }

  private def mkViews(schoolAgeNull: Boolean): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val schoolAge: Option[Double] = if (schoolAgeNull) None else Some(10.0)
    val tileView = Seq(
      ("t1", 34, 0.5, Some(100.0), schoolAge, Some(5.0), Some(5.0),
        None: Option[Double], Some(1.0), None: Option[Double], None: Option[Double],
        Some(21.0), Some(-0.2)),
      ("t2", 34, 0.25, Some(50.0), schoolAge, Some(2.0), Some(2.0),
        None, Some(2.0), None, None, Some(10.0), Some(0.1))
    ).toDF("tile_id", "wind_threshold", "probability", "E_population",
      "E_school_age_population", "E_infant_population", "E_adolescent_population",
      "E_num_schools", "E_num_hcs", "E_num_shelters", "E_num_wash",
      "E_smod_class", "E_rwi")
    val adminView = Seq(
      ("A1", 34, 0.5, Some(150.0), schoolAge, Some(7.0), Some(7.0),
        None: Option[Double], Some(3.0), None: Option[Double], None: Option[Double])
    ).toDF("tile_id", "wind_threshold", "probability", "E_population",
      "E_school_age_population", "E_infant_population", "E_adolescent_population",
      "E_num_schools", "E_num_hcs", "E_num_shelters", "E_num_wash")
    val cciTiles = Seq(("t1", 12.0, 3.0, 1.0, 1.0))
      .toDF("tile_id", "E_CCI_pop", "E_CCI_school_age", "E_CCI_infants", "E_CCI_adolescents")
    val cciAdmin = Seq(("A1", 12.0, 3.0, 1.0, 1.0))
      .toDF("id", "E_CCI_pop", "E_CCI_school_age", "E_CCI_infants", "E_CCI_adolescents")
    (tileView, adminView, cciTiles, cciAdmin)
  }

  test("all-null E_school_age: pandas default-sum semantics -> confirmed 0, not a crash") {
    val (tv, av, cciT, cciA) = mkViews(schoolAgeNull = true)
    val report = Reports.doReport(tv, av, None, None, None, None, cciT, cciA,
      Seq("A1" -> "Region One"), None, None, "SYN", "STORM", "20260801000000")
    assert(report.nonEmpty)
    // reference reports.py:645: math.ceil(all-NaN pandas sum) = ceil(0.0) = 0
    assert(report("expected_school_age") == 0L)
    assert(report("expected_children") == report("expected_infants").asInstanceOf[Long] +
      report("expected_adolescent").asInstanceOf[Long])
    // optional facility keys (_optional_ceil) stay null on all-null sums —
    // then the no-data postprocess (reports.py:747-773) keeps them null
    assert(report("expected_shelters") == null)
    // per-wind demographic keys also follow pandas default sum
    assert(report("expected_school_34") == 0L)
  }

  test("non-null school age still sums and ceils normally") {
    val (tv, av, cciT, cciA) = mkViews(schoolAgeNull = false)
    val report = Reports.doReport(tv, av, None, None, None, None, cciT, cciA,
      Seq("A1" -> "Region One"), None, None, "SYN", "STORM", "20260801000000")
    assert(report("expected_school_age") == 20L) // ceil(10 + 10)
    assert(report("expected_cci_pop") == 12L)
  }

  /** Tile rows at the expected threshold (50): (tile, probability,
    * E_population, E_smod_class, E_rwi); the other E_ columns scale with
    * E_population. */
  private type VRow = (String, Double, Double, Option[Double], Option[Double])
  private val vulnerabilityTiles: Seq[VRow] = Seq(
    ("u_severe", 0.5, 100.0, Some(15.0), Some(-0.6)),   // smod 30: urban; rwi -1.2: severe
    ("r_poverty", 0.5, 40.0, Some(5.0), Some(-0.4)),    // smod 10: rural; rwi -0.8: poverty
    ("zero_p", 0.0, 0.0, Some(0.0), Some(0.0)),         // probability 0: no data, and no division
    ("nan_smod", 0.25, 30.0, Some(Double.NaN), None),   // NaN / null: dropped like na.drop
    ("null_smod", 0.25, 20.0, None, Some(Double.NaN)),
    ("r_none", 0.25, 10.0, Some(2.5), Some(0.25)))      // smod 10: rural; rwi 1.0: neither

  private def vulnerabilityReport(rows: Seq[VRow]) = {
    val at50 = rows.map { case (t, p, pop, smod, rwi) =>
      (t, 50, p, pop, pop * 0.2, pop * 0.1, pop * 0.05, smod, rwi)
    }
    val tileView = (at50 :+ (("t34", 34, 0.75, 7.0, 1.4, 0.7, 0.35, Some(14.0), Some(0.1))))
      .toDF("tile_id", "wind_threshold", "probability", "E_population",
        "E_school_age_population", "E_infant_population", "E_adolescent_population",
        "E_smod_class", "E_rwi")
      .withColumn("E_num_schools", lit(null).cast("double"))
      .withColumn("E_num_hcs", lit(null).cast("double"))
      .withColumn("E_num_shelters", lit(null).cast("double"))
      .withColumn("E_num_wash", lit(null).cast("double"))
    val adminView = tileView.groupBy(lit("A1").as("tile_id"), col("wind_threshold"))
      .agg(sum("E_population").as("E_population"),
        sum("E_school_age_population").as("E_school_age_population"),
        sum("E_infant_population").as("E_infant_population"),
        sum("E_adolescent_population").as("E_adolescent_population"),
        sum("E_num_schools").as("E_num_schools"), sum("E_num_hcs").as("E_num_hcs"),
        sum("E_num_shelters").as("E_num_shelters"), sum("E_num_wash").as("E_num_wash"),
        lit(0.5).as("probability"))
    val cciAdmin = Seq(("A1", 1.0, 1.0, 1.0, 1.0))
      .toDF("id", "E_CCI_pop", "E_CCI_school_age", "E_CCI_infants", "E_CCI_adolescents")
    Reports.doReport(tileView, adminView, None, None, None, None, cciAdmin, cciAdmin,
      Seq("A1" -> "Region One"), None, None, "SYN", "STORM", "20260801000000")
  }

  test("vulnerability sums: probability-0 and NaN/null rows are skipped, no divide-by-zero") {
    val report = vulnerabilityReport(vulnerabilityTiles)
    // by hand: keep rows whose index is neither null nor NaN and whose
    // probability is positive, bucket by index / probability
    def byHand(index: VRow => Option[Double], bucket: Double => Boolean, share: Double): Long =
      vulnerabilityTiles.filter(r => r._2 > 0 && index(r).exists(v => !v.isNaN && bucket(v / r._2)))
        .map(_._3 * share).sum.toLong
    val buckets: Seq[(String, VRow => Option[Double], Double => Boolean)] = Seq(
      ("urban", _._4, _ >= Constants.UrbanSmodThreshold),
      ("rural", _._4, _ < Constants.UrbanSmodThreshold),
      ("poverty", _._5, v => v >= Constants.RwiSevere && v < Constants.RwiPoverty),
      ("severe", _._5, _ < Constants.RwiSevere))
    for ((b, index, in) <- buckets;
         (k, share) <- Seq("pop" -> 1.0, "school" -> 0.2, "infant" -> 0.1, "adolescent" -> 0.05))
      assert(report(s"expected_${k}_$b") == byHand(index, in, share), s"expected_${k}_$b")
    assert(report("expected_pop_urban") == 100L && report("expected_pop_rural") == 50L)
    assert(report("expected_pop_poverty") == 40L && report("expected_pop_severe") == 100L)
  }

  test("vulnerability keys are null when every row at the expected threshold is dropped") {
    val report = vulnerabilityReport(vulnerabilityTiles.filter(r =>
      Set("zero_p", "nan_smod", "null_smod").contains(r._1)))
    assert(report.nonEmpty)
    for (b <- Seq("urban", "rural", "poverty", "severe"); k <- Seq("pop", "school", "infant", "adolescent"))
      assert(report(s"expected_${k}_$b") == null, s"expected_${k}_$b")
  }

  test("expected landfall of an empty track set is Unknown") {
    val none = SyntheticScenario.tracks(spark, members = 2).filter(lit(false))
    val country = graft.geo.Geo.toWkb(graft.geo.Geo.box(-72.2, 18.8, -71.7, 19.2))
    assert(Reports.expectedLandfall(none, country, "20260801000000") == "Unknown")
  }

  /** The country of the landfall cases: the box (0, 0)–(10, 10). */
  private val landfallCountry = Geo.toWkb(Geo.box(0, 0, 10, 10))
  private val landfallDate = "20260801000000"

  /** Track points (member, lead time in hours, point), in the given order;
    * `valid_time` is the forecast time plus the lead time. */
  private def landfall(points: (Option[Int], Int, Option[(Double, Double)])*): String = {
    val t0 = java.sql.Timestamp.valueOf("2026-08-01 00:00:00").getTime
    val tracks = points.map { case (member, lead, point) =>
      (member, new java.sql.Timestamp(t0 + lead * 3600L * 1000), lead,
        point.map { case (lon, lat) => Geo.toWkb(Geo.point(lon, lat)) })
    }.toDF("ensemble_member", "valid_time", "lead_time", "geometry")
    Reports.expectedLandfall(tracks, landfallCountry, landfallDate)
  }
  private def at(lead: Int): String = Reports.futureDate(landfallDate, lead)

  test("expected landfall: a member's first point inside the country wins over an earlier crossing") {
    assert(landfall((Some(1), 6, Some((-5.0, 5.0))), (Some(1), 12, Some((5.0, 5.0))),
      (Some(1), 18, Some((15.0, 5.0)))) == at(12))
  }

  test("expected landfall: a member that only crosses lands at its crossing segment's first point") {
    assert(landfall((Some(1), 6, Some((-5.0, 5.0))), (Some(1), 12, Some((15.0, 5.0))),
      (Some(1), 18, Some((15.0, 20.0)))) == at(6))
  }

  test("expected landfall: every member inside at lead 0 has already landed") {
    assert(landfall((Some(1), 0, Some((5.0, 5.0))), (Some(2), 0, Some((-5.0, 5.0))),
      (Some(2), 6, Some((15.0, 5.0)))) == "Already landed")
  }

  test("expected landfall: points are taken in valid_time order, not in row order") {
    // in time order member 1 goes north, then east, and never meets the
    // country; in row order its first segment would cut across it
    assert(landfall((Some(1), 12, Some((15.0, 20.0))), (Some(1), 0, Some((-5.0, 5.0))),
      (Some(1), 6, Some((-5.0, 20.0))), (Some(2), 6, Some((5.0, 5.0)))) == at(6))
  }

  test("expected landfall: a null geometry is neither inside nor the end of a crossing segment") {
    assert(landfall((Some(1), 0, Some((-5.0, 5.0))), (Some(1), 6, None),
      (Some(1), 12, Some((15.0, 5.0))), (Some(2), 18, Some((5.0, 5.0)))) == at(18))
  }

  test("expected landfall: members landing at different leads give the earliest-latest range") {
    // the null-member points are one member of their own
    assert(landfall((Some(1), 6, Some((5.0, 5.0))), (None, 12, Some((-5.0, 5.0))),
      (None, 18, Some((15.0, 5.0))), (Some(2), 24, Some((-5.0, 5.0)))) == s"${at(6)} – ${at(12)}")
  }
}
