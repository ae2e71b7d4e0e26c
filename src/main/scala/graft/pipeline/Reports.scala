package graft.pipeline

import graft.geo.{Geo, GeoFunctions}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.Locale

/**
 * JSON situation-report assembly (reference reports.py:577-783).
 *
 * All heavy inputs arrive as DataFrames. Each Spark query costs a fixed
 * amount (scheduling, code generation) whatever its size, so [[doReport]]
 * reads each input in one pass and brings each small result to the driver
 * once:
 *  - the admin view: one groupBy(admin, threshold) collect gives the
 *    per-admin rows and, summed on the driver, `maxWind`;
 *  - the tile view: one groupBy(threshold) collect gives the present
 *    thresholds, the per-threshold totals and the urban/rural and
 *    poverty/severe sums with their row counts;
 *  - the CCI admin view: one collect gives the per-admin CCI values and
 *    the country totals;
 *  - each facility view: one top-5 query at the expected threshold;
 *  - the tracks: the landfall estimate ([[expectedLandfall]]).
 * Everything else is driver-side composition of those small results — the
 * Spark-idiomatic shape for a ~200-key nested document (SURVEY.md §2.9).
 */
object Reports {

  /** reports.py:55-64 */
  val StormCategories: Map[Int, String] = Map(
    34 -> "Tropical Storm", 40 -> "Strong Tropical Storm", 50 -> "Very Strong TS",
    64 -> "Cat 1 Hurricane", 83 -> "Cat 2 Hurricane", 96 -> "Cat 3 Hurricane",
    113 -> "Cat 4 Hurricane", 137 -> "Cat 5 Hurricane")

  val KeyForExpected = 50 // reports.py:67
  private val Winds = StormCategories.keys.toSeq.sorted

  private val CompactFmt = DateTimeFormatter.ofPattern("yyyyMMddHHmmss")
  private val HumanFmt = DateTimeFormatter.ofPattern("MMMM dd, yyyy HH:mm 'UTC'", Locale.US)

  /** YYYYMMDDHHMMSS − 6 h (reports.py:195-207). */
  def previousDate(date: String): String =
    LocalDateTime.parse(date, CompactFmt).minusHours(Constants.ForecastStepHours).format(CompactFmt)

  /** YYYYMMDDHHMMSS + delta → "April 10, 2026 06:00 UTC" (reports.py:209-222). */
  def futureDate(date: String, deltaHours: Int): String =
    LocalDateTime.parse(date, CompactFmt).plusHours(deltaHours).format(HumanFmt)

  def humanDate(date: String): String =
    LocalDateTime.parse(date, CompactFmt).format(HumanFmt)

  /**
   * Expected landfall (reports.py:256-311, J16/W7): per ensemble member the
   * first (time-ordered) track point inside the country — else the first
   * track segment crossing the boundary; report min–max lead time plus the
   * member fraction. One window pass + one broadcast geometry test. No
   * track rows give "Unknown" through the same aggregate (no member lands).
   */
  def expectedLandfall(tracks: DataFrame, countryWkb: Array[Byte], date: String): String = {
    val spark = tracks.sparkSession
    val bc = spark.sparkContext.broadcast(countryWkb)
    val cache = new graft.util.ThreadLocalCache[org.locationtech.jts.geom.prep.PreparedGeometry](
      () => org.locationtech.jts.geom.prep.PreparedGeometryFactory.prepare(Geo.fromWkb(bc.value)))
    val withinUdf = udf { (g: Array[Byte]) =>
      if (g == null) false else cache.get.contains(Geo.fromWkb(g))
    }
    val segIntersectsUdf = udf { (a: Array[Byte], b: Array[Byte]) =>
      if (a == null || b == null) false
      else {
        val pa = Geo.fromWkb(a).getCoordinate; val pb = Geo.fromWkb(b).getCoordinate
        cache.get.intersects(Geo.line(Seq((pa.x, pa.y), (pb.x, pb.y))))
      }
    }
    val w = Window.partitionBy("ensemble_member").orderBy("valid_time")
    val flagged = tracks
      .withColumn("__next_geom", lead(col("geometry"), 1).over(w))
      .withColumn("__in", withinUdf(col("geometry")))
      .withColumn("__cross", segIntersectsUdf(col("geometry"), col("__next_geom")))
    // per member: lead_time of first inside point, else of first crossing segment
    val perMember = flagged.groupBy("ensemble_member").agg(
      min(when(col("__in"), col("lead_time"))).as("in_lead"),
      min(when(col("__cross"), col("lead_time"))).as("cross_lead"),
      count(lit(1)).as("n"))
      .withColumn("landfall_lead", coalesce(col("in_lead"), col("cross_lead")))
    val stats = perMember.agg(
      count(lit(1)).as("n_total"),
      count(col("landfall_lead")).as("n_landfall"),
      min(col("landfall_lead")).as("earliest"),
      max(col("landfall_lead")).as("latest")).head()
    val nTotal = stats.getLong(0); val nLf = stats.getLong(1)
    if (nLf == 0) return "Unknown"
    val earliest = stats.getAs[Number]("earliest").intValue()
    val latest = stats.getAs[Number]("latest").intValue()
    if (latest == 0) "Already landed"
    else if (earliest == latest) futureDate(date, earliest)
    else s"${futureDate(date, earliest)} – ${futureDate(date, latest)}"
  }

  /** Max threshold with nonzero probability; ordered early-break on the
    * monotone envelope property (reports.py:319-339, W6). A threshold whose
    * probabilities are all null sums to null — treated like NaN in the
    * reference (NaN > 0 is False), i.e. it breaks the scan, never NPEs. */
  def maxWindThreshold(adminView: DataFrame): Int =
    maxWindOf(adminView.groupBy("wind_threshold").agg(sum("probability").as("p"))
      .collect().map(r => r.getInt(0) -> doubleOf(r.get(1))).toMap)

  /** The ordered scan of [[maxWindThreshold]] over per-threshold
    * probability sums (None = all-null). */
  private def maxWindOf(sums: Map[Int, Option[Double]]): Int = {
    var maxWind = 0
    var broken = false
    Winds.foreach { w =>
      if (!broken) sums.get(w).foreach { p =>
        if (p.exists(_ > 0)) maxWind = w else broken = true
      }
    }
    maxWind
  }

  private def doubleOf(v: Any): Option[Double] =
    Option(v).map(_.asInstanceOf[Number].doubleValue())

  /** `_optional_ceil` (reports.py:29-34): None when the sum is null (all-NaN
    * / missing column) — ONLY the facility-count keys use this. */
  private def ceilOrNull(v: Any): Any = v match {
    case null => null
    case d: java.lang.Double => math.ceil(d).toLong
    case n: Number => math.ceil(n.doubleValue()).toLong
  }
  /** Plain `math.ceil(series.sum())` (reports.py:645-649,670-673): pandas'
    * default sum maps an all-NaN column to 0.0, so no-data demographics are
    * a CONFIRMED 0 in the reference — explicit here, not an unboxing
    * accident. */
  private def ceilOrZero(v: Any): Long = v match {
    case null => 0L
    case n: Number => math.ceil(n.doubleValue()).toLong
  }
  /** `int(series.sum())` (reports.py:655-658): same pandas default, 0 on all-NaN. */
  private def intOrZero(v: Any): Long = v match {
    case null => 0L
    case n: Number => n.doubleValue().toLong
  }

  /**
   * Assemble the full report (reference do_report). DataFrame inputs follow
   * the engine's long format (wind_threshold column instead of per-threshold
   * dicts). Returns an ordered key→value map; empty when no impact.
   *
   * @param cciTiles the CCI tile view; unread, since the country totals are
   *                 the sums of `cciAdmin`'s rows (kept in the signature for
   *                 callers that pass both CCI views).
   * @param previous previous forecast's report (loaded by the caller from
   *                 the T−6h JSON, J15) — change fields are computed from it.
   */
  def doReport(tileView: DataFrame, adminView: DataFrame,
               schoolView: Option[DataFrame], hcView: Option[DataFrame],
               shelterView: Option[DataFrame], washView: Option[DataFrame],
               cciTiles: DataFrame, cciAdmin: DataFrame,
               adminNames: Seq[(String, String)],
               tracks: Option[DataFrame], countryWkb: Option[Array[Byte]],
               country: String, storm: String, date: String,
               previous: Map[String, Any] = Map.empty,
               nowProvider: () => String = () => LocalDateTime.now().format(HumanFmt)): Map[String, Any] = {

    // per-admin rows (reports.py:464-577) and maxWind from ONE pass over the
    // long admin view: a threshold's probability sum is the sum of its
    // admins' sums, null only when all of them are
    val adminAgg = adminView.groupBy("tile_id", "wind_threshold").agg(
      sum("E_population").as("pop"), sum("E_school_age_population").as("school"),
      sum("E_infant_population").as("infant"), sum("E_adolescent_population").as("adolescent"),
      sum("E_num_schools").as("schools"), sum("E_num_hcs").as("hcs"),
      sum("E_num_shelters").as("shelters"), sum("E_num_wash").as("wash"),
      sum("probability").as("p"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r).toMap
    val maxWind = maxWindOf(adminAgg.toSeq
      .groupMap(_._1._2)(e => doubleOf(e._2.getAs[Any]("p")))
      .map { case (w, ps) => w -> ps.flatten.reduceOption(_ + _) })
    if (maxWind == 0) return Map.empty

    // ONE pass over the tile view per threshold: the totals, and the
    // vulnerability sums (reports.py:393-462) with the number of rows that
    // carry data — none means null keys (no data), not 0 (confirmed zero).
    // A row carries data when its index is neither null nor NaN (`na.drop`)
    // and its probability is positive. Every ratio is guarded by that
    // probability test itself: with ANSI on, common-subexpression
    // elimination would evaluate an unguarded division outside its `when`.
    val popCols = Seq("pop" -> "E_population", "school" -> "E_school_age_population",
      "infant" -> "E_infant_population", "adolescent" -> "E_adolescent_population")
    val positive = col("probability") > 0
    def hasData(c: String): Column = col(c).isNotNull && !isnan(col(c)) && positive
    def actual(c: String): Column = when(positive, col(c) / col("probability"))
    val smod = actual("E_smod_class")
    val rwi = actual("E_rwi")
    val buckets = Seq(
      "urban" -> (hasData("E_smod_class") && smod >= Constants.UrbanSmodThreshold),
      "rural" -> (hasData("E_smod_class") && smod < Constants.UrbanSmodThreshold),
      "poverty" -> (hasData("E_rwi") && rwi >= Constants.RwiSevere && rwi < Constants.RwiPoverty),
      "severe" -> (hasData("E_rwi") && rwi < Constants.RwiSevere))
    val tileAggs = Seq(
      sum("E_school_age_population").as("school"),
      sum("E_infant_population").as("infant"),
      sum("E_adolescent_population").as("adolescent"),
      sum("E_population").as("pop"),
      sum("E_num_schools").as("schools"),
      sum("E_num_hcs").as("hcs"),
      sum("E_num_shelters").as("shelters"),
      sum("E_num_wash").as("wash"),
      count(when(hasData("E_smod_class"), lit(1))).as("smod_rows"),
      count(when(hasData("E_rwi"), lit(1))).as("rwi_rows")) ++
      buckets.flatMap { case (b, cond) =>
        popCols.map { case (k, c) => sum(when(cond, col(c))).as(s"${b}_$k") }
      }
    val totalsByWind = tileView.groupBy("wind_threshold").agg(tileAggs.head, tileAggs.tail: _*)
      .collect().map(r => r.getInt(0) -> r).toMap

    val presentWinds = totalsByWind.keys.toSeq.sorted
    if (presentWinds.isEmpty) return Map.empty
    val expectedWind = if (presentWinds.contains(KeyForExpected)) KeyForExpected else presentWinds.min

    val d = scala.collection.mutable.LinkedHashMap[String, Any]()
    d += "country" -> country
    d += "storm" -> storm
    d += "forecast_date" -> humanDate(date)
    d += "storm_category" -> StormCategories(maxWind)
    d += "expected_landfall" -> ((tracks, countryWkb) match {
      case (Some(t), Some(c)) => expectedLandfall(t, c, date)
      case _ => "Unknown"
    })
    d += "next_forecast_date" -> futureDate(date, Constants.ForecastStepHours)
    d += "report_date" -> nowProvider()

    val exp = totalsByWind(expectedWind)
    val expSchool = ceilOrZero(exp.get(exp.fieldIndex("school")))
    val expInfant = ceilOrZero(exp.get(exp.fieldIndex("infant")))
    val expAdolescent = ceilOrZero(exp.get(exp.fieldIndex("adolescent")))
    d += "expected_school_age" -> expSchool
    d += "expected_infants" -> expInfant
    d += "expected_adolescent" -> expAdolescent
    val expChildren = expSchool + expInfant + expAdolescent
    d += "expected_children" -> expChildren
    d += "expected_pop" -> ceilOrZero(exp.get(exp.fieldIndex("pop")))
    d += "expected_schools" -> ceilOrNull(exp.get(exp.fieldIndex("schools")))
    d += "expected_hcs" -> ceilOrNull(exp.get(exp.fieldIndex("hcs")))
    d += "expected_shelters" -> ceilOrNull(exp.get(exp.fieldIndex("shelters")))
    d += "expected_wash" -> ceilOrNull(exp.get(exp.fieldIndex("wash")))

    // per-admin CCI values and the country totals from ONE collect
    val cciRows = cciAdmin.collect()
    val cciByAdmin = cciRows.map(r => r.getAs[String]("id") -> r).toMap
    def cciTotal(c: String): Long =
      cciRows.flatMap(r => doubleOf(r.getAs[Any](c))).reduceOption(_ + _).map(_.toLong).getOrElse(0L)
    d += "expected_cci_pop" -> cciTotal("E_CCI_pop")
    d += "expected_cci_school" -> cciTotal("E_CCI_school_age")
    d += "expected_cci_infant" -> cciTotal("E_CCI_infants")
    d += "expected_cci_adolescent" -> cciTotal("E_CCI_adolescents")

    // children change vs previous forecast (reports.py:360-391)
    val prevChildren = previous.get("expected_children").collect { case n: Number => n.longValue() }
    prevChildren match {
      case None =>
        d += "children_change_direction" -> "increased"
        d += "children_change" -> s"+$expChildren"
        d += "children_change_perc" -> "-"
      case Some(pc) =>
        val change = expChildren - pc
        d += "children_change_direction" -> (if (change > 0) "increased" else "decreased")
        d += "children_change" -> (if (change > 0) s"+$change" else change.toString)
        d += "children_change_perc" -> (if (pc > 0) math.abs(change).toDouble / pc * 100 else 0L)
    }

    // per-wind expected/change keys
    presentWinds.foreach { wind =>
      val t = totalsByWind(wind)
      val sch = ceilOrZero(t.get(t.fieldIndex("school")))
      val inf = ceilOrZero(t.get(t.fieldIndex("infant")))
      val ado = ceilOrZero(t.get(t.fieldIndex("adolescent")))
      d += s"expected_pop_$wind" -> ceilOrZero(t.get(t.fieldIndex("pop")))
      d += s"expected_school_$wind" -> sch
      d += s"expected_infant_$wind" -> inf
      d += s"expected_adolescent_$wind" -> ado
      d += s"expected_children_$wind" -> (sch + inf + ado)
      d += s"expected_schools_$wind" -> ceilOrNull(t.get(t.fieldIndex("schools")))
      d += s"expected_hcs_$wind" -> ceilOrNull(t.get(t.fieldIndex("hcs")))
      d += s"expected_shelters_$wind" -> ceilOrNull(t.get(t.fieldIndex("shelters")))
      d += s"expected_wash_$wind" -> ceilOrNull(t.get(t.fieldIndex("wash")))

      def prevNum(k: String): Long =
        previous.get(k).collect { case n: Number => n.longValue() }.getOrElse(0L)
      if (previous.isEmpty) {
        d += s"change_school_$wind" -> sch
        d += s"change_infant_$wind" -> inf
        d += s"change_children_$wind" -> (sch + inf + ado)
        Seq("schools", "hcs", "shelters", "wash").foreach { f =>
          Option(d(s"expected_${f}_$wind")).foreach(v => d += s"change_${f}_$wind" -> v)
        }
      } else {
        d += s"change_school_$wind" -> (sch - prevNum(s"expected_school_$wind"))
        d += s"change_infant_$wind" -> (inf - prevNum(s"expected_infant_$wind"))
        d += s"change_children_$wind" -> (sch + inf + ado - prevNum(s"expected_children_$wind"))
        Seq("schools", "hcs", "shelters", "wash").foreach { f =>
          Option(d(s"expected_${f}_$wind")).foreach { v =>
            d += s"change_${f}_$wind" -> (v.asInstanceOf[Long] - prevNum(s"expected_${f}_$wind"))
          }
        }
      }
    }

    // top-5 facilities by probability at the expected threshold (W1). A
    // facility view has the tile view's thresholds: both come from
    // probabilityByThreshold(keepZeroRows = true) over the same envelopes.
    def topFacilities(view: Option[DataFrame], prefix: String,
                      nameCol: String, typeCol: String, typeKey: String): Unit =
      view.foreach { v =>
        val top = v.filter(col("wind_threshold") === expectedWind)
          .orderBy(col("probability").desc)
          .limit(Constants.TopK).collect()
        top.zipWithIndex.foreach { case (row, i) =>
          def get(c: String): Any =
            if (row.schema.fieldNames.contains(c)) row.getAs[Any](c) else ""
          d += s"${prefix}_name_${i + 1}" -> get(nameCol)
          d += s"${prefix}_${typeKey}_${i + 1}" -> get(typeCol)
          d += s"${prefix}_prob_${i + 1}" -> row.getAs[Double]("probability")
        }
      }
    topFacilities(schoolView, "school", "school_name", "education_level", "edulevel")
    topFacilities(hcView, "hc", "name", "amenity", "type")
    topFacilities(shelterView, "shelter", "name", "shelter_type", "type")
    topFacilities(washView, "wash", "name", "wash_type", "type")

    // vulnerability metrics at the expected threshold, from the tile pass
    Seq("smod_rows" -> Seq("urban", "rural"), "rwi_rows" -> Seq("poverty", "severe"))
      .foreach { case (rows, names) =>
        val noData = exp.getAs[Long](rows) == 0
        for (b <- names; (k, _) <- popCols)
          d += s"expected_${k}_$b" -> (if (noData) null else intOrZero(exp.getAs[Any](s"${b}_$k")))
      }

    // per-admin rows from the admin pass
    def prevRows(key: String): Seq[Map[String, Any]] = previous.get(key) match {
      case Some(s: Seq[_]) => s.collect { case m: Map[_, _] => m.asInstanceOf[Map[String, Any]] }
      case _ => Nil
    }
    val prevPopRows = prevRows("rows_admins_pop_total")
    val prevSchoolRows = prevRows("rows_admins_school")
    val prevInfantRows = prevRows("rows_admins_infant")

    val popRows = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    val schoolRows = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    val infantRows = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    val adolescentRows = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    val schoolsWindRows = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    val hcsWindRows = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    val sheltersWindRows = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    val washWindRows = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()

    adminNames.zipWithIndex.foreach { case ((adminId, adminName), i) =>
      val pop = scala.collection.mutable.LinkedHashMap[String, Any]("name" -> adminName)
      val school = scala.collection.mutable.LinkedHashMap[String, Any]("name" -> adminName)
      val infant = scala.collection.mutable.LinkedHashMap[String, Any]("name" -> adminName)
      val adolescent = scala.collection.mutable.LinkedHashMap[String, Any]("name" -> adminName)
      val schoolsW = scala.collection.mutable.LinkedHashMap[String, Any]("name" -> adminName)
      val hcsW = scala.collection.mutable.LinkedHashMap[String, Any]("name" -> adminName)
      val sheltersW = scala.collection.mutable.LinkedHashMap[String, Any]("name" -> adminName)
      val washW = scala.collection.mutable.LinkedHashMap[String, Any]("name" -> adminName)

      Winds.foreach { wind =>
        adminAgg.get((adminId, wind)) match {
          case None =>
            pop += wind.toString -> 0L; school += wind.toString -> 0L
            infant += wind.toString -> 0L; adolescent += wind.toString -> 0L
            schoolsW += wind.toString -> null; hcsW += wind.toString -> null
            sheltersW += wind.toString -> null; washW += wind.toString -> null
          case Some(r) =>
            def num(c: String): Long =
              Option(r.getAs[Any](c)).map(_.asInstanceOf[Number].doubleValue().toLong).getOrElse(0L)
            def opt(c: String): Any =
              Option(r.getAs[Any](c)).map(_.asInstanceOf[Number].doubleValue().toLong: Any).orNull
            pop += wind.toString -> num("pop"); school += wind.toString -> num("school")
            infant += wind.toString -> num("infant"); adolescent += wind.toString -> num("adolescent")
            schoolsW += wind.toString -> opt("schools"); hcsW += wind.toString -> opt("hcs")
            sheltersW += wind.toString -> opt("shelters"); washW += wind.toString -> opt("wash")
        }
        def prevAt(rows: Seq[Map[String, Any]]): Long =
          if (i < rows.length)
            rows(i).get(wind.toString).collect { case n: Number => n.longValue() }.getOrElse(0L)
          else 0L
        if (previous.isEmpty) {
          pop += s"change_$wind" -> pop(wind.toString)
          school += s"change_$wind" -> school(wind.toString)
          infant += s"change_$wind" -> infant(wind.toString)
        } else {
          pop += s"change_$wind" -> (pop(wind.toString).asInstanceOf[Long] - prevAt(prevPopRows))
          school += s"change_$wind" -> (school(wind.toString).asInstanceOf[Long] - prevAt(prevSchoolRows))
          infant += s"change_$wind" -> (infant(wind.toString).asInstanceOf[Long] - prevAt(prevInfantRows))
        }
      }
      def cciOf(c: String): Long = cciByAdmin.get(adminId)
        .flatMap(r => Option(r.getAs[Any](c)))
        .map(_.asInstanceOf[Number].doubleValue().toLong).getOrElse(0L)
      pop += "cci" -> cciOf("E_CCI_pop")
      school += "cci" -> cciOf("E_CCI_school_age")
      infant += "cci" -> cciOf("E_CCI_infants")
      adolescent += "cci" -> cciOf("E_CCI_adolescents")

      popRows += pop.toMap; schoolRows += school.toMap; infantRows += infant.toMap
      adolescentRows += adolescent.toMap; schoolsWindRows += schoolsW.toMap
      hcsWindRows += hcsW.toMap; sheltersWindRows += sheltersW.toMap; washWindRows += washW.toMap
    }
    d += "rows_admins_pop_total" -> popRows.toSeq
    d += "rows_admins_school" -> schoolRows.toSeq
    d += "rows_admins_infant" -> infantRows.toSeq
    d += "rows_admins_adolescent" -> adolescentRows.toSeq
    d += "rows_schools_winds" -> schoolsWindRows.toSeq
    d += "rows_hcs_winds" -> hcsWindRows.toSeq
    d += "rows_shelters_winds" -> sheltersWindRows.toSeq
    d += "rows_wash_winds" -> washWindRows.toSeq

    // no-data postprocess (reports.py:747-773): a facility type with no named
    // top facilities flips its 0s to null (N/A) everywhere
    def anyName(prefix: String): Boolean =
      (1 to Constants.TopK).exists(i => d.get(s"${prefix}_name_$i").exists {
        case s: String => s.nonEmpty
        case null => false
        case _ => true
      })
    val noData = Seq(
      (!anyName("school"), "expected_schools", "change_schools", "rows_schools_winds"),
      (!anyName("hc"), "expected_hcs", "change_hcs", "rows_hcs_winds"),
      (!anyName("shelter"), "expected_shelters", "change_shelters", "rows_shelters_winds"),
      (!anyName("wash") && !(1 to Constants.TopK).exists(i =>
        d.get(s"wash_prob_$i").exists { case p: Double => p > 0; case _ => false }),
        "expected_wash", "change_wash", "rows_wash_winds"))
    noData.foreach { case (isNoData, expPrefix, chgPrefix, rowsKey) =>
      if (isNoData) {
        d.keys.toSeq.foreach { k =>
          if ((k.startsWith(expPrefix) || k.startsWith(chgPrefix)) &&
            (d(k) == null || d(k) == 0L)) d(k) = null
        }
        d.get(rowsKey).foreach { case rows: Seq[_] =>
          d(rowsKey) = rows.map { case m: Map[String, Any] @unchecked =>
            m.map { case (k, v) =>
              if (Winds.map(_.toString).contains(k) && (v == null || v == 0L)) k -> null else k -> v
            }
          }
        }
      }
    }

    d.toMap
  }

  /** Full report key template (reference REPORT_TEMPLATE, reports.py:106-142):
    * base keys + per-wind expected/change keys + top-5 facility keys. Used
    * for structural validation like the reference's missing/extra-key check
    * (reports.py:775-782). */
  lazy val templateKeys: Set[String] = {
    val base = Set(
      "storm", "forecast_date", "expected_landfall", "storm_category", "country",
      "expected_children", "expected_school_age", "expected_infants", "expected_adolescent",
      "expected_schools", "expected_hcs", "expected_shelters", "expected_wash",
      "children_change_direction", "children_change", "children_change_perc",
      "rows_admins_pop_total", "rows_admins_school", "rows_admins_infant", "rows_admins_adolescent",
      "rows_schools_winds", "rows_hcs_winds", "rows_shelters_winds", "rows_wash_winds",
      "expected_pop", "expected_cci_pop", "expected_cci_school", "expected_cci_infant",
      "expected_cci_adolescent",
      "next_forecast_date", "report_date") ++
      Seq("pop", "school", "infant", "adolescent").flatMap(k =>
        Seq(s"expected_${k}_poverty", s"expected_${k}_severe",
          s"expected_${k}_urban", s"expected_${k}_rural"))
    val perWind = StormCategories.keySet.flatMap(w => Set(
      s"expected_children_$w", s"change_children_$w",
      s"expected_school_$w", s"change_school_$w",
      s"expected_infant_$w", s"change_infant_$w",
      s"expected_adolescent_$w", s"expected_pop_$w",
      s"expected_schools_$w", s"change_schools_$w",
      s"expected_hcs_$w", s"change_hcs_$w",
      s"expected_shelters_$w", s"change_shelters_$w",
      s"expected_wash_$w", s"change_wash_$w"))
    val topK = (1 to Constants.TopK).flatMap(i => Set(
      s"school_name_$i", s"school_edulevel_$i", s"school_prob_$i",
      s"hc_name_$i", s"hc_type_$i", s"hc_prob_$i",
      s"shelter_name_$i", s"shelter_type_$i", s"shelter_prob_$i",
      s"wash_name_$i", s"wash_type_$i", s"wash_prob_$i")).toSet
    base ++ perWind ++ topK
  }

  /** (missingKeys, extraKeys) vs the template — missing per-wind keys for
    * thresholds not reached are expected (the reference logs them at debug). */
  def validate(report: Map[String, Any]): (Set[String], Set[String]) =
    (templateKeys -- report.keySet, report.keySet -- templateKeys)

  // --- JSON serialization (Jackson ships with Spark) ---------------------

  def toJson(report: Map[String, Any]): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def conv(v: Any): Object = v match {
      case null => null
      case m: Map[_, _] =>
        val node = mapper.createObjectNode()
        m.foreach { case (k, vv) =>
          node.set[com.fasterxml.jackson.databind.JsonNode](
            k.toString, mapper.valueToTree[com.fasterxml.jackson.databind.JsonNode](conv(vv)))
        }
        node
      case s: Seq[_] =>
        val arr = mapper.createArrayNode()
        s.foreach(e => arr.add(mapper.valueToTree[com.fasterxml.jackson.databind.JsonNode](conv(e))))
        arr
      case other => other.asInstanceOf[Object]
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(conv(report))
  }

  def fromJson(json: String): Map[String, Any] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(json)
    def conv(n: com.fasterxml.jackson.databind.JsonNode): Any = {
      if (n == null || n.isNull) null
      else if (n.isObject) {
        val it = n.fieldNames()
        val b = scala.collection.mutable.LinkedHashMap[String, Any]()
        while (it.hasNext) { val k = it.next(); b += k -> conv(n.get(k)) }
        b.toMap
      } else if (n.isArray) {
        (0 until n.size()).map(i => conv(n.get(i)))
      } else if (n.isLong || n.isInt) n.asLong()
      else if (n.isDouble || n.isFloat) n.asDouble()
      else if (n.isBoolean) n.asBoolean()
      else n.asText()
    }
    conv(node).asInstanceOf[Map[String, Any]]
  }
}
