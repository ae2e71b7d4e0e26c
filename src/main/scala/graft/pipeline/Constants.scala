package graft.pipeline

/**
 * Engine constants mirroring the reference's hard-coded semantics.
 * Citations are to /root/reference.
 */
object Constants {
  /** Fixed probability denominator — 50 perturbed + 1 control ECMWF members.
    * Missing members must NOT inflate probabilities (impact_analysis.py:185-188). */
  val FullEnsembleSize = 51

  /** Wind thresholds (knots) every storm is evaluated at (reports.py:55-64). */
  val WindThresholds: Seq[Int] = Seq(34, 40, 50, 64, 83, 96, 113, 137)

  /** Facility buffer radius in meters (impact_analysis.py:175,1666). */
  val FacilityBufferMeters = 150.0

  /** Country screening distance in meters (main_pipeline.py:185, snowflake_utils.py:608). */
  val CountryRangeMeters = 1.5e6

  /** Forecast cadence (hours) — as-of delta lookback (reports.py:195-222). */
  val ForecastStepHours = 6

  /** Report top-K facilities by probability (reports.py:73). */
  val TopK = 5

  /** SMOD L2 >= 20 counts as urban (reports.py:68). */
  val UrbanSmodThreshold = 20.0
  /** RWI bands: < -1 severe poverty; [-1, -0.5) poverty (reports.py:69-70). */
  val RwiSevere = -1.0
  val RwiPoverty = -0.5

  /** Tile data columns carried by the base mercator layer
    * (impact_analysis.py:101-114). */
  val TileDataCols: Seq[String] = Seq(
    "population", "school_age_population", "infant_population",
    "adolescent_population", "built_surface_m2", "smod_class",
    "smod_class_l1", "rwi", "num_schools", "num_hcs", "num_shelters",
    "num_wash")

  /** Columns aggregated by SUM in admin rollups; the rest are MEAN
    * (impact_analysis.py:118-164,1443-1446). */
  val SumCols: Seq[String] = Seq(
    "population", "school_age_population", "infant_population",
    "adolescent_population", "built_surface_m2", "num_schools", "num_hcs",
    "num_shelters", "num_wash")
  val MeanCols: Seq[String] = Seq("smod_class", "smod_class_l1", "rwi")

  /** Facility-count columns with NaN-preserving ("optional") sum semantics:
    * all-NaN group means "no data", not 0 (impact_analysis.py:152-159). */
  val OptionalSumCols: Seq[String] =
    Seq("num_shelters", "num_wash", "num_schools", "num_hcs")

  /** SMOD L2 (10..30) -> L1 (1 rural / 2 semi / 3 urban) reclassification
    * (impact_analysis.py:296-305). */
  val SmodL2ToL1: Map[Int, Int] = Map(
    10 -> 1, 11 -> 1, 12 -> 1, 13 -> 1,
    21 -> 2, 22 -> 2, 23 -> 2,
    30 -> 3)

  /** CCI metric columns (impact_analysis.py:167-173): 5 demographics × 2
    * (from raw metric, and from E_ expected metric). */
  val CciDemographics: Seq[String] = Seq(
    "population", "school_age_population", "infant_population",
    "adolescent_population", "built_surface_m2")
}
