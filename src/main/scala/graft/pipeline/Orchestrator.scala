package graft.pipeline

import graft.io.DataStore
import graft.util.Collects
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.{Failure, Success, Try}

/**
 * Top-level `update` orchestration (reference main_pipeline.py:556-767,
 * update_storms): storm-catalog scan → target/date/recency filters →
 * already-processed dedup → per-(storm, forecast) fan-out over countries →
 * completion signal.
 *
 * The catalog filter is a declarative DataFrame pipeline (S4 + F3) so
 * predicate pushdown reaches a big catalog scan; only the surviving
 * (storm, forecast) keys — days' worth of forecasts, dozens of rows — are
 * collected to drive the per-storm loop. [[runUnits]] is that loop, and the
 * one body both drivers run: the CLI once per invocation, and
 * [[graft.streaming.ImpactStream]] once per microbatch. The heavy lifting
 * stays inside [[Jobs.update]], which is fully distributed.
 */
object Orchestrator {

  /** One runnable (storm, forecast) unit from the catalog. */
  case class StormRun(storm: String, date: String)

  case class UpdateStats(processed: Seq[StormRun] = Nil,
                         skipped: Seq[(StormRun, String)] = Nil,
                         countriesProcessed: Int = 0,
                         filesWritten: Int = 0,
                         errors: Seq[String] = Nil) {
    def ++(o: UpdateStats): UpdateStats = UpdateStats(processed ++ o.processed,
      skipped ++ o.skipped, countriesProcessed + o.countriesProcessed,
      filesWritten + o.filesWritten, errors ++ o.errors)
  }

  /**
   * Filter the storm catalog to the runnable set
   * (main_pipeline.py:612-652): optional exact-date filter (overrides the
   * recency window), optional storm filter, else forecasts from the last
   * `timeDeltaDays` days. Expects columns `track_id` and `forecast_time`
   * (timestamp); returns one unit per distinct (track_id, forecast key),
   * with the reference's compact `yyyyMMddHHmmss` key, collected on the
   * driver with a bound on their number.
   */
  def selectStorms(catalog: DataFrame, timeDeltaDays: Int,
                   today: java.time.LocalDate,
                   targetDate: Option[String] = None,
                   targetStorm: Option[String] = None): Seq[StormRun] = {
    val base = catalog
      .withColumn("__date", to_date(col("forecast_time")))
      .withColumn("__key", date_format(col("forecast_time"), "yyyyMMddHHmmss"))
    val dated = targetDate match {
      case Some(d) => base.filter(col("__date") === to_date(lit(d)))
      case None => base.filter(
        datediff(lit(java.sql.Date.valueOf(today)), col("__date")) < timeDeltaDays)
    }
    val stormed = targetStorm.fold(dated)(s => dated.filter(col("track_id") === s))
    Collects.boundedCollect(
        stormed.select(col("track_id"), col("__key")).distinct().orderBy("track_id", "__key"),
        what = "storm selection", alternative = "a narrower timeDeltaDays / targetDate window")
      .map(r => StormRun(r.getString(0), r.getString(1))).toSeq
  }

  /**
   * One tick of the 6-hourly cycle (main_pipeline.py:634-741): runs
   * [[Jobs.update]] for every unit × country, one after another, and totals
   * the outcomes. Already-processed keys are skipped inside Jobs.update
   * unless `rewrite`. A unit that throws is counted in `errors` and the
   * other units still run. Appends the batch completion signal when at
   * least one unit was processed.
   *
   * @param envelopesFor a unit's envelopes for a country (the reference's
   *                     warehouse read)
   * @param tracksFor    a unit's ensemble tracks, which give the report its
   *                     expected landfall
   * @param boundaryFor  a country's boundary (WKB)
   */
  def runUnits(spark: SparkSession, store: DataStore, runs: Seq[StormRun],
               countries: Seq[String], zoom: Int,
               envelopesFor: (String, StormRun) => DataFrame,
               tracksFor: StormRun => Option[DataFrame] = _ => None,
               boundaryFor: String => Option[Array[Byte]] = _ => None,
               rewrite: Boolean = false): UpdateStats = {
    val t0 = System.nanoTime()
    val outcomes = for (run <- runs; country <- countries) yield (run, country,
      Try(Jobs.update(spark, store, country, zoom, run.storm, run.date,
        envelopesFor(country, run), tracksFor(run), boundaryFor(country), rewrite)))
    val done = outcomes.collect { case (run, country, Success(r)) if r.processed => (run, country, r) }
    val stats = UpdateStats(
      processed = done.map(_._1),
      skipped = outcomes.collect { case (run, _, Success(r)) if !r.processed => run -> r.reason },
      countriesProcessed = done.size,
      filesWritten = done.map(_._3.published.size).sum,
      errors = outcomes.collect { case (run, country, Failure(e)) =>
        s"${run.storm}@${run.date}/$country: ${e.getMessage}" })
    if (done.nonEmpty)
      appendCompletionLog(spark, store, done.map(_._1.storm).distinct, done.map(_._2).distinct,
        stats.filesWritten, (System.nanoTime() - t0) / 1e9)
    stats
  }

  /** The CLI's `update`: [[runUnits]] over the catalog's [[selectStorms]]. */
  def updateStorms(spark: SparkSession, store: DataStore,
                   catalog: DataFrame, countries: Seq[String], zoom: Int,
                   envelopesFor: (String, StormRun) => DataFrame,
                   tracksFor: StormRun => Option[DataFrame] = _ => None,
                   boundaryFor: String => Option[Array[Byte]] = _ => None,
                   rewrite: Boolean = false, timeDeltaDays: Int = 2,
                   targetDate: Option[String] = None,
                   targetStorm: Option[String] = None,
                   today: java.time.LocalDate = java.time.LocalDate.now()): UpdateStats = {
    require(countries.nonEmpty, "no countries specified — nothing to process")
    runUnits(spark, store, selectStorms(catalog, timeDeltaDays, today, targetDate, targetStorm),
      countries, zoom, envelopesFor, tracksFor, boundaryFor, rewrite)
  }

  val CompletionLogRel = "control/pipeline_complete_log"

  val completionLogSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("storm_ids", ArrayType(StringType)),
      StructField("countries_processed", ArrayType(StringType)),
      StructField("files_written", IntegerType),
      StructField("status", StringType),
      StructField("runtime_seconds", DoubleType),
      StructField("logged_at", StringType)))
  }

  /**
   * Batch completion signal (signal_pipeline_complete,
   * main_pipeline.py:528-550): one appended row per successful batch — the
   * downstream materialized-view refresh trigger in the reference.
   * Append-only through the control backend (parquet or JDBC warehouse —
   * see [[graft.io.ControlBackend]]); readers take the latest row by
   * `logged_at`.
   */
  def appendCompletionLog(spark: SparkSession, store: DataStore,
                          stormIds: Seq[String], countries: Seq[String],
                          filesWritten: Int, runtimeSeconds: Double): Unit = {
    import spark.implicits._
    val row = Seq((stormIds, countries, filesWritten, "SUCCESS", runtimeSeconds,
      java.time.Instant.now().toString)).toDF(completionLogSchema.fieldNames.toIndexedSeq: _*)
    store.controlTables.append(row, CompletionLogRel)
  }

  def readCompletionLog(spark: SparkSession, store: DataStore): DataFrame =
    store.controlTables.read(spark, CompletionLogRel, completionLogSchema)
}
