package graft.streaming

import graft.io.DataStore
import graft.pipeline.Orchestrator
import graft.pipeline.Orchestrator.{StormRun, UpdateStats}
import graft.util.Collects
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/**
 * The reference's 6-hourly cron loop (SURVEY.md §2.8 "Trigger";
 * main_pipeline.py:556-767 + snowflake/README.md schedule) as a Structured
 * Streaming driver: a file-source stream watches an envelope drop directory,
 * and each microbatch runs its distinct (storm, forecast) units through
 * [[Orchestrator.runUnits]], the CLI's per-tick body.
 *
 * Exactly-once layering mirrors the reference's belt-and-suspenders:
 *  - the streaming CHECKPOINT tracks which drop files were consumed (a
 *    re-started stream never reprocesses a file);
 *  - [[graft.pipeline.Jobs.update]]'s processed-state key check (storms.json
 *    analogue, J13) suppresses a re-DROPPED copy of an already-processed
 *    forecast.
 * A batch with a failed unit fails the query once its other units have
 * run, so the checkpoint does not commit it: the next start replays the
 * batch, the failed unit runs again and the published ones skip.
 */
object ImpactStream {

  /** Wire schema of an envelope drop file (S1 + the orchestration keys). */
  val DropSchema: StructType = StructType(Seq(
    StructField("track_id", StringType),
    StructField("forecast_time", StringType), // compact yyyyMMddHHmmss
    StructField("ensemble_member", IntegerType),
    StructField("wind_threshold", IntegerType),
    StructField("geometry", BinaryType)))

  /**
   * Start the stream. Each batch's units read their envelopes from the
   * batch, and their tracks and boundaries from `tracksFor` and
   * `boundaryFor`; `onBatch` gets each batch's stats (driver-side; used by
   * specs and ops logging). Trigger.AvailableNow turns this into the
   * reference's cron batch; a processing-time trigger turns the same code
   * into a live feed.
   */
  def start(spark: SparkSession, store: DataStore, dropDir: String,
            countries: Seq[String], zoom: Int,
            tracksFor: StormRun => Option[DataFrame] = _ => None,
            boundaryFor: String => Option[Array[Byte]] = _ => None,
            trigger: Trigger = Trigger.AvailableNow(),
            onBatch: UpdateStats => Unit = _ => ()): StreamingQuery = {
    val stream = spark.readStream.schema(DropSchema).parquet(dropDir)
    // one checkpoint per watched directory (String.hashCode is stable
    // across JVMs) — two drop feeds into the same store never collide
    val ckpt = s"impact_stream_ckpt_${java.lang.Integer.toHexString(dropDir.hashCode)}"
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", store.path("control", ckpt))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val keys = batch.select("track_id", "forecast_time").distinct().orderBy("track_id", "forecast_time")
        val runs = Collects.boundedCollect(keys, s"ImpactStream batch $batchId keys", "smaller drop batches")
          .map(k => StormRun(k.getString(0), k.getString(1))).toSeq
        val stats = Orchestrator.runUnits(spark, store, runs, countries, zoom,
          envelopesFor = (_, run) => batch
            .filter(col("track_id") === run.storm && col("forecast_time") === run.date)
            .drop("track_id", "forecast_time"),
          tracksFor, boundaryFor)
        onBatch(stats)
        if (stats.errors.nonEmpty)
          throw new IllegalStateException(s"ImpactStream batch $batchId: " +
            s"${stats.errors.size} unit(s) failed: ${stats.errors.mkString("; ")}")
      }
      .trigger(trigger)
      .start()
  }

  /** Run one AvailableNow pass over the drop directory and return its
    * batches' stats, totalled (the cron-equivalent entry point). Throws if
    * a batch failed. */
  def runOnce(spark: SparkSession, store: DataStore, dropDir: String,
              countries: Seq[String], zoom: Int,
              tracksFor: StormRun => Option[DataFrame] = _ => None,
              boundaryFor: String => Option[Array[Byte]] = _ => None): UpdateStats = {
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[UpdateStats]()
    start(spark, store, dropDir, countries, zoom, tracksFor, boundaryFor,
      onBatch = batches.add(_)).awaitTermination()
    batches.asScala.foldLeft(UpdateStats())(_ ++ _)
  }
}
