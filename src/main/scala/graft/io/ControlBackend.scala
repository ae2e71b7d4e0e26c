package graft.io

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Pluggable persistence for the pipeline CONTROL TABLES (registry, zoom
 * levels, run/completion logs — reference S16: `snowflake_utils.py:75-95`
 * session plumbing, `main_pipeline.py:509,542` control DML). The big data
 * never flows through these: they are driver-maintained dimension tables
 * (≤ a few thousand rows BY CONSTRUCTION), so each backend may materialize
 * through the driver — guarded by [[graft.util.Collects.boundedCollect]]
 * so a miswired fact-table call loud-fails instead of OOMing.
 *
 * Two implementations:
 *  - [[ParquetControlBackend]] (default): one parquet table per name under
 *    the store root, on the root's Hadoop file system (so under any root
 *    URI the store takes); replace writes a temp table and renames it into
 *    place.
 *  - [[JdbcControlBackend]]: the same contract over ANY JDBC warehouse via
 *    `spark.read/write.jdbc` — the seam the reference's warehouse session
 *    occupies. Spec'd against an in-process embedded Derby endpoint
 *    (ControlBackendSpec runs the same contract suite over both backends),
 *    so swapping in a remote warehouse URL is a config change, not code.
 *    Array columns (the completion log's id lists) are JSON-bridged: JDBC
 *    has no portable array type, so they store as JSON text and decode
 *    back through the caller-supplied schema — lossless for string/number
 *    arrays.
 */
trait ControlBackend {
  def exists(spark: SparkSession, rel: String): Boolean
  /** Read the table; an absent table reads as an EMPTY frame of `schema`. */
  def read(spark: SparkSession, rel: String, schema: StructType): DataFrame
  /** Atomically replace the whole table (read-modify-write upserts). */
  def replace(df: DataFrame, rel: String): Unit
  /** Append rows (append-only logs); creates the table if absent. */
  def append(df: DataFrame, rel: String): Unit
}

/** Parquet control tables under the store's root, through the root's file
  * system. `replace` writes the new table into a hidden temp directory,
  * then swaps it in through [[StoreFs.publish]], so a reader never sees a
  * half-written table, and a failed or interrupted swap leaves the old one. */
final class ParquetControlBackend(store: DataStore) extends ControlBackend {

  def exists(spark: SparkSession, rel: String): Boolean = store.exists(rel)

  def read(spark: SparkSession, rel: String, schema: StructType): DataFrame =
    if (exists(spark, rel)) spark.read.parquet(store.path(rel))
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  def replace(df: DataFrame, rel: String): Unit =
    store.replace(rel)(tmp => df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(store.path(tmp)))

  def append(df: DataFrame, rel: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Append).parquet(store.path(rel))
}

/**
 * JDBC control tables — the warehouse seam. `url` is any JDBC endpoint
 * (tests: embedded Derby, `jdbc:derby:<dir>;create=true`); `driver` the
 * class name Spark's JDBC source should load on executors.
 */
final class JdbcControlBackend(url: String, driver: String) extends ControlBackend {

  /** control/pipeline_countries.parquet → PIPELINE_COUNTRIES-style name. */
  private def table(rel: String): String =
    rel.split('/').last.stripSuffix(".parquet").replaceAll("[^A-Za-z0-9_]", "_")

  private def withConn[A](f: java.sql.Connection => A): A = {
    Class.forName(driver)
    val c = java.sql.DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  def exists(spark: SparkSession, rel: String): Boolean = withConn { c =>
    val rs = c.getMetaData.getTables(null, null, table(rel).toUpperCase, null)
    try rs.next() finally rs.close()
  }

  /** array<…> ⇄ JSON text bridge (JDBC has no portable array type). */
  private def encode(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case _: ArrayType => d.withColumn(f.name, to_json(col(f.name)))
        case _ => d
      }
    }

  def read(spark: SparkSession, rel: String, schema: StructType): DataFrame = {
    if (!exists(spark, rel))
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    // no predicate pushdown: warehouse text types (Derby maps StringType
    // to CLOB) often reject pushed literal comparisons, and these tables
    // are dimension-sized — Spark-side filtering is the right trade
    val raw = spark.read.format("jdbc")
      .option("url", url).option("driver", driver)
      .option("pushDownPredicate", "false")
      .option("dbtable", table(rel)).load()
    val decoded = schema.fields.foldLeft(raw) { (d, f) =>
      f.dataType match {
        case at: ArrayType => d.withColumn(f.name, from_json(col(f.name), at))
        case dt => d.withColumn(f.name, col(f.name).cast(dt))
      }
    }
    decoded.select(schema.fieldNames.map(col): _*)
  }

  /** Materialize before writing: Spark reads lazily, and an Overwrite of
    * the very table the plan reads would drop it mid-scan. Bounded — these
    * are control tables, not data. */
  private def materialize(df: DataFrame): DataFrame = {
    val rows = graft.util.Collects.boundedCollect(df,
      "control table write", "a data-path writer (control tables are dimension-sized)")
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
  }

  def replace(df: DataFrame, rel: String): Unit = {
    val enc = materialize(encode(df))
    enc.write.mode(SaveMode.Overwrite)
      .option("url", url).option("driver", driver)
      .option("dbtable", table(rel))
      .format("jdbc").save()
  }

  def append(df: DataFrame, rel: String): Unit = {
    val enc = materialize(encode(df))
    val mode = if (exists(df.sparkSession, rel)) SaveMode.Append else SaveMode.Overwrite
    enc.write.mode(mode)
      .option("url", url).option("driver", driver)
      .option("dbtable", table(rel))
      .format("jdbc").save()
  }
}
