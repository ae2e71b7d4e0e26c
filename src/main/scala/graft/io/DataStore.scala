package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import java.nio.charset.StandardCharsets.UTF_8

/**
 * Storage abstraction mirroring the reference's DataStore surface
 * (data_store_utils.py:34-84: exists/read/write/list/remove) and the view
 * directory layout of FILE_STRUCTURE.md:263-302. The root is any Hadoop URI
 * (a local path, `file:`, `hdfs:`, `s3a:` …): Spark reads and writes the
 * data under it, and every metadata operation (exists, list, remove, the
 * text files, the renames that publish a write) goes through the root's
 * Hadoop `FileSystem` too, as do the parquet control tables.
 *
 * Single-file CSV semantics (reference S9: one CSV per storm/threshold) are
 * implemented as coalesce(1) + part-file rename; the parquet writers keep
 * Spark's native multi-part layout (scales with the data, unlike the
 * reference's single-process writes).
 */
class DataStore(root: String,
                control: Option[ControlBackend] = None) {

  def path(parts: String*): String = (Seq(root) ++ parts).mkString("/")

  /** The root's file system, resolved once from the active session's Hadoop
    * conf (see [[StoreFs.of]]). */
  private lazy val fs: FileSystem = StoreFs.of(new Path(root), SparkSession.active)

  private def fsPath(rel: String): Path = new Path(path(rel))

  /** Control-table persistence (registry / run log / completion log):
    * parquet under the root by default, or any JDBC warehouse via
    * [[JdbcControlBackend]] — see [[ControlBackend]]. */
  val controlTables: ControlBackend =
    control.getOrElse(new ParquetControlBackend(this))

  /** Whether `rel` exists, after putting back a table an interrupted
    * publish left aside (see [[StoreFs.recover]]). */
  def exists(rel: String): Boolean = {
    val p = fsPath(rel)
    StoreFs.recover(fs, p)
    fs.exists(p)
  }

  def list(relDir: String): Seq[String] = {
    val dir = fsPath(relDir)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).map(_.getPath.getName).toSeq.sorted
  }

  def remove(rel: String): Unit = fs.delete(fsPath(rel), true)

  /** Stale-output cleanup (S15, impact_analysis.py:2790-2805): delete every
    * entry whose name starts with `prefix` across the given view dirs before
    * a rewrite — the overwrite-by-prefix idempotency rule. */
  def removeByPrefix(viewDirs: Seq[String], prefix: String): Int =
    viewDirs.map { d =>
      val stale = list(d).filter(_.startsWith(prefix))
      stale.foreach(f => remove(s"$d/$f"))
      stale.size
    }.sum

  def writeText(rel: String, content: String): Unit = {
    val out = fs.create(fsPath(rel), true)
    try out.write(content.getBytes(UTF_8)) finally out.close()
  }

  def open(rel: String): java.io.InputStream = fs.open(fsPath(rel))

  def readText(rel: String): String = {
    val in = open(rel)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Replaces the directory `rel` with what `write` puts at the temp rel it
    * is given; the write completes before the old directory is moved aside
    * (see [[StoreFs.publish]]). */
  def replace(rel: String)(write: String => Unit): Unit = {
    val target = fsPath(rel)
    val dir = rel.take(rel.lastIndexOf('/') + 1)
    StoreFs.publish(fs, target.getParent)(tmp => write(dir + tmp.getName))(tmp => Seq(tmp -> target))
  }

  def writeParquet(df: DataFrame, rel: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path(rel))

  def readParquet(spark: SparkSession, rel: String): DataFrame = {
    StoreFs.recover(fs, fsPath(rel))
    spark.read.parquet(path(rel))
  }

  /**
   * Bucketed + bucket-sorted managed-table write — the CO-LOCATED JOIN
   * layout for 100 TB: two tables bucketed on the same key into the same
   * bucket count join with ZERO Exchange (and with `sortBy`, zero Sort) —
   * the repeated fact⋈fact join's shuffle is paid once at write time
   * instead of on every query. Bucket pruning also serves point lookups
   * on the bucket key. Path-based `save` cannot carry bucket metadata, so
   * this goes through the session catalog (`saveAsTable`); read back with
   * `spark.table(name)` — `read.parquet` on the files would silently
   * discard the bucketing and re-shuffle (PlanSpec-guarded both ways).
   */
  def writeBucketedTable(df: DataFrame, table: String, bucketCol: String,
                         numBuckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** Single-file CSV with header (reference writes one CSV per view). */
  def writeSingleCsv(df: DataFrame, rel: String): Unit = {
    StoreFs.publishFile(fs, fsPath(rel))(tmp =>
      df.coalesce(1).write.mode(SaveMode.Overwrite).option("header", "true").csv(tmp.toString))
  }

  def readCsv(spark: SparkSession, rel: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path(rel))

  /**
   * Per-threshold file fan-out in ONE pass (SURVEY.md §7.4): write
   * `partitionBy(partitionCol)` once, then rename each partition's part
   * file to the reference's flat layout `{prefix}{value}{suffix}`. Replaces
   * N filtered re-reads of the source frame with a single job.
   */
  def writePartitionedCsv(df: DataFrame, relDir: String, partitionCol: String,
                          fileName: String => String): Seq[String] = {
    val dir = fsPath(relDir)
    StoreFs.publish(fs, dir)(tmp =>
      df.repartition(col(partitionCol))
        .write.mode(SaveMode.Overwrite)
        .partitionBy(partitionCol)
        .option("header", "true").csv(tmp.toString)
    )(tmp => StoreFs.partitions(fs, tmp, partitionCol).map { case (value, pDir) =>
      StoreFs.partFile(fs, pDir) -> new Path(dir, fileName(value))
    }).map(_.getName).sorted
  }

  /**
   * Per-value parquet fan-out in ONE pass (same shape as
   * [[writePartitionedCsv]]): `partitionBy` once into a temp dir, then move
   * each `col=value` partition directory to the reference's flat
   * `{name(value)}` layout. Each target stays a normal `read.parquet`
   * directory. Replaces N filtered re-reads with a single job.
   */
  def writePartitionedParquet(df: DataFrame, relDir: String, partitionCol: String,
                              dirName: String => String): Seq[String] = {
    val dir = fsPath(relDir)
    StoreFs.publish(fs, dir)(tmp =>
      df.repartition(col(partitionCol))
        .write.mode(SaveMode.Overwrite)
        .partitionBy(partitionCol)
        .parquet(tmp.toString)
    )(tmp => StoreFs.partitions(fs, tmp, partitionCol).map { case (value, pDir) =>
      pDir -> new Path(dir, dirName(value))
    }).map(_.getName).sorted
  }

  /**
   * INSERT OVERWRITE with DYNAMIC partition semantics: only the
   * partitions PRESENT IN `df` are replaced; every other existing
   * partition survives untouched (static overwrite would drop the whole
   * table). The `partitionOverwriteMode` option is per-write, so the
   * session default stays whatever the operator configured. At
   * warehouse scale this is the idempotent daily-refresh primitive:
   * re-running one day's job rewrites that day's partitions only, and a
   * crash mid-write never touches the other days.
   */
  def overwriteDynamicPartitions(df: DataFrame, relDir: String,
                                 partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty, "dynamic overwrite needs partition columns")
    df.write
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(path(relDir))
  }

  /**
   * The 100 TB tile-universe layout (SURVEY §4): write tiles hive-
   * partitioned by the quadkey of their center at `zoom`, so any
   * envelope-screened read prunes whole partition directories at
   * PLANNING time — the scan never lists, opens, or row-filters tiles
   * outside the envelope's quadkey cover. Pick `zoom` so partitions land
   * in the 100 MB–1 GB range (world tile count is 4^zoom; zoom 7–9 for a
   * global universe, higher for regional ones).
   *
   * The partition value is written as `"q" + quadkey`: quadkeys are
   * all-digit strings, and hive partition-column type inference would
   * otherwise read `qk` back as a NUMERIC column, stripping the leading
   * zeros every NW-quadrant tile (lon<0, lat>0) carries. The prefix pins
   * the column to StringType on every read path; [[readTilesForEnvelope]]
   * strips it back off before returning rows.
   */
  def writeTilesByQuadkey(tiles: DataFrame, relDir: String,
                          lonCol: String, latCol: String, zoom: Int): Unit = {
    require(zoom >= 1 && zoom <= 23, s"zoom=$zoom out of range")
    import org.apache.spark.sql.functions.{concat, lit}
    tiles
      .withColumn("qk", concat(lit("q"),
        graft.geo.GeoFunctions.st_quadkey(col(lonCol), col(latCol), lit(zoom))))
      .repartition(col("qk"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("qk")
      .parquet(path(relDir))
  }

  /**
   * Envelope-screened read of a [[writeTilesByQuadkey]] universe: the
   * envelope's quadkey cover at the layout zoom becomes an `isin`
   * partition filter — Catalyst resolves it against the directory
   * listing before any file IO (static partition pruning; pinned by
   * RuntimePlanSpec). Tiles straddling a cell boundary live in their
   * CENTER's partition, so callers screening with exact geometry should
   * expand the envelope by one tile width before covering.
   *
   * Returns `qk` as the TRUE quadkey (the storage prefix — see
   * [[writeTilesByQuadkey]] — is stripped after the partition filter, so
   * e.g. `st_quadkey_polygon(col("qk"))` gets the right tile, leading
   * zeros intact).
   */
  def readTilesForEnvelope(spark: SparkSession, relDir: String,
                           minLon: Double, minLat: Double,
                           maxLon: Double, maxLat: Double,
                           zoom: Int): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val cover = graft.geo.Quadkey.cover(minLon, minLat, maxLon, maxLat, zoom)
      .map("q" + _)
    spark.read.parquet(path(relDir))
      .filter(col("qk").isin(cover: _*))
      .withColumn("qk", expr("substring(qk, 2)"))
  }

  private def col(name: String) = org.apache.spark.sql.functions.col(name)
}
