package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/**
 * Storage abstraction mirroring the reference's DataStore surface
 * (data_store_utils.py:34-84: exists/read/write/list/remove) and the view
 * directory layout of FILE_STRUCTURE.md:263-302. Local-FS implementation;
 * the path conventions are the contract — an object-store implementation
 * slots in behind the same interface.
 *
 * Single-file CSV semantics (reference S9: one CSV per storm/threshold) are
 * implemented as coalesce(1) + part-file rename; the parquet writers keep
 * Spark's native multi-part layout (scales with the data, unlike the
 * reference's single-process writes).
 */
class DataStore(root: String,
                control: Option[ControlBackend] = None) {

  def path(parts: String*): String = (Seq(root) ++ parts).mkString("/")

  /** Control-table persistence (registry / run log / completion log):
    * parquet under the root by default, or any JDBC warehouse via
    * [[JdbcControlBackend]] — see [[ControlBackend]]. */
  val controlTables: ControlBackend =
    control.getOrElse(new ParquetControlBackend(root))

  def exists(rel: String): Boolean = Files.exists(Paths.get(path(rel)))

  def list(relDir: String): Seq[String] = {
    val dir = Paths.get(path(relDir))
    if (!Files.isDirectory(dir)) Nil
    else Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSeq.sorted
  }

  def remove(rel: String): Unit = {
    val p = Paths.get(path(rel))
    if (Files.isDirectory(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    else Files.deleteIfExists(p)
  }

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
    val p = Paths.get(path(rel))
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
  }

  def readText(rel: String): String = Files.readString(Paths.get(path(rel)))

  def writeParquet(df: DataFrame, rel: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path(rel))

  def readParquet(spark: SparkSession, rel: String): DataFrame =
    spark.read.parquet(path(rel))

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
    val target = Paths.get(path(rel))
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(target.getFileName.toString + ".__tmp__")
    df.coalesce(1).write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(tmp.toString)
    val part = Files.list(tmp).iterator().asScala
      .find(_.getFileName.toString.startsWith("part-"))
      .getOrElse(throw new IllegalStateException(s"no part file under $tmp"))
    Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
    Files.walk(tmp).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
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
    val dir = Paths.get(path(relDir))
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".__fanout_${java.util.UUID.randomUUID()}__")
    df.repartition(col(partitionCol))
      .write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCol)
      .option("header", "true").csv(tmp.toString)
    val written = Files.list(tmp).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith(s"$partitionCol="))
      .map { pDir =>
        val value = pDir.getFileName.toString.stripPrefix(s"$partitionCol=")
        val part = Files.list(pDir).iterator().asScala
          .find(_.getFileName.toString.startsWith("part-"))
          .getOrElse(throw new IllegalStateException(s"no part file under $pDir"))
        val target = dir.resolve(fileName(value))
        Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
        fileName(value)
      }.toSeq
    Files.walk(tmp).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    written.sorted
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
    val dir = Paths.get(path(relDir))
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".__fanout_${java.util.UUID.randomUUID()}__")
    df.repartition(col(partitionCol))
      .write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCol)
      .parquet(tmp.toString)
    val written = Files.list(tmp).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith(s"$partitionCol="))
      .map { pDir =>
        val value = pDir.getFileName.toString.stripPrefix(s"$partitionCol=")
        val target = dir.resolve(dirName(value))
        if (Files.exists(target))
          Files.walk(target).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
        Files.move(pDir, target, StandardCopyOption.REPLACE_EXISTING)
        dirName(value)
      }.toSeq
    Files.walk(tmp).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    written.sorted
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
