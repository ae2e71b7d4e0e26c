package graft.io

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NumericType, TimestampType}

/**
 * Admin-impact CSVs → related-table rows (S17 flatten stage; reference
 * geosight/admin_related_table.py:110-176 and
 * upload_admin_related_table.py:151-291).
 *
 * Filenames carry the partition key
 * (`{country}_{storm}_{forecast14}_{wind}_admin{level}.csv`); discovery and
 * name-parsing happen on the driver (a bounded listing — storms × thresholds
 * × levels), while the row content is read and flattened distributed: each
 * file becomes a DataFrame slice tagged with its base properties, unioned by
 * name into one long frame. Delivery goes through
 * [[PartitionedSink.upload]] — signature anti-join dedup + bounded batches
 * per partition — instead of the reference's driver-side row-at-a-time POST
 * loop, which is the part that wouldn't survive scale.
 */
object RelatedTable {

  /** `{COUNTRY}_{storm}_{yyyyMMddHHmmss}_{wind}_admin{level}.csv` */
  private val FileRe = """^([A-Z0-9]{3})_(.+)_(\d{14})_(\d+)_admin([1-5])\.csv$""".r

  case class AdminImpactFile(file: String, country: String, storm: String,
                             forecast: String, wind: Int, level: Int)

  case class FieldDef(name: String, label: String, fieldType: String)

  /** Base (always-present) related-table fields, wire order. */
  val BaseFields: Seq[FieldDef] = Seq(
    FieldDef("country_code", "Country", "string"),
    FieldDef("storm", "Storm Name", "string"),
    FieldDef("admin_level", "Admin Level", "number"),
    FieldDef("forecast_time", "Forecast Time", "date"),
    FieldDef("wind_threshold", "Wind Threshold (knots)", "number"),
    FieldDef("geom_id", "Admin Region ID", "string"))

  /** Metric columns allowed onto the wire, with display labels
    * (admin_related_table.py:34-48). */
  val MetricLabels: Seq[(String, String)] = Seq(
    "E_population" -> "Expected Affected Population",
    "E_school_age_population" -> "Expected Affected School-Age Population (5-14)",
    "E_infant_population" -> "Expected Affected Infant Population (0-4)",
    "E_adolescent_population" -> "Expected Affected Adolescent Population (15-19)",
    "E_built_surface_m2" -> "Expected Affected Built Surface (m2)",
    "E_num_schools" -> "Expected Affected Schools",
    "E_num_hcs" -> "Expected Affected Health Centers",
    "E_num_shelters" -> "Expected Affected Shelters",
    "E_num_wash" -> "Expected Affected WASH Facilities",
    "probability" -> "Probability of Wind Exposure")

  val AllowedMetricColumns: Set[String] = MetricLabels.map(_._1).toSet

  /** The four-part row signature the remote dedup keys on
    * (build_row_signature, admin_related_table.py:62-68). */
  val SignatureCols: Seq[String] = Seq("storm", "forecast_time", "wind_threshold", "geom_id")

  def parseFileName(name: String): Option[AdminImpactFile] = name match {
    case FileRe(country, storm, forecast, wind, level) =>
      Some(AdminImpactFile(name, country, storm, forecast, wind.toInt, level.toInt))
    case _ => None
  }

  /** Compact `yyyyMMddHHmmss` → ISO `yyyy-MM-dd'T'HH:mm:ss` (UTC). */
  def formatForecastTime(compact: String): String =
    java.time.LocalDateTime.parse(compact,
      java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmmss"))
      .format(java.time.format.DateTimeFormatter.ISO_LOCAL_DATE_TIME)

  /** Admin-impact files present in `admin_impact_views`, optionally one
    * level, name-sorted (discover_admin_impact_files). */
  def discover(store: DataStore, adminLevel: Option[Int] = None): Seq[AdminImpactFile] =
    store.list("admin_impact_views").sorted.flatMap(parseFileName)
      .filter(f => adminLevel.forall(_ == f.level))

  /**
   * Flatten the discovered files into one related-table DataFrame: base
   * properties from each FILENAME + the allowed metric columns present in
   * that file; files with differing metric sets union by name (missing →
   * null, like the reference's per-file dict rows).
   *
   * Scale shape: files are grouped by their header line (one cheap driver
   * read of the first line each), and each header group becomes ONE
   * multi-path csv scan whose per-row base properties are parsed from
   * `input_file_name()` inside the plan (the F-series regex ops). Plan depth
   * is the number of DISTINCT SCHEMAS, not the number of files — a
   * thousand-storm backfill stays a handful of scan nodes.
   */
  def rows(spark: SparkSession, store: DataStore, files: Seq[AdminImpactFile],
           geomColumn: String = "tile_id"): DataFrame = {
    require(files.nonEmpty, "no admin impact files to flatten")
    val byHeader: Seq[Seq[AdminImpactFile]] = files.groupBy { f =>
      val src = scala.io.Source.fromInputStream(store.open(s"admin_impact_views/${f.file}"))
      try src.getLines().nextOption().getOrElse("") finally src.close()
    }.toSeq.sortBy(_._1).map(_._2)

    // filename regex evaluated per row against input_file_name()
    val fileRe = """([A-Z0-9]{3})_(.+)_(\d{14})_(\d+)_admin([1-5])\.csv"""
    val fname = regexp_extract(input_file_name(), "([^/]+)$", 1)

    val slices = byHeader.map { group =>
      val paths = group.map(f => store.path("admin_impact_views", f.file))
      val raw = graft.ops.Ingest.dropUnnamedColumns(
        spark.read.option("header", "true").option("inferSchema", "true").csv(paths: _*))
      val geomCol = Seq(geomColumn, "tile_id", "zone_id").find(raw.columns.contains)
        .getOrElse(throw new IllegalArgumentException(
          s"${group.head.file}: no geometry id column ($geomColumn/tile_id/zone_id)"))
      val metrics = raw.columns.filter(AllowedMetricColumns.contains).toSeq
      val baseCols = Seq(
        regexp_extract(fname, fileRe, 1).as("country_code"),
        regexp_extract(fname, fileRe, 2).as("storm"),
        regexp_extract(fname, fileRe, 5).cast("int").as("admin_level"),
        date_format(to_timestamp(regexp_extract(fname, fileRe, 3), "yyyyMMddHHmmss"),
          "yyyy-MM-dd'T'HH:mm:ss").as("forecast_time"),
        regexp_extract(fname, fileRe, 4).cast("int").as("wind_threshold"),
        col(geomCol).cast("string").as("geom_id"))
      raw.select(baseCols ++ metrics.map(col): _*)
    }
    slices.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Field schema for a flattened frame: base fields + one dynamic field per
    * metric column, typed from the Spark dtype, name-sorted
    * (build_related_table_rows tail + _field_type_for_series). */
  def fields(flattened: DataFrame): Seq[FieldDef] = {
    val labels = MetricLabels.toMap
    val dynamic = flattened.schema.fields
      .filter(f => AllowedMetricColumns.contains(f.name))
      .map { f =>
        val t = f.dataType match {
          case _: TimestampType => "date"
          case _: NumericType => "number"
          case _ => "string"
        }
        FieldDef(f.name, labels.getOrElse(f.name, f.name), t)
      }
    BaseFields ++ dynamic.sortBy(_.name)
  }

  /** Merge newly-seen fields into an existing schema, preserving order
    * (merge_missing_fields). */
  def mergeMissingFields(existing: Seq[FieldDef], desired: Seq[FieldDef]): Seq[FieldDef] =
    existing ++ desired.filterNot(d => existing.exists(_.name == d.name))

  /** Latest forecast_time present remotely ("" when empty) — the incremental
    * file cutoff (fetch_latest_forecast_time). */
  def latestForecastTime(existing: DataFrame): String =
    existing.agg(max(col("forecast_time"))).head().getString(0) match {
      case null => ""
      case s => s
    }

  /**
   * End-to-end incremental upload (upload_admin_related_table.py:151-291):
   * discover → drop files at-or-before the remote's latest forecast_time
   * (unless backfill) → flatten → signature anti-join → batched delivery.
   * Returns (rowsSent, filesSkipped).
   */
  def upload(spark: SparkSession, store: DataStore,
             existingRows: DataFrame, send: Seq[Row] => Unit,
             adminLevel: Option[Int] = None, backfill: Boolean = false,
             batchSize: Int = 500, geomColumn: String = "tile_id"): (Long, Int) = {
    val all = discover(store, adminLevel)
    val cutoff = if (backfill) "" else latestForecastTime(existingRows)
    val selected = all.filter(f => backfill || formatForecastTime(f.forecast) > cutoff)
    if (selected.isEmpty) return (0L, all.size)
    val flattened = rows(spark, store, selected, geomColumn)
    val existingSigs = existingRows
      .select(PartitionedSink.signature(SignatureCols).as("sig"))
    val sent = PartitionedSink.upload(flattened, SignatureCols, existingSigs, batchSize, send)
    (sent, all.size - selected.size)
  }
}
