package graft

import graft.io.DataStore
import graft.pipeline.{CountryRegistry, Jobs, Orchestrator}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/**
 * The engine's single user-facing entry point, mirroring the reference CLI
 * (main_pipeline.py:774-975): one `main()` dispatching the three pipeline
 * modes with the same flags and defaults —
 *
 * {{{
 * graft.Main --type initialize --countries TWN --zoom 14 --admin 1 2
 * graft.Main --type update --date 2025-11-10 --storm FUNG-WONG
 * graft.Main --type patch --countries PNG --columns built_surface_m2 rwi
 * }}}
 *
 * plus `--root` (the [[DataStore]] root — the Spark-native stand-in for the
 * reference's implicit bucket configuration). Inputs come from a plain
 * `ingest/` directory under the root, the warehouse-read analogue:
 *
 *   - `ingest/{country}_tiles.parquet`        tile universe (initialize)
 *   - `ingest/{country}_admin{level}.parquet` admin boundaries per level
 *   - `ingest/{country}_{kind}.parquet`       school/hc/shelter/wash (optional)
 *   - `ingest/{country}_patch.parquet`        tile_id + patchable columns
 *   - `ingest/storm_catalog.parquet`          track_id + forecast_time
 *   - `ingest/envelopes/{storm}_{date}.parquet`  per-forecast envelopes
 *   - `ingest/tracks/{storm}_{date}.parquet`     per-forecast tracks (optional)
 *
 * Country resolution follows the reference's Snowflake-first rule
 * (main_pipeline.py:930-943): an explicit `--countries` wins; otherwise the
 * control-table registry's active countries; otherwise the built-in
 * Caribbean default list. Exit code 0 on success, 1 on failure — but
 * success RETURNS (no `sys.exit(0)`) so a test harness can invoke
 * [[main]] in-process.
 */
object Main {

  /** Reference default country set (main_pipeline.py:852). */
  val DefaultCountries: Seq[String] = Seq("ATG", "JAM", "BLZ", "NIC", "DOM",
    "DMA", "GRD", "MSR", "KNA", "LCA", "VCT", "AIA", "VGB")

  val PatchableColumns: Set[String] = Set("population", "school_age_population",
    "infant_population", "adolescent_population", "built_surface_m2",
    "smod_class", "smod_class_l1", "rwi", "schools", "hcs", "shelters", "wash")

  case class CliArgs(mode: String = "update",
                     root: String = sys.env.getOrElse("GRAFT_DATA_ROOT", "data"),
                     countries: Seq[String] = Nil,
                     zoom: Int = 14,
                     rewrite: Boolean = false,
                     adminLevels: Seq[Int] = Seq(1),
                     date: Option[String] = None,
                     storm: Option[String] = None,
                     timeDelta: Int = 2,
                     columns: Seq[String] = Nil,
                     skipAnalysis: Boolean = false,
                     hazard: String = "hurricane",
                     logLevel: String = "WARN")

  val usage: String =
    """usage: graft.Main [--type initialize|update|patch] [--root DIR]
      |  [--countries ISO3...] [--zoom N] [--rewrite 0|1] [--admin LEVEL...]
      |  [--date YYYY-MM-DD] [--storm NAME] [--time_delta DAYS]
      |  [--columns COL...] [--skip-analysis] [--hazard hurricane]
      |  [--log-level LEVEL]""".stripMargin

  /** Parse argv; Left(message) on any unknown/malformed flag. */
  def parseArgs(argv: Array[String]): Either[String, CliArgs] = {
    def isFlag(s: String) = s.startsWith("--")
    def multi(rest: List[String]): (Seq[String], List[String]) = {
      val vals = rest.takeWhile(!isFlag(_)); (vals, rest.drop(vals.length))
    }
    @annotation.tailrec
    def go(rest: List[String], acc: CliArgs): Either[String, CliArgs] = rest match {
      case Nil => Right(acc)
      case "--type" :: v :: t if Seq("initialize", "update", "patch").contains(v) =>
        go(t, acc.copy(mode = v))
      case "--type" :: v :: _ => Left(s"--type must be initialize|update|patch, got '$v'")
      case "--root" :: v :: t => go(t, acc.copy(root = v))
      case "--countries" :: t =>
        val (vs, t2) = multi(t)
        if (vs.isEmpty) Left("--countries requires at least one ISO3 code")
        else go(t2, acc.copy(countries = vs))
      case "--zoom" :: v :: t => v.toIntOption match {
        case Some(z) => go(t, acc.copy(zoom = z))
        case None => Left(s"--zoom must be an integer, got '$v'")
      }
      case "--rewrite" :: v :: t if v == "0" || v == "1" =>
        go(t, acc.copy(rewrite = v == "1"))
      case "--rewrite" :: v :: _ => Left(s"--rewrite must be 0 or 1, got '$v'")
      case "--admin" :: t =>
        val (vs, t2) = multi(t)
        val levels = vs.flatMap(_.toIntOption)
        if (levels.length != vs.length || levels.isEmpty)
          Left("--admin requires integer levels, e.g. --admin 1 2")
        else go(t2, acc.copy(adminLevels = levels))
      case "--date" :: v :: t => go(t, acc.copy(date = Some(v)))
      case "--storm" :: v :: t => go(t, acc.copy(storm = Some(v)))
      case "--time_delta" :: v :: t => v.toIntOption match {
        case Some(d) => go(t, acc.copy(timeDelta = d))
        case None => Left(s"--time_delta must be an integer, got '$v'")
      }
      case "--columns" :: t =>
        val (vs, t2) = multi(t)
        if (vs.isEmpty) Left("--columns requires at least one column name")
        else go(t2, acc.copy(columns = vs))
      case "--skip-analysis" :: t => go(t, acc.copy(skipAnalysis = true))
      case "--hazard" :: v :: t =>
        if (v == "hurricane") go(t, acc.copy(hazard = v))
        else Left(s"hazard type '$v' not yet implemented")
      case "--log-level" :: v :: t => go(t, acc.copy(logLevel = v.toUpperCase))
      case other :: _ => Left(s"unknown or incomplete argument '$other'")
    }
    go(argv.toList, CliArgs())
  }

  def main(argv: Array[String]): Unit = {
    val code = run(argv)
    // success returns in-process (testable); only failure exits nonzero
    if (code != 0) sys.exit(code)
  }

  /** Full dispatch; returns the process exit code instead of exiting. */
  def run(argv: Array[String]): Int = parseArgs(argv) match {
    case Left(err) =>
      System.err.println(s"[main] error: $err"); System.err.println(usage); 2
    case Right(args) =>
      val spark = graft.io.NioLocalFs.configure(SparkSession.builder()
        .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"))
        .config("spark.sql.shuffle.partitions",
          sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
        .config("spark.sql.session.timeZone", "UTC")
        // one update compiles ~160 distinct generated classes; Spark's
        // default 100-entry cache evicts them before the next forecast
        // reuses them (same fixed size as Bench and Verify)
        .config("spark.sql.codegen.cache.maxEntries", "8192")
        .appName("graft-pipeline"))
        .getOrCreate()
      spark.sparkContext.setLogLevel(args.logLevel match {
        case "DEBUG" => "DEBUG"; case "INFO" => "INFO"; case "WARNING" => "WARN"
        case "ERROR" => "ERROR"; case other => other
      })
      graft.geo.GeoFunctions.ensureRegistered(spark)
      val store = new DataStore(args.root)
      try {
        val ok = args.mode match {
          case "initialize" => initialize(spark, store, args)
          case "update" => update(spark, store, args)
          case "patch" => patch(spark, store, args)
        }
        if (ok) { println("\nPipeline completed successfully!"); 0 }
        else { println("\nPipeline completed with errors!"); 1 }
      } catch {
        case e: IllegalArgumentException =>
          System.err.println(s"[main] error: ${e.getMessage}"); 1
      }
  }

  /** --countries wins; else registry active set; else the reference default
    * list (main_pipeline.py:930-943 Snowflake-first resolution). */
  def resolveCountries(spark: SparkSession, store: DataStore,
                       args: CliArgs): Seq[String] =
    if (args.countries.nonEmpty) args.countries
    else {
      val active = try CountryRegistry.activeCountries(spark, store)
                   catch { case _: Exception => Nil }
      if (active.nonEmpty) { println(s"[main] using ${active.length} countries " +
        s"from registry: ${active.mkString(", ")}"); active }
      else DefaultCountries
    }

  private def ingest(spark: SparkSession, store: DataStore, rel: String): DataFrame =
    store.readParquet(spark, s"ingest/$rel")

  private def hasIngest(store: DataStore, rel: String): Boolean =
    store.exists(s"ingest/$rel")

  // --- initialize ---------------------------------------------------------

  /** Per-country base-layer build (initialize_pipeline,
    * main_pipeline.py:384-419): skip if already initialized unless
    * --rewrite 1, then register + stamp the country in the control tables. */
  def initialize(spark: SparkSession, store: DataStore, args: CliArgs): Boolean = {
    val countries = resolveCountries(spark, store, args)
    var allOk = true
    countries.foreach { country =>
      val baseRel = s"mercator_views/${country}_${args.zoom}.parquet"
      if (store.exists(baseRel) && !args.rewrite) {
        println(s"[main] $country zoom ${args.zoom} already initialized, skipping (--rewrite 1 to force)")
      } else if (!hasIngest(store, s"${country}_tiles.parquet")) {
        System.err.println(s"[main] $country: missing ingest/${country}_tiles.parquet")
        allOk = false
      } else if (!hasIngest(store, s"${country}_admin1.parquet")) {
        System.err.println(s"[main] $country: missing ingest/${country}_admin1.parquet")
        allOk = false
      } else {
        val tiles = ingest(spark, store, s"${country}_tiles.parquet")
        val admins1 = ingest(spark, store, s"${country}_admin1.parquet")
        val facilities = Seq("school", "hc", "shelter", "wash")
          .filter(k => hasIngest(store, s"${country}_$k.parquet"))
          .map(k => k -> ingest(spark, store, s"${country}_$k.parquet")).toMap
        val extra = args.adminLevels.filter(_ > 1).flatMap { level =>
          if (hasIngest(store, s"${country}_admin$level.parquet"))
            Some(level -> ingest(spark, store, s"${country}_admin$level.parquet"))
          else {
            System.err.println(s"[main] $country: missing ingest/${country}_admin$level.parquet, skipping level $level")
            None
          }
        }.toMap
        Jobs.initialize(spark, store, country, args.zoom, tiles, admins1,
          facilities, extra)
        CountryRegistry.addCountry(spark, store, country, zoomLevel = args.zoom)
        CountryRegistry.writeCountryBoundary(spark, store, country, admins1)
        CountryRegistry.markInitialized(spark, store, country, Some(args.zoom))
        println(s"[main] initialized $country at zoom ${args.zoom} " +
          s"(admin levels ${(Seq(1) ++ extra.keys).distinct.sorted.mkString(",")}, " +
          s"${facilities.size} facility kinds)")
      }
    }
    allOk
  }

  // --- update -------------------------------------------------------------

  /** Storm-update orchestration over the catalog (update_storms,
    * main_pipeline.py:556-767) — filters, processed-state dedup and the
    * per-(storm, forecast) × country fan-out all live in [[Orchestrator]]. */
  def update(spark: SparkSession, store: DataStore, args: CliArgs): Boolean = {
    if (!hasIngest(store, "storm_catalog.parquet")) {
      System.err.println("[main] missing ingest/storm_catalog.parquet")
      return false
    }
    val catalog = ingest(spark, store, "storm_catalog.parquet")
    val countries = resolveCountries(spark, store, args)
    if (args.skipAnalysis) {
      val runs = Orchestrator.selectStorms(catalog, args.timeDelta,
        java.time.LocalDate.now(), args.date, args.storm).collect()
      runs.foreach(r => println(s"[main] would process storm=${r.getString(0)} forecast=${r.getString(1)}"))
      println(s"[main] --skip-analysis: ${runs.length} runnable (storm, forecast) pairs, nothing processed")
      return true
    }
    val boundaries = CountryRegistry.countries(spark, store)
      .select("country_code", "country_boundary").collect()
      .map(r => r.getString(0) -> Option(r.getAs[Array[Byte]](1))).toMap
    val stats = Orchestrator.updateStorms(spark, store, catalog, countries,
      args.zoom,
      envelopesFor = (_, storm, date) =>
        ingest(spark, store, s"envelopes/${storm}_$date.parquet"),
      tracksFor = (storm, date) =>
        if (hasIngest(store, s"tracks/${storm}_$date.parquet"))
          Some(ingest(spark, store, s"tracks/${storm}_$date.parquet"))
        else None,
      boundaryFor = c => boundaries.getOrElse(c, None),
      rewrite = args.rewrite, timeDeltaDays = args.timeDelta,
      targetDate = args.date, targetStorm = args.storm)
    println(s"[main] update: processed=${stats.processed.length} " +
      s"skipped=${stats.skipped.length} countries=${stats.countriesProcessed} " +
      s"files=${stats.filesWritten} errors=${stats.errors.length}")
    stats.errors.foreach(e => System.err.println(s"[main] error: $e"))
    stats.errors.isEmpty
  }

  // --- patch --------------------------------------------------------------

  /** Column backfill without re-init (patch_pipeline; `--columns adminN`
    * adds a new admin level like the reference's `--columns admin2`,
    * impact_analysis.py:1456-1466). */
  def patch(spark: SparkSession, store: DataStore, args: CliArgs): Boolean = {
    if (args.columns.isEmpty) {
      System.err.println("[main] --type patch requires --columns (e.g. --columns built_surface_m2 rwi)")
      return false
    }
    val AdminCol = "admin(\\d)".r
    val (adminCols, dataCols) = args.columns.partition(AdminCol.matches)
    val unknown = dataCols.filterNot(PatchableColumns)
    if (unknown.nonEmpty) {
      System.err.println(s"[main] unsupported patch columns: ${unknown.mkString(", ")} " +
        s"(supported: ${PatchableColumns.toSeq.sorted.mkString(", ")})")
      return false
    }
    val countries = resolveCountries(spark, store, args)
    var allOk = true
    countries.foreach { country =>
      if (!store.exists(s"mercator_views/${country}_${args.zoom}.parquet")) {
        System.err.println(s"[main] $country not initialized at zoom ${args.zoom} — run --type initialize first")
        allOk = false
      } else {
        adminCols.foreach { case AdminCol(l) =>
          val level = l.toInt
          if (hasIngest(store, s"${country}_admin$level.parquet")) {
            Jobs.initializeAdminLevel(spark, store, country, args.zoom, level,
              ingest(spark, store, s"${country}_admin$level.parquet"))
            println(s"[main] added admin$level layer for $country")
          } else {
            System.err.println(s"[main] $country: missing ingest/${country}_admin$level.parquet")
            allOk = false
          }
        }
        if (dataCols.nonEmpty) {
          if (!hasIngest(store, s"${country}_patch.parquet")) {
            System.err.println(s"[main] $country: missing ingest/${country}_patch.parquet")
            allOk = false
          } else {
            val patchSrc = ingest(spark, store, s"${country}_patch.parquet")
            val missing = dataCols.filterNot(patchSrc.columns.contains)
            if (missing.nonEmpty) {
              System.err.println(s"[main] $country: ingest/${country}_patch.parquet lacks ${missing.mkString(", ")}")
              allOk = false
            } else {
              Jobs.patch(spark, store, country, args.zoom,
                patchSrc.select((Seq("tile_id") ++ dataCols).map(col): _*))
              println(s"[main] patched ${dataCols.mkString(", ")} for $country")
            }
          }
        }
      }
    }
    allOk
  }
}
