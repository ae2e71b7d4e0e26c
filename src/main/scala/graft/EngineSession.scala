package graft

import org.apache.spark.sql.SparkSession

/** The one engine session every main and the test suite run on.
  *
  * The master is `SPARK_GRAFT_MASTER` (a deployment address) when set,
  * else `local[cores]`; `cores` is `SPARK_GRAFT_CPUS`, else the host's
  * processor count. Everything else is fixed, and set on the builder so
  * that `newSession()` siblings inherit it:
  *
  *   - the shell-free local file system ([[graft.io.NioLocalFs]]);
  *   - shuffle partitions equal to the cores;
  *   - an AQE coalesce floor of 64k. Spark's 1m default is tuned for
  *     byte-bound stages; the LLM text kernels are CPU-dense but
  *     byte-light (5k docs ≈ 1.5 MB), so the 1m floor coalesces their
  *     post-shuffle stages to ONE task and serializes the kernel. At
  *     production scale the parallelismFirst target
  *     (total/defaultParallelism) dwarfs any floor, so this value only
  *     matters in the small-input regime;
  *   - a generated-code cache of 8192 entries. Spark's default 100 is
  *     sized for apps with a handful of query shapes; the 296-query bench
  *     runs ~10 codegen fragments per query, and one storm update ~160
  *     distinct classes, so at 100 every later reference re-generated and
  *     re-compiled its class and restarted JIT tiering (bench totals swung
  *     220-241 s; with the cache sized to the suite, 163.1 s with the
  *     first pass at 165.1). Static conf: it must be set before the
  *     context starts;
  *   - UTC session time, no UI;
  *   - `nanosAsLong`: events.parquet has shipped as TIMESTAMP(NANOS) in
  *     some generations, which Spark reads only as a long under this
  *     legacy conf (`graft.gates.GateInputs` truncates it to micros).
  *
  * The builder also installs [[graft.geo.GraftExtensions]], so every
  * session it builds, and every `newSession()` sibling of one, resolves
  * the `ST_*` and text functions and plans spatial joins with
  * [[graft.plans.SpatialJoinStrategy]], with no per-session call.
  */
object EngineSession {

  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  private def master: String = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]")

  /** The fixed settings for a session of `cores` cores. */
  def settings(cores: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
    "spark.sql.codegen.cache.maxEntries" -> "8192",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** A builder carrying the profile, for callers that add settings. */
  def builder(appName: String, master: String, cores: Int): SparkSession.Builder =
    graft.io.NioLocalFs.configure(SparkSession.builder()
      .master(master).appName(appName).config(settings(cores))
      .withExtensions(new graft.geo.GraftExtensions))

  /** The session on `master`. With `scratch`, spills, stream checkpoints
    * and state stores go to [[scratchDir]]. */
  def start(appName: String, logLevel: String = "WARN",
            scratch: Boolean = false): SparkSession = {
    val b = builder(appName, master, cores)
    val spark = (if (scratch) b.config("spark.local.dir", scratchDir()) else b).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Stream checkpoints, state stores, microbatch drops and shuffle spills
    * land in java.io.tmpdir and spark.local.dir, which default to the
    * disk-backed /tmp: the streaming gates' run-to-run swing (s16 7.7 s
    * contended vs 3.7 s isolated in one full run) was that disk. So the
    * measurement mains put both on the tmpfs when there is one, or on
    * `SPARK_GRAFT_TMPDIR`. Sets java.io.tmpdir and returns the path. */
  private def scratchDir(): String = {
    val tmp = sys.env.getOrElse("SPARK_GRAFT_TMPDIR",
      if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-bench"
      else System.getProperty("java.io.tmpdir"))
    new java.io.File(tmp).mkdirs()
    System.setProperty("java.io.tmpdir", tmp)
    tmp
  }

  /** Drops every cached plan and persisted RDD, so each measured run starts
    * from the same block-manager state. Many operators localCheckpoint
    * intermediates, and nothing unpersists them once a query's DataFrame
    * is discarded; left alone, hundreds of runs pile tens of GiB into the
    * block manager (round 10: medians 3x). Blocking: an async unpersist
    * races the next run's block registrations (d34's 6 reps grew
    * 4.4 -> 11.6 s with async drops, held 2-4 s with blocking ones). */
  def dropPersisted(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
