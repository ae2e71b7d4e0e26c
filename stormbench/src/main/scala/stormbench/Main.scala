package stormbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}
import scala.jdk.CollectionConverters._

/** One checked call: its wall time, what it left persisted in the session,
  * the session state it changed, and the oracle's misses. */
final case class CallRecord(name: String, forecast: String, wallS: Double, persisted: Int,
                            confChanges: Seq[String], misses: Seq[String])

/** What [[Run.measure]] saw: the time from JVM start to the first timed
  * call and the JVM totals then, the untraced calls' wall times, and the
  * traced calls' per-layer values (with their wall time as `wall_s`). */
final case class Measured(setupS: Double, setupLayers: Map[String, Double],
                          untraced: Seq[Double], traced: Seq[Map[String, Double]])

final case class Result(endToEnd: Map[String, Double], perLayer: Map[String, Double],
                        summary: Map[String, Double])

/** What a workload needs from the harness: the session, the probe, the
  * workload's arguments, and the ledger of attempted and failed calls. */
final class Run(val spark: SparkSession, val probe: Probe, val workload: String,
                val seed: Long, val seconds: Int, val work: Path, val toy: Boolean,
                val corrupt: Boolean) {
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  val calls = scala.collection.mutable.ArrayBuffer.empty[CallRecord]
  var attempted = 0
  var failed = 0

  def sinceJvmStart(): Double = (System.currentTimeMillis() - jvmStartMs) / 1e3

  /** Log on standard error how far into the run a phase ends. */
  def phase(name: String): Unit =
    System.err.println(f"[stormbench] $workload ${sinceJvmStart()}%.1f s after JVM start: $name")

  /** Past the point where another call could push the run beyond the
    * time a run is allowed (see run.py). */
  def late(): Boolean = sinceJvmStart() > 125

  /** The number of timed calls for a workload whose warm calls take about
    * `nominalS` on a 4-core host: `--seconds` worth, and at least three.
    * It is fixed before the run, so a slow host gives slower calls rather
    * than fewer of them, and the median is always over the same forecasts. */
  def timedCalls(nominalS: Double): Int = math.max(3, math.round(seconds / nominalS).toInt)

  /** The measured phase both workloads share: `timed` calls in a closed
    * loop with one caller, each starting when the previous one returns.
    * `call(i, traced)` runs call number i and returns its wall time and
    * per-layer values. A traced run traces every second call, so that
    * `trace_overhead` compares it with the untraced calls around it; it
    * first makes one untimed call, so that those calls sit past the
    * steepest part of the JIT's warm-up. On a host so slow that another
    * call could overrun the run's time limit, it stops early once it has
    * an untraced (and a traced) call. */
  def measure(timed: Int)(call: (Int, Boolean) => (Double, Map[String, Double])): Measured = {
    val warmups = if (probe.tracing) 1 else 0
    (0 until warmups).foreach { i => probe.attach(false); call(i, false) }
    val setupS = sinceJvmStart()
    phase("set-up done")
    val setupLayers = if (probe.tracing) jvmTotals() else Map.empty[String, Double]
    val untraced = Seq.newBuilder[Double]
    val traced = Seq.newBuilder[Map[String, Double]]
    var haveUntraced, haveTraced = false
    var i = 0
    while (i < timed && !(late() && haveUntraced && (haveTraced || !probe.tracing))) {
      val traceThis = probe.tracing && i % 2 == 1
      probe.attach(traceThis)
      val (wall, layers) = call(warmups + i, traceThis)
      if (traceThis) { traced += (layers + ("wall_s" -> wall)); haveTraced = true }
      else { untraced += wall; haveUntraced = true }
      i += 1
    }
    probe.attach(false)
    phase(s"$i timed calls done")
    Measured(setupS, setupLayers, untraced.result(), traced.result())
  }

  /** The per-layer metrics of a traced run: medians over the traced calls,
    * the JVM totals at the first timed call, and `extra`. */
  def perLayer(m: Measured, extra: Map[String, Double]): Map[String, Double] = {
    val med = Stats.medianOfKeys(m.traced)
    med.filter { case (k, _) => Layers.contains(k) } ++ Layers.engineFromDelta(med) ++
      m.setupLayers ++ extra +
      ("trace_overhead" -> med.getOrElse("wall_s", Double.NaN) / Stats.median(m.untraced))
  }

  /** Run one operation of the workload; a throw counts as a failure. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        failed += 1
        calls += CallRecord(what, "", Double.NaN, 0, Nil, Seq(s"threw ${e.getClass.getName}: ${e.getMessage}"))
        System.err.println(s"[stormbench] $what failed: $e")
        None
    }
  }

  /** Record a call that returned; oracle misses turn it into a failure. */
  def record(c: CallRecord): Unit = {
    calls += c
    if (c.misses.nonEmpty) {
      failed += 1
      c.misses.foreach(m => System.err.println(s"[stormbench] ${c.name} ${c.forecast}: $m"))
    }
  }

  def diff(before: Set[String], after: Set[String]): Seq[String] =
    ((after -- before).map("+" + _) ++ (before -- after).map("-" + _)).toSeq.sorted

  /** JVM and code-generation totals from JVM start to now. */
  def jvmTotals(): Map[String, Double] = {
    val codegen = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    Map(
      "jvm.gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3,
      "jvm.jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
      // the histogram keeps no running sum: count x recent mean estimates it
      "engine.codegen_compile_s" -> codegen.getCount * codegen.getSnapshot.getMean / 1e3)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.filterNot(_.isNaN).sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def medianOfKeys(ms: Seq[Map[String, Double]]): Map[String, Double] =
    ms.flatMap(_.keys).distinct.map(k => k -> median(ms.flatMap(_.get(k)))).toMap
}

/** Metric names and units. The end-to-end set is reported by untraced
  * runs, the per-layer set by traced ones (see README.md for what each
  * should move). */
object Layers {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "initialize_s" -> "s", "first_call_s" -> "s", "call_s" -> "s")

  /** Per-layer name -> the key of a [[Probe.call]] delta it is read from. */
  private val FromDelta: Seq[(String, String)] = Seq(
    "engine.jobs" -> "jobs", "engine.stages" -> "stages", "engine.tasks" -> "tasks",
    "engine.single_task_stages" -> "single_task_stages", "engine.task_s" -> "task_s",
    "engine.task_cpu_s" -> "task_cpu_s", "engine.core_util" -> "core_util",
    "engine.driver_gap_s" -> "driver_gap_s", "engine.planning_s" -> "planning_s",
    "engine.shuffle_write_bytes" -> "shuffle_write_bytes",
    "engine.shuffle_read_bytes" -> "shuffle_read_bytes", "engine.spill_bytes" -> "spill_bytes",
    "io.fs_bytes_read" -> "fs_bytes_read", "io.fs_bytes_written" -> "fs_bytes_written",
    "stream.batches" -> "batches", "stream.add_batch_s" -> "addBatch.s",
    "stream.query_planning_s" -> "queryPlanning.s", "stream.latest_offset_s" -> "latestOffset.s",
    "stream.wal_commit_s" -> "walCommit.s", "stream.commit_offsets_s" -> "commitOffsets.s",
    "stream.state_rows" -> "state_rows", "stream.outside_batches_s" -> "outside_batches_s")

  def engineFromDelta(d: Map[String, Double]): Map[String, Double] =
    FromDelta.map { case (name, key) => name -> d.getOrElse(key, 0.0) }.toMap

  val PerLayer: Seq[(String, String)] = Seq(
    "pipeline.tile_view_s" -> "s", "pipeline.facility_views_s" -> "s",
    "pipeline.admin_views_s" -> "s", "pipeline.cci_s" -> "s", "pipeline.track_view_s" -> "s",
    "pipeline.report_s" -> "s", "pipeline.coverage" -> "ratio",
    "pipeline.persisted_after_update" -> "count",
    "ops.probability_join_s" -> "s", "ops.admin_overlay_s" -> "s",
    "io.write_s" -> "s", "io.files_written" -> "count", "io.bytes_written" -> "bytes",
    "io.fs_bytes_read" -> "bytes",
    "io.fs_bytes_written" -> "bytes",
    "engine.jobs" -> "count", "engine.stages" -> "count", "engine.tasks" -> "count",
    "engine.single_task_stages" -> "count", "engine.task_s" -> "s", "engine.task_cpu_s" -> "s",
    "engine.core_util" -> "ratio", "engine.driver_gap_s" -> "s", "engine.planning_s" -> "s",
    "engine.shuffle_write_bytes" -> "bytes", "engine.shuffle_read_bytes" -> "bytes",
    "engine.spill_bytes" -> "bytes", "engine.conf_changes" -> "count",
    "engine.codegen_compile_s" -> "s", "jvm.gc_s" -> "s", "jvm.jit_s" -> "s",
    "stream.batches" -> "count", "stream.add_batch_s" -> "s", "stream.query_planning_s" -> "s",
    "stream.latest_offset_s" -> "s", "stream.wal_commit_s" -> "s",
    "stream.commit_offsets_s" -> "s", "stream.state_rows" -> "count",
    "stream.outside_batches_s" -> "s", "trace_overhead" -> "ratio")

  def contains(name: String): Boolean = PerLayer.exists(_._1 == name)
}

object Workloads {
  private val Facilities = Seq("school" -> 4000, "hc" -> 1500, "shelter" -> 800, "wash" -> 2000)

  def storm(name: String, toy: Boolean): Option[StormShape] = name match {
    case "storm_hit_csv" => Some(
      if (toy) StormShape(16, 16, Seq((2, 2), (4, 4)), Facilities.map(f => f._1 -> 40), 0.8)
      else StormShape(32, 32, Seq((6, 6), (18, 20)), Facilities, 0.8))
    case _ => None
  }

  val Names = Seq("storm_hit_csv", "stream_gates")
}

object Main {
  private def arg(args: Array[String], key: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`key`, v) => v }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse("")
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toInt).getOrElse(10)
    val trace = arg(args, "--trace").contains("1")
    val toy = args.contains("--toy")
    // the self-test's check that the oracle catches a wrong view
    val corrupt = toy && args.contains("--corrupt")
    val work = Paths.get(arg(args, "--work").getOrElse(sys.error("--work <dir> is required")))
    val cpus = Runtime.getRuntime.availableProcessors()
    require(Workloads.Names.contains(workload), s"unknown workload '$workload'")

    val spark = Sessions.forWorkload(workload, cpus, work.resolve("spark-local").toString)
    spark.sparkContext.setLogLevel("ERROR")
    graft.geo.GeoFunctions.ensureRegistered(spark)
    val probe = new Probe(spark, workload, trace)
    val run = new Run(spark, probe, workload, seed, seconds, work, toy, corrupt)
    run.phase("session started")
    val result = Workloads.storm(workload, toy) match {
      case Some(shape) => new StormWorkload(run, shape).execute()
      case None => new GateWorkload(run).execute()
    }
    val tag = s"$workload-seed$seed-trace${if (trace) 1 else 0}"
    if (trace) probe.writeSpans(work.resolve(s"$tag.spans.jsonl"))
    Report.write(run, result, work.resolve(s"$tag.calls.json"))

    // the human-readable lines first; the contract's JSON object last
    println(s"""[stormbench] jvm {"java_version":${Json.str(System.getProperty("java.version"))},""" +
      s""""spark_version":${Json.str(spark.version)}}""")
    result.summary.toSeq.sortBy(_._1).foreach { case (k, v) =>
      println(f"[stormbench] $workload $k = $v%.4f")
    }
    println(f"[stormbench] $workload failed_ops = ${run.failed.toDouble / math.max(1, run.attempted)}%.4f " +
      s"(ratio; ${run.failed} of ${run.attempted} attempted)")
    val metrics = if (trace) Layers.PerLayer else Layers.EndToEnd
    val values = if (trace) result.perLayer else result.endToEnd
    val body = metrics.map { case (name, unit) =>
      s"${Json.str(name)}:{\"value\":${Json.num(values.getOrElse(name, 0.0))},\"unit\":${Json.str(unit)}}"
    }.mkString(",")
    println(s"""{"correct":${run.failed == 0},"attempted":${run.attempted},"failed":${run.failed},"metrics":{$body}}""")
    spark.stop()
    if (run.failed != 0) sys.exit(1)
  }
}

object Report {
  def write(run: Run, result: Result, path: Path): Unit = {
    val calls = run.calls.map { c =>
      s"""{"name":${Json.str(c.name)},"forecast":${Json.str(c.forecast)},"wall_s":${Json.num(c.wallS)},""" +
        s""""persisted":${c.persisted},"conf_changes":[${c.confChanges.map(Json.str).mkString(",")}],""" +
        s""""misses":[${c.misses.map(Json.str).mkString(",")}]}"""
    }
    def obj(m: Map[String, Double]) =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(path, s"""{"workload":${Json.str(run.workload)},"seed":${run.seed},""" +
      s""""end_to_end":${obj(result.endToEnd)},"per_layer":${obj(result.perLayer)},""" +
      s""""summary":${obj(result.summary)},"calls":[${calls.mkString(",\n")}]}""" + "\n")
  }
}

/** The session each workload runs on, configured like the program's own
  * entry point for that work: the production CLI (`graft.Main`) for the
  * storm workloads, the gate benchmark (`graft.Bench`) for the gates. */
object Sessions {
  def forWorkload(workload: String, cpus: Int, localDir: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"stormbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", localDir)
    val configured =
      if (workload == "stream_gates") b
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.codegen.cache.maxEntries", "8192")
      else b.config("spark.sql.shuffle.partitions", "32")
    graft.io.NioLocalFs.configure(configured).getOrCreate()
  }
}
