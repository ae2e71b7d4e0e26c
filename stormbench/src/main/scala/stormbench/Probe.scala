package stormbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.stormbench.Internals
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One traced interval. Times are microseconds since the epoch. */
final case class Span(id: Int, parent: Int, name: String, startUs: Long, endUs: Long,
                      workload: String, forecast: String)

/** Engine counters from the scheduler: stage-level task metrics, job
  * intervals, and the span each job was submitted under. */
private final class EngineListener(probe: Probe) extends SparkListener {
  val c: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  /** (start ms, end ms) of every finished job, for the driver-gap union. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStarts = mutable.Map.empty[Int, (Long, Int)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Probe.SpanProperty)))
      .map(_.toInt).getOrElse(0)
    jobStarts(e.jobId) = (e.time, span)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    c("jobs") += 1
    jobStarts.remove(e.jobId).foreach { case (start, span) =>
      jobIntervals += ((start, e.time))
      probe.jobSpan(e.jobId, span, start, e.time)
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    c("stages") += 1
    c("tasks") += s.numTasks
    if (s.numTasks == 1) c("single_task_stages") += 1
    val m = s.taskMetrics
    if (m != null) {
      c("task_s") += m.executorRunTime / 1e3
      c("task_cpu_s") += m.executorCpuTime / 1e9
      c("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      c("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
      c("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      Internals.queryExecution(end).foreach(planning.onSuccess("", _, 0L))
    case p: StreamingQueryListener.QueryProgressEvent => streams.onQueryProgress(p)
    case _ => ()
  }

  /** Analysis, optimization and planning time of every SQL execution. The
    * events come from the context-wide bus rather than one session's
    * listener manager, so queries of sibling sessions count too. */
  val planning: QueryExecutionListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      EngineListener.this.synchronized {
        qe.tracker.phases.foreach { case (phase, summary) =>
          if (phase != "parsing") c("planning_s") += summary.durationMs / 1e3
        }
      }
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      onSuccess(funcName, qe, 0L)
  }

  /** Per-microbatch progress of every streaming query in the context (the
    * gates run their streams on sibling sessions, whose own listener
    * managers a listener on the main session would not see). */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    private val stateRows = mutable.Map.empty[java.util.UUID, Long]
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      EngineListener.this.synchronized {
        val p = e.progress
        val d = p.durationMs.asScala
        if (d.contains("addBatch")) c("batches") += 1
        Seq("addBatch", "queryPlanning", "latestOffset", "walCommit", "commitOffsets",
          "triggerExecution").foreach(k => c(s"$k.s") += d.get(k).map(_.longValue).getOrElse(0L) / 1e3)
        val rows = p.stateOperators.map(_.numRowsTotal).sum
        c("state_rows") += rows - stateRows.getOrElse(p.runId, 0L)
        stateRows(p.runId) = rows
      }
  }
}

/**
 * The traced run's recorder. With tracing off it only runs the body, so an
 * untraced run pays nothing; with tracing on, [[call]] wraps one public call
 * of the program and returns its per-layer deltas, and [[span]] records a
 * child interval. Spans are kept in memory and written out at exit.
 */
final class Probe(spark: SparkSession, workload: String, val tracing: Boolean) {
  private val sc = spark.sparkContext
  private val epochUs0 = System.currentTimeMillis() * 1000
  private val nano0 = System.nanoTime()
  private def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var forecast = ""
  private val listener = new EngineListener(this)

  /** Whether the listeners are attached: a traced run alternates traced
    * and untraced calls to measure its own overhead. */
  private var attached = false
  def attach(on: Boolean): Unit = if (tracing && on != attached) {
    if (on) sc.addSparkListener(listener) else sc.removeSparkListener(listener)
    attached = on
  }

  def setForecast(f: String): Unit = forecast = f

  private[stormbench] def jobSpan(jobId: Int, parent: Int, startMs: Long, endMs: Long): Unit =
    spans.synchronized {
      nextId += 1
      spans += Span(nextId, parent, s"engine.job.$jobId", startMs * 1000, endMs * 1000, workload, forecast)
    }

  /** Time `body` as a child span of the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!attached) body
    else {
      val id = spans.synchronized { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(0)
      val start = nowUs
      stack = id :: stack
      sc.setLocalProperty(Probe.SpanProperty, id.toString)
      try body
      finally {
        stack = stack.tail
        sc.setLocalProperty(Probe.SpanProperty, stack.headOption.map(_.toString).orNull)
        spans.synchronized { spans += Span(id, parent, name, start, nowUs, workload, forecast) }
      }
    }

  /** Sum of the durations of the recorded spans named `name` since `fromUs`. */
  def spanSeconds(name: String, fromUs: Long): Double = spans.synchronized {
    spans.filter(s => s.name == name && s.startUs >= fromUs).map(s => (s.endUs - s.startUs) / 1e6).sum
  }
  def clockUs: Long = nowUs

  private def fsStats: Seq[org.apache.hadoop.fs.FileSystem.Statistics] =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.toSeq.filter(_.getScheme == "file")

  private def sample(): Map[String, Double] = {
    Internals.drain(sc)
    val engine = listener.synchronized(listener.c.toMap)
    val fs = fsStats
    engine ++ Map(
      "fs_bytes_read" -> fs.map(_.getBytesRead.toDouble).sum,
      "fs_bytes_written" -> fs.map(_.getBytesWritten.toDouble).sum)
  }

  /** Run one public call of the program. Untraced, this is the body alone.
    * Traced, it returns the call's per-layer deltas as well. */
  def call[T](name: String)(body: => T): (T, Double, Map[String, Double]) =
    if (!attached) {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9, Map.empty)
    } else {
      val before = sample()
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val r = span(name)(body)
      val wall = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      val after = sample()
      val delta = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }.withDefaultValue(0.0)
      val busyMs = listener.synchronized {
        Probe.unionMs(listener.jobIntervals.toSeq.filter(_._1 >= startMs - 1), startMs, endMs)
      }
      val cores = sc.defaultParallelism
      (r, wall, delta ++ Map(
        "driver_gap_s" -> math.max(0.0, wall - busyMs / 1e3),
        "core_util" -> delta("task_s") / (wall * cores),
        "outside_batches_s" ->
          (if (delta("batches") > 0) math.max(0.0, wall - delta("triggerExecution.s")) else 0.0)))
    }

  /** Persisted RDDs plus cached plans still held by the session. */
  def persisted(): Int = {
    val plans = try {
      val cm = spark.sharedState.cacheManager
      val f = cm.getClass.getDeclaredFields.find(_.getName.endsWith("cachedData")).get
      f.setAccessible(true)
      f.get(cm).asInstanceOf[Seq[_]].size
    } catch { case _: Exception => if (spark.sharedState.cacheManager.isEmpty) 0 else 1 }
    sc.getPersistentRDDs.size + plans
  }

  /** The session state a call could leave behind: SQL confs, registered
    * functions and extra planner strategies. */
  def sessionState(): Set[String] =
    spark.conf.getAll.map { case (k, v) => s"conf:$k=$v" }.toSet ++
      spark.sessionState.functionRegistry.listFunction().map(f => s"function:${f.unquotedString}") ++
      spark.experimental.extraStrategies.map(s => s"strategy:${s.getClass.getName}")

  def writeSpans(path: java.nio.file.Path): Unit = spans.synchronized {
    java.nio.file.Files.writeString(path, spans.sortBy(_.startUs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"start_us":${s.startUs},"end_us":${s.endUs},"workload":${Json.str(s.workload)},"forecast":${Json.str(s.forecast)}}"""
    }.mkString("", "\n", "\n"))
  }
}

object Probe {
  val SpanProperty = "stormbench.span"

  /** Length of the union of `[start, end]` intervals clipped to a window. */
  def unionMs(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var covered = 0L
    var reach = from
    intervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
      }
    covered
  }

  /** Materialize a frame without keeping its rows. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\""); case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n"); case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
