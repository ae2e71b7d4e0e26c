package stormbench

import graft.io.DataStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** The tables the stream gates read, generated from the seed to match the
  * repository's sf0.01 test tables (`events`, `customer`): their schemas,
  * row counts and the value distributions the gates' state and dedup work
  * depend on, as measured on those tables (README.md, "Gate inputs").
  * `scale` 1.0 gives the sf0.01 row counts. */
final class GateTables(spark: SparkSession, seed: Long, scale: Double) {
  private def h(k: Int, cols: Column*): Column = pmod(xxhash64(lit(seed) +: lit(k) +: cols: _*), lit(Long.MaxValue))
  /** Uniform in (0, 1]. */
  private def u(k: Int, cols: Column*): Column = (h(k, cols: _*) + 1) / lit(Long.MaxValue.toDouble)
  private def pick(k: Int, values: Seq[String]): Column =
    element_at(typedlit(values), (pmod(h(k, col("id")), lit(values.size.toLong)) + 1).cast("int"))
  private def rows(n: Int): DataFrame = spark.range((n * scale).toLong.max(50L)).toDF()

  /** Poisson arrivals over 30 days in event_id order (exponential gaps,
    * mean 30 days / rows), 150 users and 5 event types uniform, values
    * exponential with mean 49.6, 100 distinct props. */
  def events: DataFrame = {
    val n = (10000 * scale).toLong.max(50L)
    val meanGapUs = 30L * 86400000000L / n
    rows(10000)
      .withColumn("gap_us", -ln(u(1, col("id"))) * meanGapUs)
      .select(
        col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) +
          round(sum("gap_us").over(Window.orderBy("id"))).cast("long")).as("ts"),
        pmod(h(2, col("id")), lit(150L)).as("user_id"),
        pick(3, Seq("click", "view", "signup", "purchase", "error")).as("event_type"),
        greatest(round(-ln(u(4, col("id"))) * 49.6, 2), lit(0.01)).as("value"),
        concat(lit("{\"k\": "), pmod(h(5, col("id")), lit(100L)).cast("string"), lit("}")).as("props"))
  }

  def customer: DataFrame = rows(1500).select(
    col("id").as("c_custkey"),
    format_string("Customer#%09d", col("id")).as("c_name"),
    pmod(h(10, col("id")), lit(25L)).cast("int").as("c_nationkey"),
    (pmod(h(11, col("id")), lit(1099999L)) / 100.0 - 999.99).as("c_acctbal"),
    pick(12, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment"))

  /** Write every table through the program's store as the single file
    * `<name>.parquet` the gates' file streams select by name. */
  def writeAll(store: DataStore, dir: java.nio.file.Path): Unit =
    Seq("events" -> events, "customer" -> customer)
      .foreach { case (name, df) =>
        store.writeParquet(df.coalesce(1), s"$name.staging")
        val staging = dir.resolve(s"$name.staging")
        val part = java.nio.file.Files.list(staging).iterator().asScala
          .find(p => p.getFileName.toString.startsWith("part-")).get
        java.nio.file.Files.move(part, dir.resolve(s"$name.parquet"))
        Oracle.delete(staging)
      }
}

/**
 * The stream-gate workload: a fixed subset of the repository's `s*` gates
 * (`graft.SparkEntry.queries`), each run to completion once untimed and
 * then once per timed pass, with persisted blocks dropped between gates as
 * `graft.Bench` does. A gate's row count must match its warm pass.
 */
final class GateWorkload(run: Run) {
  import run._

  private val gates: Seq[String] =
    if (toy) GateWorkload.Gates.take(2) else GateWorkload.Gates

  private def dropPersisted(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** One pass over the gates. Returns (pass wall, per-gate row counts,
    * summed per-layer deltas). */
  private def pass(label: String, expected: Map[String, Long]): (Double, Map[String, Long], Map[String, Double]) = {
    val counts = Map.newBuilder[String, Long]
    var wall = 0.0
    val layers = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    gates.foreach { name =>
      dropPersisted()
      val fn = graft.SparkEntry.queries(name)
      probe.setForecast(name)
      val state0 = if (probe.tracing) probe.sessionState() else Set.empty[String]
      attempt(s"$label $name")(probe.call(s"stream.gate.$name")(fn(spark, dataDir).count())).foreach {
        case (n, w, delta) =>
          wall += w
          counts += name -> n
          delta.foreach { case (k, v) => layers(k) += v }
          val persisted = probe.persisted()
          val changes = if (probe.tracing) diff(state0, probe.sessionState()) else Nil
          layers("pipeline.persisted_after_update") += persisted
          layers("engine.conf_changes") += changes.size
          val miss = expected.get(name).filter(_ != n).map(e => s"$n rows, warm pass had $e")
          record(CallRecord(s"$label $name", name, w, persisted, changes, miss.toSeq))
      }
    }
    // a utilisation is a ratio over the whole pass, not a sum of the gates'
    layers("core_util") = layers("task_s") / (wall * spark.sparkContext.defaultParallelism)
    (wall, counts.result(), layers.toMap)
  }

  private lazy val dataDir = work.resolve("gate-data").toString

  def execute(): Result = {
    val store = new DataStore(dataDir)
    val tables = new GateTables(spark, seed, if (toy) 0.02 else 1.0)
    probe.attach(probe.tracing)
    val initS = attempt("write gate tables")(
      probe.call("io.gate_tables")(tables.writeAll(store, java.nio.file.Paths.get(dataDir)))._2
    ).getOrElse(Double.NaN)
    phase("gate tables written")
    val (firstS, warmCounts, _) = pass("warm", Map.empty)
    phase("warm pass done")

    val m = measure(timedCalls(GateWorkload.NominalPassS)) { (_, _) =>
      val (wall, _, layers) = pass("timed", warmCounts)
      (wall, layers)
    }
    val passS = Stats.median(m.untraced)
    Result(
      Map("setup_s" -> m.setupS, "initialize_s" -> initS, "first_call_s" -> firstS, "call_s" -> passS),
      if (probe.tracing) run.perLayer(m, Map.empty) else Map.empty,
      Map("timed_passes" -> m.untraced.size.toDouble, "gates" -> gates.size.toDouble,
        "stream_suite_s" -> passS, "warm_pass_s" -> firstS))
  }
}

object GateWorkload {
  /** The gates timed, one per stateful mechanism: windowed state with a
    * watermark, dedup state, update-mode custom state, and a stream-static
    * join. Each is mostly the per-gate floor at these sizes. */
  val Gates: Seq[String] = Seq(
    "s01_stream_window", "s02_stream_dedup", "s27_stream_ewma", "s35_stream_static_join")

  /** A timed pass over [[Gates]] on a 4-core host, for sizing the timed count. */
  val NominalPassS = 4.0
}
