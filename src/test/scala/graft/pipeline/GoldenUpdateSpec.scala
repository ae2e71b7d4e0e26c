package graft.pipeline

import graft.SparkSpec
import graft.geo.Geo
import graft.io.DataStore
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.util.concurrent.atomic.AtomicInteger
import scala.io.Source

/** The golden update scenario: `JobsSpec`'s 16 × 16 grid with admin1 and
  * admin2, all four facility kinds (with the name and type columns the
  * report's top-5 lists read), tracks and a country boundary, then two
  * forecasts 6 h apart whose envelopes drift, so the second report carries
  * change fields against the first. The envelopes sit over the grid, so the
  * expected (50 kt) threshold has impact. */
object GoldenScenario {
  val Country = "SYN"
  val Zoom = 14
  val Storm = "GOLDEN"
  val Dates: Seq[String] = Seq("20260801000000", "20260801060000")

  /** kind -> (count, name column, type column) */
  private val Kinds = Seq(
    "school" -> (40, "school_name", "education_level"),
    "hc" -> (20, "name", "amenity"),
    "shelter" -> (15, "name", "shelter_type"),
    "wash" -> (25, "name", "wash_type"))

  /** Envelopes centred on the grid, so every threshold up to 83 kt reaches
    * some tiles and facilities. */
  def envelopes(spark: SparkSession, forecast: Int): DataFrame =
    SyntheticScenario.envelopes(spark, members = 51,
      thresholds = Constants.WindThresholds.take(6),
      anchorLon = -72.18 - 0.03 * forecast, anchorLat = 17.98 + 0.02 * forecast)

  /** A fresh store under `root`, initialized with both admin levels. */
  def initialize(spark: SparkSession, root: String): DataStore = {
    val store = new DataStore(root)
    val tiles = SyntheticScenario.tiles(spark, nx = 16, ny = 16)
    val admins = SyntheticScenario.admins(spark, tiles)
    val admins2 = SyntheticScenario.admins(spark, tiles, adminZoom = 12)
    val facilities = Kinds.map { case (kind, (n, nameCol, typeCol)) =>
      val id = col(s"${kind}_id")
      kind -> SyntheticScenario.facilities(spark, kind, n, nx = 16, ny = 16)
        .withColumn(nameCol, concat(lit("Name "), id))
        .withColumn(typeCol, concat(lit("type-"), (xxhash64(id) % 3).cast("string")))
    }.toMap
    Jobs.initialize(spark, store, Country, Zoom, tiles, admins, facilities, Map(2 -> admins2))
    store
  }

  def update(spark: SparkSession, store: DataStore, forecast: Int,
             rewrite: Boolean = false): Jobs.UpdateResult =
    Jobs.update(spark, store, Country, Zoom, Storm, Dates(forecast), envelopes(spark, forecast),
      Some(SyntheticScenario.tracks(spark, members = 20)),
      Some(Geo.toWkb(Geo.box(-72.2, 18.8, -71.7, 19.2))), rewrite = rewrite)

  def prefix(forecast: Int): String = s"${Country}_${Storm}_${Dates(forecast)}_"

  def reportJson(store: DataStore, forecast: Int): String =
    store.readText(s"reports_json/${Country}_${Storm}_${Dates(forecast)}.json")

  def trackView(spark: SparkSession, store: DataStore, forecast: Int): DataFrame =
    store.readParquet(spark, s"track_views/${prefix(forecast)}tracks.parquet")

  /** Schema line, then one tab-separated line per row, sorted. */
  def renderRows(df: DataFrame): String =
    (df.schema.toDDL +: df.collect().toSeq
      .map(_.toSeq.map(v => if (v == null) "null" else v.toString).mkString("\t")).sorted)
      .mkString("", "\n", "\n")
}

/** Golden check of the report JSON and the track view against the output the
  * pipeline produced before its report and track-view passes were merged
  * (`src/test/resources/golden/`). */
class GoldenUpdateSpec extends SparkSpec {
  import GoldenScenario._

  private lazy val store = {
    val s = initialize(spark, java.nio.file.Files.createTempDirectory("graft-golden").toString)
    Dates.indices.foreach(f => assert(update(spark, s, f).processed))
    s
  }

  private def resource(name: String): String = {
    val src = Source.fromInputStream(getClass.getResourceAsStream(s"/golden/$name"), "UTF-8")
    try src.mkString finally src.close()
  }

  /** Top-5 slots: each kind's probabilities in slot order; names and types
    * only for slots strictly above the fifth slot's probability, as a set,
    * because `orderBy(probability).limit` orders ties arbitrarily. */
  private def assertTopK(got: Map[String, Any], want: Map[String, Any]): Unit =
    Seq("school" -> "edulevel", "hc" -> "type", "shelter" -> "type", "wash" -> "type")
      .foreach { case (kind, typeKey) =>
        def slots(r: Map[String, Any]) = (1 to Constants.TopK).flatMap { i =>
          r.get(s"${kind}_prob_$i").map(p => (p.asInstanceOf[Double],
            r.get(s"${kind}_name_$i").orNull, r.get(s"${kind}_${typeKey}_$i").orNull))
        }
        val (g, w) = (slots(got), slots(want))
        assert(g.map(_._1) == w.map(_._1), s"$kind probabilities")
        val floor = if (w.size == Constants.TopK) w.last._1 else Double.NegativeInfinity
        def above(s: Seq[(Double, Any, Any)]) = s.filter(_._1 > floor).map(_.toString).sorted
        assert(above(g) == above(w), s"$kind names above the fifth slot")
      }

  Dates.indices.foreach { f =>
    test(s"golden: report of forecast ${Dates(f)} matches key for key") {
      val got = Reports.fromJson(reportJson(store, f))
      val want = Reports.fromJson(resource(s"report_${Dates(f)}.json"))
      val topK = "^(school|hc|shelter|wash)_(name|edulevel|type|prob)_[1-5]$"
      assert(got.keySet == want.keySet,
        s"missing ${want.keySet -- got.keySet}, extra ${got.keySet -- want.keySet}")
      want.keys.filterNot(k => k == "report_date" || k.matches(topK)).foreach { k =>
        assert(got(k) == want(k), s"key $k")
      }
      assertTopK(got, want)
    }

    test(s"golden: track view of forecast ${Dates(f)} matches schema and rows") {
      val got = renderRows(trackView(spark, store, f)).split("\n").toSeq
      val want = resource(s"track_view_${Dates(f)}.tsv").split("\n").toSeq
      assert(got.head == want.head, "schema")
      assert(got.size == want.size, "row count")
      val types = trackView(spark, store, f).schema.fields.map(_.dataType)
      got.tail.zip(want.tail).foreach { case (g, w) =>
        g.split("\t").zip(w.split("\t")).zip(types).foreach {
          // sums of tile metrics: the order of a float sum is not part of
          // the contract, so doubles agree to 1e-9 relative
          case ((a, b), DoubleType) if a != "null" && b != "null" =>
            assert(math.abs(a.toDouble - b.toDouble) <= 1e-9 * math.max(1.0, math.abs(b.toDouble)),
              s"row $g vs $w")
          case ((a, b), _) => assert(a == b, s"row $g vs $w")
        }
      }
    }
  }

  // Jobs one warm update of this scenario ran when the report and track view
  // became single passes (98 before); the budget allows 2 more.
  private val MeasuredJobs = 59

  test(s"job budget: a warm update runs at most ${MeasuredJobs + 2} Spark jobs") {
    store // both forecasts have run, so the update below is warm
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try assert(update(spark, store, 1, rewrite = true).processed)
    finally { ListenerBusDrain(sc); sc.removeSparkListener(listener) }
    assert(jobs.get <= MeasuredJobs + 2, s"${jobs.get} jobs")
  }
}
