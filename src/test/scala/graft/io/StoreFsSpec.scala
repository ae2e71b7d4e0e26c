package graft.io

import graft.SparkSpec
import graft.llm.Dedup
import graft.pipeline.{CountryRegistry, Jobs, SyntheticScenario}
import graft.streaming.Streaming
import org.apache.hadoop.fs.RawLocalFileSystem
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The local file system under a scheme of its own. A store rooted at
  * `graftfs:///x` is on local disk, but only a caller that goes through
  * Hadoop's FileSystem finds it there: `java.nio` reads the same string as
  * the relative local path `graftfs:/x`. */
class GraftFs extends RawLocalFileSystem {
  override def getScheme: String = "graftfs"
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
}

/** [[GraftFs]] under the scheme `flakyfs`, whose next rename onto the path
  * in [[FlakyGraftFs.failRenameOnto]] throws, once. */
class FlakyGraftFs extends GraftFs {
  override def getScheme: String = "flakyfs"
  override def getUri: java.net.URI = java.net.URI.create("flakyfs:///")
  override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean = {
    FlakyGraftFs.synchronized {
      if (FlakyGraftFs.failRenameOnto.contains(dst.toUri.getPath)) {
        FlakyGraftFs.failRenameOnto = None
        throw new java.io.IOException(s"injected failure: rename $src to $dst")
      }
    }
    super.rename(src, dst)
  }
}

object FlakyGraftFs {
  @volatile var failRenameOnto: Option[String] = None
}

/** One storage path: every operation on a store path goes through the
  * root's Hadoop FileSystem, and what a write publishes is the layout the
  * views always had. */
class StoreFsSpec extends SparkSpec {

  private val country = "SYN"
  private val zoom = 14
  private val date = "20260801000000"

  /** A country initialized on `store` with school and hc layers. */
  private def initialize(ss: SparkSession, store: DataStore): DataFrame = {
    val tiles = SyntheticScenario.tiles(ss, nx = 8, ny = 8)
    Jobs.initialize(ss, store, country, zoom, tiles, SyntheticScenario.admins(ss, tiles), Map(
      "school" -> SyntheticScenario.facilities(ss, "school", 20, nx = 8, ny = 8),
      "hc" -> SyntheticScenario.facilities(ss, "hc", 10, nx = 8, ny = 8)))
    tiles
  }

  private def update(ss: SparkSession, store: DataStore, storm: String,
                     viewFormat: String): Unit = {
    val r = Jobs.update(ss, store, country, zoom, storm, date,
      SyntheticScenario.envelopes(ss, members = 51),
      Some(SyntheticScenario.tracks(ss, members = 20)), viewFormat = viewFormat)
    assert(r.processed, r.reason)
  }

  /** Entry names of a local directory; empty when it does not exist. */
  private def ls(dir: Path): Set[String] =
    if (!Files.isDirectory(dir)) Set.empty
    else Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  /** Runs `body` on a sibling session that binds `scheme` to `impl`, made
    * the active session for the duration. */
  private def onFs[A](scheme: String, impl: Class[_ <: GraftFs])(body: SparkSession => A): A = {
    val ss = spark.newSession()
    ss.conf.set(s"fs.$scheme.impl", impl.getName)
    val previous = SparkSession.getActiveSession
    SparkSession.setActiveSession(ss)
    try body(ss)
    finally previous.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
  }

  test("a store on a graftfs:// root keeps every file under that root") {
    val tmp = Files.createTempDirectory("graft-graftfs")
    val local = tmp.resolve("store")
    val stray = Paths.get("graftfs:")
    assert(!Files.exists(stray))
    val (adminSum, tileSum) = onFs("graftfs", classOf[GraftFs]) { ss =>
      val store = new DataStore(s"graftfs://$tmp/store")
      val tiles = initialize(ss, store)
      update(ss, store, "CSVSTORM", "csv")
      update(ss, store, "PQSTORM", "parquet")
      Jobs.patch(ss, store, country, zoom,
        tiles.select(col("tile_id"), (col("population") * 2).as("population")))
      assert(CountryRegistry.addCountry(ss, store, country, Some("Synthetic")))
      assert(CountryRegistry.activeCountries(ss, store) == Seq(country))
      Jobs.appendRunLog(store, ss, "CSVSTORM", date, "SUCCESS", 1.0)
      assert(ss.read.parquet(store.path("run_log")).count() == 3)
      val files = RelatedTable.discover(store, Some(1))
      assert(files.map(_.storm).toSet == Set("CSVSTORM"))
      assert(RelatedTable.rows(ss, store, files).count() > 0)
      (store.readParquet(ss, s"admin_views/${country}_admin1.parquet")
        .agg(sum("population")).head().getDouble(0),
        tiles.agg(sum("population")).head().getDouble(0))
    }
    assert(math.abs(adminSum - 2 * tileSum) < 1e-6, "patch re-aggregated the admin view")
    assert(!Files.exists(stray), "a store path escaped to a relative local directory")
    assert(ls(local) == Set("admin_impact_views", "admin_views", "control", "hc_views",
      "mercator_impact_views", "mercator_views", "reports_json", "run_log",
      "school_views", "storms.json", "track_views"))
    assert(ls(local.resolve("control")) == Set("pipeline_countries.parquet"))
    val views = ls(local.resolve("mercator_impact_views"))
    assert(views.contains(s"${country}_CSVSTORM_${date}_${zoom}_cci.csv"))
    assert(views.contains(s"${country}_PQSTORM_${date}_${zoom}_cci.parquet"))
    assert(Files.isDirectory(local.resolve(s"mercator_views/${country}_$zoom.parquet")))
    assert(Files.readString(local.resolve("storms.json")).contains("PQSTORM"))
  }

  test("a publish whose rename into place fails, or never runs, leaves the old table, and the next one leaves no aside") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val tmp = Files.createTempDirectory("graft-flakyfs")
    val local = tmp.resolve("store")
    val rel = "control/pipeline_countries.parquet"
    val baseRel = s"mercator_views/${country}_$zoom.parquet"
    def failNextRenameOnto(rel: String): Unit =
      FlakyGraftFs.failRenameOnto = Some(local.resolve(rel).toString)
    onFs("flakyfs", classOf[FlakyGraftFs]) { ss =>
      val store = new DataStore(s"flakyfs://$tmp/store")
      val backend = store.controlTables
      val schema = StructType(Seq(StructField("id", LongType)))
      def ids(): Seq[Long] =
        backend.read(ss, rel, schema).collect().map(_.getLong(0)).toSeq.sorted
      backend.replace(ss.range(3).toDF("id"), rel)

      failNextRenameOnto(rel)
      intercept[java.io.IOException](backend.replace(ss.range(5).toDF("id"), rel))
      assert(ids() == Seq(0L, 1L, 2L), "a failed replace lost the registry")

      // a crash between moving the table aside and renaming the new one in
      Files.move(local.resolve(rel), local.resolve("control/.pipeline_countries.parquet.__old__"))
      assert(ids() == Seq(0L, 1L, 2L), "the table left aside was not put back")

      backend.replace(ss.range(5).toDF("id"), rel)
      assert(ids() == (0L until 5L))
      assert(ls(local.resolve("control")) == Set("pipeline_countries.parquet"))

      val tiles = initialize(ss, store)
      def population(): Double =
        store.readParquet(ss, baseRel).agg(sum("population")).head().getDouble(0)
      val before = population()
      failNextRenameOnto(baseRel)
      intercept[java.io.IOException](Jobs.patch(ss, store, country, zoom,
        tiles.select(col("tile_id"), (col("population") * 2).as("population"))))
      assert(population() == before, "a failed patch lost the base layer")
      assert(!ls(local.resolve("mercator_views")).exists(_.contains("__old__")))
    }
  }

  test("a csv update publishes the views and nothing beside them: no .crc or temp entries") {
    val root = Files.createTempDirectory("graft-layout")
    val store = new DataStore(root.toString)
    initialize(spark, store)
    update(spark, store, "LAYOUT", "csv")
    val prefix = s"${country}_LAYOUT_${date}_"
    val thresholds = Seq(34, 40, 50, 64, 83)
    val expected = Map(
      "school_views" -> (thresholds.map(t => s"$prefix$t.parquet") :+ s"${country}_school.parquet"),
      "hc_views" -> (thresholds.map(t => s"$prefix$t.parquet") :+ s"${country}_hc.parquet"),
      "shelter_views" -> Nil,
      "wash_views" -> Nil,
      "mercator_impact_views" ->
        (thresholds.map(t => s"$prefix${t}_$zoom.csv") :+ s"$prefix${zoom}_cci.csv"),
      "admin_impact_views" ->
        (thresholds.map(t => s"$prefix${t}_admin1.csv") :+ s"${prefix}admin1_cci.csv"),
      "track_views" -> Seq(s"${prefix}tracks.parquet"),
      "reports_json" -> Seq(s"${country}_LAYOUT_$date.json"))
    assert(expected.keySet == Jobs.ViewDirs.toSet)
    assert(ls(root) == Set("admin_impact_views", "admin_views", "hc_views",
      "mercator_impact_views", "mercator_views", "reports_json", "run_log",
      "school_views", "storms.json", "track_views"))
    Jobs.ViewDirs.foreach { d => assert(ls(root.resolve(d)) == expected(d).toSet, d) }
  }

  test("ordered microbatches land as b0.parquet and b1.parquet with ascending mtimes, and no staging dir is left") {
    val in = Files.createTempDirectory("graft-drops").resolve("in")
    val tmpDir = Paths.get(System.getProperty("java.io.tmpdir"))
    def staging(): Set[String] = ls(tmpDir).filter(_.startsWith("graft-mb"))
    val before = staging()
    val df = spark.range(10).toDF("id")
    Streaming.writeOrderedMicrobatch(df, in.toString, 0)
    Streaming.writeOrderedMicrobatch(df.filter(col("id") < 4), in.toString, 1)
    assert(ls(in) == Set("b0.parquet", "b1.parquet"))
    def mtime(name: String) = Files.getLastModifiedTime(in.resolve(name)).toMillis
    assert(mtime("b0.parquet") < mtime("b1.parquet"))
    assert(staging() == before)
    assert(spark.read.parquet(in.toString).count() == 14)
  }

  test("on a graftfs:// root the signature index probe sees the index's pfx= partitions") {
    val tmp = Files.createTempDirectory("graft-index")
    onFs("graftfs", classOf[GraftFs]) { ss =>
      val dir = s"graftfs://$tmp/index"
      assert(!Dedup.signatureIndexExists(dir))
      ss.range(4).withColumn("pfx", col("id") % 2).write.partitionBy("pfx").parquet(dir)
      assert(Dedup.signatureIndexExists(dir))
    }
  }

  /** The files under the given `graft` source dirs, but NioLocalFs, that
    * name java.nio.file, java.io.File or Source.fromFile. */
  private def localOnlyFiles(dirs: String*): Set[String] = {
    val needle = """java\.nio\.file|java\.io\.File\b|Source\.fromFile""".r
    dirs.flatMap { d =>
      Files.walk(Paths.get(s"src/main/scala/graft/$d")).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq
    }.filterNot(_.getFileName.toString == "NioLocalFs.scala")
      .filter(p => needle.findFirstIn(Files.readString(p)).isDefined)
      .map(_.getFileName.toString).toSet
  }

  test("no file under graft/io or graft/pipeline but NioLocalFs names java.nio.file, java.io.File or Source.fromFile") {
    val found = localOnlyFiles("io", "pipeline")
    assert(found.isEmpty, s"local-only file access beside store paths: $found")
  }

  test("no file under graft/llm or graft/streaming names java.nio.file, java.io.File or Source.fromFile") {
    val found = localOnlyFiles("llm", "streaming")
    assert(found.isEmpty, s"local-only file access beside store paths: $found")
  }
}
