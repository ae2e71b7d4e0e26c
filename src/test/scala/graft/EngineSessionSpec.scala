package graft

/** One engine session: every session is built by [[EngineSession]], and the
  * test session is the engine's profile but for three declared settings. */
class EngineSessionSpec extends SparkSpec {

  test("the test session differs from the profile only in cores, warehouse dir and spark.graft.spread") {
    val conf = spark.sparkContext.getConf
    val tunable = conf.getAll.toMap.filter { case (k, _) =>
      Seq("spark.sql.", "spark.graft.", "spark.ui.", "spark.local.dir").exists(k.startsWith)
    }
    val profile = EngineSession.settings(cores = 4)
    profile.foreach { case (k, v) => assert(tunable.get(k).contains(v), k) }
    assert((tunable -- profile.keySet).keySet == Set("spark.sql.warehouse.dir", "spark.graft.spread"))
    assert(tunable("spark.graft.spread") == "false")
    assert(conf.get("spark.master") == "local[4]")
    assert(conf.get("spark.hadoop.fs.file.impl") == classOf[graft.io.NioLocalFileSystem].getName)
    assert(conf.get("spark.hadoop.fs.AbstractFileSystem.file.impl") == classOf[graft.io.NioLocalFs].getName)
  }

  test("newSession() siblings inherit the profile") {
    val sibling = spark.newSession()
    (EngineSession.settings(cores = 4) + ("spark.graft.spread" -> "false")).foreach {
      case (k, v) => assert(sibling.conf.get(k) == v, k)
    }
  }

  test("a newSession() sibling resolves the engine's functions and plans spatial joins, with no registration call") {
    import org.apache.spark.sql.functions._
    val sibling = spark.newSession()
    assert(sibling.range(1).select(call_function("simhash64", lit("a b c"))).head().getLong(0) ==
      graft.llm.TextKernels.simhash64(org.apache.spark.unsafe.types.UTF8String.fromString("a b c")))
    // range-built geometries: literal ones would fold the join condition away
    val points = sibling.range(10).select(col("id"),
      call_function("st_point", col("id").cast("double"), col("id").cast("double")).as("p"))
    val boxes = sibling.range(5).select(col("id").as("k"), call_function("st_box",
      col("id").cast("double"), col("id").cast("double"),
      (col("id") + 1).cast("double"), (col("id") + 1).cast("double")).as("b"))
    val joined = points.join(boxes, call_function("st_intersects", col("p"), col("b")))
    val plan = joined.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastSpatialJoin"), plan)
    assert(joined.count() == 10) // point i lies in boxes i and i - 1
  }

  /** The files under `dir` with a line, not a comment, that matches `needle`. */
  private def filesMatching(dir: String, needle: scala.util.matching.Regex): Set[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter { p =>
        java.nio.file.Files.readAllLines(p).asScala.exists { l =>
          val t = l.trim
          !(t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) &&
            needle.findFirstIn(t).isDefined
        }
      }.map(_.getFileName.toString).toSet
  }

  test("no file under src/ but EngineSession builds a session") {
    val found = filesMatching("src", ("SparkSession" + """\.builder""").r)
    assert(found == Set("EngineSession.scala"),
      s"sessions built outside graft.EngineSession: ${found - "EngineSession.scala"}")
  }

  test("under src/main only GeoFunctions registers temp functions, and nothing sets a session's extraStrategies") {
    assert(filesMatching("src/main", "createOrReplaceTempFunction".r) == Set("GeoFunctions.scala"))
    assert(filesMatching("src/main", """extraStrategies\s*=""".r).isEmpty)
  }
}
