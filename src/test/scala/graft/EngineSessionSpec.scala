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

  test("no file under src/ but EngineSession builds a session") {
    import scala.jdk.CollectionConverters._
    val needle = "SparkSession" + ".builder"
    val found = java.nio.file.Files.walk(java.nio.file.Paths.get("src")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter { p =>
        java.nio.file.Files.readAllLines(p).asScala.exists { l =>
          val t = l.trim
          !(t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) && t.contains(needle)
        }
      }.map(_.getFileName.toString).toSet
    assert(found == Set("EngineSession.scala"),
      s"sessions built outside graft.EngineSession: ${found - "EngineSession.scala"}")
  }
}
