package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional third arg: only run queries whose name contains ANY of the
    // comma-separated filters (local iteration; the driver always passes
    // exactly two args)
    val nameFilter = if (args.length > 2) Some(args(2).split(',').toSeq) else None
    val spark = EngineSession.start("graft-verify")
    new java.io.File(outDir).mkdirs()
    // Run queries concurrently: each coalesce(1) write is a single-task
    // stage, so a sequential loop leaves cores idle most of the wall time.
    // SparkSession is thread-safe for concurrent job submission.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(2, EngineSession.cores))
    val selected = nameFilter match {
      case Some(fs) => SparkEntry.queries.filter(q => fs.exists(q._1.contains))
      case None    => SparkEntry.queries
    }
    val futures = selected.toSeq.map { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit =
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
      })
    }
    futures.foreach(_.get())
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
