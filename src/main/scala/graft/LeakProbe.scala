package graft
import org.apache.spark.sql.SparkSession

/** Diagnostic (not a bench): interleave one streaming gate with a batch
  * gate and print what accumulates in the JVM — used-heap-after-GC, temp
  * view count, loaded state-store providers, tmpdir bytes — to attribute
  * the in-suite degradation the r13 driver measured (isolated reruns 1.5-2x
  * the in-suite medians). Usage:
  *   sbt "runMain graft.LeakProbe <streamQuery> <batchQuery> <rounds>"
  */
object LeakProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = EngineSession.start("graft-leakprobe", scratch = true)
    val tmp = spark.sparkContext.getConf.get("spark.local.dir")
    val streamQ = args.lift(0).getOrElse("s22_stream_pmi")
    val batchQ = args.lift(1).getOrElse("d10_corpus_clean")
    val rounds = args.lift(2).map(_.toInt).getOrElse(8)
    val sfn = SparkEntry.queries(streamQ)
    val bfn = SparkEntry.queries(batchQ)
    def dirBytes(d: java.io.File): Long =
      if (!d.exists()) 0L
      else if (d.isFile) d.length()
      else Option(d.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    def stats(label: String): Unit = {
      System.gc(); Thread.sleep(200); System.gc()
      val rt = Runtime.getRuntime
      val used = (rt.totalMemory() - rt.freeMemory()) / (1 << 20)
      val views = spark.catalog.listTables().count()
      val providers = try {
        val cls = Class.forName(
          "org.apache.spark.sql.execution.streaming.state.StateStore$")
        val m = cls.getDeclaredField("MODULE$").get(null)
        // loadedProviders is a private map; count via isMaintenanceRunning
        // proxy only — fall back to -1 on any shape change
        val f = cls.getDeclaredMethods.find(_.getName.contains("loadedProviders"))
        f.map { mm => mm.setAccessible(true)
          mm.invoke(m).asInstanceOf[scala.collection.mutable.HashMap[_, _]].size
        }.getOrElse(-1)
      } catch { case _: Throwable => -1 }
      val shm = dirBytes(new java.io.File(tmp)) / (1 << 20)
      println(f"[probe] $label%-12s heapMB=$used%5d views=$views providers=$providers tmpMB=$shm")
    }
    def time(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      EngineSession.dropPersisted(spark)
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    // warm both
    time(bfn); time(sfn); time(bfn)
    stats("warm")
    for (i <- 1 to rounds) {
      val ts = time(sfn)
      val tb = (1 to 3).map(_ => time(bfn))
      println(f"[probe] round $i: $streamQ=$ts%.2f $batchQ=${tb.map(t => f"$t%.2f").mkString(",")}")
      stats(s"round $i")
    }
    spark.stop()
  }
}
