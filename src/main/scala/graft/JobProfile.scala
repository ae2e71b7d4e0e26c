package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-JOB wall-time profiler for a single query: runs the named query
  * `SPARK_GRAFT_PROFILE_REPS` (default 3) times and prints every Spark
  * job's duration and call site, so a multi-job operator (eager
  * localCheckpoints, range-sampling passes, iterative rounds) shows WHERE
  * a slow rep spends its time — `Bench` only sees the query total.
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.JobProfile <queryName> [more...]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobProfile <queryName> [more...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROFILE_REPS", "3").toInt
    val spark = EngineSession.start("graft-jobprofile")
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = Option(js.properties)
          .map(_.getProperty("spark.job.description",
            js.properties.getProperty("callSite.short", "?"))).getOrElse("?")
        starts.put(js.jobId, (System.nanoTime(), site))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.remove(je.jobId)).foreach { case (t0, site) =>
          val s = (System.nanoTime() - t0) / 1e9
          if (s > 0.05) System.err.println(
            f"[job] id=${je.jobId}%4d ${s}%8.3f s  $site")
        }
      }
      // SPARK_GRAFT_PROFILE_STAGES=1: per-stage wall + task count + summed
      // task time, so a slow job separates scheduling overhead (wall >>
      // task sum) from genuine compute
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        if (sys.env.contains("SPARK_GRAFT_PROFILE_STAGES")) {
          val i = sc.stageInfo
          val wall = (for {a <- i.submissionTime; b <- i.completionTime}
            yield (b - a) / 1e3).getOrElse(-1.0)
          val taskSum = i.taskMetrics.executorRunTime / 1e3
          if (wall > 0.05) System.err.println(
            f"[stage] id=${i.stageId}%4d wall=${wall}%7.3f s tasks=${i.numTasks}%4d taskSum=${taskSum}%7.3f s  ${i.name.takeWhile(_ != '\n').take(80)}")
        }
    })
    args.toSeq.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to reps).foreach { rep =>
        EngineSession.dropPersisted(spark)
        System.err.println(s"==== $name rep $rep ====")
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        System.err.println(f"==== $name rep $rep total ${(System.nanoTime() - t0) / 1e9}%.3f s ====")
      }
    }
    spark.stop()
  }
}
