package graft

/** Prints formatted physical plans for selected queries — the
  * scale-readiness review loop (pushdown, pruning, broadcast, shuffle
  * count). Usage: runMain graft.PlanCheck [queryName ...] */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val spark = EngineSession.start("graft-plancheck")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names = if (args.nonEmpty) args.toSeq else Seq("q01_pricing_summary", "q02_filter_project")
    names.foreach { n =>
      println(s"\n======== $n ========")
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.explain("formatted")
      val plan = df.queryExecution.executedPlan.toString()
      val shuffles = "Exchange".r.findAllIn(plan).size
      println(s"[plancheck] $n shuffles=$shuffles")
    }
    spark.stop()
  }
}
