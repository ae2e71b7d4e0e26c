package graft

/** Benchmark main. Prints ONE compact JSON line (the driver's tail capture
  * is byte-limited, so the stdout line must stay short: total + sf + the
  * top-10 slowest queries, rounded). The full per-query map is written to
  * BENCH_DETAIL.json in the working directory.
  *
  * METHODOLOGY (stated in the JSON itself as `methodology`): the headline
  * `value` is the sum over queries of the per-query MEDIAN of
  * `SPARK_GRAFT_BENCH_REPS` (default 3) consecutive runs in one warm JVM,
  * after ONE untimed run at the target SF (the sf0.001 warmup compiles
  * codegen classes but barely exercises them, so without it the first
  * measured reps still pay C2 JIT — d34's reps were 7.7/5.3/2.1 s for a
  * 2 s steady state). PERF.md has documented 30-73 s run-to-run swings on
  * identical code since round 4, and round 8's single-run total was 2.25x
  * its own median-of-3 — a medianed, JIT-settled headline measures the
  * plans, not the scheduler. `first_pass` is the sum of each query's
  * first MEASURED run, and the 10 slowest queries are re-run once more in
  * isolation at the end (`isolated`) to separate suite-order effects from
  * genuine per-query cost.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = EngineSession.start("graft-bench", scratch = true)
    // warmup: pay one-time session/codegen/JIT costs outside the
    // measurements — run every query once, untimed, at the smallest SF so
    // each query shape's generated code is compiled before its measured run
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // optional args = substring filters for quick single-query timing runs
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => args.isEmpty || args.exists(name.contains) }
    val warmDir = new java.io.File(sfDir).getParent + "/sf0.001"
    if (new java.io.File(warmDir).isDirectory)
      selected.foreach { case (_, fn) =>
        try fn(spark, warmDir).count() catch { case _: Throwable => () }
      }
    // reps default 3: per-query median of 3 back-to-back runs. Override
    // with SPARK_GRAFT_BENCH_REPS=1 for a quick single-pass smoke.
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    // SPARK_GRAFT_BENCH_VERBOSE=1: per-rep times to stderr (profiling runs)
    val verbose = sys.env.contains("SPARK_GRAFT_BENCH_VERBOSE")
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    // (name, median, firstRun)
    val results = selected.map { case (name, fn) =>
      // one untimed run at the TARGET sf first: the sf0.001 warmup pass
      // compiles each query's codegen classes but barely exercises them,
      // so the first 1-2 target-SF runs still pay C2 JIT (measured on
      // d34: reps 7.7/5.3/2.1 s for a query whose steady state is 2 s —
      // the median was measuring the JIT, not the plan).
      // One explicit GC per QUERY (outside the measured window): the
      // ContextCleaner reclaims finished broadcasts/accumulators only on
      // a GC the large heap rarely runs, and allocation-heavy UDF queries
      // (d72's per-row gzip) otherwise measure the whole suite's heap
      // debris — d72 ran 8.6 s late in the full suite vs 1.5 s alone.
      EngineSession.dropPersisted(spark)
      System.gc()
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
      // verbose-only attribution: how much of the rep was JVM GC, and how
      // much heap is live — the r13 driver measured monotone in-suite
      // degradation (isolated reruns 1.5-2x the medians); this separates
      // "the plan got slower" from "the JVM got sicker"
      def gcMillis(): Long = {
        import scala.jdk.CollectionConverters._
        java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
          .asScala.map(_.getCollectionTime).sum
      }
      val times = (1 to reps).map { rep =>
        EngineSession.dropPersisted(spark)
        val gc0 = if (verbose) gcMillis() else 0L
        val t0 = System.nanoTime()
        val t = try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
          catch { case _: Throwable => -1.0 }
        if (verbose) {
          import scala.jdk.CollectionConverters._
          val rt = Runtime.getRuntime
          val code = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
            .asScala.filter(_.getName.startsWith("CodeHeap"))
            .map(p => p.getName.stripPrefix("CodeHeap '").stripSuffix("'") +
              "=" + (p.getUsage.getUsed >> 20) + "/" + (p.getUsage.getMax >> 20))
            .mkString(" ")
          System.err.println(
            String.format(java.util.Locale.ROOT,
              "[bench] %s rep %d: %.3f s (gc %.2f s, heap %d MB, %s)",
              name, Int.box(rep), Double.box(t),
              Double.box((gcMillis() - gc0) / 1e3),
              Long.box((rt.totalMemory() - rt.freeMemory()) >> 20), code))
        }
        t
      }
      // a crashed query must not silently shape the totals: -1.0 in the map
      if (times.exists(_ < 0)) { failed += name; (name, -1.0, -1.0) }
      else (name, times.sorted.apply(times.size / 2), times.head)
    }
    // explicit Locale.ROOT: the f-interpolator uses the JVM default locale,
    // which under e.g. de_DE would emit "1,234" and break the JSON contract
    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def json(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    def jsonArr(ss: Seq[String]): String = ss.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.collect { case (_, v, _) if v >= 0 => v }.sum
    val firstPass = results.collect { case (_, _, f) if f >= 0 => f }.sum
    // ISOLATED rerun of the 10 slowest (by median): same queries, same
    // session, after the whole suite — page cache hot, JIT settled, no
    // interleaved compilation. A query whose isolated time is far below
    // its suite time regressed from environment noise, not a plan change.
    val top = results.sortBy(-_._2).take(10).map(r => (r._1, r._2))
    val isolated = top.collect { case (name, v) if v >= 0 =>
      val fn = SparkEntry.queries(name)
      EngineSession.dropPersisted(spark)
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); name -> (System.nanoTime() - t0) / 1e9 }
      catch { case _: Throwable => name -> -1.0 }
    }
    val methodology =
      s"per-query median of $reps consecutive runs after one untimed " +
        "target-SF warm run, one warm JVM, persisted blocks dropped " +
        "(blocking) between runs; first_pass = sum of first measured " +
        "runs; isolated = post-suite rerun of the 10 slowest"
    // full detail to a file (sorted by name for stable diffs)
    val detail =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir","reps":$reps,"methodology":"$methodology","first_pass":${fmt(firstPass)},"failed":${jsonArr(failed.toSeq)},"isolated":${json(isolated)},"queries":${json(results.sortBy(_._1).map(r => (r._1, r._2)))},"first_runs":${json(results.sortBy(_._1).map(r => (r._1, r._3)))}}"""
    val out = java.nio.file.Paths.get("BENCH_DETAIL.json")
    java.nio.file.Files.write(out, (detail + "\n").getBytes("UTF-8"))
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir","n":${results.size},"reps":$reps,"methodology":"$methodology","first_pass":${fmt(firstPass)},"failed":${jsonArr(failed.toSeq)},"queries":${json(top)},"isolated":${json(isolated)}}""")
    spark.stop()
  }
}
