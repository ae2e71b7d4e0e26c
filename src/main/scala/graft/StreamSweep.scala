package graft

import org.apache.spark.sql.SparkSession

/**
 * Streaming twin of [[ScaleSweep]]: run every s* gate once at sf0.1 and
 * once at the synthesized ~sf1.0 (10× key-shifted union, built by
 * [[ScaleSweep.buildScaled]]) and print, per stream,
 *
 *   - wall time at both scales and the ratio (the gates keep their
 *     microbatch SPLITS fixed — `writeOrderedMicrobatch` plants the same
 *     batch count, so each batch carries 10× the rows; exactly the
 *     "10× corpus through the same splits" contract), and
 *   - the FINAL state-store row count at both scales, read from the
 *     checkpoints the gates ran through ([[graft.streaming.Streaming
 *     .checkpointLog]]) via Spark's `statestore` source — the measured
 *     form of each stream's documented state bound: O(distinct keys)
 *     counts follow the key-shifted 10×, O(open sessions)/O(in-flight
 *     window) bounds stay put, dedup state follows distinct signatures.
 *
 * State reads cover aggregation/dedup/session/flatMapGroupsWithState
 * stores (operator 0) and stream-stream join stores (summed over the two
 * join sides). foreachBatch ingest streams (s06/s16/...) hold their state
 * in their OWN parquet index dirs, not the checkpoint — their checkpoints
 * are offsets-only and report `-` here; their index-size story is the
 * bucketed-index row counts already pinned in BucketedJoinSpec/ScaleBench.
 *
 * Results land in PERF.md's streaming scale table.
 */
object StreamSweep {

  /** Final state rows across every checkpoint a query run logged; None when
    * no logged checkpoint holds SQL state (offsets-only foreachBatch). */
  private def stateRows(spark: SparkSession): Option[Long] = {
    val ckpts = graft.streaming.Streaming.loggedCheckpoints()
      .map(_._2).distinct
    val counts = ckpts.flatMap { ck =>
      def tryRead(opts: Map[String, String]): Option[Long] =
        try {
          val r = opts.foldLeft(
            spark.read.format("statestore").option("path", ck)) {
            case (b, (k, v)) => b.option(k, v)
          }
          Some(r.load().count())
        } catch { case scala.util.control.NonFatal(_) => None }
      tryRead(Map.empty).orElse {
        // stream-stream join state: one store per side
        (tryRead(Map("joinSide" -> "left")), tryRead(Map("joinSide" -> "right"))) match {
          case (Some(l), Some(r)) => Some(l + r)
          case _ => None
        }
      }
    }
    if (counts.isEmpty) None else Some(counts.sum)
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val big = sys.env.getOrElse("SPARK_GRAFT_SWEEP_DIR", "/tmp/graft_sf1")
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_SWEEP_BUDGET_S", "180").toInt
    val spark = EngineSession.start("graft-streamsweep", scratch = true)

    if (!new java.io.File(s"$big/lineitem.parquet").exists)
      ScaleSweep.buildScaled(spark, base, big, copies = 10)

    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(_.startsWith("s"))
      .filter(n => args.isEmpty || args.exists(n.contains))
    def fmtState(s: Option[Long]): String = s.map(_.toString).getOrElse("-")
    println("query\tt_sf01_s\tt_sf1_s\tratio\tstate_sf01\tstate_sf1\tstate_ratio")
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      EngineSession.dropPersisted(spark); System.gc()
      ScaleSweep.timed(spark, fn, base, budgetS) // warm codegen/JIT
      graft.streaming.Streaming.checkpointLog.clear()
      EngineSession.dropPersisted(spark)
      val tSmall = ScaleSweep.timed(spark, fn, base, budgetS)
      val stSmall = stateRows(spark)
      graft.streaming.Streaming.checkpointLog.clear()
      EngineSession.dropPersisted(spark); System.gc()
      val tBig = ScaleSweep.timed(spark, fn, big, budgetS * 3)
      val stBig = stateRows(spark)
      graft.streaming.Streaming.checkpointLog.clear()
      val ratio =
        if (tSmall > 0 && tBig > 0) f"${tBig / tSmall}%.1f"
        else if (tBig == -2.0) "BUDGET"
        else "ERR"
      val stRatio = (stSmall, stBig) match {
        case (Some(a), Some(b)) if a > 0 => f"${b.toDouble / a}%.1f"
        case _ => "-"
      }
      println(f"$n\t$tSmall%.2f\t$tBig%.2f\t$ratio\t${fmtState(stSmall)}\t${fmtState(stBig)}\t$stRatio")
      System.out.flush()
    }
    spark.stop()
  }
}
