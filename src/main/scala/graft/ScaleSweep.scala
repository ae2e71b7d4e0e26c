package graft

import graft.io.StoreFs
import graft.streaming.Streaming
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * 10×-scale sweep: time every selected gate once at sf0.1 and once at a
 * synthesized ~sf1.0 (10× sf0.1, ~6M lineitem rows) and print per-gate
 * scaling factors — the one-point complexity probe the sf0.1 bench can't
 * give (O(n log n) and O(n²) look identical at one SF; they differ by ~10×
 * at the next decade). Results land in PERF.md's scale-sweep tables.
 *
 * Args are substring filters over the gate names (default: every gate).
 * Each row also carries the FINAL state-store row count at both scales,
 * read from the checkpoints the run logged ([[Streaming.checkpointLog]])
 * via Spark's `statestore` source — the measured form of each stream's
 * documented state bound: O(distinct keys) counts follow the key-shifted
 * 10×, O(open sessions)/O(in-flight window) bounds stay put, dedup state
 * follows distinct signatures. A gate that logged no SQL state shows `-`:
 * every batch gate, and the foreachBatch ingest streams (s06/s16/...),
 * which hold their state in their OWN parquet index dirs and leave
 * offsets-only checkpoints. The streams keep their microbatch SPLITS fixed
 * (`writeOrderedMicrobatch` plants the same batch count), so at 10× each
 * batch carries 10× the rows.
 *
 * The 10× data is built by UNIONING 10 key-shifted copies of sf0.1.
 * Shifts are STRUCTURE-PRESERVING: every id column shifts by copy ×
 * (max key in its domain + 1), so the scaled key space stays dense and
 * contiguous (0..10·max) — foreign keys stay consistent
 * (orders↔lineitem, part/supplier refs) AND arithmetically planted
 * structures survive (q76's `v div 8` blocks, q79/q80's `v div 2`
 * binary forest: a copy-k child's parent lands inside copy k−1/k's
 * range instead of pointing at a key that doesn't exist, which the
 * first sweep's 10⁷ shift broke). Dimension tables (region/nation)
 * stay fixed and text/embedding payloads repeat — the REALISTIC shape
 * for a dedup corpus (duplicates are the workload). Generated under
 * `SPARK_GRAFT_SWEEP_DIR`, never under the read-only sf0.1 input, and
 * built once: a later run reuses it.
 *
 * Each gate gets a hard wall-clock budget enforced through a job group
 * cancel: a gate that blows the budget at 10× is flagged BUDGET, not
 * allowed to stall the sweep (the documented-quadratic oracle paths
 * d26/d27 are the expected members of that club).
 */
object ScaleSweep {

  private def shiftCopies(df: DataFrame, shifts: Seq[(String, Long)],
                          copies: Int): DataFrame =
    (0 until copies).map { i =>
      shifts.foldLeft(df) { case (d, (c, stride)) =>
        d.withColumn(c, col(c) + lit(i * stride))
      }
    }.reduce(_ unionByName _)

  /** Whether `out` holds a finished [[buildScaled]] set, probed through
    * `out`'s own FileSystem. */
  def scaledBuilt(spark: SparkSession, out: String): Boolean = {
    val dir = new Path(out)
    StoreFs.of(dir, spark).exists(new Path(dir, "lineitem.parquet"))
  }

  /** Writes `copies` key-shifted copies of every table under `base` to
    * `out`, all or nothing: the tables are built in a hidden temp dir beside
    * `out`, which is renamed to `out` in one step once every table is
    * written. */
  def buildScaled(spark: SparkSession, base: String, out: String, copies: Int): Unit = {
    // per-DOMAIN stride = max key + 1, read from the domain's base table —
    // dense contiguous scaled key spaces, FKs shift by their referent's stride
    def stride(table: String, keyCol: String): Long =
      spark.read.parquet(s"$base/$table.parquet")
        .agg(max(col(keyCol))).head().getLong(0) + 1
    val cust = stride("customer", "c_custkey")
    val supp = stride("supplier", "s_suppkey")
    val part = stride("part", "p_partkey")
    val ord = stride("orders", "o_orderkey")
    val evt = stride("events", "event_id")
    val usr = stride("events", "user_id")
    val doc = stride("documents", "doc_id")
    val vec = stride("embeddings", "vec_id")
    val shifts: Map[String, Seq[(String, Long)]] = Map(
      "region" -> Nil, "nation" -> Nil,
      "customer" -> Seq("c_custkey" -> cust),
      "supplier" -> Seq("s_suppkey" -> supp),
      "part" -> Seq("p_partkey" -> part),
      "orders" -> Seq("o_orderkey" -> ord, "o_custkey" -> cust),
      "lineitem" -> Seq("l_orderkey" -> ord, "l_partkey" -> part, "l_suppkey" -> supp),
      "events" -> Seq("event_id" -> evt, "user_id" -> usr),
      "documents" -> Seq("doc_id" -> doc),
      "embeddings" -> Seq("vec_id" -> vec))
    val outDir = new Path(out)
    val fs = StoreFs.of(outDir, spark)
    fs.mkdirs(outDir.getParent)
    StoreFs.publish(fs, outDir.getParent) { tmp =>
      shifts.foreach { case (table, idCols) =>
        val src = spark.read.parquet(s"$base/$table.parquet")
        val scaled = if (idCols.isEmpty) src else shiftCopies(src, idCols, copies)
        // testdata-faithful layout: each table is a SINGLE PLAIN FILE named
        // <table>.parquet, not a Spark output directory — the streaming
        // gates read tables via file-stream globs (glob matches leaf FILES,
        // so a directory-style table silently streams zero batches). Batch
        // scans still parallelize by row group (maxPartitionBytes splits).
        StoreFs.publishFile(fs, new Path(tmp, s"$table.parquet"))(t =>
          scaled.coalesce(1).write.mode("overwrite").parquet(t.toString))
        System.err.println(s"[sweep] built $table x${if (idCols.isEmpty) 1 else copies}")
      }
    }(tmp => Seq(tmp -> outDir))
  }

  /** One timed count() under a cancellable job group; -2 = budget blown. */
  private def timed(spark: SparkSession, fn: (SparkSession, String) => DataFrame,
                    dir: String, budgetS: Int): Double = {
    val group = s"sweep_${System.nanoTime()}"
    spark.sparkContext.setJobGroup(group, group, interruptOnCancel = true)
    @volatile var cancelled = false
    val timer = new java.util.Timer(true)
    // REPEATING cancel: iterative operators run many jobs per query, and a
    // one-shot cancel that fires between two jobs kills nothing — the next
    // round's job starts uncancelled and the query escapes its budget
    timer.schedule(new java.util.TimerTask {
      def run(): Unit = { cancelled = true; spark.sparkContext.cancelJobGroup(group) }
    }, budgetS * 1000L, 5000L)
    val t0 = System.nanoTime()
    // NonFatal only: an OutOfMemoryError / StackOverflowError must ABORT
    // the sweep — a corrupted JVM would silently skew every later timing
    try { fn(spark, dir).count(); (System.nanoTime() - t0) / 1e9 }
    catch { case scala.util.control.NonFatal(_) => if (cancelled) -2.0 else -1.0 }
    finally { timer.cancel(); spark.sparkContext.clearJobGroup() }
  }

  /** Final state rows across every checkpoint logged since the last clear;
    * None when none of them holds SQL state. Covers aggregation, dedup,
    * session and flatMapGroupsWithState stores (operator 0) and
    * stream-stream join stores (summed over the two join sides). The log is
    * cleared on return. */
  private def stateRows(spark: SparkSession): Option[Long] = {
    val counts = Streaming.loggedCheckpoints().map(_._2).distinct.flatMap { ck =>
      def tryRead(opts: Map[String, String]): Option[Long] =
        try Some(spark.read.format("statestore").option("path", ck).options(opts).load().count())
        catch { case scala.util.control.NonFatal(_) => None }
      tryRead(Map.empty).orElse {
        // stream-stream join state: one store per side
        for (l <- tryRead(Map("joinSide" -> "left")); r <- tryRead(Map("joinSide" -> "right")))
          yield l + r
      }
    }
    Streaming.checkpointLog.clear()
    if (counts.isEmpty) None else Some(counts.sum)
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val big = sys.env.getOrElse("SPARK_GRAFT_SWEEP_DIR", "/tmp/graft_sf1")
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_SWEEP_BUDGET_S", "180").toInt
    val spark = EngineSession.start("graft-scalesweep", scratch = true)

    if (scaledBuilt(spark, big)) System.err.println(s"[sweep] reusing $big")
    else buildScaled(spark, base, big, copies = 10)

    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => args.isEmpty || args.exists(n.contains))
    def state(s: Option[Long]): String = s.fold("-")(_.toString)
    println("query\tt_sf01_s\tt_sf1_s\tratio\tstate_sf01\tstate_sf1\tstate_ratio")
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      EngineSession.dropPersisted(spark); System.gc()
      timed(spark, fn, base, budgetS) // warm codegen/JIT for this shape
      Streaming.checkpointLog.clear()
      EngineSession.dropPersisted(spark)
      val tSmall = timed(spark, fn, base, budgetS)
      val stSmall = stateRows(spark)
      EngineSession.dropPersisted(spark); System.gc()
      val tBig = timed(spark, fn, big, budgetS * 3)
      val stBig = stateRows(spark)
      val ratio =
        if (tSmall > 0 && tBig > 0) ScaleBench.fmt("%.1f", tBig / tSmall)
        else if (tBig == -2.0) "BUDGET"
        else "ERR"
      val stRatio = (stSmall, stBig) match {
        case (Some(a), Some(b)) if a > 0 => ScaleBench.fmt("%.1f", b.toDouble / a)
        case _ => "-"
      }
      println(Seq(n, ScaleBench.fmt("%.2f", tSmall), ScaleBench.fmt("%.2f", tBig), ratio,
        state(stSmall), state(stBig), stRatio).mkString("\t"))
      System.out.flush()
    }
    spark.stop()
  }
}
