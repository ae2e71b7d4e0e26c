package graft

import graft.io.StoreFs
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * 10×-scale sweep: time every batch query once at sf0.1 and once at a
 * synthesized ~sf1.0 (10× sf0.1, ~6M lineitem rows) and print per-query
 * scaling factors — the one-point complexity probe the sf0.1 bench can't
 * give (O(n log n) and O(n²) look identical at one SF; they differ by ~10×
 * at the next decade). Results land in PERF.md's scale-sweep table.
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
 * /tmp, never under the read-only /root/testdata.
 *
 * Each query gets a hard wall-clock budget enforced through a job group
 * cancel: a query that blows the budget at 10× is flagged BUDGET, not
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
    val outDir = new Path(out)
    val fs = StoreFs.of(outDir, spark)
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
    shifts.foreach { case (table, idCols) =>
      val src = spark.read.parquet(s"$base/$table.parquet")
      val scaled = if (idCols.isEmpty) src else shiftCopies(src, idCols, copies)
      // testdata-faithful layout: each table is a SINGLE PLAIN FILE named
      // <table>.parquet, not a Spark output directory — the streaming
      // gates read tables via file-stream globs (glob matches leaf FILES,
      // so a directory-style table silently streams zero batches). Batch
      // scans still parallelize by row group (maxPartitionBytes splits).
      StoreFs.publishFile(fs, new Path(outDir, s"$table.parquet"))(tmp =>
        scaled.coalesce(1).write.mode("overwrite").parquet(tmp.toString))
      System.err.println(s"[sweep] built $table x${if (idCols.isEmpty) 1 else copies}")
    }
  }

  /** One timed count() under a cancellable job group; -2 = budget blown. */
  private[graft] def timed(spark: SparkSession, fn: (SparkSession, String) => DataFrame,
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

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val big = sys.env.getOrElse("SPARK_GRAFT_SWEEP_DIR", "/tmp/graft_sf1")
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_SWEEP_BUDGET_S", "180").toInt
    val spark = EngineSession.start("graft-scalesweep", scratch = true)

    if (!new java.io.File(s"$big/lineitem.parquet").exists)
      buildScaled(spark, base, big, copies = 10)

    // batch queries only: the s* streams' cost is microbatch fixed overhead
    // (their scale contracts are the state-size gates in StateBoundsSpec)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_.startsWith("s"))
      .filter(n => args.isEmpty || args.exists(n.contains))
    println("query\tt_sf01_s\tt_sf1_s\tratio")
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      EngineSession.dropPersisted(spark); System.gc()
      timed(spark, fn, base, budgetS) // warm codegen/JIT for this shape
      EngineSession.dropPersisted(spark)
      val tSmall = timed(spark, fn, base, budgetS)
      EngineSession.dropPersisted(spark); System.gc()
      val tBig = timed(spark, fn, big, budgetS * 3)
      val ratio =
        if (tSmall > 0 && tBig > 0) f"${tBig / tSmall}%.1f"
        else if (tBig == -2.0) "BUDGET"
        else "ERR"
      println(f"$n\t$tSmall%.2f\t$tBig%.2f\t$ratio")
      System.out.flush()
    }
    spark.stop()
  }
}
