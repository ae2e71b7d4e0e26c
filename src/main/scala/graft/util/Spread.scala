package graft.util

import org.apache.spark.sql.DataFrame

/** Scale-adaptive parallelism repair for CPU-dense per-row kernels.
  *
  * The bench/test corpora arrive as SINGLE-ROW-GROUP parquet files, so a
  * scan yields ONE input partition no matter how many cores the session
  * has — and every expensive per-row kernel placed before the first
  * exchange (minhash signatures, tokenization, codec decodes) runs on one
  * core while the rest idle (guide §2.5: "one huge unsplittable file …
  * repartition immediately after the read"). At production scale the same
  * scan has thousands of splits and needs no help.
  *
  * [[ifNarrow]] therefore repartitions ONLY when the plan's current
  * partitioning is materially below the session's core count — a no-op at
  * scale (the Scala branch, not a plan node, so the 100 TB plan shape is
  * untouched), one small round-robin exchange in the single-file regime.
  * The shuffle moves the kernel's INPUT (narrow: id + text), never the
  * kernel's output, so the bytes are the cheapest thing in the query.
  *
  * The session conf `spark.graft.spread=false` disables it (PlanSpec pins
  * at-scale plan shapes under that setting; the default ON path is what
  * Bench/Verify run).
  */
object Spread {
  def ifNarrow(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    // a streaming DataFrame has no .rdd to probe (AnalysisException) —
    // and its partitioning is the source's to decide; operators that run
    // inside foreachBatch see batch frames and are unaffected
    if (df.isStreaming) return df
    if (!spark.conf.get("spark.graft.spread", "true").toBoolean) df
    else {
      val p = spark.sparkContext.defaultParallelism
      // .rdd only plans (no job); cheap for the scan-shaped inputs this
      // guards. 2x margin: repartitioning 31 -> 32 partitions buys nothing.
      if (df.rdd.getNumPartitions * 2 <= p) df.repartition(p) else df
    }
  }
}
