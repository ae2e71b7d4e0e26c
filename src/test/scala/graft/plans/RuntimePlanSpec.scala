package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/**
 * Runtime plan-adaptation guards — the two Spark mechanisms the 100 TB
 * design leans on that [[PlanSpec]]'s static checks can't see, because
 * both fire at EXECUTION time: dynamic partition pruning (a selective
 * dim filter prunes fact partitions the scan never reads) and AQE skew-
 * join splitting (a hot key's oversized shuffle partition splits into
 * parallel sub-joins instead of one straggler task). Unlike PlanSpec,
 * these tests execute jobs.
 */
class RuntimePlanSpec extends SparkSpec {

  test("dynamic partition pruning: a selective dim filter prunes fact partitions at runtime") {
    val dir = java.nio.file.Files.createTempDirectory("dpp").toString
    // fact partitioned by the join key: 8 hive-style partitions on disk
    spark.range(80000)
      .select((col("id") % 8).as("rk"), col("id").as("v"))
      .write.partitionBy("rk").parquet(s"$dir/fact")
    val fact = spark.read.parquet(s"$dir/fact")
    val dim = spark.range(8)
      .select(col("id").as("rk"), concat(lit("r"), col("id")).as("name"))
    val q = fact.join(dim.filter(col("name") === "r3"), Seq("rk"))
    val plan = q.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.toLowerCase.contains("dynamicpruning"),
      "fact scan must carry a dynamic pruning partition filter:\n" + plan)
    // correctness of the pruned read: exactly one of 8 partitions survives
    assert(q.count() == 10000)
  }

  test("d64: Kneser-Ney plans as token-keyed aggs + equi-joins, type count as a literal") {
    // building the query runs two tiny jobs (bigram checkpoint + type
    // count) — hence this suite, not the planning-only PlanSpec
    val q = graft.SparkEntry.queries("d64_kneser_ney")(
      spark, "/root/testdata/sf0.001")
    val p = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "the |types| denominator must be a collected literal, never a cross join:\n" + p)
    assert(p.contains("partial_"), "aggregates must combine map-side:\n" + p)
  }

  test("AQE splits a skewed sort-merge join partition (skew=true in the final plan)") {
    val c = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> c.getOption(k)).toMap
    try {
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      c.set("spark.sql.adaptive.enabled", "true")
      c.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // thresholds sized to the test corpus: the hot key's partition is
      // ~8 MB, every other partition a few KB
      c.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536")
      c.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      c.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16384")
      c.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val left = spark.range(200000).select(
        when(col("id") < 140000, lit(0L)).otherwise(col("id")).as("k"),
        col("id").as("v"),
        lit("x" * 50).as("pad")) // width so the hot partition crosses the threshold
      val right = spark.range(1000).select(col("id").as("k"), lit(1).as("w"))
      val q = left.join(right, Seq("k"))
      // only the hot key matches (non-hot left keys are >= 140000, right
      // keys < 1000): 140000 rows, all through the skewed partition.
      // collect() on q ITSELF (count() would spawn a separate plan) so
      // this queryExecution finalizes and its adaptive plan is
      // inspectable. ~10 MB driver-side, test-only.
      assert(q.collect().length == 140000)
      val finalPlan = q.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        "AQE must mark the skewed join side (skew=true):\n" + finalPlan.take(4000))
    } finally saved.foreach {
      case (k, Some(v)) => c.set(k, v)
      case (k, None) => c.unset(k)
    }
  }

  test("quadkey tile layout: an envelope screen prunes partitions at planning time") {
    // the SURVEY §4 100 TB tile-universe claim, as numbers: tiles written
    // hive-partitioned by center quadkey (DataStore.writeTilesByQuadkey),
    // then an envelope-screened read lists ONLY the covered partitions —
    // static pruning, before any file IO
    import org.apache.spark.sql.execution.FileSourceScanLike
    val root = java.nio.file.Files.createTempDirectory("qkuniverse").toString
    val store = new graft.io.DataStore(root)
    // the g01 grid: 1600 tiles over [0, 1.25)², centers at cell midpoints
    val tiles = spark.range(1600).select(
      col("id").cast("string").as("tile_id"),
      ((col("id") % 40) * lit(0.03125) + lit(0.015625)).as("lon"),
      ((col("id") / 40) * lit(0.03125) + lit(0.015625)).as("lat"))
    val zoom = 10 // ~0.35° tiles: the universe spans several partitions
    store.writeTilesByQuadkey(tiles, "tiles", "lon", "lat", zoom)
    val universe = spark.read.parquet(store.path("tiles"))
    val totalParts = universe.select("qk").distinct().count()
    assert(totalParts >= 9, s"layout too coarse to prove pruning: $totalParts")

    // envelope covering ONE zoom-10 cell's worth of the grid
    val q = store.readTilesForEnvelope(spark, "tiles",
      0.05, 0.05, 0.30, 0.30, zoom)
    val scans = q.queryExecution.executedPlan.collect {
      case f: FileSourceScanLike => f
    }
    assert(scans.length == 1, s"expected one file scan, got ${scans.length}")
    val readParts = scans.head.selectedPartitions.partitionCount
    val cover = graft.geo.Quadkey.cover(0.05, 0.05, 0.30, 0.30, zoom).toSet
    assert(readParts <= cover.size && readParts < totalParts,
      s"scan read $readParts partitions of $totalParts; cover=${cover.size} — " +
        "the qk filter did not prune at planning time")
    // the pruned filter must be a PartitionFilter, not a post-scan one
    val p = q.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("PartitionFilters") && p.contains("qk"), p)
    // correctness: pruned read == brute-force center screen over all tiles
    // (the storage layout prefixes qk with "q" to defeat numeric partition
    // inference, so the brute-force filter screens on the prefixed value)
    val expected = universe
      .filter(col("qk").isin(cover.toSeq.map("q" + _): _*))
      .select("tile_id").as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().toSet
    val got = q.select("tile_id").as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().toSet
    assert(got == expected && got.nonEmpty)

    // the returned qk is the TRUE quadkey: StringType, leading zeros intact.
    // A NW-quadrant tile (lon<0, lat>0) has a quadkey starting with '0' —
    // the exact value numeric partition inference used to destroy.
    val nw = spark.range(1).select(
      lit("t0").as("tile_id"), lit(-10.0).as("lon"), lit(45.0).as("lat"))
    store.writeTilesByQuadkey(nw, "tiles_nw", "lon", "lat", zoom)
    val back = store.readTilesForEnvelope(spark, "tiles_nw",
      -11.0, 44.0, -9.0, 46.0, zoom)
    assert(back.schema("qk").dataType ==
      org.apache.spark.sql.types.StringType)
    val qks = back.select("qk").as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().toSeq
    val want = graft.geo.Quadkey.quadkeyForLonLat(-10.0, 45.0, zoom)
    assert(qks == Seq(want) && want.startsWith("0"),
      s"qk read back as $qks, expected $want (leading zero preserved)")
  }
}
