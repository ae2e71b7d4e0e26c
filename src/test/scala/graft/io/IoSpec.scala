package graft.io

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

object IoSpec {
  // static collector: executor closures are serialized copies even in local
  // mode, so a test-local queue would stay empty — a JVM-static one works
  val delivered = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

class IoSpec extends SparkSpec {

  import spark.implicits._

  private val tmp = java.nio.file.Files.createTempDirectory("graft-io").toString

  test("custom point override: validation, id synthesis, geometry") {
    val csv = s"$tmp/XYZ_schools.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(csv),
      "latitude,longitude,school_name\n18.5,-72.3,Alpha\n18.6,-72.2,Beta\n,,NoCoords\n")
    val df = CustomOverrides.loadPoints(spark, csv, "schools", "school_id_giga")
    assert(df.count() == 2) // row without coordinates dropped
    assert(df.filter(col("school_id_giga").startsWith("custom_schools_")).count() == 2)
    assert(df.filter(col("geometry").isNull).count() == 0)
    // deterministic ids: reloading yields identical ids
    val again = CustomOverrides.loadPoints(spark, csv, "schools", "school_id_giga")
    assert(df.select("school_id_giga").collect().toSet ==
      again.select("school_id_giga").collect().toSet)
  }

  test("overwriteDynamicPartitions: only the written partitions are replaced") {
    val store = new DataStore(s"$tmp/dynover")
    val day = (d: String, vs: Seq[Int]) => vs.map(v => (d, v)).toDF("day", "v")
    store.overwriteDynamicPartitions(
      day("d1", Seq(1, 2)).union(day("d2", Seq(3))), "t", Seq("day"))
    // refresh d2 with different rows and add d3 — d1 must survive untouched
    store.overwriteDynamicPartitions(
      day("d2", Seq(30, 31)).union(day("d3", Seq(4))), "t", Seq("day"))
    val got = store.readParquet(spark, "t")
      .select("day", "v").as[(String, Int)].collect().toSet
    assert(got == Set(("d1", 1), ("d1", 2), ("d2", 30), ("d2", 31), ("d3", 4)),
      got.toString)
    // contrast pinned: a STATIC overwrite of the same frame drops d1
    day("d2", Seq(99)).write.mode("overwrite").partitionBy("day")
      .parquet(store.path("t_static"))
    day("d3", Seq(98)).write.mode("overwrite").partitionBy("day")
      .parquet(store.path("t_static"))
    assert(store.readParquet(spark, "t_static")
      .select("day").distinct().as[String].collect().toSeq == Seq("d3"))
  }

  test("custom point override: missing required column fails loud") {
    val csv = s"$tmp/XYZ_bad.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(csv),
      "lat,lon\n1,2\n")
    val e = intercept[IllegalArgumentException] {
      CustomOverrides.loadPoints(spark, csv, "schools", "id")
    }
    assert(e.getMessage.contains("latitude"))
  }

  test("custom tile override keyed by quadkey") {
    val csv = s"$tmp/XYZ_population_z14.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(csv),
      "tile_id,population\n03221120310233,123.5\n03221120310234,7\n")
    val df = CustomOverrides.loadTiles(spark, csv, "population")
    assert(df.count() == 2)
    assert(df.schema("tile_id").dataType.typeName == "string")
  }

  test("resolve priority: custom > cache > fetch") {
    val a = Some(Seq(1).toDF("x")); val b = Some(Seq(2).toDF("x"))
    assert(CustomOverrides.resolve(a, b, None).get.as[Int].head() == 1)
    assert(CustomOverrides.resolve(None, b, None).get.as[Int].head() == 2)
    assert(CustomOverrides.resolve(None, None, None).isEmpty)
  }

  test("partitioned sink: signature anti-join dedup + batched delivery (S17/J14)") {
    val rows = Seq(
      ("S1", "20260801", 34, "g1", 10.0), ("S1", "20260801", 34, "g2", 20.0),
      ("S1", "20260801", 64, "g1", 5.0), ("S1", "20260801", 64, "g2", 2.0)
    ).toDF("storm", "forecast_time", "wind_threshold", "geom_id", "value")
    val existing = Seq("S1|20260801|34|g1").toDF("sig") // one already uploaded
    IoSpec.delivered.clear()
    val sent = PartitionedSink.upload(rows,
      Seq("storm", "forecast_time", "wind_threshold", "geom_id"),
      existing, batchSize = 2,
      (batch: Seq[Row]) => batch.foreach(r =>
        IoSpec.delivered.add(r.getAs[String]("storm") + "/" + r.getAs[String]("geom_id"))))
    assert(sent == 3)
    // closure runs in the same JVM (local mode); collector is a static object
    assert(IoSpec.delivered.size() == 3)
    assert(!IoSpec.delivered.contains("S1/g1") ||
      IoSpec.delivered.toArray.count(_ == "S1/g1") == 1) // the 34kt g1 was deduped
  }

  test("jsonl corpus: schema-enforced read, corrupt lines quarantined, round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/part0.jsonl"),
      """{"doc_id": 1, "text": "hello world", "lang": "en"}
        |not json at all {{{
        |{"doc_id": 2, "text": "hola mundo", "lang": "es"}
        |{"doc_id": "NaN-ish", "text": 42}
        |""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType)))
    val raw = graft.io.CorpusIo.readJsonl(spark, dir, schema).cache()
    val clean = graft.io.CorpusIo.cleanRows(raw)
    val corrupt = graft.io.CorpusIo.corruptRows(raw)
    assert(clean.count() == 2)
    assert(corrupt.count() == 2, "both the non-JSON line and the type-mismatched line quarantine")
    assert(clean.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // round-trip: write clean rows back out, re-read, same content
    graft.io.CorpusIo.writeJsonl(clean, s"$dir/out")
    val back = graft.io.CorpusIo.cleanRows(
      graft.io.CorpusIo.readJsonl(spark, s"$dir/out", schema))
    assert(back.orderBy("doc_id").collect().toSeq ==
      clean.orderBy("doc_id").collect().toSeq)
  }

  test("hive-partitioned layout: partition filter prunes at planning time") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("prune").toString
    (1L to 100L).map(i => (i, s"src${i % 4}", i * 2))
      .toDF("id", "source", "v")
      .write.partitionBy("source").parquet(s"$dir/t")
    val q = spark.read.parquet(s"$dir/t").filter($"source" === "src1")
    val plan = q.queryExecution.executedPlan.toString
    // the partition-column predicate must reach PartitionFilters (directory
    // pruning), not survive as a post-scan Filter over all partitions
    assert(plan.contains("PartitionFilters") && plan.contains("src1"), plan)
    assert(q.count() == 25L)
  }

  test("schema evolution: mergeSchema unifies old and new parquet vintages") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("evolve").toString
    Seq((1L, "a")).toDF("id", "name").write.parquet(s"$dir/t/batch=0")
    Seq((2L, "b", 9L)).toDF("id", "name", "score").write.parquet(s"$dir/t/batch=1")
    val merged = spark.read.option("mergeSchema", "true").parquet(s"$dir/t")
    assert(merged.columns.toSet == Set("id", "name", "score", "batch"))
    val rows = merged.select("id", "score").orderBy("id")
      .as[(Long, Option[Long])].collect().toSeq
    // old vintage surfaces null for the later-added column
    assert(rows == Seq((1L, None), (2L, Some(9L))))
  }

  test("concurrent fan-outs into one directory each publish their full file set") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fanout").toString
    val store = new DataStore(dir)
    val df = (1 to 40).map(i => (i % 4, i)).toDF("k", "v")
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val writes = Seq("a", "b").map { name =>
        pool.submit(new java.util.concurrent.Callable[Seq[String]] {
          def call(): Seq[String] = {
            start.await()
            store.writePartitionedCsv(df, "views", "k", k => s"${name}_$k.csv")
          }
        })
      }
      start.countDown()
      val expected = Seq("a", "b").map(n => (0 to 3).map(k => s"${n}_$k.csv"))
      assert(writes.map(_.get()) == expected)
      assert(store.list("views") == expected.flatten.sorted)
      expected.flatten.foreach { f =>
        assert(spark.read.option("header", "true").csv(store.path(s"views/$f")).count() == 10, f)
      }
    } finally pool.shutdown()
  }
}
