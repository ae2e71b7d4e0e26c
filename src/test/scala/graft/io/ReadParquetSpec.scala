package graft.io

import graft.SparkSpec
import graft.pipeline.GoldenScenario
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** `DataStore.readParquet` reads a Spark-written table with the schema its
  * footer stores, without the schema-inference job, and falls back to that
  * inference wherever the footer cannot stand in for it. */
class ReadParquetSpec extends SparkSpec {

  private lazy val golden =
    GoldenScenario.initialize(spark, Files.createTempDirectory("graft-read").toString)

  /** `body`'s value and the number of Spark jobs it started. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val a = try body finally { ListenerBusDrain(sc); sc.removeSparkListener(listener) }
    (a, jobs.get)
  }

  private def footerSchema(dir: String) = {
    val p = new Path(dir)
    StoreFs.sparkSchema(StoreFs.of(p, spark), p, spark)
  }

  test("every base layer reads with the schema inference gives, nullability included, and starts no job") {
    val store = golden // initialized before any read is measured
    GoldenScenario.BaseLayers.foreach { rel =>
      val (schema, jobs) = jobsDuring(store.readParquet(spark, rel).schema)
      assert(jobs == 0, rel)
      assert(schema == spark.read.parquet(store.path(rel)).schema, rel)
    }
  }

  test("a footer with no Spark schema falls back to inference") {
    val root = Files.createTempDirectory("graft-mr")
    val dir = root.resolve("mr.parquet")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional binary name (UTF8); }")
    val writer = ExampleParquetWriter.builder(new Path(dir.resolve("part-0.parquet").toString))
      .withType(schema).withConf(spark.sessionState.newHadoopConf()).build()
    val rows = new SimpleGroupFactory(schema)
    try (0 until 3).foreach(i => writer.write(rows.newGroup().append("id", i.toLong).append("name", s"n$i")))
    finally writer.close()
    assert(footerSchema(dir.toString).isEmpty)
    val (df, jobs) = jobsDuring(new DataStore(root.toString).readParquet(spark, "mr.parquet"))
    assert(jobs > 0, "the schema was not inferred")
    assert(df.schema == spark.read.parquet(dir.toString).schema)
    assert(df.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("n0", "n1", "n2"))
  }

  test("a directory of partition directories only falls back to inference, partition column included") {
    val root = Files.createTempDirectory("graft-parts")
    val dir = root.resolve("parts.parquet").toString
    spark.range(6).withColumn("k", col("id") % 2).write.partitionBy("k").parquet(dir)
    assert(footerSchema(dir).isEmpty)
    val df = new DataStore(root.toString).readParquet(spark, "parts.parquet")
    assert(df.schema == spark.read.parquet(dir).schema)
    assert(df.schema.fieldNames.toSeq == Seq("id", "k"))
    assert(df.count() == 6)
  }
}
