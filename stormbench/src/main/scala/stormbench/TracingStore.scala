package stormbench

import graft.io.DataStore
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The program's [[DataStore]] with each writer and reader call recorded as
  * an `io.write` / `io.read` span. Behaviour is the parent's; with tracing
  * off the spans cost nothing. */
final class TracingStore(root: String, probe: Probe) extends DataStore(root) {
  override def writeText(rel: String, content: String): Unit =
    probe.span("io.write")(super.writeText(rel, content))
  override def writeParquet(df: DataFrame, rel: String): Unit =
    probe.span("io.write")(super.writeParquet(df, rel))
  override def writeSingleCsv(df: DataFrame, rel: String): Unit =
    probe.span("io.write")(super.writeSingleCsv(df, rel))
  override def writePartitionedCsv(df: DataFrame, relDir: String, partitionCol: String,
                                   fileName: String => String): Seq[String] =
    probe.span("io.write")(super.writePartitionedCsv(df, relDir, partitionCol, fileName))
  override def writePartitionedParquet(df: DataFrame, relDir: String, partitionCol: String,
                                       dirName: String => String): Seq[String] =
    probe.span("io.write")(super.writePartitionedParquet(df, relDir, partitionCol, dirName))
  override def readParquet(spark: SparkSession, rel: String): DataFrame =
    probe.span("io.read")(super.readParquet(spark, rel))
}
