package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = EngineSession.builder("graft-test", "local[4]", 4)
      // bucketed-table suites write managed tables; keep them out of the repo
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      // Pin the AT-SCALE plan shapes for every suite: Spread.ifNarrow
      // fires only in the single-small-file regime (a no-op on
      // production-partitioned input), so plan-shape budgets assert the
      // plan a real corpus gets. Results are spread-invariant; SpreadSpec
      // toggles this to cover the narrow-regime behaviour.
      .config("spark.graft.spread", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}
