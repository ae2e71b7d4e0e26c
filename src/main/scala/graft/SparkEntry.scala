package graft

import graft.gates._
import graft.pipeline.{ImpactPipeline, SyntheticScenario}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * The engine's external contract: the flagship storm-impact slice, and the
 * operator inventory of SURVEY.md §2 expressed as oracle-checked queries
 * over TPC-H-ish test tables, plus the LLM-data-pipeline, media, geo,
 * vector and streaming operators. Each query is one [[graft.gates.Gate]]
 * in its family's list.
 */
object SparkEntry {

  /** Flagship: full storm impact slice on the synthetic country. */
  def entry(spark: SparkSession): DataFrame = {
    graft.geo.GeoFunctions.ensureRegistered(spark)
    val tiles = SyntheticScenario.tiles(spark, nx = 24, ny = 24)
    val envs = SyntheticScenario.envelopes(spark, members = 51)
    ImpactPipeline.tileView(tiles, envs)
  }

  lazy val gates: Seq[Gate] =
    RelationalGates.gates ++ DataOpsGates.gates ++ StreamingGates.gates ++
      MediaGates.gates ++ GeoGates.gates ++ VectorGates.gates

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.run).toMap

  lazy val oracleSql: Map[String, String] =
    gates.map(g => g.name -> g.oracleSql).toMap
}
