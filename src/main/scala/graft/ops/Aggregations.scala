package graft.ops

import graft.pipeline.Constants
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Aggregation operators (SURVEY.md §2.4).
 *
 * Null semantics: the reference distinguishes "no data" (all-NaN → NaN out)
 * from "confirmed zero" (impact_analysis.py:152-159 `_optional_sum`). On
 * ingest we normalize NaN → null (see [[nanToNull]]); Spark's built-in `sum`
 * is then exactly `_optional_sum` (skips nulls, returns null when all inputs
 * are null). All aggregations here are expressed with built-in codegen'd
 * functions — partial (map-side) aggregation is automatic, so at 100 TB each
 * groupBy ships only one partial row per (partition × key) to the shuffle.
 */
object Aggregations {

  /** NaN → null normalization for double columns (ingest edge). */
  def nanToNull(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.filter(df.columns.contains).foldLeft(df) { (d, c) =>
      d.withColumn(c, when(isnan(col(c)), lit(null)).otherwise(col(c)))
    }

  /** `_optional_sum` (impact_analysis.py:152-159): null iff every value in
    * the group is null. Spark's `sum` already has exactly this behavior once
    * NaN is normalized to null. Kept as a named op for clarity. */
  def optionalSum(c: Column): Column = sum(c)

  /** Expected-value projection (A10, impact_analysis.py:1896-1903):
    * E_col = col * probability for each data column; a column missing from
    * the layer yields E_col = null (missing ≠ zero). */
  def expectedValues(df: DataFrame, dataCols: Seq[String],
                     probabilityCol: String = "probability"): DataFrame = {
    val exprs = df.columns.map(col) ++ dataCols.map { c =>
      (if (df.columns.contains(c)) col(c) * col(probabilityCol)
       else lit(null).cast("double")).as(s"E_$c")
    }
    df.select(exprs.toIndexedSeq: _*)
  }

  /** Admin rollup (A2/A3, impact_analysis.py:1443-1446,2011-2017): group by
    * admin id; SUM the count-like columns, MEAN the class/index columns.
    * Aggregates only the columns present in `df` whose base name appears in
    * sumCols/meanCols (handles both raw and E_-prefixed layers).
    *
    * Null semantics match the reference exactly: only the facility-count
    * columns ([[Constants.OptionalSumCols]]) use `_optional_sum` (all-null
    * group → null); every other sum uses pandas' default (all-NaN → 0.0),
    * impact_analysis.py:1443-1446. */
  def adminRollup(df: DataFrame, idCol: String,
                  sumCols: Seq[String] = Constants.SumCols,
                  meanCols: Seq[String] = Constants.MeanCols,
                  extraAggs: Seq[Column] = Nil): DataFrame = {
    def present(base: Seq[String]): Seq[String] =
      (base ++ base.map("E_" + _)).filter(df.columns.contains)
    def sumAgg(c: String): Column =
      if (Constants.OptionalSumCols.contains(c.stripPrefix("E_"))) sum(col(c))
      else coalesce(sum(col(c)), lit(0.0))
    val aggs = present(sumCols).map(c => sumAgg(c).as(c)) ++
      present(meanCols).map(c => avg(col(c)).as(c)) ++
      (if (df.columns.contains("probability")) Seq(avg(col("probability")).as("probability")) else Nil) ++
      extraAggs
    df.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Vulnerability bucket sums (A8, reports.py:393-462): de-expected
    * `actual = E_col / probability`, bucket tiles by urban (SMOD >= 20) and
    * poverty (RWI bands), sum the four population metrics per bucket. Output:
    * one row per bucket with the four sums. */
  def vulnerabilityBuckets(tiles: DataFrame): DataFrame = {
    val popCols = Seq("population", "school_age_population",
      "infant_population", "adolescent_population")
    val base = tiles
      .filter(col("probability") > 0)
      .na.drop(Seq("E_smod_class"))
    val withActual = popCols.foldLeft(base) { (d, c) =>
      d.withColumn(s"actual_$c", col(s"E_$c") / col("probability"))
    }
    val bucket = when(col("E_smod_class") / col("probability") >= Constants.UrbanSmodThreshold, lit("urban"))
      .otherwise(lit("rural"))
    val rwiActual = col("E_rwi") / col("probability")
    val poverty = when(rwiActual < Constants.RwiSevere, lit("severe"))
      .when(rwiActual < Constants.RwiPoverty, lit("poverty"))
      .otherwise(lit("none"))
    withActual
      .withColumn("settlement", bucket)
      .withColumn("poverty_band", poverty)
      .groupBy("settlement", "poverty_band")
      .agg(popCols.map(c => sum(col(s"actual_$c")).as(s"sum_$c")).head,
           popCols.map(c => sum(col(s"actual_$c")).as(s"sum_$c")).tail: _*)
  }
}
