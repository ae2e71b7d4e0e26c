package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Temporal operators: forecast-over-forecast deltas (SURVEY.md J15) and
 * per-group ordered firsts (W2/W7), plus top-k (W1).
 */
object Deltas {

  /**
   * As-of self-join along the forecast axis (reference reports.py:195-207,
   * 627-629): for every (partition, forecast_time) row attach the metrics of
   * the row exactly one forecast step earlier. Expressed as `lag` over a
   * window — one shuffle on the partition keys, no self-join. Rows whose
   * predecessor is missing (first forecast, or a gap ≠ step) get nulls,
   * matching the reference's "previous report not found → change fields None".
   */
  def withPrevious(df: DataFrame, partitionCols: Seq[String], timeCol: String,
                   metricCols: Seq[String], stepHours: Int = graft.pipeline.Constants.ForecastStepHours,
                   prefix: String = "prev_"): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*).orderBy(col(timeCol))
    val lagged = metricCols.foldLeft(df) { (d, c) =>
      d.withColumn(s"$prefix$c", lag(col(c), 1).over(w))
    }.withColumn("__prev_t", lag(col(timeCol), 1).over(w))
    // only accept the predecessor if it is exactly one step earlier
    val exact = col("__prev_t") === col(timeCol) - expr(s"INTERVAL $stepHours HOURS")
    metricCols.foldLeft(lagged) { (d, c) =>
      d.withColumn(s"$prefix$c", when(exact, col(s"$prefix$c")))
    }.drop("__prev_t")
  }

  /** Percent change with the reference's direction convention
    * (reports.py:380-391): null when previous is null or 0. */
  def percentChange(current: Column, previous: Column): Column =
    when(previous.isNull || previous === 0, lit(null))
      .otherwise((current - previous) / previous * 100.0)

  /** Top-K rows by a column (W1, reports.py:708-732 nlargest(5)). */
  def topK(df: DataFrame, byCol: String, k: Int): DataFrame =
    df.orderBy(col(byCol).desc).limit(k)

  /** First row per key by an ordering (W2, drop_duplicates keep='first'). */
  def firstPerKey(df: DataFrame, keyCols: Seq[String], orderBy: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(orderBy: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /**
   * Generic as-of join (pandas `merge_asof` backward semantics): for every
   * left row attach the payload of the LATEST right row with the same `by`
   * keys and `rightTime <= leftTime` (inclusive). Generalizes
   * [[withPrevious]] from a fixed-step self-join to two arbitrary frames.
   *
   * Scale design: NOT an inequality join (which Catalyst executes as an
   * equi-join on `by` with a per-key cross product — quadratic on hot keys)
   * and NOT a per-left-row subquery. Both sides are unioned and processed by
   * ONE window pass partitioned on `by`: right rows sort before left rows at
   * equal time, a running `last(_, ignoreNulls = true)` carries the most
   * recent right payload forward, and left rows read it. One shuffle, work
   * linear in |left| + |right|, same plan shape at any scale.
   *
   * The payload travels as a single struct, so all attached columns come
   * from the SAME right row even when some of its fields are null. When
   * several right rows share (by, rightTime), the one with the greatest
   * `tieBreak` wins (pass a unique column for determinism).
   *
   * Contract: `by` columns must have the same names on both sides; payload
   * columns are returned as `asof_<name>`; left rows with no predecessor get
   * null payloads (left-outer semantics).
   *
   * `direction = "forward"` flips to merge_asof's forward semantics — the
   * EARLIEST right row with `rightTime >= leftTime` (inclusive) — by
   * mirroring the pass: left rows sort before right rows at equal time and
   * a `first(_, ignoreNulls)` over [current, following) reads the next
   * payload. The tie rule stays "greatest `tieBreak` wins" in both
   * directions.
   */
  def asofJoin(left: DataFrame, right: DataFrame, by: Seq[String],
               leftTime: String, rightTime: String, payload: Seq[String],
               tieBreak: Option[String] = None,
               direction: String = "backward"): DataFrame = {
    require(direction == "backward" || direction == "forward",
      s"asofJoin direction must be backward|forward, got $direction")
    val rightTypes = right.schema.fields.map(f => f.name -> f.dataType).toMap
    val payloadStruct = struct(payload.map(col): _*)
    val nullPayload = {
      val fields = payload.map(p => org.apache.spark.sql.types.StructField(p, rightTypes(p)))
      lit(null).cast(org.apache.spark.sql.types.StructType(fields))
    }
    val tieType = tieBreak.map(rightTypes)
    val leftCols = left.columns
    val leftPart = left.select(
      leftCols.toIndexedSeq.map(col) ++ Seq(
        col(leftTime).as("__t"), lit(1).as("__src"), nullPayload.as("__payload"),
        tieType.map(t => lit(null).cast(t)).getOrElse(lit(0)).as("__tie")): _*)
    // join semantics for null keys (null != null): a null-key right row can
    // never be anyone's predecessor, so drop it before the union — left rows
    // with null keys then naturally carry null payloads (the window would
    // otherwise group all null keys together and cross-match them)
    val rightNonNullKeys = by.map(col(_).isNotNull).reduce(_ && _)
    val rightPart = right.filter(rightNonNullKeys).select(
      leftCols.toIndexedSeq.map(c => if (by.contains(c)) col(c) else lit(null).cast(left.schema(c).dataType).as(c)) ++ Seq(
        col(rightTime).as("__t"), lit(0).as("__src"), payloadStruct.as("__payload"),
        tieBreak.map(col).getOrElse(lit(0)).as("__tie")): _*)
    // backward: right rows (src 0) sort before left rows (src 1) at equal
    // time, so the inclusive <= holds; among tied right rows the greatest
    // __tie sorts last and wins the running last(). forward mirrors it:
    // left sorts first at equal time (inclusive >=), right ties sort
    // greatest-first so first() picks the greatest __tie.
    val carried =
      if (direction == "backward") {
        val w = Window.partitionBy(by.map(col): _*)
          .orderBy(col("__t").asc, col("__src").asc, col("__tie").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        leftPart.union(rightPart)
          .withColumn("__asof", last(col("__payload"), ignoreNulls = true).over(w))
      } else {
        val w = Window.partitionBy(by.map(col): _*)
          .orderBy(col("__t").asc, col("__src").desc, col("__tie").desc)
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        leftPart.union(rightPart)
          .withColumn("__asof", first(col("__payload"), ignoreNulls = true).over(w))
      }
    val out = payload.foldLeft(carried.filter(col("__src") === 1)) { (d, p) =>
      d.withColumn(s"asof_$p", col("__asof").getField(p))
    }
    out.drop("__t", "__src", "__payload", "__tie", "__asof")
  }
}
