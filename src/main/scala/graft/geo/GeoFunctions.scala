package graft.geo

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Spark-facing `ST_*` function family (SURVEY.md §2.7 "Geometry scalars").
 * Geometries travel through DataFrames as WKB `BinaryType` columns; WKT only
 * at the ingest/egress edges (the reference's wire format is WKT from
 * Snowflake ST_ASWKT, snowflake_utils.py:380-382,421).
 *
 * Every wrapper builds the NATIVE Catalyst expression from
 * [[GeoExpressions]] (via `call_function`, resolved against the session's
 * function registry) — no Scala-UDF serialization boundary, null-intolerant
 * short-circuiting for free, and join conditions written with these
 * wrappers are recognized by `graft.plans.SpatialJoinStrategy`. Sessions
 * built by `graft.EngineSession` carry [[GraftExtensions]], which injects
 * the family; a session built any other way needs one [[ensureRegistered]]
 * call.
 *
 * The hot broadcast-spatial-join path deliberately does NOT go through
 * per-row wrappers — see graft.ops.SpatialJoin, which prepares JTS objects
 * once per broadcast side and evaluates prepared geometries, far cheaper
 * than re-deserializing WKB per row pair.
 */
object GeoFunctions {

  /** Registers the functions [[GraftExtensions]] injects as temp functions
    * on `spark`, a session built without the extension (idempotent, cheap).
    * Temp functions do not reach its `newSession()` siblings, and the
    * spatial-join strategy is not installed. */
  def ensureRegistered(spark: SparkSession): Unit =
    GraftExtensions.functions.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "built-in")
    }

  /** Column sugar over the native expression family. */
  def st_geomFromWKT(c: Column): Column = call_function("st_geomfromwkt", c)
  def st_asWKT(c: Column): Column = call_function("st_aswkt", c)
  def st_point(lon: Column, lat: Column): Column = call_function("st_point", lon, lat)
  def st_intersects(a: Column, b: Column): Column = call_function("st_intersects", a, b)
  def st_within(a: Column, b: Column): Column = call_function("st_within", a, b)
  def st_contains(a: Column, b: Column): Column = call_function("st_contains", a, b)
  def st_dwithin_m(a: Column, b: Column, m: Column): Column = call_function("st_dwithin_m", a, b, m)
  def st_area_m2(c: Column): Column = call_function("st_area_m2", c)
  def st_centroid(c: Column): Column = call_function("st_centroid", c)
  def st_buffer_m(c: Column, m: Column): Column = call_function("st_buffer_m", c, m)
  def st_make_valid(c: Column): Column = call_function("st_make_valid", c)
  def st_intersection(a: Column, b: Column): Column = call_function("st_intersection", a, b)
  def st_distance_m(a: Column, b: Column): Column = call_function("st_distance_m", a, b)
  def st_x(c: Column): Column = call_function("st_x", c)
  def st_y(c: Column): Column = call_function("st_y", c)
  def st_quadkey(lon: Column, lat: Column, zoom: Column): Column =
    call_function("st_quadkey", lon, lat, zoom)
  def st_box(minLon: Column, minLat: Column, maxLon: Column, maxLat: Column): Column =
    call_function("st_box", minLon, minLat, maxLon, maxLat)
  def st_make_line(a: Column, b: Column): Column = call_function("st_make_line", a, b)
  def st_start_point(c: Column): Column = call_function("st_start_point", c)
  def st_end_point(c: Column): Column = call_function("st_end_point", c)
  def st_quadkey_polygon(qk: Column): Column = call_function("st_quadkey_polygon", qk)
}
