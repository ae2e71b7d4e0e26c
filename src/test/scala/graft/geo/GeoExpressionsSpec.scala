package graft.geo

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class GeoExpressionsSpec extends SparkSpec {

  import spark.implicits._

  test("SQL-registered ST functions evaluate like the kernel") {
    val row = spark.sql(
      """SELECT
        |  st_aswkt(st_point(CAST(-72.5 AS DOUBLE), CAST(18.5 AS DOUBLE))) AS wkt,
        |  st_intersects(st_geomfromwkt('POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))'),
        |                st_geomfromwkt('POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))')) AS inter,
        |  st_within(st_point(CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE)),
        |            st_geomfromwkt('POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))')) AS within,
        |  st_area_m2(st_geomfromwkt('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))')) AS area
        |""".stripMargin).head()
    assert(row.getString(0) == "POINT (-72.5 18.5)")
    assert(row.getBoolean(1))
    assert(row.getBoolean(2))
    assert(math.abs(row.getDouble(3) - Geo.areaM2(Geo.box(0, 0, 1, 1))) < 1e-6)
  }

  test("native expressions agree with the UDF layer on random boxes") {
    val rng = new scala.util.Random(3)
    val rows = (1 to 100).map { _ =>
      val a = Geo.box(rng.nextDouble(), rng.nextDouble(), rng.nextDouble() + 1, rng.nextDouble() + 1)
      val b = Geo.box(rng.nextDouble(), rng.nextDouble(), rng.nextDouble() + 1, rng.nextDouble() + 1)
      (Geo.toWkb(a), Geo.toWkb(b))
    }.toDF("a", "b")
    val cmp = rows.select(
      call_function("st_intersects", $"a", $"b").as("native"),
      GeoFunctions.st_intersects($"a", $"b").as("viaUdf"))
    assert(cmp.filter($"native" =!= $"viaUdf").count() == 0)
  }

  test("st_start_point / st_end_point: exact coordinate pass-through on lines") {
    val row = spark.sql(
      """SELECT
        |  st_aswkt(st_start_point(st_geomfromwkt('LINESTRING (-72.5 18.5, 3.25 -4.75)'))) AS s,
        |  st_aswkt(st_end_point(st_geomfromwkt('LINESTRING (-72.5 18.5, 3.25 -4.75)'))) AS e,
        |  st_x(st_end_point(st_make_line(
        |    st_point(CAST(1.5 AS DOUBLE), CAST(2.5 AS DOUBLE)),
        |    st_point(CAST(-3.25 AS DOUBLE), CAST(4.0 AS DOUBLE))))) AS ex
        |""".stripMargin).head()
    assert(row.getString(0) == "POINT (-72.5 18.5)")
    assert(row.getString(1) == "POINT (3.25 -4.75)")
    assert(row.getDouble(2) == -3.25)
  }

  test("integral and decimal arguments evaluate like doubles") {
    import GeoFunctions._
    def views(lon: Column, lat: Column, m: Column) = Seq(
      st_asWKT(st_point(lon, lat)),
      st_asWKT(st_box(lon, lat, lon + 1, lat + 1)),
      st_quadkey(lon, lat, lit(14)),
      st_asWKT(st_buffer_m(st_point(lon, lat), m)),
      st_dwithin_m(st_point(lon, lat), st_point(lat, lon), m))
    val ids = spark.range(3).withColumn("m", $"id" * 100000)
    val got = ids.select(views($"id", $"id" * 2, $"m"): _*).collect().toSeq
    val want = ids.select(views($"id".cast("double"), ($"id" * 2).cast("double"),
      $"m".cast("double")): _*).collect().toSeq
    assert(got == want)
    assert(spark.sql("SELECT st_aswkt(st_point(1, 2.5))").head().getString(0) == "POINT (1 2.5)")
  }

  test("null propagation: null input -> null output") {
    val r = spark.sql("SELECT st_intersects(NULL, st_point(CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE))) AS x").head()
    assert(r.isNullAt(0))
  }

  test("GraftExtensions wires the ST AND text families into SparkSessionExtensions") {
    // a fresh session can't be built here (shared local context), but the
    // installer's injections must all be well-formed
    val e = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(e) // throws on malformed identifiers/builders
    assert(GeoExpressions.registry.size == 25)
    // the text kernels ride the same installer — a spark-submit user gets
    // them with no per-session register() call (README deploy recipe)
    assert(graft.llm.TextExpressions.registry.map(_._1).toSet ==
      Set("ws_token_count", "normalize_text", "jaro_winkler", "simhash64",
        "winnow_keys", "aho_first", "aho_count"))
  }
}
