package graft.io

import graft.SparkSpec
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

object ApiFetchersSpec {
  val hsPages = new java.util.concurrent.atomic.AtomicInteger(0)
  val failFirst = new java.util.concurrent.atomic.AtomicInteger(0)
  val forbid = new java.util.concurrent.atomic.AtomicBoolean(false)
  val gigaCalls = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** S11 facility API connectors against a local stub server: paginated
  * GeoJSON (HealthSites-style), paged JSON (GIGA-style), Overpass POST,
  * retry on 5xx, fail-soft on 403, and the custom > cache > API priority
  * with write-through caching (reference impact_analysis.py:484-704). */
class ApiFetchersSpec extends SparkSpec {

  import ApiFetchersSpec._

  // 25 health facilities: pagination needs >1 page at page-size 10
  private def hsFeature(i: Int): String =
    s"""{"type":"Feature","geometry":{"type":"Point","coordinates":[${10.0 + i * 0.01},${20.0 + i * 0.01}]},
       |"properties":{"osm_id":"hs$i","amenity":"${if (i % 2 == 0) "hospital" else "clinic"}"}}""".stripMargin.replace("\n", "")

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) { val os = ex.getResponseBody; os.write(bytes); os.close() }
    ex.close()
  }

  private def query(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getQuery).getOrElse("")
      .split("&").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2); k -> v }.toMap

  private lazy val server: HttpServer = {
    val s = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    s.createContext("/healthsites", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        hsPages.incrementAndGet()
        if (forbid.get()) { respond(ex, 403, """{"detail":"rate limited"}"""); return }
        if (failFirst.getAndDecrement() > 0) { respond(ex, 503, "busy"); return }
        val p = query(ex)
        assert(p("country") == "FJI")
        val page = p.getOrElse("page", "1").toInt
        val size = p.getOrElse("page-size", "100").toInt
        val slice = (1 to 25).slice((page - 1) * size, page * size).map(hsFeature)
        respond(ex, 200,
          s"""{"type":"FeatureCollection","features":[${slice.mkString(",")}]}""")
      }
    })
    s.createContext("/giga/schools", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        gigaCalls.incrementAndGet()
        val page = query(ex).getOrElse("page", "1").toInt
        val rows = (1 to 7).map { i =>
          s"""{"giga_id_school":"g$i","longitude":${30.0 + i},"latitude":${-5.0 - i},"education_level":"primary"}"""
        }
        val size = 5
        val slice = rows.slice((page - 1) * size, page * size)
        respond(ex, 200, s"""{"data":[${slice.mkString(",")}]}""")
      }
    })
    s.createContext("/overpass", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        assert(ex.getRequestMethod == "POST")
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        assert(body.startsWith("data=") && java.net.URLDecoder.decode(body.drop(5), "UTF-8")
          .contains("social_facility"))
        respond(ex, 200,
          """{"elements":[
            |{"type":"node","id":111,"lat":1.5,"lon":2.5,"tags":{"social_facility":"shelter","name":"A"}},
            |{"type":"node","id":222,"lat":1.6,"lon":2.6,"tags":{"social_facility":"shelter"}},
            |{"type":"way","id":333,"tags":{"social_facility":"shelter"}}
            |]}""".stripMargin)
      }
    })
    s.start()
    s
  }

  private def base = s"http://127.0.0.1:${server.getAddress.getPort}"
  private def http = new ApiFetchers.Http(maxRetries = 3, initialBackoffMs = 5)

  test("healthsites fetch pages until empty; point features typed and geo'd") {
    hsPages.set(0); failFirst.set(0); forbid.set(false)
    val df = ApiFetchers.fetchHealthSites(spark, http, s"$base/healthsites", "FJI", pageSize = 10)
    assert(df.count() == 25)
    assert(hsPages.get() == 4) // 10+10+5+empty
    assert(df.columns.toSeq == Seq("osm_id", "longitude", "latitude", "amenity", "geometry"))
    val r = df.filter(org.apache.spark.sql.functions.col("osm_id") === "hs1").head()
    assert(r.getAs[Double]("longitude") == 10.01 && r.getAs[String]("amenity") == "clinic")
  }

  test("transient 5xx retries then succeeds") {
    hsPages.set(0); failFirst.set(2); forbid.set(false)
    val df = ApiFetchers.fetchHealthSites(spark, http, s"$base/healthsites", "FJI", pageSize = 25)
    assert(df.count() == 25)
    assert(hsPages.get() >= 4) // 2 failures + 1 full page + empty page
  }

  test("giga fetch renames giga_id_school and pages the data array") {
    gigaCalls.set(0)
    val df = ApiFetchers.fetchGigaSchools(spark, http, s"$base/giga/schools", "FJI", pageSize = 5)
    assert(df.count() == 7)
    assert(gigaCalls.get() == 3) // 5+2+empty
    assert(df.columns.contains("school_id_giga"))
  }

  test("overpass POST parses elements; non-point ways without lat/lon dropped") {
    val df = ApiFetchers.fetchOsmLocations(spark, http, s"$base/overpass",
      """node["social_facility"="shelter"](area);out;""", "social_facility", "shelter_type")
    assert(df.count() == 2)
    assert(df.select("osm_id").collect().map(_.getString(0)).sorted.toSeq == Seq("111", "222"))
    assert(df.filter("osm_id = '222'").head().getAs[String]("shelter_type") == "shelter")
  }

  test("fetchFacilities priority: custom > cache > API; 403 fail-soft empty") {
    val tmp = java.nio.file.Files.createTempDirectory("apifetch").toString
    val store = new DataStore(tmp)
    forbid.set(false); failFirst.set(0)

    // 3rd priority: API fetch fills the cache
    val fetched = ApiFetchers.fetchFacilities(spark, store, "health_centers", "FJI",
      "hc_views/FJI_health_centers.parquet", "osm_id", "amenity") {
      ApiFetchers.fetchHealthSites(spark, http, s"$base/healthsites", "FJI", pageSize = 25)
    }
    assert(fetched.count() == 25)
    assert(store.exists("hc_views/FJI_health_centers.parquet"))

    // 2nd priority: cache short-circuits the API (flip the stub to 403 —
    // a fetch would now return empty, so 25 rows proves the cache was used)
    forbid.set(true)
    val cached = ApiFetchers.fetchFacilities(spark, store, "health_centers", "FJI",
      "hc_views/FJI_health_centers.parquet", "osm_id", "amenity") {
      ApiFetchers.fetchHealthSites(spark, http, s"$base/healthsites", "FJI", pageSize = 25)
    }
    assert(cached.count() == 25)

    // rewrite=1 forces a re-fetch; the 403 fails soft to empty and must NOT
    // clobber the existing cache
    val refetched = ApiFetchers.fetchFacilities(spark, store, "health_centers", "FJI",
      "hc_views/FJI_health_centers.parquet", "osm_id", "amenity", rewrite = true) {
      ApiFetchers.fetchHealthSites(spark, http, s"$base/healthsites", "FJI", pageSize = 25)
    }
    assert(refetched.isEmpty)
    assert(store.readParquet(spark, "hc_views/FJI_health_centers.parquet").count() == 25)

    // 1st priority: custom CSV wins even with rewrite, and writes through
    val customCsv = s"$tmp/FJI_health_centers.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(customCsv),
      "latitude,longitude,amenity\n-17.8,177.4,hospital\n-18.1,178.4,clinic\n")
    val custom = ApiFetchers.fetchFacilities(spark, store, "health_centers", "FJI",
      "hc_views/FJI_health_centers.parquet", "osm_id", "amenity", rewrite = true,
      customPath = Some(customCsv)) {
      fail("custom present: fetch must not run"): org.apache.spark.sql.DataFrame
    }
    assert(custom.count() == 2)
    assert(store.readParquet(spark, "hc_views/FJI_health_centers.parquet").count() == 2)
  }

  test("a custom override given as a file:// URI is read, not skipped") {
    val tmp = java.nio.file.Files.createTempDirectory("apifetch-uri")
    val store = new DataStore(tmp.toString)
    val csv = tmp.resolve("FJI_schools.csv")
    java.nio.file.Files.writeString(csv,
      "latitude,longitude,amenity\n-17.8,177.4,school\n-18.1,178.4,school\n-16.9,179.0,school\n")
    val custom = ApiFetchers.fetchFacilities(spark, store, "schools", "FJI",
      "school_views/FJI_schools.parquet", "osm_id", "amenity",
      customPath = Some(csv.toUri.toString)) {
      fail("custom present: fetch must not run"): org.apache.spark.sql.DataFrame
    }
    assert(csv.toUri.toString.startsWith("file:/"))
    assert(custom.count() == 3)
    assert(store.readParquet(spark, "school_views/FJI_schools.parquet").count() == 3)
  }
}
