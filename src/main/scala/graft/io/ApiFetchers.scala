package graft.io

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.geo.GeoFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/**
 * S11 — external facility-location API connectors (reference
 * impact_analysis.py:484-704): HealthSites.io (paginated GeoJSON), GIGA
 * school locations (paged JSON array), and OSM Overpass (POST query →
 * `elements` array), each behind the custom > cache > API source-resolution
 * priority with write-through caching and fail-soft empty results.
 *
 * Spark-first shape: the HTTP exchange is a bounded driver-side ingest (a
 * country's facility list is thousands of rows, not billions — the same
 * driver-side stance the reference takes), producing a DataFrame the engine
 * then treats like any other source. The expensive work — tile assignment,
 * spatial joins — stays distributed. Retry policy matches the reference's
 * WorldPop loop (impact_analysis.py:822-878: bounded attempts, backoff,
 * loud failure) and the transport rules of [[HttpRelatedTableClient]]:
 * 429/5xx/IO retry with exponential backoff, other 4xx fail immediately.
 *
 * Fail-soft contract (impact_analysis.py:532-543): an API error — including
 * the HealthSites 403 daily-rate-limit — returns an EMPTY, correctly-typed
 * DataFrame rather than raising, so the caller records NaN facility counts
 * ("data unavailable") instead of aborting the country build.
 */
object ApiFetchers {

  /** Facility-point schema every fetcher lands on (EPSG:4326 lon/lat + WKB
    * point geometry + per-kind id and type attribute). */
  def facilitySchema(idCol: String, typeCol: String): StructType = StructType(Seq(
    StructField(idCol, StringType),
    StructField("longitude", DoubleType),
    StructField("latitude", DoubleType),
    StructField(typeCol, StringType)))

  /** Minimal HTTP core shared by the fetchers: GET/POST with bounded retry
    * and exponential backoff. Driver-side only. */
  final class Http(timeoutMs: Int = 30000, maxRetries: Int = 3,
                   initialBackoffMs: Long = 200) extends Serializable {
    def request(method: String, url: String,
                query: Seq[(String, String)] = Nil,
                body: Option[String] = None): String = {
      val qs = if (query.isEmpty) ""
        else query.map { case (k, v) =>
          k + "=" + java.net.URLEncoder.encode(v, "UTF-8") }.mkString("?", "&", "")
      val u = new java.net.URI(url + qs).toURL
      var attempt = 0
      while (true) {
        val conn = u.openConnection().asInstanceOf[java.net.HttpURLConnection]
        try {
          conn.setRequestMethod(method)
          conn.setConnectTimeout(timeoutMs)
          conn.setReadTimeout(timeoutMs)
          conn.setRequestProperty("Accept", "application/json")
          body.foreach { b =>
            conn.setRequestProperty("Content-Type", "application/x-www-form-urlencoded")
            conn.setDoOutput(true)
            val out = conn.getOutputStream
            try out.write(b.getBytes("UTF-8")) finally out.close()
          }
          val code = conn.getResponseCode
          if (code >= 200 && code < 300) {
            val in = conn.getInputStream
            try return new String(in.readAllBytes(), "UTF-8") finally in.close()
          }
          val retryable = code == 429 || code >= 500
          if (!retryable || attempt >= maxRetries)
            throw new FetchFailed(code,
              s"$method $u failed with HTTP $code after ${attempt + 1} attempt(s)")
        } catch {
          case e: java.io.IOException =>
            if (attempt >= maxRetries)
              throw new FetchFailed(0,
                s"$method $u failed after ${attempt + 1} attempt(s): ${e.getMessage}")
        } finally conn.disconnect()
        Thread.sleep(initialBackoffMs << attempt)
        attempt += 1
      }
      throw new IllegalStateException("unreachable")
    }
  }

  final class FetchFailed(val code: Int, msg: String) extends RuntimeException(msg)

  private def mapper = new ObjectMapper()

  private def optText(n: JsonNode, field: String): String =
    Option(n.get(field)).filterNot(_.isNull).map(_.asText()).orNull

  /** Rows parsed out of one GeoJSON FeatureCollection page:
    * (id, lon, lat, typeAttr). Point features only — the reference keeps
    * facilities as points. */
  /** Returns (raw feature count, parsed Point rows). The RAW count is what
    * pagination must terminate on — a page of only non-Point/malformed
    * features parses to zero rows but is NOT the end of the data. */
  private def geoJsonFeatures(body: String, idField: String,
                              typeField: String): (Int, Seq[(String, Double, Double, String)]) = {
    val root = mapper.readTree(body)
    val feats = Option(root.get("features")).map(_.elements().asScala.toSeq).getOrElse(Nil)
    val rows = feats.flatMap { f =>
      val geom = f.get("geometry")
      val props = f.get("properties")
      if (geom == null || props == null || optText(geom, "type") != "Point") None
      else {
        val coords = geom.get("coordinates")
        if (coords == null || coords.size() < 2) None
        else Some((optText(props, idField), coords.get(0).asDouble(),
          coords.get(1).asDouble(), optText(props, typeField)))
      }
    }
    (feats.size, rows)
  }

  private def toFacilityDf(spark: SparkSession,
                           rows: Seq[(String, Double, Double, String)],
                           idCol: String, typeCol: String): DataFrame = {
    import spark.implicits._
    rows.toDF(idCol, "longitude", "latitude", typeCol)
      .na.drop(Seq("longitude", "latitude"))
      .withColumn("geometry", st_point(col("longitude"), col("latitude")))
  }

  /** Correctly-typed empty result: the "no data available from any source"
    * contract (impact_analysis.py:528-543 returns an empty GeoDataFrame). */
  def emptyFacilities(spark: SparkSession, idCol: String, typeCol: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        facilitySchema(idCol, typeCol))
      .withColumn("geometry", st_point(col("longitude"), col("latitude")))

  /** HealthSites.io-style fetch: paginated GET returning GeoJSON
    * FeatureCollections; pages advance until an empty `features` list.
    * ALL facility types are kept (the HC_FACILITY_TYPES filter happens at
    * analysis time — impact_analysis.py:495-498). */
  def fetchHealthSites(spark: SparkSession, http: Http, baseUrl: String,
                       country: String, pageSize: Int = 100): DataFrame = {
    val rows = Seq.newBuilder[(String, Double, Double, String)]
    var page = 1
    var done = false
    while (!done) {
      val body = http.request("GET", baseUrl,
        query = Seq("country" -> country, "page" -> page.toString,
          "page-size" -> pageSize.toString))
      val (rawCount, feats) = geoJsonFeatures(body, "osm_id", "amenity")
      rows ++= feats
      done = rawCount == 0
      page += 1
    }
    toFacilityDf(spark, rows.result(), "osm_id", "amenity")
  }

  /** GIGA-school-style fetch: paged JSON `{"data": [{...}]}` with per-row
    * lon/lat fields; `giga_id_school` renamed to `school_id_giga`
    * (impact_analysis.py:603-605). */
  def fetchGigaSchools(spark: SparkSession, http: Http, baseUrl: String,
                       country: String, pageSize: Int = 1000): DataFrame = {
    val rows = Seq.newBuilder[(String, Double, Double, String)]
    var page = 1
    var done = false
    while (!done) {
      val body = http.request("GET", s"$baseUrl/$country",
        query = Seq("page" -> page.toString, "size" -> pageSize.toString))
      val root = mapper.readTree(body)
      val data = Option(root.get("data")).map(_.elements().asScala.toSeq).getOrElse(Nil)
      data.foreach { d =>
        val lon = Option(d.get("longitude")).map(_.asDouble())
        val lat = Option(d.get("latitude")).map(_.asDouble())
        if (lon.isDefined && lat.isDefined)
          rows += ((optText(d, "giga_id_school"), lon.get, lat.get,
            optText(d, "education_level")))
      }
      done = data.isEmpty
      page += 1
    }
    toFacilityDf(spark, rows.result(), "school_id_giga", "education_level")
  }

  /** Overpass-style fetch: one POST with the QL query; response is
    * `{"elements": [{"id", "lat", "lon", "tags": {...}}]}`. The tag value of
    * the queried key becomes the `<kind>_type` attribute (the reference's
    * `category_value` rename, impact_analysis.py:646-647). */
  def fetchOsmLocations(spark: SparkSession, http: Http, url: String,
                        overpassQl: String, tagKey: String,
                        typeCol: String): DataFrame = {
    val body = http.request("POST", url,
      body = Some("data=" + java.net.URLEncoder.encode(overpassQl, "UTF-8")))
    val root = mapper.readTree(body)
    val elems = Option(root.get("elements")).map(_.elements().asScala.toSeq).getOrElse(Nil)
    val rows = elems.flatMap { e =>
      val lat = Option(e.get("lat")).map(_.asDouble())
      val lon = Option(e.get("lon")).map(_.asDouble())
      if (lat.isEmpty || lon.isEmpty) None
      else {
        val tag = Option(e.get("tags")).map(t => optText(t, tagKey)).orNull
        Some((Option(e.get("id")).map(_.asText()).orNull, lon.get, lat.get, tag))
      }
    }
    toFacilityDf(spark, rows, "osm_id", typeCol)
  }

  /**
   * The S11 source-resolution contract around any of the fetchers
   * (impact_analysis.py:484-543):
   *
   *   1. custom CSV — always wins; `rewrite` has no effect; written through
   *      to the cache so downstream loads see it;
   *   2. cache parquet — when present and `rewrite` is false;
   *   3. `fetch` — the API call; result cached when non-empty;
   *   4. on fetch failure or empty fetch: empty typed DataFrame (fail-soft).
   */
  def fetchFacilities(spark: SparkSession, store: DataStore, kind: String,
                      country: String, cacheRel: String, idCol: String,
                      typeCol: String, rewrite: Boolean = false,
                      customPath: Option[String] = None)
                     (fetch: => DataFrame): DataFrame = {
    // through the path's own FileSystem: a file:// or s3a:// override is a
    // URI, not a local file name
    val custom = customPath.filter { p =>
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)
    }.map(p => CustomOverrides.loadPoints(spark, p, kind, idCol))
    custom match {
      case Some(df) =>
        store.writeParquet(df.drop("geometry"), cacheRel)
        df
      case None if store.exists(cacheRel) && !rewrite =>
        store.readParquet(spark, cacheRel)
          .withColumn("geometry", st_point(col("longitude"), col("latitude")))
      case None =>
        val fetched = try fetch catch {
          case e: FetchFailed =>
            // 403 = HealthSites daily rate limit: logged loudly by the
            // reference but never fatal (impact_analysis.py:536-541).
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"$country: $kind API fetch failed (${e.getMessage}) — returning empty")
            emptyFacilities(spark, idCol, typeCol)
        }
        if (!fetched.isEmpty) store.writeParquet(fetched.drop("geometry"), cacheRel)
        fetched
    }
  }
}
