package graft.gates

import graft.geo.GeoFunctions._
import graft.llm.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The inputs and oracle fragments that more than one gate family uses:
  * the TPC-H-ish test tables, the synthetic geo layers derived from them,
  * the file streams, and oracle SQL shared by a batch gate and its
  * streaming twin. Nothing here refers back to a family object. */
object GateInputs {

  /** A test table, `$dir/$name.parquet`. Read `events` only
    * through here or [[eventsStream]]: both adapt its `ts` column. */
  private[gates] def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") eventsTs(raw) else raw
  }

  /** events.parquet has shipped two physical ts encodings across
    * test-data generations: TIMESTAMP(NANOS), which Spark reads only as a long
    * (legacy conf) and we truncate to micros exactly like DuckDB's
    * nanos→micros read, and TIMESTAMP(MICROS) without UTC adjustment,
    * which arrives as TIMESTAMP_NTZ and only needs the session-UTC cast.
    * Adapt on the observed schema so both vintages read identically
    * (the legacy conf is part of the engine profile, graft.EngineSession). */
  private def eventsTs(events: DataFrame): DataFrame =
    events.schema("ts").dataType match {
      case LongType => events.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => events.withColumn("ts", col("ts").cast("timestamp"))
      case _ => events
    }

  // ---------------------------------------------------------------------
  // synthetic geo layers derived from relational tables (bit-identical in
  // DuckDB — see the g* oracle SQL)
  // ---------------------------------------------------------------------

  /** 40×40 grid of 0.03125° tiles keyed by c_custkey; population = floor(acctbal). */
  private[gates] def geoTiles(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer").select(
      col("c_custkey").cast("string").as("tile_id"),
      (expr("c_custkey % 40") * lit(0.03125)).as("minlon"),
      (expr("(c_custkey div 40) % 40") * lit(0.03125)).as("minlat"),
      (expr("c_custkey % 40") * lit(0.03125) + lit(0.03125)).as("maxlon"),
      (expr("(c_custkey div 40) % 40") * lit(0.03125) + lit(0.03125)).as("maxlat"),
      floor(col("c_acctbal")).cast("double").as("population"))
      .withColumn("geometry", st_box(col("minlon"), col("minlat"), col("maxlon"), col("maxlat")))

  private[gates] val geoTilesSql =
    """SELECT CAST(c_custkey AS VARCHAR) AS tile_id,
      |  (c_custkey % 40) * 0.03125 AS minlon,
      |  ((c_custkey // 40) % 40) * 0.03125 AS minlat,
      |  (c_custkey % 40) * 0.03125 + 0.03125 AS maxlon,
      |  ((c_custkey // 40) % 40) * 0.03125 + 0.03125 AS maxlat,
      |  FLOOR(c_acctbal) AS population
      |FROM customer""".stripMargin

  /** Envelope boxes keyed by s_suppkey; 4 wind thresholds. */
  private[gates] def geoEnvelopes(spark: SparkSession, dir: String): DataFrame = {
    val minlon = lit(0.0625) + expr("s_suppkey % 17") * lit(0.046875)
    val minlat = lit(0.03125) + expr("s_suppkey % 13") * lit(0.0625)
    t(spark, dir, "supplier").select(
      col("s_suppkey").cast("int").as("ensemble_member"),
      expr("CASE CAST(s_suppkey % 4 AS INT) WHEN 0 THEN 34 WHEN 1 THEN 50 WHEN 2 THEN 64 ELSE 83 END")
        .cast("int").as("wind_threshold"),
      minlon.as("minlon"), minlat.as("minlat"),
      (minlon + lit(0.0625) + expr("s_suppkey % 5") * lit(0.03125)).as("maxlon"),
      (minlat + lit(0.046875) + expr("s_suppkey % 7") * lit(0.03125)).as("maxlat"))
      .withColumn("geometry", st_box(col("minlon"), col("minlat"), col("maxlon"), col("maxlat")))
  }

  private[gates] val geoEnvelopesSql =
    """SELECT CASE s_suppkey % 4 WHEN 0 THEN 34 WHEN 1 THEN 50 WHEN 2 THEN 64 ELSE 83 END AS wind_threshold,
      |  0.0625 + (s_suppkey % 17) * 0.046875 AS minlon,
      |  0.03125 + (s_suppkey % 13) * 0.0625 AS minlat,
      |  0.0625 + (s_suppkey % 17) * 0.046875 + 0.0625 + (s_suppkey % 5) * 0.03125 AS maxlon,
      |  0.03125 + (s_suppkey % 13) * 0.0625 + 0.046875 + (s_suppkey % 7) * 0.03125 AS maxlat
      |FROM supplier""".stripMargin

  /** Engine-portable MinHash-LSH pairs (md5 over word 2-grams, min = hex
    * string order) on the doc_id%2=0 subset — shared by d19 (pair output)
    * and d20 (cluster formation over the same pairs). */
  private[gates] def minhashSqlPairs(s: SparkSession, d: String): DataFrame = {
    val toks = col("__toks")
    val grams = array_distinct(zip_with(
      slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
      (a, b) => concat_ws(" ", a, b)))
    val sigs = (0 until 8).map { k =>
      array_min(transform(col("__grams"), g => md5(concat(lit(s"$k|"), g))))
    }
    // STAGED columns (r13 optimization): the original formulation inlined
    // tokens(text) into both the size filter and the four slice/size
    // references of the gram build, so the split+lower+trim pass ran ~5x
    // per doc; materializing __toks once per row computes it once. Same
    // values, same filter semantics — the oracle SQL is untouched.
    // Spread.ifNarrow parallelizes the interpreted md5 transform passes
    // (the dominant per-row cost) across cores when the input is a single
    // unsplittable file; a no-op at scale.
    val banded = graft.util.Spread.ifNarrow(
        t(s, d, "documents").filter(expr("doc_id % 2 = 0"))
          .select(col("doc_id"), col("text")))
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__toks"))
      .filter(size(toks) > 1) // algorithm-proof
      // variant on a keyed subset (d08-style); d04 is the full fast path
      .select(col("doc_id"), grams.as("__grams"))
      .select(col("doc_id"), posexplode(array(sigs: _*)).as(Seq("k", "sig")))
    val a = banded.select(col("k"), col("sig"), col("doc_id").as("id_a"))
    val b = banded.select(col("k"), col("sig"), col("doc_id").as("id_b"))
    a.join(b, Seq("k", "sig")).filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_matching"))
      .filter(col("n_matching") >= 4) // est Jaccard >= 0.5 of 8 functions
  }

  // ---------------------------------------------------------------------
  // streaming fixtures: ONE definition of the events stream (schema, nanos
  // conversion, state-sized session) shared by every s* query
  // ---------------------------------------------------------------------

  /** Stream-read schema for events.parquet, adapted to the file's actual ts
    * encoding (see [[eventsTs]]): readStream needs
    * the schema up front, so probe it with a batch read of the same file. */
  private def eventsStreamSchema(ss: SparkSession, d: String): StructType = {
    val tsType = ss.read.parquet(s"$d/events.parquet").schema("ts").dataType
    StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
  }

  /** events.parquet as a micro-timestamped file stream on `ss`. */
  private[gates] def eventsStream(ss: SparkSession, d: String): DataFrame =
    eventsTs(graft.streaming.Streaming.availableNowFileStream(
      ss, d, eventsStreamSchema(ss, d), glob = Some("events.parquet")))

  /** orders.parquet as a file stream on `ss` (s08 changelog, s09 audit). */
  private[gates] def ordersStream(ss: SparkSession, d: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))
    graft.streaming.Streaming.availableNowFileStream(
      ss, d, schema, glob = Some("orders.parquet"))
  }

  /** q53/s13: rebuild the KMV sketches from scratch — same md5 hash, same
    * lexicographic min-k (fixed-width hex ⇒ string order == numeric order)
    * — then derive the pairwise union-min-k and both-membership counts.
    * Integers + one IEEE divide: hash-safe. The streaming twin (s13) must
    * converge to the identical sketches, so it shares this oracle. */
  private[gates] val kmvOverlapOracleSql: String =
    """WITH h AS (
      |  SELECT DISTINCT o_orderpriority AS shard,
      |    md5(CAST(o_custkey AS VARCHAR)) AS h
      |  FROM orders WHERE o_custkey IS NOT NULL
      |), mink AS (
      |  SELECT shard, h FROM (
      |    SELECT shard, h, row_number() OVER (PARTITION BY shard ORDER BY h) AS rn
      |    FROM h) WHERE rn <= 64
      |), shards AS (SELECT DISTINCT shard FROM mink),
      |pairs AS (
      |  SELECT a.shard AS sa, b.shard AS sb
      |  FROM shards a JOIN shards b ON a.shard < b.shard
      |), u AS (
      |  SELECT p.sa, p.sb, m.h FROM pairs p
      |  JOIN mink m ON m.shard IN (p.sa, p.sb)
      |  GROUP BY 1, 2, 3
      |), uk AS (
      |  SELECT sa, sb, h FROM (
      |    SELECT sa, sb, h, row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
      |    FROM u) WHERE rn <= 64
      |)
      |SELECT uk.sa AS shard_a, uk.sb AS shard_b,
      |  CAST(COUNT(*) AS BIGINT) AS union_k,
      |  CAST(COUNT(CASE WHEN ma.h IS NOT NULL AND mb.h IS NOT NULL THEN 1 END) AS BIGINT) AS both_k,
      |  CAST(COUNT(CASE WHEN ma.h IS NOT NULL AND mb.h IS NOT NULL THEN 1 END) AS DOUBLE)
      |    / COUNT(*) AS jaccard_est
      |FROM uk
      |LEFT JOIN mink ma ON ma.shard = uk.sa AND ma.h = uk.h
      |LEFT JOIN mink mb ON mb.shard = uk.sb AND mb.h = uk.h
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private[gates] val trendOracleSql: String =
    """WITH b AS (
      |  SELECT event_type,
      |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
      |    CAST(floor(value * 100) AS BIGINT) AS y
      |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
      |)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(x) AS BIGINT) AS sum_x, CAST(SUM(y) AS BIGINT) AS sum_y,
      |  CAST(COUNT(*) * SUM(x*y) - SUM(x) * SUM(y) AS BIGINT) AS slope_num,
      |  CAST(COUNT(*) * SUM(x*x) - SUM(x) * SUM(x) AS BIGINT) AS slope_den,
      |  CAST(SUM(y) * SUM(x*x) - SUM(x) * SUM(x*y) AS BIGINT) AS intercept_num
      |FROM b GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q51 (batch IVM refresh) and s12 (streamed IVM) share one oracle: the
    * full recompute over the changed base — the thing IVM exists to avoid
    * doing, and the ground truth it must equal. */
  private[gates] val ivmOracleSql: String =
    """WITH ev AS (
      |  SELECT event_type, user_id % 10 AS user_bucket,
      |    CAST(floor(value * 100) AS BIGINT) AS iv, ts FROM events
      |), survivors AS (
      |  SELECT * FROM ev
      |  WHERE (ts < TIMESTAMP '2024-01-25 00:00:00' AND user_bucket <> 3)
      |     OR (ts >= TIMESTAMP '2024-01-25 00:00:00' AND user_bucket <> 3)
      |)
      |SELECT event_type, user_bucket, COUNT(*) AS n_rows,
      |  CAST(SUM(iv) AS BIGINT) AS sum_iv
      |FROM survivors GROUP BY event_type, user_bucket
      |ORDER BY event_type, user_bucket""".stripMargin

  /** m25 + s38 (stream ≡ batch): the MP3 walk closed form. */
  private[gates] val mp3WalkOracleSql: String =
  """WITH m AS (
        |  SELECT p_partkey AS media_id,
        |    CASE p_partkey % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS sr,
        |    CASE p_partkey % 3 WHEN 0 THEN 128 WHEN 1 THEN 160 ELSE 192 END AS br,
        |    3 + p_partkey % 4 AS n
        |  FROM part WHERE p_partkey <= 200
        |), fr AS (
        |  SELECT m.media_id, m.sr, m.br, m.n,
        |    144000 * m.br // m.sr + (m.media_id + f.f) % 2 AS fs,
        |    (m.media_id * 31 + f.f * 17) % 251 AS v
        |  FROM m, LATERAL (SELECT unnest(range(m.n)) AS f) f
        |)
        |SELECT media_id,
        |  CAST(MAX(sr) AS INT) AS sample_rate,
        |  CAST(MAX(br) AS INT) AS bitrate_kbps,
        |  CAST(media_id % 4 AS INT) AS channel_mode,
        |  CAST(MAX(n) AS INT) AS n_frames,
        |  CAST(MAX(n) * 1152 AS BIGINT) AS n_samples,
        |  CAST(SUM(fs - 4) AS BIGINT) AS payload_bytes,
        |  CAST(SUM((fs - 4) * v) AS BIGINT) AS payload_sum
        |FROM fr GROUP BY media_id ORDER BY media_id""".stripMargin

  /** m24 + s37 (stream ≡ batch): the MP4 walk closed form. */
  private[gates] def mp4WalkOracleSql(bound: Int = 200): String =
    s"""WITH m AS (
        |  SELECT p_partkey AS media_id, 2 + p_partkey % 3 AS ns
        |  FROM part WHERE p_partkey <= $bound
        |), samp AS (
        |  SELECT m.media_id, m.ns, m.media_id * 101 + k.k AS img
        |  FROM m, LATERAL (SELECT unnest(range(m.ns)) AS k) k
        |), blk AS (
        |  SELECT s.media_id, s.ns, s.img,
        |    128 + 2 * (((s.img * 7 + bx.bx * 11 + by.by * 13) % 61) - 30) AS c0,
        |    128 + 2 * (((s.img * 7 + bx.bx * 11 + by.by * 13 + 17) % 61) - 30) AS c1,
        |    128 + 2 * (((s.img * 7 + bx.bx * 11 + by.by * 13 + 34) % 61) - 30) AS c2
        |  FROM samp s,
        |    LATERAL (SELECT unnest(range(2 + s.img % 2)) AS by) by,
        |    LATERAL (SELECT unnest(range(2 + s.img % 3)) AS bx) bx
        |), px AS (
        |  SELECT media_id, ns,
        |    CASE WHEN img % 2 = 0 THEN c0 ELSE
        |      GREATEST(0, LEAST(255, CAST(ROUND(c0 + 1.402 * (c2 - 128)) AS INT))) END AS r,
        |    CASE WHEN img % 2 = 0 THEN c0 ELSE
        |      GREATEST(0, LEAST(255, CAST(ROUND(c0 - 0.344136 * (c1 - 128) - 0.714136 * (c2 - 128)) AS INT))) END AS g,
        |    CASE WHEN img % 2 = 0 THEN c0 ELSE
        |      GREATEST(0, LEAST(255, CAST(ROUND(c0 + 1.772 * (c1 - 128)) AS INT))) END AS b
        |  FROM blk
        |)
        |SELECT media_id, 'isom' AS brand, 'jpeg' AS codec,
        |  CAST(600 AS BIGINT) AS timescale,
        |  CAST(MAX(ns) AS INT) AS n_samples,
        |  CAST(MAX(ns) * (100 + media_id % 5) AS BIGINT) AS duration,
        |  CAST(8 * (2 + (media_id * 101) % 3) AS INT) AS width,
        |  CAST(8 * (2 + (media_id * 101) % 2) AS INT) AS height,
        |  CAST(SUM(r) * 64 AS BIGINT) AS sum_r,
        |  CAST(SUM(g) * 64 AS BIGINT) AS sum_g,
        |  CAST(SUM(b) * 64 AS BIGINT) AS sum_b
        |FROM px GROUP BY media_id ORDER BY media_id""".stripMargin

  /** d74/s33: the shipped phrase dictionary (llm/PhraseSearch carries
    * the positional intersection both gates share). */
  private[gates] val phraseSearchPhrases: Seq[String] =
    Seq("slow hash batch", "row column sort", "window fast query")

  /** d74 + s33 (stream ≡ batch) oracle: brute-force positional scan. */
  private[gates] val phraseSearchOracleSql: String = {
    val values = phraseSearchPhrases.map(p => s"('$p')").mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS a
       |  FROM documents
       |), pw AS (
       |  SELECT phrase, regexp_split_to_array(phrase, ' ') AS w
       |  FROM (VALUES $values) v(phrase)
       |), m AS (
       |  SELECT pw.phrase, t.doc_id, g.i
       |  FROM t CROSS JOIN pw
       |  CROSS JOIN LATERAL (SELECT unnest(generate_series(
       |    1, GREATEST(len(t.a) - 2, 0))) AS i) g
       |  WHERE t.a[g.i] = pw.w[1] AND t.a[g.i + 1] = pw.w[2]
       |    AND t.a[g.i + 2] = pw.w[3]
       |)
       |SELECT phrase, doc_id, CAST(COUNT(*) AS BIGINT) AS n_occ,
       |  CAST(MIN(i) AS BIGINT) AS first_pos
       |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** d47: the composed pipeline — span dedup (d40's CTEs) → survival
    * quality gate → token recount of the CLEANED text → per-lang
    * token-budget packing (d12's rule). Integers end to end. */
  private[gates] val pipelineE2eOracleSql: String =
    s"""WITH $spanDedupCtesSql,
       |kept AS (
       |  SELECT c.doc_id, d.lang,
       |    CAST(len(regexp_split_to_array(c.clean_text, '\\s+')) AS BIGINT) AS n_tokens
       |  FROM cleaned c JOIN documents d USING (doc_id)
       |  WHERE c.n_removed * 2 <= c.n_chunks AND c.clean_text <> ''
       |), packed AS (
       |  SELECT lang, doc_id, n_tokens,
       |    COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 256 AS bin_id
       |  FROM kept
       |)
       |SELECT lang, CAST(bin_id AS BIGINT) AS bin_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
       |FROM packed GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q69 + s19 (stream ≡ batch) SCD2 oracle: base opening events UNION
    * deduped changes, one LEAD chain per key, deletes filtered after
    * closing their predecessor. Exact longs throughout. */
  private[gates] val scd2OracleSql: String =
    """WITH base AS (
      |  SELECT c_custkey AS custkey, CAST(FLOOR(c_acctbal) AS BIGINT) AS bal,
      |    CAST(0 AS BIGINT) AS ts, 'U' AS op
      |  FROM customer WHERE c_custkey <= 50
      |), ch0 AS (
      |  SELECT user_id AS custkey, CAST(FLOOR(value * 100) AS BIGINT) AS bal,
      |    epoch_us(ts) AS ts,
      |    CASE WHEN event_type = 'purchase' THEN 'D' ELSE 'U' END AS op,
      |    event_id
      |  FROM events WHERE user_id <= 50
      |), ch AS (
      |  SELECT custkey, bal, ts, op FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY custkey, ts
      |      ORDER BY event_id DESC) AS rn FROM ch0)
      |  WHERE rn = 1
      |), ev AS (
      |  SELECT custkey, bal, ts, op FROM base
      |  UNION ALL SELECT custkey, bal, ts, op FROM ch
      |), vers AS (
      |  SELECT custkey, bal, ts AS valid_from,
      |    LEAD(ts) OVER (PARTITION BY custkey ORDER BY ts) AS valid_to, op
      |  FROM ev
      |)
      |SELECT custkey, bal, valid_from, valid_to, valid_to IS NULL AS is_current
      |FROM vers WHERE op <> 'D' ORDER BY custkey, valid_from""".stripMargin

  /** d20 + s18 (stream ≡ batch) cluster-formation oracle: the portable
    * minhash pair set UNION the deterministic id chain, closed with a
    * recursive CTE to min-id component labels. */
  private[gates] val dedupClustersOracleSql: String =
    """WITH RECURSIVE tk AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      |  FROM documents WHERE doc_id % 2 = 0
      |), g AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS grams
      |  FROM tk WHERE len(t) > 1
      |), banded AS (
      |  SELECT doc_id, k,
      |    list_min(list_transform(grams, x -> md5(CAST(k AS VARCHAR) || '|' || x))) AS sig
      |  FROM g, (SELECT unnest(range(0, 8)) AS k)
      |), mh AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM banded a JOIN banded b ON a.k = b.k AND a.sig = b.sig AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 4
      |), chain AS (
      |  SELECT d.doc_id AS id_a, d.doc_id + 7 AS id_b
      |  FROM documents d JOIN documents e ON e.doc_id = d.doc_id + 7
      |  WHERE d.doc_id % 7 = 0
      |), edges AS (
      |  SELECT id_a, id_b FROM mh UNION ALL SELECT id_a, id_b FROM chain
      |), sym AS (
      |  SELECT id_a AS u, id_b AS v FROM edges UNION SELECT id_b, id_a FROM edges
      |), reach AS (
      |  SELECT u, v FROM sym
      |  UNION
      |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
      |)
      |SELECT u AS doc_id, LEAST(u, MIN(v)) AS component
      |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin

  /** d40 + s16 (stream ≡ batch) span-dedup oracle. Chunking CTEs: 0-based
    * 5-token non-overlapping chunks (list_slice clamps the tail),
    * first-occurrence key encoded as doc_id*1000000+idx (idx < 1e6 — docs
    * are short), reassembly via position-ordered string_agg (fully-removed
    * docs -> ''). */
  // def, not val: referenced by pipelineE2eOracleSql, which is declared
  // earlier in this object — a val here would still be null at that point
  private[gates] def spanDedupCtesSql: String =
    """tk AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      |  FROM documents
      |), ix AS (
      |  SELECT doc_id, t,
      |    unnest(range(0, (len(t) + 4) // 5)) AS idx FROM tk
      |), ch AS (
      |  SELECT doc_id, idx,
      |    array_to_string(list_slice(t, idx * 5 + 1, (idx + 1) * 5), ' ') AS chunk
      |  FROM ix
      |), fo AS (
      |  SELECT chunk, MIN(doc_id * 1000000 + idx) AS first_key FROM ch GROUP BY 1
      |), m AS (
      |  SELECT c.doc_id, c.idx, c.chunk,
      |    (c.doc_id * 1000000 + c.idx) = f.first_key AS kept
      |  FROM ch c JOIN fo f USING (chunk)
      |), cleaned AS (
      |  SELECT doc_id,
      |    COALESCE(string_agg(CASE WHEN kept THEN chunk END, ' ' ORDER BY idx), '') AS clean_text,
      |    CAST(COUNT(*) AS BIGINT) AS n_chunks,
      |    CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_removed
      |  FROM m GROUP BY doc_id
      |)""".stripMargin

  private[gates] val spanDedupOracleSql: String =
    s"""WITH $spanDedupCtesSql
       |SELECT doc_id, clean_text, n_chunks, n_removed
       |FROM cleaned ORDER BY doc_id""".stripMargin

  /** Stage the documents table as 3 ascending-doc_id microbatch drops and
    * return (file-source stream over them on a stateful sibling session,
    * fresh temp root for the query's state/checkpoint/sink dirs) — the
    * shared streamed-ingest scaffold of s16/s21/d42, so the batch-split
    * contract lives once. */
  private[gates] def docsThreeDropStream(s: SparkSession, d: String)
      : (DataFrame, String) = {
    import org.apache.spark.sql.types._
    val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
    val root = graft.util.TempDirs.scratch("docdrops")
    Seq((0, col("doc_id") < 167),
        (1, col("doc_id") >= 167 && col("doc_id") < 334),
        (2, col("doc_id") >= 334)).foreach { case (b, cond) =>
      graft.streaming.Streaming.writeOrderedMicrobatch(
        docs.filter(cond), s"$root/in", b)
    }
    val ss = graft.streaming.Streaming.statefulSession(s)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    (ss.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(s"$root/in"), root)
  }

  /** d57 + s22 (stream ≡ batch) PMI-collocation oracle: exact bigram/
    * margin counts, pinned-order ln, ROUND(,4), min support 10. */
  private[gates] val pmiOracleSql: String =
    """WITH tk AS (
        |  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents
        |), big AS (
        |  SELECT t[i.i] AS w1, t[i.i + 1] AS w2
        |  FROM tk, LATERAL (SELECT unnest(range(1, len(t))) AS i) i
        |  WHERE len(t) >= 2
        |), nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM big),
        |p12 AS (SELECT w1, w2, COUNT(*) AS n12 FROM big GROUP BY 1, 2),
        |p1 AS (SELECT w1, COUNT(*) AS n1 FROM big GROUP BY 1),
        |p2 AS (SELECT w2, COUNT(*) AS n2 FROM big GROUP BY 1)
        |SELECT p12.w1, p12.w2, CAST(p12.n12 AS BIGINT) AS n12,
        |  ROUND(ln(CAST(p12.n12 AS DOUBLE) * nn.n /
        |    (CAST(p1.n1 AS DOUBLE) * p2.n2)), 4) AS pmi
        |FROM p12 JOIN p1 USING (w1) JOIN p2 USING (w2) CROSS JOIN nn
        |WHERE p12.n12 >= 10
        |ORDER BY 1, 2""".stripMargin

  /** d59 + s23 (stream ≡ batch) fuzzy-decontamination oracle: the d19
    * portable md5-minhash contract over a train×eval split. */
  private[gates] val fuzzyDecontamOracleSql: String =
    """WITH tk AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      |  FROM documents
      |), g AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS grams
      |  FROM tk WHERE len(t) > 1
      |), banded AS (
      |  SELECT doc_id, k,
      |    list_min(list_transform(grams, x -> md5(CAST(k AS VARCHAR) || '|' || x))) AS sig
      |  FROM g, (SELECT unnest(range(0, 8)) AS k)
      |)
      |SELECT tr.doc_id, ev.doc_id AS eval_id, CAST(COUNT(*) AS BIGINT) AS n_matching
      |FROM banded tr JOIN banded ev ON tr.k = ev.k AND tr.sig = ev.sig
      |WHERE tr.doc_id % 7 <> 3 AND ev.doc_id % 7 = 3
      |GROUP BY 1, 2 HAVING COUNT(*) >= 4
      |ORDER BY 1, 2""".stripMargin

  /** d60 + s24 shared URL-canonicalization CTEs: the synthetic messy-URL
    * generator + the full normalization chain (fragment strip, lower
    * scheme/host, default-port strip, trailing-slash collapse, utm_*
    * filter, param sort) in DuckDB string/list primitives. Both oracles
    * append their own final projection over `canon`. */
  private[gates] val urlCanonCteSql: String =
    """WITH urls AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END) || '://' ||
      |    (CASE WHEN doc_id % 3 = 0 THEN 'WWW.SITE' || CAST(doc_id % 50 AS VARCHAR) || '.COM'
      |          ELSE 'www.site' || CAST(doc_id % 50 AS VARCHAR) || '.com' END) ||
      |    (CASE WHEN doc_id % 4 = 0 THEN ':80' WHEN doc_id % 4 = 1 THEN ':8080' ELSE '' END) ||
      |    '/a/b' || CAST(doc_id % 7 AS VARCHAR) ||
      |    (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) ||
      |    (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=x&b=2&a=1'
      |          WHEN doc_id % 3 = 1 THEN '?a=1&b=2' ELSE '' END) ||
      |    (CASE WHEN doc_id % 6 = 0 THEN '#sec' ELSE '' END) AS url
      |  FROM documents
      |), parts AS (
      |  SELECT doc_id, url,
      |    regexp_replace(regexp_extract(regexp_replace(url, '#.*$', ''), '^[A-Za-z]+://[^/?#]+([^?]*)', 1), '/+$', '') AS p0,
      |    COALESCE(array_to_string(list_sort(list_filter(string_split(
      |      regexp_extract(regexp_replace(url, '#.*$', ''), '\?(.*)$', 1), '&'),
      |      p -> NOT starts_with(p, 'utm_') AND p <> '')), '&'), '') AS sq
      |  FROM urls
      |), canon AS (
      |  SELECT doc_id,
      |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) || '://' ||
      |    regexp_replace(lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)), ':(80|443)$', '') ||
      |    (CASE WHEN p0 = '' THEN '/' ELSE p0 END) ||
      |    (CASE WHEN sq = '' THEN '' ELSE '?' || sq END) AS canonical_url
      |  FROM parts
      |)""".stripMargin

  /** d45 + s17 (stream ≡ batch) corpus-entropy oracle: per-source unigram
    * counts, -Σ p·ln p via the two-level md5-bucketed ordered fold (the
    * d39 double-portability contract with bounded buffers), exact
    * type-token ratio. */
  private[gates] val sourceEntropyOracleSql: String =
    """WITH tok AS (
      |  SELECT source,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
      |  FROM documents
      |), c AS (
      |  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
      |), t AS (
      |  SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
      |    CAST(COUNT(*) AS BIGINT) AS n_types
      |  FROM c GROUP BY 1
      |), tm AS (
      |  SELECT c.source, c.w,
      |    -(CAST(c.c AS DOUBLE) / t.n_tokens) * ln(CAST(c.c AS DOUBLE) / t.n_tokens) AS term
      |  FROM c JOIN t USING (source)
      |), hb AS (
      |  SELECT source, substr(md5(w), 1, 3) AS bk,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(term ORDER BY w)),
      |      (x, y) -> x + y) AS bs
      |  FROM tm GROUP BY 1, 2
      |), h AS (
      |  SELECT source,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(bs ORDER BY bk)),
      |      (x, y) -> x + y) AS hh
      |  FROM hb GROUP BY 1
      |)
      |SELECT h.source, t.n_tokens, t.n_types,
      |  CAST(t.n_types AS DOUBLE) / t.n_tokens AS ttr,
      |  ROUND(hh, 4) AS entropy
      |FROM h JOIN t USING (source) ORDER BY source""".stripMargin

  /** Shared oracle for q47 (batch funnel) and s10 (flatMapGroupsWithState
    * funnel state machine) — the stream must converge to the batch answer. */
  private[gates] val funnelOracleSql: String =
    """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |s1 AS (SELECT user_id, MIN(us) AS t1 FROM ev WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.us) AS t2 FROM ev e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.us > s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.us) AS t3 FROM ev e JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.us > s2.t2 GROUP BY 1)
        |SELECT s1.user_id, s1.t1, s2.t2, s3.t3,
        |  COALESCE(s3.t3 - s1.t1 <= 604800000000, FALSE) AS converted
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        |ORDER BY s1.user_id""".stripMargin

  /** Shared oracle for q43 (batch MERGE) and s08 (streamed changelog +
    * batch merge step) — both formulations must converge to this state. */
  private[gates] val cdcMergeOracleSql: String =
    """WITH snap AS (
        |  SELECT custkey, last_orderkey, last_price, last_status FROM (
        |    SELECT o_custkey AS custkey, o_orderkey AS last_orderkey,
        |      o_totalprice AS last_price, o_orderstatus AS last_status,
        |      row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn
        |    FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01') WHERE rn = 1
        |), latest AS (
        |  SELECT custkey, last_orderkey, last_price, last_status FROM (
        |    SELECT o_custkey AS custkey, o_orderkey AS last_orderkey,
        |      o_totalprice AS last_price, o_orderstatus AS last_status,
        |      row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn
        |    FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01') WHERE rn = 1
        |)
        |SELECT s.custkey, s.last_orderkey, s.last_price, s.last_status FROM snap s
        |WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.custkey = s.custkey)
        |UNION ALL
        |SELECT custkey, last_orderkey, last_price, last_status FROM latest
        |WHERE last_status <> 'F'
        |ORDER BY custkey""".stripMargin

  /** d67's blocklist, priority order; "forbidden phrase" never occurs in
    * the corpus — it exercises automaton states that never fire. */
  private[gates] val blocklistPats: Seq[String] = Seq(
    "table table", "slow fast", "fast slow", "spark vector",
    "data data", "window window", "forbidden phrase")

  /** d67's oracle: the CASE/position chain the automaton must agree with,
    * generated from the same pattern list so the two can't drift. */
  private[gates] val d67OracleSql: String = {
    val first = blocklistPats
      .map(p => s"WHEN position('$p' IN text) > 0 THEN '$p'")
      .mkString("\n    ")
    val cnt = blocklistPats
      .map(p => s"(CASE WHEN position('$p' IN text) > 0 THEN 1 ELSE 0 END)")
      .mkString("\n    + ")
    s"""SELECT doc_id,
       |  CASE $first
       |    ELSE 'clean' END AS first_hit,
       |  CAST($cnt AS BIGINT) AS n_hits
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** d90's multi-format crawl chain replayed in closed form; shared
    * verbatim by s40_stream_crawl_multiformat (stream ≡ batch). */
  private[gates] val d90OracleSql: String =
    """WITH a AS (
        |  SELECT p_partkey AS archive_id FROM part WHERE p_partkey <= 150
        |), html AS (
        |  SELECT archive_id, CAST(0 AS INT) AS record_idx, 'html' AS kind,
        |    'T' || archive_id || ' ' ||
        |    (SELECT string_agg('h' || CAST((a.archive_id * 3 + k.k * 7) % 50 AS VARCHAR),
        |       ' ' ORDER BY k.k)
        |     FROM (SELECT unnest(range(5)) AS k) k) AS text
        |  FROM a
        |), pdflines AS (
        |  SELECT a.archive_id, j.j,
        |    string_agg('w' || CAST((a.archive_id * 7 + j.j * 11 + k.k * 13) % 100 AS VARCHAR),
        |      ' ' ORDER BY k.k) AS line
        |  FROM a,
        |    LATERAL (SELECT unnest(range(3 + a.archive_id % 4)) AS j) j,
        |    LATERAL (SELECT unnest(range(4 + (a.archive_id + j.j) % 3)) AS k) k
        |  GROUP BY 1, 2
        |), pdf AS (
        |  SELECT archive_id, CAST(1 AS INT) AS record_idx, 'pdf' AS kind,
        |    string_agg(line, chr(10) ORDER BY j) AS text
        |  FROM pdflines GROUP BY archive_id
        |)
        |SELECT * FROM (SELECT * FROM html UNION ALL SELECT * FROM pdf)
        |ORDER BY archive_id, record_idx""".stripMargin

  /** d88's planted GeoTIFF rasters replayed in closed form; shared
    * verbatim by s39_stream_raster_ingest (stream ≡ batch). */
  private[gates] val d88OracleSql: String =
    """WITH r AS (
        |  SELECT p_partkey AS raster_id FROM part WHERE p_partkey <= 200
        |), good AS (
        |  SELECT r.raster_id,
        |    CAST(160 AS BIGINT) AS n_cells, TRUE AS ok,
        |    (SELECT CAST(SUM((r.raster_id * 7 + y.y * 11 + x.x * 13) % 256) AS BIGINT)
        |     FROM (SELECT unnest(range(10)) AS y) y,
        |          (SELECT unnest(range(16)) AS x) x) AS sum_value,
        |    -72 + (r.raster_id % 5) * 0.5 + 0.015625 AS lon_min,
        |    -72 + (r.raster_id % 5) * 0.5 + 0.484375 AS lon_max,
        |    11 - (r.raster_id % 3) * 0.5 - 0.296875 AS lat_min,
        |    11 - (r.raster_id % 3) * 0.5 - 0.015625 AS lat_max
        |  FROM r WHERE r.raster_id % 9 <> 0
        |), bad AS (
        |  SELECT raster_id, CAST(1 AS BIGINT) AS n_cells, FALSE AS ok,
        |    CAST(0 AS BIGINT) AS sum_value,
        |    CAST(0 AS DOUBLE) AS lon_min, CAST(0 AS DOUBLE) AS lon_max,
        |    CAST(0 AS DOUBLE) AS lat_min, CAST(0 AS DOUBLE) AS lat_max
        |  FROM r WHERE raster_id % 9 = 0
        |)
        |SELECT raster_id, n_cells, ok, sum_value,
        |  CAST(lon_min AS DOUBLE) AS lon_min, CAST(lon_max AS DOUBLE) AS lon_max,
        |  CAST(lat_min AS DOUBLE) AS lat_min, CAST(lat_max AS DOUBLE) AS lat_max
        |FROM (SELECT * FROM good UNION ALL SELECT * FROM bad)
        |ORDER BY raster_id""".stripMargin

  /** d70's planted WARC archive replayed in closed form; shared verbatim
    * by s32_stream_warc (per-archive stateless explode — the stream
    * converges to the batch ingest exactly). */
  private[gates] val d70OracleSql: String =
    """WITH a AS (
      |  SELECT p_partkey AS archive_id, 3 + p_partkey % 4 AS n_rec
      |  FROM part WHERE p_partkey <= 200
      |), rec AS (
      |  SELECT a.archive_id, CAST(r.r AS INT) AS record_idx,
      |    'http://site' || (a.archive_id % 50) || '.com/p' || r.r AS uri,
      |    40 + (a.archive_id + r.r) % 30 AS len
      |  FROM a, LATERAL (SELECT unnest(range(a.n_rec)) AS r) r
      |), sums AS (
      |  SELECT archive_id, record_idx, uri, CAST(len AS BIGINT) AS n_bytes,
      |    (SELECT CAST(SUM((archive_id * 13 + record_idx * 7 + j.j * 3) % 26 + 97) AS BIGINT)
      |     FROM (SELECT unnest(range(len)) AS j) j) AS byte_sum
      |  FROM rec
      |)
      |SELECT archive_id, record_idx, uri, n_bytes, byte_sum
      |FROM sums ORDER BY archive_id, record_idx""".stripMargin

  /** d66's full train → score replay in closed SQL: the d64 Kneser-Ney
    * CTE chain restricted to the even-keyed half (minCount 2), then each
    * odd-keyed doc's bigrams left-joined to the model and folded in pinned
    * (w1, w2) order — `list_reduce(list(-ln(p) ORDER BY w1, w2))` is the
    * exact mirror of the Spark side's sort_array fold. Shared verbatim by
    * s29_stream_perplexity (streaming serving of the same model). */
  private[gates] val d66OracleSql: String =
    """WITH tk AS (
      |  SELECT doc_id, w, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS p
      |  FROM (
      |    SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w,
      |      generate_subscripts(regexp_split_to_array(trim(lower(text)), '\s+'), 1) AS pos
      |    FROM documents)
      |  WHERE length(w) > 0
      |), big AS (
      |  SELECT a.doc_id, a.w AS w1, b.w AS w2
      |  FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND b.p = a.p + 1
      |), c12 AS (
      |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      |  FROM big WHERE doc_id % 2 = 0 GROUP BY 1, 2
      |), types AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM c12),
      |lft AS (
      |  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
      |    CAST(COUNT(*) AS BIGINT) AS n1fw FROM c12 GROUP BY 1
      |), rgt AS (
      |  SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1pw FROM c12 GROUP BY 1
      |), model AS (
      |  SELECT c.w1, c.w2,
      |    (GREATEST(CAST(c.c12 AS DOUBLE) - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE)) / l.c1)
      |    + ((CAST(0.75 AS DOUBLE) * l.n1fw) / l.c1)
      |      * (CAST(r.n1pw AS DOUBLE) / ty.t) AS p_kn
      |  FROM c12 c
      |  JOIN lft l ON l.w1 = c.w1
      |  JOIN rgt r ON r.w2 = c.w2
      |  CROSS JOIN types ty
      |  WHERE c.c12 >= 2
      |), sc AS (
      |  SELECT b.doc_id, b.w1, b.w2, m.p_kn
      |  FROM big b LEFT JOIN model m ON m.w1 = b.w1 AND m.w2 = b.w2
      |  WHERE b.doc_id % 2 = 1
      |), cnt AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |    CAST(SUM(CASE WHEN p_kn IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
      |  FROM sc GROUP BY 1
      |), nl AS (
      |  SELECT doc_id,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(-ln(p_kn) ORDER BY w1, w2)),
      |      (x, y) -> x + y) AS nll_sum
      |  FROM sc WHERE p_kn IS NOT NULL GROUP BY 1
      |)
      |SELECT c.doc_id, c.n_bigrams, c.n_oov,
      |  ROUND(n.nll_sum / (c.n_bigrams - c.n_oov), 4) AS avg_nll
      |FROM cnt c JOIN nl n ON n.doc_id = c.doc_id
      |ORDER BY c.doc_id""".stripMargin

  /** d65's full weak-label → train → score replay in closed SQL; shared
    * verbatim by s28_stream_quality (streaming serving of the same model
    * converges to batch scoring exactly). */
  private[gates] val d65OracleSql: String =
    """WITH tok AS (
      |  SELECT doc_id, w, COUNT(*) AS cnt FROM (
      |    SELECT doc_id,
      |      unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
      |    FROM documents)
      |  WHERE length(w) > 0 GROUP BY 1, 2
      |), agg AS (
      |  SELECT doc_id,
      |    CAST(SUM(cnt) AS BIGINT) AS n_words,
      |    CAST(MAX(cnt) AS BIGINT) AS top_cnt,
      |    CAST(SUM(length(w) * cnt) AS BIGINT) AS n_wchars,
      |    CAST(SUM(CASE WHEN w IN ('the','a','of','and','to')
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
      |  FROM tok GROUP BY 1
      |), tr AS (
      |  SELECT doc_id,
      |    (n_words >= 25 AND n_words <= 70 AND n_wchars >= 3 * n_words
      |     AND n_wchars <= 7 * n_words AND n_stop >= 2
      |     AND top_cnt * 8 <= n_words) AS label
      |  FROM agg WHERE doc_id % 2 = 0
      |), cls AS (
      |  SELECT CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
      |    CAST(SUM(CASE WHEN label THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
      |  FROM tr
      |), dfs AS (
      |  SELECT t.w,
      |    CAST(SUM(CASE WHEN tr.label THEN 1 ELSE 0 END) AS BIGINT) AS df_pos,
      |    CAST(SUM(CASE WHEN tr.label THEN 0 ELSE 1 END) AS BIGINT) AS df_neg
      |  FROM (SELECT DISTINCT doc_id, w FROM tok) t JOIN tr USING (doc_id)
      |  GROUP BY t.w
      |  HAVING CAST(SUM(1) AS BIGINT) >= 5
      |), wts AS (
      |  SELECT w,
      |    CASE WHEN (df_pos + 1) * (n_neg + 2) > 2 * (df_neg + 1) * (n_pos + 2) THEN 1
      |         WHEN (df_neg + 1) * (n_pos + 2) > 2 * (df_pos + 1) * (n_neg + 2) THEN -1
      |         ELSE 0 END AS wt
      |  FROM dfs, cls
      |), te AS (
      |  SELECT DISTINCT doc_id, w FROM tok WHERE doc_id % 2 = 1
      |)
      |SELECT te.doc_id, CAST(COALESCE(SUM(wts.wt), 0) AS BIGINT) AS score,
      |  COALESCE(SUM(wts.wt), 0) > 0 AS predicted
      |FROM te LEFT JOIN wts USING (w)
      |GROUP BY te.doc_id ORDER BY te.doc_id""".stripMargin

}
