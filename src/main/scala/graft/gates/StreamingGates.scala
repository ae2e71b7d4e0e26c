package graft.gates

import graft.llm.{Pii, Sampling, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import GateInputs._

/** The streaming gates (`s*`): each runs a Structured Streaming query to
  * completion; many share the oracle SQL of a batch twin. */
object StreamingGates {

  val gates: Seq[Gate] = List(
    Gate("s32_stream_warc",
      // s32: record explode is per-archive stateless, so the streamed
      // ingest converges to the batch ingest exactly — shared oracle
      d70OracleSql) { (s, d) =>
      // STREAMING crawl ingest: WARC archives arrive as a binary-column
      // stream in two ordered microbatches; the record explode
      // (Warc.warcIngest) is per-archive stateless, so the converged
      // output equals batch ingest — shares d70's oracle. This is the
      // continuous-crawl shape: archives land, records flow, no state.
      import org.apache.spark.sql.types._
      val ss = graft.streaming.Streaming.statefulSession(s)
      val build = udf((id: Long) => graft.io.Warc.syntheticWarcGz(id))
      val archives = t(ss, d, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey").cast("long").as("archive_id"))
        .withColumn("payload", build(col("archive_id")))
      val root = graft.util.TempDirs.scratch("s32")
      graft.streaming.Streaming.writeOrderedMicrobatch(
        archives.filter(col("archive_id") % 2 === 0), s"$root/in", 0)
      graft.streaming.Streaming.writeOrderedMicrobatch(
        archives.filter(col("archive_id") % 2 === 1), s"$root/in", 1)
      val schema = StructType(Seq(
        StructField("archive_id", LongType),
        StructField("payload", BinaryType)))
      val stream = graft.streaming.Streaming.availableNowFileStream(
        ss, s"$root/in", schema)
      val recs = graft.io.Warc.warcIngest(stream)
      graft.streaming.Streaming.runAvailableNow(
          recs, s"s32_warc_${System.nanoTime()}", outputMode = "append")
        .orderBy("archive_id", "record_idx")
    },
    Gate("s31_stream_blocklist",
      // s31: per-doc stateless screen — the stream converges to the batch
      // screen exactly, so it shares d67's oracle under its own key
      d67OracleSql) { (s, d) =>
      // STREAMING SERVING of the d67 automaton: the blocklist screen is
      // per-doc stateless, so the corpus streams through the SAME native
      // expression in append mode with no state store (the automaton
      // rides each microbatch's generated-code reference array).
      // Converges to batch screening exactly — shares d67's oracle.
      import org.apache.spark.sql.types._
      val ss = graft.streaming.Streaming.statefulSession(s)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val stream = graft.streaming.Streaming.availableNowFileStream(
        ss, d, schema, glob = Some("documents.parquet"))
      val idx = graft.llm.TextAnalysis.blocklistFirstHit(col("text"), blocklistPats)
      val patArr = array(blocklistPats.map(lit): _*)
      val screened = stream.select(col("doc_id"),
        when(idx >= 0, element_at(patArr, idx + 1))
          .otherwise(lit("clean")).as("first_hit"),
        coalesce(graft.llm.TextAnalysis
          .blocklistHitCount(col("text"), blocklistPats).cast("long"),
          lit(0L)).as("n_hits"))
      graft.streaming.Streaming.runAvailableNow(
          screened, s"s31_blk_${System.nanoTime()}", outputMode = "append")
        .orderBy("doc_id")
    },
    Gate("s30_stream_late_drop",
      // s30: watermark progression replayed in closed SQL — w1 = watermark
      // after batch 0 (max pre-cut non-late ts − 1 h), wf = final watermark
      // (global max ts − 1 h); batch-1 rows in windows already finalized by
      // w1 are dropped; append mode emits only windows with end <= wf
      """WITH w1 AS (
        |  SELECT MAX(ts) - INTERVAL 1 HOUR AS wm FROM events
        |  WHERE ts < TIMESTAMP '2024-01-16 00:00:00' AND event_id % 97 <> 0
        |), wf AS (
        |  SELECT MAX(ts) - INTERVAL 1 HOUR AS wm FROM events
        |), kept AS (
        |  SELECT e.ts, e.event_type FROM events e, w1
        |  WHERE e.ts >= TIMESTAMP '2024-01-16 00:00:00'
        |     OR e.event_id % 97 <> 0
        |     OR date_trunc('day', e.ts) + INTERVAL 1 DAY > w1.wm
        |)
        |SELECT CAST(date_trunc('day', k.ts) AS DATE) AS day, k.event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM kept k, wf
        |WHERE date_trunc('day', k.ts) + INTERVAL 1 DAY <= wf.wm
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      // WATERMARK LATE-DATA DROP, gated deterministically: the one
      // streaming semantic the convergence gates (s01/s25/…) can't see,
      // because a stream that drops nothing also converges. Two runs over
      // one persistent checkpoint (the watermark reloads from the offset
      // log — a read-limit split of a single run is NOT contractual):
      // run 1 sees the pre-cut events minus a planted "late" set
      // (event_id % 97 == 0); run 2 sees the rest PLUS those late rows,
      // resuming with watermark = max(run-1 ts) − 1 h, so re-injected
      // rows from already-finalized day windows are DROPPED and the rest
      // survive; append mode emits only windows finalized by the final
      // watermark. Every boundary is microsecond event-time arithmetic,
      // so the oracle replays watermark progression, the drop rule, and
      // the emission rule in closed SQL — an off-by-one in ANY of them
      // breaks the hash.
      import org.apache.spark.sql.types._
      val ss = graft.streaming.Streaming.statefulSession(s)
      val ev = t(ss, d, "events")
        .select(col("event_id"), col("ts"), col("event_type"))
      val cut = col("ts") < expr("timestamp'2024-01-16 00:00:00'")
      val isLate = col("event_id") % 97 === 0
      val root = graft.util.TempDirs.scratch("s30")
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("ts", TimestampType),
        StructField("event_type", StringType)))
      def runOnce(): Unit = {
        val stream = ss.readStream.schema(schema).parquet(s"$root/in")
        val agg = stream.withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 day"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(to_date(col("window.start")).as("day"), col("event_type"),
            col("n"))
        graft.streaming.Streaming.runAvailableNowToParquet(
          agg, s"$root/out", s"$root/ckpt")
      }
      graft.streaming.Streaming.writeOrderedMicrobatch(
        ev.filter(cut && !isLate), s"$root/in", 0)
      runOnce()
      graft.streaming.Streaming.writeOrderedMicrobatch(
        ev.filter(!cut || isLate), s"$root/in", 1)
      runOnce()
      ss.read.parquet(s"$root/out").orderBy("day", "event_type")
    },
    Gate("s01_stream_window",
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
        | COUNT(*) AS n, ROUND(SUM(value),2) AS total
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      // §2.8: watermarked tumbling-window streaming agg, driven to completion
      // with Trigger.AvailableNow — must converge to the batch answer (the
      // DuckDB oracle computes the batch equivalent)
      val agg = graft.streaming.Streaming.windowedEventCounts(
        eventsStream(graft.streaming.Streaming.statefulSession(s), d))
      graft.streaming.Streaming.runAvailableNow(agg, s"s01_win_${System.nanoTime()}")
        .select(to_date(col("window_start")).as("day"), col("event_type"), col("n"),
          round(col("total"), 2).as("total"))
        .orderBy("day", "event_type")
    },
    Gate("s25_stream_ohlc",
      // s25: the streaming twin shares q89's exact-bars oracle (stream must
      // converge to batch)
      """SELECT event_type, date_trunc('hour', ts) AS bar_ts,
        |  arg_min(value, ts) AS open, MAX(value) AS high, MIN(value) AS low,
        |  arg_max(value, ts) AS close, CAST(COUNT(*) AS BIGINT) AS volume
        |FROM events GROUP BY event_type, date_trunc('hour', ts)
        |ORDER BY event_type, bar_ts""".stripMargin) { (s, d) =>
      // STREAMING OHLC resample: q89's bars as a watermarked
      // tumbling-window agg. min_by/max_by picks merge incrementally
      // (one (ts, value) champion per partial), so state is one O(1)
      // tuple per open bar — bounded by bars, not ticks — and the
      // watermark finalizes them. Shares q89's oracle: the stream must
      // converge to the batch bars bit-for-bit.
      val stream = eventsStream(graft.streaming.Streaming.statefulSession(s), d)
      val bars = graft.streaming.Streaming.ohlcBarsStream(
        stream, Seq("event_type"))
      graft.streaming.Streaming.runAvailableNow(
          bars, s"s25_ohlc_${System.nanoTime()}")
        .select(col("event_type"), col("bar_ts"), col("open"), col("high"),
          col("low"), col("close"), col("volume"))
        .orderBy("event_type", "bar_ts")
    },
    Gate("s02_stream_dedup",
      """SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type""") { (s, d) =>
      // §2.8 exactly-once dedup as a stream: first-seen (user_id, event_type)
      // pairs against checkpointed state — must converge to batch DISTINCT
      val stream = eventsStream(graft.streaming.Streaming.statefulSession(s), d)
      val deduped = graft.streaming.Streaming.dedupedStream(
        stream, Seq("user_id", "event_type"))
      graft.streaming.Streaming.runAvailableNow(
          deduped, s"s02_dedup_${System.nanoTime()}", outputMode = "append")
        .orderBy("user_id", "event_type")
    },
    Gate("s20_stream_dedup_bounded",
      // s20: the bounded-state variant with a horizon wider than the corpus
      // span converges to the same DISTINCT — shared oracle.
      """SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type""") { (s, d) =>
      // BOUNDED-STATE streaming dedup (dropDuplicatesWithinWatermark):
      // s02's semantics with state the watermark can evict. The 90-day
      // horizon exceeds the corpus's 30-day span, so nothing expires
      // during the run and the converged output equals batch DISTINCT —
      // s20 shares s02's oracle; the re-emission-after-expiry semantics
      // is StreamingSpec's three-drop case.
      val stream = eventsStream(graft.streaming.Streaming.statefulSession(s), d)
      val deduped = graft.streaming.Streaming.dedupedStreamBounded(
        stream, Seq("user_id", "event_type"), "ts", "90 days")
      graft.streaming.Streaming.runAvailableNow(
          deduped, s"s20_dedup_${System.nanoTime()}", outputMode = "append")
        .orderBy("user_id", "event_type")
    },
    Gate("s28_stream_quality",
      // s28 serves the d65 model over a stream of the same odd-keyed docs and
      // converges to the batch scoring exactly, so it shares d65's oracle —
      // duplicated under its own key so the gate is hash-checked (the driver
      // treats a missing key as rows-only).
      d65OracleSql) { (s, d) =>
      // STREAMING quality-classifier SERVING (the d65 model applied to an
      // arriving corpus): weights train batch-side on the even-keyed half
      // and ship to executors as a broadcast map — the standard
      // model-serving shape (the weight table is df-floored and
      // integer-valued; at corpus scale it is vocab-bounded, the same
      // budget a fastText quality model ships) — and the odd-keyed docs
      // stream through a STATELESS score: append mode, no state store,
      // tokenization by the SAME Spark expression as the batch path.
      // Converges to batch scoring exactly — shares d65's oracle.
      import org.apache.spark.sql.types._
      val ss = graft.streaming.Streaming.statefulSession(s)
      val docs = t(ss, d, "documents")
      val trainDocs = docs.filter(col("doc_id") % 2 === 0)
      val labels = graft.llm.TextAnalysis.gopherRules(trainDocs)
        .select(col("doc_id"), col("accepted").as("label"))
      val wts = graft.llm.TextAnalysis
        .oddsRatioWeights(trainDocs.join(labels, "doc_id"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val bc = ss.sparkContext.broadcast(wts)
      val score = udf { (ws: Seq[String]) =>
        if (ws == null) 0L
        else { var acc = 0L; ws.foreach(w => acc += bc.value.getOrElse(w, 0L)); acc }
      }
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val stream = graft.streaming.Streaming.availableNowFileStream(
          ss, d, schema, glob = Some("documents.parquet"))
        .filter(col("doc_id") % 2 === 1)
      // Docs with no non-empty token never survive d65's explode-based
      // scoring (the oracle's tok CTE drops them), so the stream must drop
      // them too rather than emit (doc_id, 0, false).
      val toks = array_distinct(filter(
        graft.llm.TextAnalysis.tokens(col("text")), w => length(w) > 0))
      val scored = stream
        .withColumn("toks", toks)
        .filter(size(col("toks")) > 0)
        .select(col("doc_id"), score(col("toks")).as("score"))
        .withColumn("predicted", col("score") > 0)
      graft.streaming.Streaming.runAvailableNow(
          scored, s"s28_quality_${System.nanoTime()}", outputMode = "append")
        .orderBy("doc_id")
    },
    Gate("s29_stream_perplexity", d66OracleSql) { (s, d) =>
      // STREAMING LM-perplexity SERVING (the d66 model applied to an
      // arriving corpus): the KN bigram table trains batch-side on the
      // even half and ships as a broadcast map (vocab-bounded — the
      // budget a KenLM binary occupies); odd docs stream through a
      // STATELESS scorer (append mode, no state store) whose per-doc
      // fold replays d66's pinned (w1, w2) order — the UDF compares
      // UTF-8 bytes, which IS Spark's UTF8String sort order and DuckDB's
      // binary collation. Converges to batch scoring exactly — shares
      // d66's oracle.
      import org.apache.spark.sql.types._
      val ss = graft.streaming.Streaming.statefulSession(s)
      val docs = t(ss, d, "documents")
      val model = graft.llm.TextAnalysis.kneserNeyBigram(
          docs.filter(col("doc_id") % 2 === 0), "text",
          discount = 0.75, minCount = 2)
        .select("w1", "w2", "p_kn").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
      val bc = ss.sparkContext.broadcast(model)
      val scoreFn = udf { (ws: Seq[String]) =>
        def cmpB(a: String, b: String): Int = {
          val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
          var j = 0
          while (j < x.length && j < y.length) {
            val c = (x(j) & 0xFF) - (y(j) & 0xFF)
            if (c != 0) return c
            j += 1
          }
          x.length - y.length
        }
        val m = bc.value
        var nBig = 0L; var nOov = 0L
        val terms = scala.collection.mutable.ArrayBuffer.empty[(String, String, Double)]
        var i = 0
        while (i + 1 < ws.length) {
          nBig += 1
          m.get((ws(i), ws(i + 1))) match {
            case Some(p) => terms += ((ws(i), ws(i + 1), -math.log(p)))
            case None    => nOov += 1
          }
          i += 1
        }
        val sorted = terms.sortWith { (p, q) =>
          val c1 = cmpB(p._1, q._1)
          if (c1 != 0) c1 < 0 else cmpB(p._2, q._2) < 0
        }
        var acc = 0.0
        sorted.foreach(t => acc += t._3)
        (nBig, nOov, acc)
      }
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val toks = graft.llm.TextAnalysis.tokens(col("text"))
      val stream = graft.streaming.Streaming.availableNowFileStream(
          ss, d, schema, glob = Some("documents.parquet"))
        .filter(col("doc_id") % 2 === 1)
        .filter(size(toks) >= 2)
      val scoredPpl = stream
        .select(col("doc_id"), scoreFn(toks).as("r"))
        .select(col("doc_id"), col("r._1").as("n_bigrams"),
          col("r._2").as("n_oov"), col("r._3").as("nll_sum"))
        .filter(col("n_bigrams") - col("n_oov") > 0)
        .select(col("doc_id"), col("n_bigrams"), col("n_oov"),
          round(col("nll_sum") / (col("n_bigrams") - col("n_oov")), 4)
            .as("avg_nll"))
      graft.streaming.Streaming.runAvailableNow(
          scoredPpl, s"s29_ppl_${System.nanoTime()}", outputMode = "append")
        .orderBy("doc_id")
    },
    Gate("s03_stream_corpus_clean",
      """WITH q AS (
        |  SELECT DISTINCT text,
        |    CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS INTEGER) AS n_tokens
        |  FROM documents
        |  WHERE length(text) >= 50
        |    AND len(regexp_split_to_array(trim(lower(text)), '\s+')) >= 10
        |    AND CASE WHEN length(text) > 0 THEN
        |      CAST(length(regexp_replace(text, '[^.,;:!?''"()\[\]-]', '', 'g')) AS DOUBLE) / length(text)
        |    END <= 0.25
        |), toks AS (
        |  SELECT text, n_tokens, regexp_split_to_array(trim(lower(text)), '\s+') AS tk FROM q
        |), hits AS (
        |  SELECT text, n_tokens,
        |    len(list_filter(tk, t -> list_contains(['der','die','und','in','den','von','zu','das','mit','sich','des','auf'], t))) AS h_de,
        |    len(list_filter(tk, t -> list_contains(['the','and','of','to','in','is','that','it','for','was','with','are'], t))) AS h_en,
        |    len(list_filter(tk, t -> list_contains(['el','la','de','que','y','en','los','del','se','las','por','un'], t))) AS h_es,
        |    len(list_filter(tk, t -> list_contains(['le','la','de','et','les','des','en','un','du','une','que','est'], t))) AS h_fr,
        |    len(list_filter(tk, t -> list_contains(['de','a','o','que','e','do','da','em','um','para','com','os'], t))) AS h_pt
        |  FROM toks
        |), pred AS (
        |  SELECT text, n_tokens,
        |    CASE WHEN m = 0 OR ((h_de = m)::INT + (h_en = m)::INT + (h_es = m)::INT
        |                        + (h_fr = m)::INT + (h_pt = m)::INT) > 1 THEN NULL
        |         WHEN h_pt = m THEN 'pt' WHEN h_fr = m THEN 'fr' WHEN h_es = m THEN 'es'
        |         WHEN h_en = m THEN 'en' ELSE 'de' END AS lang_pred
        |  FROM (SELECT *, greatest(h_de, h_en, h_es, h_fr, h_pt) AS m FROM hits) x
        |)
        |SELECT md5(text) AS text_md5, n_tokens, lang_pred FROM pred
        |WHERE lang_pred IN ('en','es') ORDER BY text_md5""".stripMargin) { (s, d) =>
      // streaming corpus cleaning: stateless quality/langid stages + text-hash
      // dropDuplicates against checkpointed state; converges to the batch
      // clean (d10) modulo WHICH duplicate survives — so the output is keyed
      // by md5(text), identical whichever twin the state store kept
      import org.apache.spark.sql.types._
      val ss = graft.streaming.Streaming.statefulSession(s)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val stream = graft.streaming.Streaming.availableNowFileStream(
        ss, d, schema, glob = Some("documents.parquet"))
      val cleaned = graft.llm.CorpusPipeline.cleanStream(stream,
          cfg = graft.llm.CorpusCleanConfig(minChars = 50, minTokens = 10,
            maxPunctRatio = 0.25, keepLangs = Set("en", "es"), nearDup = false))
        .select(md5(col("text")).as("text_md5"), col("n_tokens"), col("lang_pred"))
      graft.streaming.Streaming.runAvailableNow(
          cleaned, s"s03_clean_${System.nanoTime()}", outputMode = "append")
        .orderBy("text_md5")
    },
    Gate("s05_stream_interval_join",
      """SELECT p.event_id AS p_event_id, e.event_id AS e_event_id
        |FROM events p JOIN events e
        | ON e.user_id = p.user_id
        | AND epoch_us(e.ts) > epoch_us(p.ts)
        | AND epoch_us(e.ts) <= epoch_us(p.ts) + 7200000000
        |WHERE p.event_type = 'purchase'
        |ORDER BY p_event_id, e_event_id""".stripMargin) { (s, d) =>
      // STREAM-STREAM interval join: purchases stream x events stream, same
      // user, event in (t0, t0+2h] — watermarked state on both sides, must
      // converge to the batch inequality join (the q32 pair set)
      val ss = graft.streaming.Streaming.statefulSession(s)
      def stream() = eventsStream(ss, d)
      val purchases = stream().filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_event_id"), col("ts").as("pts"))
      val others = stream()
        .select(col("user_id"), col("event_id").as("e_event_id"), col("ts").as("ets"))
      val joined = graft.streaming.Streaming.intervalJoin(
        purchases, others, Seq("user_id"), "pts", "ets", windowUs = 7200000000L)
      graft.streaming.Streaming.runAvailableNow(
          joined.select(col("p_event_id"), col("e_event_id")),
          s"s05_ij_${System.nanoTime()}", outputMode = "append")
        .orderBy("p_event_id", "e_event_id")
    },
    Gate("s27_stream_ewma",
      // s27: the streaming twin shares q91's fold oracle (stream ≡ batch)
      """SELECT user_id,
        |  list_reduce(list(value ORDER BY ts, event_id),
        |    (e, x) -> e * 0.5 + x * 0.5) AS ewma
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      // STREAMING EWMA: q91's pinned-order fold as custom keyed state —
      // O(1) state per key (last position + running e), per-batch event
      // ordering enforced (out-of-order folds loud-fail, the
      // transitionStream contract), Update-mode emission. The max-n_seen
      // row per key is the live value; the converged fold must equal
      // the batch operator bit-for-bit (shares q91's oracle).
      val ss = graft.streaming.Streaming.statefulSession(s)
      import ss.implicits._
      val ev = eventsStream(ss, d)
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_id"), col("value"))
        .as[graft.streaming.Streaming.EwmaEvent]
      val out = graft.streaming.Streaming.runAvailableNow(
        graft.streaming.Streaming.ewmaStream(ev, alpha = 0.5),
        s"s27_ewma_${System.nanoTime()}", outputMode = "update")
      out.withColumn("__rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("user_id")
            .orderBy(col("n_seen").desc)))
        .filter(col("__rk") === 1)
        .select(col("user_id"), col("ewma"))
        .orderBy("user_id")
    },
    Gate("s26_stream_interval_join_outer",
      // s26: the LEFT JOIN twin over the watermark-finalized prefix
      // (max ts − 1 day − window − 1 h margin); unmatched rows as −1
      """WITH mx AS (SELECT MAX(epoch_us(ts)) AS m FROM events)
        |SELECT p.event_id AS p_event_id,
        |  COALESCE(e.event_id, -1) AS e_event_id
        |FROM events p
        |LEFT JOIN events e
        | ON e.user_id = p.user_id
        | AND epoch_us(e.ts) > epoch_us(p.ts)
        | AND epoch_us(e.ts) <= epoch_us(p.ts) + 7200000000
        |CROSS JOIN mx
        |WHERE p.event_type = 'purchase'
        |  AND epoch_us(p.ts) <= mx.m - 86400000000 - 7200000000 - 3600000000
        |ORDER BY p_event_id, e_event_id""".stripMargin) { (s, d) =>
      // LEFT-OUTER stream-stream interval join: s05's pair set PLUS a
      // null-extended row per matchless purchase, emitted only once the
      // watermark proves no match can arrive (availableNow's no-data
      // flush batch). Both engines restrict to purchases the FINAL
      // watermark (max ts − 1 day) provably finalized — window + 1h
      // margin — so the stream output is deterministic and must equal
      // the batch LEFT JOIN exactly; nulls surface as −1 (the
      // COALESCE-before-hash contract).
      val ss = graft.streaming.Streaming.statefulSession(s)
      def stream() = eventsStream(ss, d)
      val purchases = stream().filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_event_id"), col("ts").as("pts"))
      val others = stream()
        .select(col("user_id"), col("event_id").as("e_event_id"), col("ts").as("ets"))
      val joined = graft.streaming.Streaming.intervalJoinOuter(
        purchases, others, Seq("user_id"), "pts", "ets", windowUs = 7200000000L)
      val out = graft.streaming.Streaming.runAvailableNow(
        joined.select(col("p_event_id"), col("pts"), col("e_event_id")),
        s"s26_ijo_${System.nanoTime()}", outputMode = "append")
      val maxUs = t(ss, d, "events")
        .agg(max(unix_micros(col("ts")))).head().getLong(0)
      val cutoff = maxUs - 86400000000L - 7200000000L - 3600000000L
      out.filter(unix_micros(col("pts")) <= cutoff)
        .select(col("p_event_id"),
          coalesce(col("e_event_id"), lit(-1L)).as("e_event_id"))
        .orderBy("p_event_id", "e_event_id")
    },
    Gate("s06_stream_neardup_ingest",
      // s06 pins a streamed-equals-batch equivalence computed in Spark (the
      // q37/v03 constant-oracle property pattern): the streamed ingest result
      // must equal the batch keepRepresentatives formulation, whose pair
      // algorithm is itself d04/d19-gated. Custom-hash pairs have no SQL twin.
      "SELECT TRUE AS stream_matches_batch") { (s, d) =>
      // STREAMING NEAR-DUP INGEST (Streaming.nearDupIngestStream): documents
      // stream through a per-microbatch LSH check against the persisted
      // index + in-batch transitive clustering, survivors append to corpus
      // and index. Gate: the streamed result must equal the batch
      // formulation (keepRepresentatives over minhashLsh pairs) — computed
      // both ways IN Spark and pinned as a boolean (the q37/v03 property
      // pattern; the pair algorithms themselves are d04/d19-gated). The
      // custom-hash pair set has no SQL twin, hence the constant oracle.
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val root = graft.util.TempDirs.scratch("s06")
      docs.write.parquet(s"$root/docs")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      val stream = graft.streaming.Streaming.availableNowFileStream(
        s, s"$root/docs", schema)
      graft.streaming.Streaming.nearDupIngestStream(
          stream, s"$root/index", s"$root/ckpt")(
          (keep, bid) => keep.write.mode("overwrite")
            .parquet(s"$root/corpus/batch=$bid"))
        .awaitTermination()
      val streamed = s.read.parquet(s"$root/corpus").select(col("doc_id"))
      val batch = graft.ops.ConnectedComponents.keepRepresentatives(
          docs, "doc_id", graft.llm.Dedup.minhashLsh(docs, "doc_id"))
        .select(col("doc_id"))
      // multiset equality in ONE action (the d27 lesson): two
      // exceptAll().isEmpty actions re-ran the whole batch-formulation
      // subtree (minhashLsh + CC) twice; per-key count compare over a
      // full outer join is the same boolean — ids are longs, so
      // multiset equality ⇔ equal per-id multiplicities — at one pass
      val equal = streamed.groupBy("doc_id")
        .agg(count(lit(1)).as("n_s"))
        .join(batch.groupBy("doc_id").agg(count(lit(1)).as("n_b")),
          Seq("doc_id"), "full_outer")
        .filter(coalesce(col("n_s"), lit(0L)) =!= coalesce(col("n_b"), lit(0L)))
        .limit(1).count() == 0
      import s.implicits._
      Seq(equal).toDF("stream_matches_batch")
    },
    Gate("s16_stream_span_dedup",
      // s16 streams the same corpus in ascending-doc_id microbatches through
      // the persisted seen-chunk index; first-occurrence-wins order matches
      // the batch formulation, so the streamed corpus shares d40's oracle
      // verbatim.
      spanDedupOracleSql) { (s, d) =>
      // STREAMING SPAN DEDUP (Streaming.spanDedupIngestStream): documents
      // arrive in 3 ascending-doc_id microbatches; each batch removes
      // chunks already in the persisted seen-chunk index, dedups the rest
      // batch-locally, appends cleaned docs to the corpus sink and new
      // chunk keys to the index. Because batch order follows doc_id
      // order, the converged corpus must equal d40's batch result — s16
      // shares d40's SQL oracle VERBATIM (batch files get explicit
      // ascending mtimes; the file source processes oldest-first).
      val (stream, root) = docsThreeDropStream(s, d)
      graft.streaming.Streaming.spanDedupIngestStream(
          stream, s"$root/index", s"$root/ckpt", compactAfterDirs = 1)(
          (clean, bid) => clean.write.mode("overwrite")
            .parquet(s"$root/out/batch=$bid"))
        .awaitTermination()
      s.read.parquet(s"$root/out")
        .select("doc_id", "clean_text", "n_chunks", "n_removed")
        .orderBy("doc_id")
    },
    Gate("s04_stream_session",
      """WITH s AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 7200000000 THEN 1 ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), t AS (
        |  SELECT user_id, ts, value,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM s)
        |SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n,
        | ROUND(SUM(value),2) AS total
        |FROM t GROUP BY user_id, session_seq
        |ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
      // STREAMING sessionization: native session_window with watermarked
      // state, driven to completion — must converge to the batch
      // gaps-and-islands answer (merge while gap < 2 h)
      val sess = graft.streaming.Streaming.sessionWindowedCounts(
        eventsStream(graft.streaming.Streaming.statefulSession(s), d), Seq("user_id"), gap = "2 hours")
      graft.streaming.Streaming.runAvailableNow(sess, s"s04_sess_${System.nanoTime()}")
        .select(col("user_id"), col("session_start"), col("n"),
          round(col("total"), 2).as("total"))
        .orderBy(col("user_id"), col("session_start"))
    },
    Gate("s18_stream_cc",
      // s18 folds the SAME edge set into the versioned component map one
      // microbatch at a time; CC is batching-insensitive, so the converged
      // map shares d20's closure oracle verbatim.
      dedupClustersOracleSql) { (s, d) =>
      // STREAMING INCREMENTAL CC (Streaming.incrementalCcStream): d20's
      // edge set arrives in 3 microbatches; each folds into the versioned
      // (id, component) map with the previous map re-entering as
      // id→component edges (history compresses to O(V) rows). CC is
      // batching-insensitive, so the converged map equals the batch
      // labelling — s18 shares d20's recursive-CTE oracle verbatim.
      val docs = t(s, d, "documents").select(col("doc_id"))
      val chain = docs.filter(expr("doc_id % 7 = 0"))
        .select(col("doc_id").as("id_a"), (col("doc_id") + 7).as("id_b"))
        .join(docs.withColumnRenamed("doc_id", "id_b"), Seq("id_b"))
        .select(col("id_a"), col("id_b"))
      val edges = minhashSqlPairs(s, d).select(col("id_a"), col("id_b"))
        .unionByName(chain)
      val root = graft.util.TempDirs.scratch("s18")
      edges.repartition(3).write.parquet(s"$root/edges")
      val ss = graft.streaming.Streaming.statefulSession(s)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id_a",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("id_b",
          org.apache.spark.sql.types.LongType)))
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/edges")
      graft.streaming.Streaming.incrementalCcStream(
          stream, s"$root/map", s"$root/ckpt")
        .awaitTermination()
      graft.streaming.Streaming.latestIvmView(s, s"$root/map")
        .select(col("id").as("doc_id"), col("component"))
        .orderBy("doc_id")
    },
    Gate("s23_stream_fuzzy_decontam",
      // s23 screens the same training corpus one microbatch at a time
      // against the static broadcast eval signatures; the screen is per-doc
      // independent (batching-insensitive), so the converged union shares
      // d59's oracle verbatim.
      fuzzyDecontamOracleSql) { (s, d) =>
      // STREAMING fuzzy decontamination: the eval-set signatures are
      // STATIC (checkpointed once, broadcast into every batch's screen)
      // while training documents arrive in 3 microbatches; each batch is
      // screened independently — the per-doc screen is batching-
      // insensitive — and flagged pairs land under out/batch=<id>
      // (mode overwrite ⇒ crash-replay idempotent, the s16 contract).
      // Converged union ≡ batch d59, shared oracle verbatim. This is the
      // ingest-time shape: eval sets change rarely, the corpus streams.
      import org.apache.spark.sql.types._
      val ss = graft.streaming.Streaming.statefulSession(s)
      val docs = t(ss, d, "documents")
      // sign the static eval set ONCE (checkpointed (eval_id, k, sig)
      // rows) — each microbatch used to re-tokenize/re-md5 the eval docs
      // before broadcasting, one redundant job per batch
      val evalSigs = graft.llm.Decontamination.bandedPortableSignatures(
        docs.filter(col("doc_id") % 7 === 3), "eval_id").localCheckpoint()
      val train = docs.filter(col("doc_id") % 7 =!= 3)
      val root = graft.util.TempDirs.scratch("s23")
      (0 until 3).foreach { b =>
        graft.streaming.Streaming.writeOrderedMicrobatch(
          train.filter(col("doc_id") % 3 === b), s"$root/in", b)
      }
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
      stream.writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          graft.llm.Decontamination.fuzzyContaminationAgainstSigs(
              batch, evalSigs)
            .write.mode("overwrite").parquet(s"$root/out/batch=$bid")
          ()
        }
        .start().awaitTermination()
      ss.read.parquet(s"$root/out")
        .select(col("doc_id"), col("eval_id"), col("n_matching"))
        .orderBy("doc_id", "eval_id")
    },
    Gate("s24_stream_url_dedup",
      // s24: the same canonicalization streamed with a stateful min(doc_id)
      // per canonical key — min is batching-order-free, so the converged
      // state equals the batch keep set (d60's projection minus the counts)
      (urlCanonCteSql +
      """
        |SELECT canonical_url, MIN(doc_id) AS keep_id
        |FROM canon GROUP BY 1 ORDER BY 1""".stripMargin)) { (s, d) =>
      // STREAMING fetch-level URL dedup: the d60 canonicalization as a
      // narrow projection ON the stream + a stateful min(doc_id)
      // aggregation per canonical key, update mode, converged state read
      // once from the checkpoint (the s22 statestore pattern) — the
      // ingest-time shape: fetches arrive continuously, each batch emits
      // only the keys it touched, and the final keep set is DETERMINISTIC
      // under any batch split (min is order-free — a stateful
      // dropDuplicates would pick arbitrarily within a batch). Kept set
      // equals batch d60's keep_id column; the oracle replays exactly
      // that projection.
      import org.apache.spark.sql.types._
      val ss = graft.streaming.Streaming.statefulSession(s)
      val id = col("doc_id")
      val urls = t(ss, d, "documents").select(id,
        concat(
          when(id % 2 === 0, "HTTP").otherwise("https"), lit("://"),
          when(id % 3 === 0, concat(lit("WWW.SITE"), id % 50, lit(".COM")))
            .otherwise(concat(lit("www.site"), id % 50, lit(".com"))),
          when(id % 4 === 0, ":80")
            .when(id % 4 === 1, ":8080").otherwise(""),
          lit("/a/b"), id % 7,
          when(id % 5 === 0, "/").otherwise(""),
          when(id % 3 === 0, "?utm_source=x&b=2&a=1")
            .when(id % 3 === 1, "?a=1&b=2").otherwise(""),
          when(id % 6 === 0, "#sec").otherwise("")).as("url"))
      val root = graft.util.TempDirs.scratch("s24")
      (0 until 3).foreach { b =>
        graft.streaming.Streaming.writeOrderedMicrobatch(
          urls.filter(id >= b * 200 && (id < (b + 1) * 200 || b == 2)),
          s"$root/in", b)
      }
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("url", StringType)))
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
        .withColumn("canonical_url", graft.llm.Urls.canonicalizeUrl(col("url")))
      val st = graft.streaming.Streaming.runAvailableNowUpdateFinalState(
        stream.groupBy("canonical_url").agg(min(col("doc_id")).as("keep_id")),
        s"s24_url_${System.nanoTime()}",
        graft.util.TempDirs.scratch("s24ck"))
      st.select(col("key.canonical_url").as("canonical_url"),
          col("value.min").as("keep_id"))
        .orderBy("canonical_url")
    },
    Gate("s07_stream_pii",
      // the streaming scrub is stateless, so its availableNow output is the
      // batch result bit for bit — same oracle as d23
      """WITH p AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 3 = 0
        |         THEN ' mail user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
        |    || CASE WHEN doc_id % 4 = 0
        |         THEN ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.7' ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0
        |         THEN ' call +1 555 014 ' || lpad(CAST(doc_id % 100 AS VARCHAR), 4, '0') ELSE '' END
        |    AS s
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
        |  CAST(len(regexp_extract_all(s, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INTEGER) AS n_ipv4,
        |  CAST(len(regexp_extract_all(s, '\+\d{1,3}[ -]\d{2,4}[ -]\d{2,4}[ -]\d{2,4}')) AS INTEGER) AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(s,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+\d{1,3}[ -]\d{2,4}[ -]\d{2,4}[ -]\d{2,4}', '<PHONE>', 'g') AS redacted
        |FROM p ORDER BY doc_id""".stripMargin) { (s, d) =>
      // streaming PII scrub: the redaction pass is STATELESS (narrow
      // per-row regex projection), so it attaches to a stream unchanged —
      // no watermark, no state store — and the availableNow output is
      // bit-identical to the batch d23, hash-checked against the SAME
      // DuckDB oracle. The operational point: scrubbing is safe to run
      // in-flight on ingest, not as a separate batch rewrite.
      import org.apache.spark.sql.types._
      val ss = graft.streaming.Streaming.statefulSession(s)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val stream = graft.streaming.Streaming.availableNowFileStream(
        ss, d, schema, glob = Some("documents.parquet"))
      val id = col("doc_id")
      val withPii = stream.withColumn("text", concat(
        col("text"),
        when(id % 3 === 0,
          concat(lit(" mail user"), id, lit("@example.com"))).otherwise(lit("")),
        when(id % 4 === 0,
          concat(lit(" from 10."), id % 200, lit(".0.7"))).otherwise(lit("")),
        when(id % 5 === 0,
          concat(lit(" call +1 555 014 "),
            lpad((id % 100).cast("string"), 4, "0"))).otherwise(lit(""))))
      val scrubbed = Pii.redact(Pii.piiStats(withPii), outCol = "redacted")
        .select(col("doc_id"), col("n_emails"), col("n_ipv4"), col("n_phones"),
          col("redacted"))
      graft.streaming.Streaming.runAvailableNow(
          scrubbed, s"s07_pii_${System.nanoTime()}", outputMode = "append")
        .orderBy("doc_id")
    },
    Gate("s38_stream_mp3_ingest", mp3WalkOracleSql) { (s, d) =>
      // the audio twin of s37: m25's MP3 frame-header walk on an
      // ARRIVING stream — stateless append-mode metadata extraction
      // across 3 microbatches, accumulated sink ≡ the one-shot batch
      // walk (shares m25's closed-form oracle verbatim).
      import org.apache.spark.sql.types._
      val keys = t(s, d, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey").cast("long").as("media_id"))
      val root = graft.util.TempDirs.scratch("s38drops")
      Seq((0, col("media_id") < 66), (1, col("media_id") >= 66 &&
          col("media_id") < 132), (2, col("media_id") >= 132))
        .foreach { case (b, cond) =>
          graft.streaming.Streaming.writeOrderedMicrobatch(
            keys.filter(cond), s"$root/in", b)
        }
      val ss = graft.streaming.Streaming.statefulSession(s)
      val schema = StructType(Seq(StructField("media_id", LongType)))
      val build = udf((id: Long) => graft.llm.Mp3.syntheticMp3(id))
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
        .withColumn("payload", build(col("media_id")))
      graft.streaming.Streaming.runAvailableNow(
          graft.llm.Mp3.mp3Stats(stream),
          s"s38_mp3_${System.nanoTime()}", outputMode = "append")
        .orderBy("media_id")
    },
    Gate("s40_stream_crawl_multiformat", d90OracleSql) { (s, d) =>
      // STREAMING multi-format crawl ingest: d90's chain (WARC walk →
      // bytes-preserving explode → content sniff → HTML/PDF extraction)
      // on ARRIVING archives — stateless narrow maps in append mode, 3
      // microbatches, converged sink ≡ the batch chain (shares d90's
      // oracle verbatim). The Common-Crawl-refresh shape: text extracts
      // as archives land, no re-scan.
      import org.apache.spark.sql.types._
      val keys = t(s, d, "part").filter(col("p_partkey") <= 150)
        .select(col("p_partkey").cast("long").as("archive_id"))
      val root = graft.util.TempDirs.scratch("s40drops")
      Seq((0, col("archive_id") < 50), (1, col("archive_id") >= 50 &&
          col("archive_id") < 100), (2, col("archive_id") >= 100))
        .foreach { case (b, cond) =>
          graft.streaming.Streaming.writeOrderedMicrobatch(
            keys.filter(cond), s"$root/in", b)
        }
      val ss = graft.streaming.Streaming.statefulSession(s)
      val schema = StructType(Seq(StructField("archive_id", LongType)))
      val build = udf((id: Long) => graft.io.Warc.syntheticCrawlWarc(id))
      val pdfText = udf((b: Array[Byte]) =>
        graft.llm.Pdf.extractPdfText(b).orNull)
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
        .withColumn("payload", build(col("archive_id")))
      val extracted = graft.io.Warc.warcIngestRaw(stream)
        .withColumn("kind",
          when(expr("startswith(cast(body as string), '%PDF-')"), lit("pdf"))
            .otherwise(lit("html")))
        .withColumn("text",
          when(col("kind") === "pdf", pdfText(col("body")))
            .otherwise(graft.llm.TextAnalysis.htmlToText(
              col("body").cast("string"))))
        .select(col("archive_id"), col("record_idx"), col("kind"), col("text"))
      graft.streaming.Streaming.runAvailableNow(
          extracted, s"s40_crawl_${System.nanoTime()}", outputMode = "append")
        .orderBy("archive_id", "record_idx")
    },
    Gate("s39_stream_raster_ingest", d88OracleSql) { (s, d) =>
      // STREAMING RASTER INGEST: d88's real-bytes GeoTIFF path on an
      // ARRIVING stream — tiles land, cells explode, per-raster stats
      // accumulate; the quarantine rows flow the same way (a corrupt
      // tile mid-stream must mark, never kill the query). Stateless
      // narrow map + per-batch grouped APPEND via the per-raster
      // aggregation done batch-side on the converged sink: here the
      // stream emits CELLS (append mode) and the final aggregation runs
      // on the accumulated table — shares d88's oracle verbatim
      // (stream ≡ batch). The WorldPop-refresh shape: zonal inputs
      // update as raster tiles arrive.
      import org.apache.spark.sql.types._
      val keys = t(s, d, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey").cast("long").as("raster_id"))
      val root = graft.util.TempDirs.scratch("s39drops")
      Seq((0, col("raster_id") < 66), (1, col("raster_id") >= 66 &&
          col("raster_id") < 132), (2, col("raster_id") >= 132))
        .foreach { case (b, cond) =>
          graft.streaming.Streaming.writeOrderedMicrobatch(
            keys.filter(cond), s"$root/in", b)
        }
      val ss = graft.streaming.Streaming.statefulSession(s)
      val schema = StructType(Seq(StructField("raster_id", LongType)))
      val build = udf { (id: Long) =>
        val a = graft.llm.Tiff.syntheticGeoTiff(id)
        if (id % 9 == 0) a(0) = 'X'
        a
      }
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
        .withColumn("payload", build(col("raster_id")))
      graft.streaming.Streaming.runAvailableNow(
          graft.ops.RasterZonal.rasterCells(stream),
          s"s39_raster_${System.nanoTime()}", outputMode = "append")
        .groupBy("raster_id")
        .agg(count(lit(1)).as("n_cells"),
          min(col("raster_ok")).as("ok"),
          sum(col("value")).cast("long").as("sum_value"),
          min(col("lon")).as("lon_min"), max(col("lon")).as("lon_max"),
          min(col("lat")).as("lat_min"), max(col("lat")).as("lat_max"))
        .orderBy("raster_id")
    },
    Gate("s37_stream_media_ingest",
      // s37: the streamed MP4 metadata ingest must equal m24's batch walk
      // — shares its closed-form oracle verbatim (stream ≡ batch)
      mp4WalkOracleSql()) { (s, d) =>
      // STREAMING MEDIA-METADATA INGEST: m24's MP4 container walk run on
      // an ARRIVING stream — payloads build per row, the box walk +
      // per-sample MJPEG decode is a STATELESS narrow map (append mode,
      // no state store, no watermark), split across 3 microbatches so
      // batch boundaries are load-bearing. The accumulated sink must
      // equal the one-shot batch result — shares m24's closed-form
      // oracle verbatim. This is the crawl-ingest shape: media metadata
      // extracted as files land, no re-scan of the corpus.
      import org.apache.spark.sql.types._
      val keys = t(s, d, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey").cast("long").as("media_id"))
      val root = graft.util.TempDirs.scratch("s37drops")
      Seq((0, col("media_id") < 66), (1, col("media_id") >= 66 &&
          col("media_id") < 132), (2, col("media_id") >= 132))
        .foreach { case (b, cond) =>
          graft.streaming.Streaming.writeOrderedMicrobatch(
            keys.filter(cond), s"$root/in", b)
        }
      val ss = graft.streaming.Streaming.statefulSession(s)
      val schema = StructType(Seq(StructField("media_id", LongType)))
      val build = udf((id: Long) => graft.llm.Mp4.syntheticMp4(id))
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
        .withColumn("payload", build(col("media_id")))
      graft.streaming.Streaming.runAvailableNow(
          graft.llm.Mp4.mp4VideoStats(stream),
          s"s37_media_${System.nanoTime()}", outputMode = "append")
        .orderBy("media_id")
    },
    Gate("s36_stream_image_dedup",
      // s36: m22's closed-form dHash bits, grouped to MIN(media_id) per
      // hash — the streamed min-state must converge to exactly this.
      """WITH img AS (
        |  SELECT p_partkey AS media_id, 4 + p_partkey % 5 AS w,
        |    3 + p_partkey % 4 AS h
        |  FROM part WHERE p_partkey <= 200 AND p_partkey % 3 = 0
        |), g AS (
        |  SELECT media_id, y.y AS y, x.x AS x,
        |    ((media_id * 7 + ((y.y * h) // 8) * 11 + ((x.x * w) // 9) * 13) % 256
        |     + (media_id * 7 + ((y.y * h) // 8) * 11 + ((x.x * w) // 9) * 13 + 17) % 256
        |     + (media_id * 7 + ((y.y * h) // 8) * 11 + ((x.x * w) // 9) * 13 + 34) % 256) AS gr
        |  FROM img,
        |    LATERAL (SELECT unnest(range(8)) AS y) y,
        |    LATERAL (SELECT unnest(range(9)) AS x) x
        |), bits AS (
        |  SELECT a.media_id, a.y * 8 + a.x AS idx
        |  FROM g a JOIN g b ON b.media_id = a.media_id
        |    AND b.y = a.y AND b.x = a.x + 1
        |  WHERE a.x < 8 AND a.gr > b.gr
        |), hs AS (
        |  SELECT i.media_id,
        |    CAST(COALESCE(SUM(CASE WHEN idx >= 32
        |      THEN (CAST(1 AS BIGINT) << (idx - 32)) END), 0) AS BIGINT) AS dhash_hi,
        |    CAST(COALESCE(SUM(CASE WHEN idx < 32
        |      THEN (CAST(1 AS BIGINT) << idx) END), 0) AS BIGINT) AS dhash_lo
        |  FROM img i LEFT JOIN bits USING (media_id)
        |  GROUP BY 1
        |)
        |SELECT dhash_hi, dhash_lo, MIN(media_id) AS first_media_id
        |FROM hs GROUP BY 1, 2 ORDER BY dhash_hi, dhash_lo""".stripMargin) { (s, d) =>
      // STREAMING IMAGE DEDUP by perceptual hash — m22 composed with
      // keyed state: media keys arrive in 3 range batches PLUS a full
      // REPLAY batch (at-least-once re-delivery), payloads decode and
      // dHash statelessly per microbatch, and an update-mode
      // min(media_id) per (dhash_hi, dhash_lo) is the dedup state —
      // min is idempotent, so the replay batch must change NOTHING.
      // The synthetic image set collapses 67 payloads to 33 gradient
      // classes, so the dedup is load-bearing, not vacuous. Final state
      // must equal the batch group-by — the oracle replays dHash bits
      // closed-form and takes MIN(media_id) per hash.
      import org.apache.spark.sql.types._
      val keys = t(s, d, "part").filter(col("p_partkey") <= 200)
        .filter(col("p_partkey") % 3 === 0)
        .select(col("p_partkey").cast("long").as("media_id"))
      val root = graft.util.TempDirs.scratch("s36drops")
      Seq((0, col("media_id") < 66), (1, col("media_id") >= 66 &&
          col("media_id") < 132), (2, col("media_id") >= 132))
        .foreach { case (b, cond) =>
          graft.streaming.Streaming.writeOrderedMicrobatch(
            keys.filter(cond), s"$root/in", b)
        }
      // batch 3: the FULL key set again — replayed delivery
      graft.streaming.Streaming.writeOrderedMicrobatch(keys, s"$root/in", 3)
      val ss = graft.streaming.Streaming.statefulSession(s)
      val schema = StructType(Seq(StructField("media_id", LongType)))
      val build = udf((id: Long) => graft.llm.Multimodal.syntheticPpm(id))
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
        .withColumn("payload", build(col("media_id")))
      val hashed = graft.llm.Multimodal.imageDHash(stream)
        .groupBy("dhash_hi", "dhash_lo").agg(min(col("media_id")).as("m"))
      val ckpt = graft.util.TempDirs.scratch("s36ck")
      graft.streaming.Streaming.runAvailableNowUpdateFinalState(
          hashed, s"s36_dhash_${System.nanoTime()}", ckpt)
        .select(col("key.dhash_hi").as("dhash_hi"),
          col("key.dhash_lo").as("dhash_lo"),
          col("value.min").as("first_media_id"))
        .orderBy("dhash_hi", "dhash_lo")
    },
    Gate("s35_stream_static_join",
      """SELECT c.c_mktsegment,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events e JOIN customer c ON c.c_custkey = e.user_id
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      // STREAM-STATIC join — the enrichment shape Structured Streaming
      // runs STATELESS (the static side re-scans per microbatch; no
      // state store, no watermark): streaming events join the static
      // customer dimension on user key, rolled up per market segment in
      // exact integer cents. The update-mode final state must equal the
      // one-shot batch join — the oracle is the plain SQL join+group.
      val ss = graft.streaming.Streaming.statefulSession(s)
      val ev = eventsStream(ss, d)
        .select(col("user_id"), round(col("value") * 100).cast("long").as("cents"))
      val dim = t(ss, d, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      val counts = ev.join(dim, "user_id") // stream-static: stateless
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
      val ckpt = graft.util.TempDirs.scratch("s35ck")
      graft.streaming.Streaming.runAvailableNowUpdateFinalState(
          counts, s"s35_dim_${System.nanoTime()}", ckpt)
        // state-store value fields carry the aggregate FUNCTION names
        .select(col("key.c_mktsegment").as("c_mktsegment"),
          col("value.count").as("n_events"),
          col("value.sum").as("sum_cents"))
        .orderBy("c_mktsegment")
    },
    Gate("s34_stream_cusum",
      """WITH pre AS (
        |  SELECT source, doc_id, SUM(n_chars - 280) OVER w AS p
        |  FROM documents
        |  WINDOW w AS (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), scored AS (
        |  SELECT source, doc_id, p - LEAST(0, MIN(p) OVER w) AS s
        |  FROM pre
        |  WINDOW w AS (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), peak AS (SELECT source, MAX(s) AS peak FROM scored GROUP BY 1),
        |counts AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY 1
        |)
        |SELECT sc.source, ANY_VALUE(c.n_docs) AS n_docs,
        |  CAST(p.peak AS BIGINT) AS peak, MIN(sc.doc_id) AS peak_doc
        |FROM scored sc JOIN peak p USING (source) JOIN counts c USING (source)
        |WHERE sc.s = p.peak
        |GROUP BY sc.source, p.peak
        |ORDER BY sc.source""".stripMargin) { (s, d) =>
      // STREAMING CUSUM drift monitor (Streaming.cusumStream) — d73
      // deployed: deviations against a FIXED shipped target (280 chars)
      // so the statistic is causal, five exact longs of state per
      // source, the closed form maintained incrementally across 3
      // range-split microbatches. The final state per source must equal
      // the batch windows' answer — the oracle replays prefix-sum −
      // running-min with the same fixed target.
      import org.apache.spark.sql.types._
      val docs = t(s, d, "documents")
        .select(col("source"), col("doc_id"), col("n_chars"))
      val root = graft.util.TempDirs.scratch("cusumdrops")
      Seq((0, col("doc_id") < 167),
          (1, col("doc_id") >= 167 && col("doc_id") < 334),
          (2, col("doc_id") >= 334)).foreach { case (b, cond) =>
        graft.streaming.Streaming.writeOrderedMicrobatch(
          docs.filter(cond), s"$root/in", b)
      }
      val ss = graft.streaming.Streaming.statefulSession(s)
      import ss.implicits._
      val schema = StructType(Seq(StructField("source", StringType),
        StructField("doc_id", LongType), StructField("n_chars", LongType)))
      val ev = ss.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$root/in")
        .select(col("source").as("key"), col("doc_id").as("seq"),
          col("n_chars").as("x"))
        .as[graft.streaming.Streaming.CusumEvent]
      val out = graft.streaming.Streaming.runAvailableNow(
        graft.streaming.Streaming.cusumStream(ev, target = 280L),
        s"s34_cusum_${System.nanoTime()}", outputMode = "update")
      val w = Window.partitionBy("key").orderBy(col("n").desc)
      out.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .select(col("key").as("source"), col("n").as("n_docs"),
          col("peak"), col("peak_seq").as("peak_doc"))
        .orderBy("source")
    },
    Gate("s33_stream_phrase_search", phraseSearchOracleSql) { (s, d) =>
      // STREAMING phrase-index SERVING — d74's positional intersection
      // applied to an arriving corpus: the broadcast phrase dictionary is
      // the shipped model, postings explode statelessly per microbatch,
      // and the (phrase, doc, start) votes accumulate in an update-mode
      // state store (additive — a doc's postings land in one batch, but
      // the state contract also covers re-chunked docs). The final state
      // view must equal d74's one-shot batch intersection — shares d74's
      // SQL oracle verbatim.
      import org.apache.spark.sql.types._
      val ss = graft.streaming.Streaming.statefulSession(s)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val stream = graft.streaming.Streaming.availableNowFileStream(
        ss, d, schema, glob = Some("documents.parquet"))
      val votes = graft.llm.PhraseSearch.votes(
          stream, "doc_id", "text", phraseSearchPhrases, ss)
        .groupBy("phrase", "doc_id", "start").count()
      val ckpt = graft.util.TempDirs.scratch("s33ck")
      val st = graft.streaming.Streaming.runAvailableNowUpdateFinalState(
          votes, s"s33_phrase_${System.nanoTime()}", ckpt)
        .select(col("key.phrase").as("phrase"), col("key.doc_id").as("doc_id"),
          col("key.start").as("start"), col("value.count").as("__k"))
      // full-vote gate joins each phrase's OWN word count (mirrors
      // PhraseSearch.search) — a hardcoded length would silently break
      // when a phrase of a different word count joins the list
      import s.implicits._
      val lens = phraseSearchPhrases
        .map(p => (p, graft.llm.PhraseSearch.phraseWords(p).length.toLong))
        .toDF("phrase", "__len")
      graft.llm.PhraseSearch.matches(
        st.join(broadcast(lens), "phrase").filter(col("__k") === col("__len")))
    },
    Gate("s22_stream_pmi",
      // s22: the streamed bigram-count state DERIVES the margins, so the
      // converged scores equal batch d57 — shared oracle VERBATIM.
      pmiOracleSql) { (s, d) =>
      // STREAMING PMI: the (w1, w2) bigram counts run as an UPDATE-mode
      // stateful aggregation over the documents stream; each microbatch
      // emits only the pairs it touched (the production drift signal),
      // and the converged counts are read ONCE from the checkpoint's
      // state store at the end (Streaming.runAvailableNowUpdateFinalState
      // — Spark's statestore data source). Emission is therefore bounded
      // by batch content, not vocabulary; the state itself is still
      // O(distinct pairs), so batch d57 remains the 100 TB scale path and
      // this stream is the incremental monitor. N and the margins n1/n2
      // DERIVE from the final pair-count state, so the converged
      // collocation scores equal batch d57 exactly — shared oracle
      // verbatim.
      import org.apache.spark.sql.types._
      val ss = graft.streaming.Streaming.statefulSession(s)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val stream = graft.streaming.Streaming.availableNowFileStream(
        ss, d, schema, glob = Some("documents.parquet"))
      // token array as an attribute BEFORE the lambda (the d64 lesson:
      // an inlined tokens() re-runs the regex split per element_at)
      val counts = stream
        .select(TextAnalysis.tokens(col("text")).as("__ts"))
        .filter(size(col("__ts")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("__ts")) - 1), i =>
          struct(element_at(col("__ts"), i).as("w1"),
            element_at(col("__ts"), i + 1).as("w2")))).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("n12"))
      val ckpt = graft.util.TempDirs.scratch("s22ck")
      val st = graft.streaming.Streaming.runAvailableNowUpdateFinalState(
          counts, s"s22_pmi_${System.nanoTime()}", ckpt)
        .select(col("key.w1").as("w1"), col("key.w2").as("w2"),
          col("value.count").as("n12"))
        .localCheckpoint()
      val n = st.agg(sum(col("n12"))).head().getLong(0)
      val c1 = st.groupBy("w1").agg(sum(col("n12")).as("n1"))
      val c2 = st.groupBy("w2").agg(sum(col("n12")).as("n2"))
      st.filter(col("n12") >= 10)
        .join(c1, "w1").join(c2, "w2")
        .select(col("w1"), col("w2"), col("n12"),
          round(log(col("n12").cast("double") * lit(n.toDouble) /
            (col("n1").cast("double") * col("n2"))), 4).as("pmi"))
        .orderBy("w1", "w2")
    },
    Gate("s21_stream_pipeline_e2e",
      // s21: the streamed composition converges to d47's batch result —
      // shared oracle VERBATIM (the s16 stream ≡ d40 contract composed
      // with deterministic downstream stages).
      pipelineE2eOracleSql) { (s, d) =>
      // STREAMED END-TO-END PIPELINE: d47's composition with its heavy
      // first stage — corpus span dedup — run as the s16 ingest stream
      // (3 ascending-doc_id drops probing the persisted seen-chunk
      // index) and the downstream (survival-quality gate → token
      // recount → per-lang packing) applied over the CONVERGED corpus.
      // Shares d47's oracle VERBATIM: streamed span dedup ≡ d40's batch
      // result (the s16 contract) and every later stage is a
      // deterministic function of the converged corpus.
      val (stream, root) = docsThreeDropStream(s, d)
      graft.streaming.Streaming.spanDedupIngestStream(
          stream, s"$root/index", s"$root/ckpt", compactAfterDirs = 1)(
          (clean, bid) => clean.write.mode("overwrite")
            .parquet(s"$root/out/batch=$bid"))
        .awaitTermination()
      val kept = s.read.parquet(s"$root/out")
        .filter(col("n_removed") * 2 <= col("n_chunks") &&
          col("clean_text") =!= "")
        .withColumn("n_tokens", size(TextAnalysis.tokens(col("clean_text"))))
        .join(t(s, d, "documents").select(col("doc_id"), col("lang")), "doc_id")
      Sampling.seqPack(kept, Seq("lang"), "doc_id", "n_tokens",
          capacity = 256L)
        .groupBy(col("lang"), col("bin_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("bin_tokens"))
        .orderBy(col("lang"), col("bin_id"))
    },
    Gate("s17_stream_entropy",
      // s17 accumulates the same (source, token) counts in the state store
      // (complete mode) and derives entropy from the FINAL state — the
      // converged metrics must equal the batch formulation, so it shares
      // d45's oracle verbatim.
      sourceEntropyOracleSql) { (s, d) =>
      // STREAMING ENTROPY DRIFT MONITOR: the (source, token) counts run as
      // a stateful streaming aggregation (complete mode — the s11 heavy-
      // hitter pattern); entropy/ttr derive from the FINAL state, so the
      // converged metrics equal batch d45 exactly (shared oracle). In
      // production the per-batch emission of the same metrics is the
      // corpus drift signal.
      import org.apache.spark.sql.types._
      val ss = graft.streaming.Streaming.statefulSession(s)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val stream = graft.streaming.Streaming.availableNowFileStream(
        ss, d, schema, glob = Some("documents.parquet"))
      val counts = stream
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
      val finalCounts = graft.streaming.Streaming.runAvailableNow(
        counts, s"s17_entropy_${System.nanoTime()}", outputMode = "complete")
      // unigramEntropy checkpoints its input internally — which also
      // breaks the memory-sink view's identical attribute ids that would
      // otherwise make its internal self-join ambiguous
      TextAnalysis.unigramEntropy(finalCounts).orderBy("source")
    },
    Gate("s10_stream_funnel", funnelOracleSql) { (s, d) =>
      // q47's ordered funnel as CUSTOM KEYED STATE on the stream: a 3-step
      // state machine per user (flatMapGroupsWithState, Update mode),
      // advanced in event-time order; the most-progressed row per user is
      // the final state. Same oracle SQL as q47.
      val ss = graft.streaming.Streaming.statefulSession(s)
      import ss.implicits._
      val ev = eventsStream(ss, d)
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
        .as[graft.streaming.Streaming.FunnelEvent]
      val out = graft.streaming.Streaming.runAvailableNow(
        graft.streaming.Streaming.funnelStream(ev, Seq("view", "click", "purchase")),
        s"s10_funnel_${System.nanoTime()}", outputMode = "update")
      val w = Window.partitionBy("user_id").orderBy(col("t3").desc_nulls_last,
        col("t2").desc_nulls_last, col("t1").desc_nulls_last)
      out.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
        .filter(col("t1").isNotNull)
        .withColumn("converted",
          coalesce(col("t3") - col("t1") <= 604800000000L, lit(false)))
        .orderBy(col("user_id"))
    },
    Gate("s12_stream_ivm", ivmOracleSql) { (s, d) =>
      // STREAMING IVM (Streaming.ivmRefreshStream): q51's change set
      // arrives in 3 microbatches; each merges into the persisted
      // materialized view via Ivm.refresh with versioned copy-on-write
      // commits (batch b: read v=b, write v=b+1 — idempotent under
      // replay). The final version is hash-checked against q51's FULL
      // RECOMPUTE oracle: stream-merged ≡ batch-refreshed ≡ re-materialized,
      // regardless of how the delta was split (refresh is associative and
      // commutative).
      import graft.ops.Ivm
      import org.apache.spark.sql.types._
      val ss = graft.streaming.Streaming.statefulSession(s)
      val ev = t(ss, d, "events").select(col("event_type"),
        (col("user_id") % 10).as("user_bucket"),
        floor(col("value") * 100).as("iv"), col("ts"))
      val cutoff = lit("2024-01-25 00:00:00").cast("timestamp")
      val base = ev.filter(col("ts") < cutoff)
      val keys = Seq("event_type", "user_bucket")
      val root = graft.util.TempDirs.scratch("s12")
      Ivm.materialize(base, keys, Seq("iv"))
        .coalesce(1).write.parquet(s"$root/view/v=0")
      val deletes = base.filter(col("user_bucket") === 3)
        .withColumn("__mult", lit(-1L))
      val inserts = ev.filter(col("ts") >= cutoff && col("user_bucket") =!= 3)
        .withColumn("__mult", lit(1L))
      deletes.unionByName(inserts).drop("ts").repartition(3)
        .write.parquet(s"$root/delta")
      val schema = StructType(Seq(
        StructField("event_type", StringType),
        StructField("user_bucket", LongType), StructField("iv", LongType),
        StructField("__mult", LongType)))
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/delta")
      graft.streaming.Streaming.ivmRefreshStream(stream, s"$root/view",
          s"$root/ckpt", keys, Seq("iv"), "__mult")
        .awaitTermination()
      graft.streaming.Streaming.latestIvmView(s, s"$root/view")
        .orderBy("event_type", "user_bucket")
    },
    Gate("s11_stream_heavy_hitters",
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS item
        |  FROM documents
        |)
        |SELECT item, COUNT(*) AS n FROM tok
        |GROUP BY item ORDER BY n DESC, item LIMIT 20""".stripMargin) { (s, d) =>
      // q38's heavy hitters with the corpus arriving as a STREAM: per-token
      // counts run as a stateful streaming aggregation (map-side partials
      // against the state store, complete mode); top-20 is taken on the
      // final state. Hash-checked against the same exact-count oracle as
      // q38 (minus the sketch column — the state store IS the exact
      // counter here; the mergeable CMS stays the batch/sketch path).
      import org.apache.spark.sql.types._
      val ss = graft.streaming.Streaming.statefulSession(s)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val stream = graft.streaming.Streaming.availableNowFileStream(
        ss, d, schema, glob = Some("documents.parquet"))
      val counts = stream
        .select(explode(TextAnalysis.tokens(col("text"))).as("item"))
        .groupBy("item").agg(count(lit(1)).as("n"))
      graft.streaming.Streaming.runAvailableNow(
          counts, s"s11_hh_${System.nanoTime()}", outputMode = "complete")
        .orderBy(col("n").desc, col("item")).limit(20)
    },
    Gate("s09_stream_audit",
      """WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM orders),
        |v AS (
        |  SELECT 'date_in_range' AS check_name,
        |    CAST(COUNT(*) FILTER (WHERE NOT COALESCE(
        |      o_orderdate >= TIMESTAMP '1992-01-01'
        |      AND o_orderdate < TIMESTAMP '1999-01-01', FALSE)) AS BIGINT) AS n_violations
        |  FROM orders
        |  UNION ALL SELECT 'orderkey_not_null',
        |    CAST(COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT) FROM orders
        |  UNION ALL SELECT 'priority_pattern',
        |    CAST(COUNT(*) FILTER (WHERE NOT COALESCE(
        |      regexp_matches(o_orderpriority, '^[1-5]-'), FALSE)) AS BIGINT) FROM orders
        |  UNION ALL SELECT 'status_in_domain',
        |    CAST(COUNT(*) FILTER (WHERE NOT COALESCE(
        |      o_orderstatus IN ('O','F','P'), FALSE)) AS BIGINT) FROM orders
        |  UNION ALL SELECT 'totalprice_positive',
        |    CAST(COUNT(*) FILTER (WHERE NOT COALESCE(o_totalprice > 0, FALSE)) AS BIGINT) FROM orders
        |)
        |SELECT check_name, n.c AS n_rows, n_violations, n_violations = 0 AS passed
        |FROM v, n ORDER BY check_name""".stripMargin) { (s, d) =>
      // q42's row-check audit over the orders stream: row checks fold into
      // a streaming GLOBAL aggregate (map-side partials against the state
      // store) — continuous data-quality monitoring. Uniqueness needs
      // distinct state, so it stays a batch/HLL concern (q42).
      import graft.ops.Audit.RowCheck
      val ss = graft.streaming.Streaming.statefulSession(s)
      val audited = graft.ops.Audit.audit(ordersStream(ss, d),
        rowChecks = Seq(
          RowCheck("orderkey_not_null", col("o_orderkey").isNotNull),
          RowCheck("totalprice_positive", col("o_totalprice") > 0),
          RowCheck("status_in_domain", col("o_orderstatus").isin("O", "F", "P")),
          RowCheck("date_in_range",
            col("o_orderdate") >= lit("1992-01-01") &&
              col("o_orderdate") < lit("1999-01-01")),
          RowCheck("priority_pattern", col("o_orderpriority").rlike("^[1-5]-"))))
      graft.streaming.Streaming.runAvailableNow(
          audited, s"s09_audit_${System.nanoTime()}", outputMode = "complete")
        .orderBy(col("check_name"))
    },
    Gate("s15_stream_trend",
      // q56/s15: same five integer sums, same rational numerators — DuckDB's
      // hugeint sums are cast back to BIGINT so both engines hash longs (the
      // streamed twin accumulates the sums in the state store; integer sums
      // are batching-insensitive, so it shares this oracle bit for bit).
      trendOracleSql) { (s, d) =>
      // q56's exact rational OLS with events arriving as a STREAM: the
      // five integer sums run as a stateful streaming aggregation
      // (map-side partials against the state store, complete mode) —
      // integer sums are order- and batching-insensitive, so the streamed
      // trend is bit-equal to batch whatever the microbatch layout was.
      // Same oracle as q56. The rational-derivation arithmetic happens on
      // the final state (post-sink), exactly like the batch finish.
      val ss = graft.streaming.Streaming.statefulSession(s)
      val ev = eventsStream(ss, d)
        .filter(col("value").isNotNull && col("ts").isNotNull)
        .select(col("event_type"),
          datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
            .cast("long").as("x"),
          floor(col("value") * 100).as("y"))
      val sums = ev.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sum_x"), sum(col("y")).as("sum_y"),
        sum(col("x") * col("y")).as("__sxy"), sum(col("x") * col("x")).as("__sxx"))
      graft.streaming.Streaming.runAvailableNow(sums,
          s"s15_trend_${System.nanoTime()}", outputMode = "complete")
        .select(col("event_type"), col("n"), col("sum_x"), col("sum_y"),
          (col("n") * col("__sxy") - col("sum_x") * col("sum_y")).as("slope_num"),
          (col("n") * col("__sxx") - col("sum_x") * col("sum_x")).as("slope_den"),
          (col("sum_y") * col("__sxx") - col("sum_x") * col("__sxy"))
            .as("intercept_num"))
        .orderBy("event_type")
    },
    Gate("s14_stream_transitions",
      // q58/s14: same lag over the same (ts, event_id) total order (the
      // streamed twin carries one last-event per user instead of a window).
      """WITH r AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |)
        |SELECT prev AS from_type, event_type AS to_type,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM r WHERE prev IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      // q58's Markov transitions with events arriving as a STREAM: the lag
      // window becomes flatMapGroupsWithState carrying ONE last-event per
      // user (O(users) state); emitted pairs are batch-counted after
      // AvailableNow. Same oracle as q58 — the streamed chain must
      // reproduce the batch lag bit for bit.
      val ss = graft.streaming.Streaming.statefulSession(s)
      import ss.implicits._
      val ev = eventsStream(ss, d)
        // q58's null filter, applied BEFORE the typed decode: a null
        // user_id/ts would crash the primitive-Long case-class decode
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"), col("event_id"))
        .as[graft.streaming.Streaming.TransitionEvent]
      val pairs = graft.streaming.Streaming.transitionStream(ev)
      graft.streaming.Streaming.runAvailableNow(pairs,
          s"s14_tr_${System.nanoTime()}", outputMode = "append")
        .groupBy("from_type", "to_type")
        .agg(count(lit(1)).as("n"))
        .orderBy("from_type", "to_type")
    },
    Gate("s13_stream_kmv", kmvOverlapOracleSql) { (s, d) =>
      // q53's KMV sketches maintained under STREAMING ingest
      // (Streaming.kmvSketchStream): per-shard min-k state updated per
      // microbatch, then the emitted sketches are MERGED (min-k is
      // mergeable — explode + re-select) and the same pairwise overlap
      // derived. Hash-checked against the same oracle as q53: streamed
      // maintenance must converge to the batch sketch bit for bit.
      val ss = graft.streaming.Streaming.statefulSession(s)
      val hashed = ordersStream(ss, d)
        .filter(col("o_custkey").isNotNull)
        .select(col("o_orderpriority").as("shard"),
          graft.ops.Kmv.kmvHash(col("o_custkey")).as("h"))
      val emitted = graft.streaming.Streaming.runAvailableNow(
        graft.streaming.Streaming.kmvSketchStream(hashed, 64),
        s"s13_kmv_${System.nanoTime()}", outputMode = "update")
      // AvailableNow may split the input into several batches (several
      // emissions per shard) — min-k mergeability makes the union re-merge
      // exact, whatever the batch layout was
      val sketches = graft.ops.Kmv.sketchHashed(
        emitted.select(col("shard"), explode(col("kmv")).as("h")), k = 64)
      graft.ops.Kmv.pairOverlap(sketches, 64).orderBy("shard_a", "shard_b")
    },
    Gate("s08_stream_cdc_merge", cdcMergeOracleSql) { (s, d) =>
      // q43's CDC MERGE with the changelog arriving as a STREAM: the
      // latest-change-per-key half runs as a stateful streaming aggregation
      // (max_by against the state store), then the snapshot merge is the
      // same batch anti-join + union. Same oracle SQL as q43 — the streamed
      // formulation must converge to the batch MERGE bit for bit.
      val ss = graft.streaming.Streaming.statefulSession(s)
      val changes = ordersStream(ss, d)
        .filter(col("o_orderdate") >= lit("1997-01-01"))
        .select(col("o_custkey").as("custkey"), col("o_orderkey").as("last_orderkey"),
          col("o_totalprice").as("last_price"), col("o_orderstatus").as("last_status"),
          col("o_orderkey").as("__seq"), (col("o_orderstatus") === "F").as("__del"))
      val latest = graft.streaming.Streaming.latestChangePerKey(
        changes, Seq("custkey"), "__seq")
      val finalLatest = graft.streaming.Streaming.runAvailableNow(
        latest, s"s08_cdc_${System.nanoTime()}", outputMode = "complete")
      val wSnap = Window.partitionBy("custkey").orderBy(col("last_orderkey").desc)
      val snapshot = t(ss, d, "orders")
        .filter(col("o_orderdate") < lit("1997-01-01"))
        .select(col("o_custkey").as("custkey"), col("o_orderkey").as("last_orderkey"),
          col("o_totalprice").as("last_price"), col("o_orderstatus").as("last_status"))
        .withColumn("__rn", row_number().over(wSnap))
        .filter(col("__rn") === 1).drop("__rn")
      snapshot.join(finalLatest.select("custkey"), Seq("custkey"), "left_anti")
        .unionByName(finalLatest.filter(!col("__del")).drop("__seq", "__del"))
        .orderBy(col("custkey"))
    },
    Gate("s19_stream_scd2",
      // s19 folds the SAME change set into the versioned history one
      // time-ordered microbatch at a time; the converged history equals the
      // one-shot application, so it shares q69's oracle verbatim.
      scd2OracleSql) { (s, d) =>
      // STREAMING SCD2 (Streaming.scd2Stream): q69's change set arrives
      // in 3 TIME-ORDERED microbatches (epoch-us cutoffs at Jan 10/20),
      // each folding into the versioned history with copy-on-write
      // commits. SCD2 application is batching-insensitive for
      // time-ordered changes, so the converged history equals the
      // one-shot batch application — s19 shares q69's oracle VERBATIM.
      import org.apache.spark.sql.types._
      val base = t(s, d, "customer").filter(col("c_custkey") <= 50)
        .select(col("c_custkey").as("custkey"),
          floor(col("c_acctbal")).cast("long").as("bal"),
          lit(0L).as("valid_from"), lit(null).cast("long").as("valid_to"))
      val ev = t(s, d, "events").filter(col("user_id") <= 50)
        .select(col("user_id").as("custkey"),
          floor(col("value") * 100).cast("long").as("bal"),
          unix_micros(col("ts")).as("ts"),
          when(col("event_type") === "purchase", "D").otherwise("U").as("op"),
          col("event_id"))
      val wDedup = Window.partitionBy("custkey", "ts").orderBy(col("event_id").desc)
      val ch = ev.withColumn("__rn", row_number().over(wDedup))
        .filter(col("__rn") === 1).drop("__rn", "event_id")
      val root = graft.util.TempDirs.scratch("s19")
      base.coalesce(1).write.parquet(s"$root/dim/v=0")
      val cut1 = 1704844800000000L // 2024-01-10 UTC in epoch-us
      val cut2 = 1705708800000000L // 2024-01-20
      Seq((0, col("ts") < cut1),
          (1, col("ts") >= cut1 && col("ts") < cut2),
          (2, col("ts") >= cut2)).foreach { case (b, cond) =>
        graft.streaming.Streaming.writeOrderedMicrobatch(
          ch.filter(cond), s"$root/in", b)
      }
      val ss = graft.streaming.Streaming.statefulSession(s)
      val schema = StructType(Seq(StructField("custkey", LongType),
        StructField("bal", LongType), StructField("ts", LongType),
        StructField("op", StringType)))
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
      graft.streaming.Streaming.scd2Stream(stream, s"$root/dim",
          s"$root/ckpt", Seq("custkey"), Seq("bal"), "ts", "op")
        .awaitTermination()
      graft.streaming.Streaming.latestIvmView(s, s"$root/dim")
        .withColumn("is_current", col("valid_to").isNull)
        .orderBy("custkey", "valid_from")
    }
  )
}
