package graft.gates

import graft.llm.{Decontamination, Dedup, Pii, Sampling, TextAnalysis}
import graft.ops.RasterZonal
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import GateInputs._

/** The LLM data-pipeline gates (`d*`): tokenizers, dedup, filtering,
  * decontamination and corpus statistics over the documents table. */
object DataOpsGates {

  /** d77: the shipped unigram vocab — 26 single-char fallback pieces
    * (cost 101 + index, so char segmentations never tie) plus multi-char
    * pieces planting the greedy-vs-optimal branches. Optima verified
    * unique over the documents corpus. */
  private val unigramVocab: Map[String, Long] =
    (0 until 26).map(i => ('a' + i).toChar.toString -> (101L + i)).toMap ++ Map(
      "ta" -> 150L, "ble" -> 160L, "table" -> 340L,
      "cust" -> 180L, "omer" -> 190L, "customer" -> 360L,
      "str" -> 140L, "eam" -> 145L, "win" -> 130L, "dow" -> 135L,
      "val" -> 150L, "ue" -> 120L, "filt" -> 170L, "er" -> 90L,
      "qu" -> 125L, "ow" -> 128L, "col" -> 155L, "umn" -> 165L)

  /** d77 oracle: exhaustive segmentation-path enumeration by recursive
    * CTE over the same vocab, per-word minimum. Enumeration is exact
    * because it runs over the DISTINCT word table (31 short words). */
  private val unigramOracleSql: String = {
    val values = unigramVocab.toSeq.sortBy(_._1)
      .map { case (p, c) => s"('$p', $c)" }.mkString(", ")
    s"""WITH freq AS (
       |  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS n_occ FROM (
       |    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
       |    FROM documents) WHERE w <> '' GROUP BY 1
       |), vocab AS (SELECT * FROM (VALUES $values) v(piece, cost)),
       |paths AS (
       |  WITH RECURSIVE dp AS (
       |    SELECT word, 0 AS pos, 0::BIGINT AS cost, '' AS seg,
       |      0::BIGINT AS n_pieces
       |    FROM freq
       |    UNION ALL
       |    SELECT dp.word, dp.pos + len(v.piece), dp.cost + v.cost,
       |      CASE WHEN dp.seg = '' THEN v.piece
       |           ELSE dp.seg || ' ' || v.piece END,
       |      dp.n_pieces + 1
       |    FROM dp JOIN vocab v
       |      ON substr(dp.word, dp.pos + 1, len(v.piece)) = v.piece
       |    WHERE dp.pos < len(dp.word)
       |  ) SELECT word, cost, seg, n_pieces FROM dp WHERE pos = len(word)
       |), best AS (
       |  SELECT word, cost, seg, n_pieces,
       |    row_number() OVER (PARTITION BY word ORDER BY cost) AS rn
       |  FROM paths
       |)
       |SELECT f.word, f.n_occ, b.seg, b.cost, b.n_pieces
       |FROM freq f LEFT JOIN best b ON b.word = f.word AND b.rn = 1
       |ORDER BY f.word""".stripMargin
  }

  // ^ LEFT JOIN, matching segmentWords' null contract for unsegmentable
  // words — an inner join would silently drop them from the oracle while
  // the engine emits them with null seg/cost (the gate only agreed by
  // luck of the current corpus being vocab-coverable).

  /** d75: q50's unrolled 5-round ordered-fold PageRank replay, over the
    * word co-occurrence graph instead of the affine-map graph. */
  private val textRankOracleSql: String = {
    val rounds = (1 to 5).map { k =>
      s"""r$k AS (
         |  SELECT vv.v, (1.0::DOUBLE - 0.85::DOUBLE) / nn.n + 0.85::DOUBLE * COALESCE(s.s, 0.0::DOUBLE) AS r
         |  FROM v vv CROSS JOIN nn LEFT JOIN (
         |    SELECT e.dst AS v, list_reduce(list(rp.r / od.od ORDER BY e.src), (x,y) -> x + y) AS s
         |    FROM e JOIN r${k - 1} rp ON rp.v = e.src JOIN od ON od.src = e.src
         |    GROUP BY e.dst) s USING (v)
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH t AS (
       |  SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS a
       |  FROM documents
       |), raw AS (
       |  SELECT a[g.i] AS w1, a[g.i + 1] AS w2
       |  FROM t CROSS JOIN LATERAL (SELECT unnest(generate_series(
       |    1, GREATEST(len(a) - 1, 0))) AS i) g
       |), bg AS (
       |  SELECT DISTINCT w1, w2 FROM raw
       |  WHERE w1 <> w2 AND w1 <> '' AND w2 <> ''
       |), wd AS (
       |  SELECT DISTINCT w FROM
       |    (SELECT w1 AS w FROM bg UNION ALL SELECT w2 FROM bg) u
       |), ids AS (SELECT w, row_number() OVER (ORDER BY w) AS v FROM wd),
       |e AS (
       |  SELECT ia.v AS src, ib.v AS dst
       |  FROM bg JOIN ids ia ON ia.w = bg.w1 JOIN ids ib ON ib.w = bg.w2
       |  UNION
       |  SELECT ib.v, ia.v
       |  FROM bg JOIN ids ia ON ia.w = bg.w1 JOIN ids ib ON ib.w = bg.w2
       |),
       |v AS (SELECT DISTINCT v FROM (SELECT src AS v FROM e UNION ALL SELECT dst FROM e)),
       |nn AS (SELECT COUNT(*) AS n FROM v),
       |od AS (SELECT src, COUNT(*) AS od FROM e GROUP BY 1),
       |r0 AS (SELECT v.v, 1.0::DOUBLE / nn.n AS r FROM v, nn),
       |$rounds
       |SELECT ids.w AS word, r5.r FROM r5 JOIN ids ON ids.v = r5.v
       |ORDER BY r5.r DESC, word LIMIT 20""".stripMargin
  }

  /** (lang, n_chars%17)-blocked candidate pairs with id_a < id_b — the
    * shared blocking of d43/d53/d56. `docs` needs (doc_id, lang,
    * n_chars); extra columns ride along untouched. */
  private def blockedDocPairs(docs: DataFrame): DataFrame = {
    def key(p: String) = docs.select(col("doc_id").as(s"id_$p"),
      col("lang").as(s"__l_$p"), (col("n_chars") % 17).as(s"__k_$p"))
    key("a").join(key("b"),
        col("__l_a") === col("__l_b") && col("__k_a") === col("__k_b") &&
          col("id_a") < col("id_b"))
      .select("id_a", "id_b")
  }

  /** d52 + d54 shared corpus-checksum oracle: counts, exact char sums and
    * DISTINCT text md5s per (lang, source) — any corruption in a
    * round-tripped io format breaks the md5-distinct count. */
  private val corpusChecksumOracleSql: String =
    """SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(len(text)) AS BIGINT) AS sum_len,
      |  CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
      |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
      |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** d41 + d42 (stream ≡ batch) boilerplate-strip oracle: 5-token chunks,
    * drop every occurrence of any chunk in >= 3 distinct docs. */
  private val boilerplateStripOracleSql: String =
    """WITH tk AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      |  FROM documents
      |), ix AS (
      |  SELECT doc_id, t,
      |    unnest(range(0, (len(t) + 4) // 5)) AS idx FROM tk
      |), ch AS (
      |  SELECT doc_id, idx,
      |    array_to_string(list_slice(t, idx * 5 + 1, (idx + 1) * 5), ' ') AS chunk
      |  FROM ix
      |), df AS (
      |  SELECT chunk, COUNT(DISTINCT doc_id) AS df FROM ch GROUP BY 1
      |), m AS (
      |  SELECT c.doc_id, c.idx, c.chunk, f.df < 3 AS kept
      |  FROM ch c JOIN df f USING (chunk)
      |)
      |SELECT doc_id,
      |  COALESCE(string_agg(CASE WHEN kept THEN chunk END, ' ' ORDER BY idx), '') AS clean_text,
      |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
      |  CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_removed
      |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** d30's winnowing oracle; d33 wraps it as a CTE for the verify stage. */
  private val winnowPairsOracleSql: String =
    """WITH cleaned AS (
        |  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
        |  FROM documents
        |), grams AS (
        |  SELECT doc_id, i AS pos,
        |    list_reduce(
        |      list_prepend(CAST(42 AS BIGINT),
        |        list_transform(range(0, 16), j -> CAST(ord(s[i+j]) AS BIGINT))),
        |      (a, c) -> (a * 31 + c) % 2147483647) AS h
        |  FROM cleaned, LATERAL (SELECT unnest(range(1, length(s) - 16 + 2)) AS i) t
        |  WHERE length(s) >= 16
        |), keyed AS (
        |  SELECT doc_id, pos, h * 2097152 + (1048576 - pos) AS key,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
        |  FROM grams
        |), wins AS (
        |  SELECT doc_id,
        |    min(key) OVER (PARTITION BY doc_id ORDER BY pos
        |                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin, rn
        |  FROM keyed
        |), fps AS (
        |  SELECT DISTINCT doc_id, wmin // 2097152 AS h FROM wins WHERE rn >= 4
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
        |FROM fps a JOIN fps b ON a.h = b.h AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 3
        |ORDER BY 1, 2""".stripMargin

  /** d33: the d30 candidate set, verified by exact edit distance on the
    * normalized text (unit-cost Levenshtein is engine-identical). */
  private val winnowEditVerifyOracleSql: String =
    s"""WITH pairs AS (
       |${winnowPairsOracleSql.linesIterator.map("  " + _).mkString("\n")}
       |), cl AS (
       |  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
       |  FROM documents
       |)
       |SELECT p.id_a, p.id_b, p.n_shared,
       |  CAST(levenshtein(a.s, b.s) AS INT) AS edit_dist,
       |  levenshtein(a.s, b.s) * 4 <=
       |    greatest(length(a.s), length(b.s)) AS verified
       |FROM pairs p JOIN cl a ON a.doc_id = p.id_a JOIN cl b ON b.doc_id = p.id_b
       |ORDER BY p.id_a, p.id_b""".stripMargin

  /** Shared BPE-training CTE prefix (d28/d35 oracles): `numMerges` rounds
    * unrolled — each round recomputes pair counts from the previous
    * round's word table, picks the argmax rule (count DESC, pair ASC),
    * and re-segments with the same greedy string fold the Spark side
    * runs. The original word `w` rides along so the final round doubles
    * as a word → BPE-token-sequence dictionary (d35's encode). */
  private def bpeRoundsCte(numMerges: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH tk AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w FROM documents
        |), wf AS (
        |  SELECT w, COUNT(*) AS freq FROM tk WHERE length(w) > 0 GROUP BY w
        |), w0 AS (
        |  SELECT w, array_to_string(list_transform(range(1, length(w) + 1),
        |    i -> substring(w, i, 1)), ' ') AS sym, freq FROM wf
        |)""".stripMargin)
    for (m <- 1 to numMerges) {
      sb.append(s""", p$m AS (
        |  SELECT unnest(list_transform(range(1, len(string_split(sym, ' '))),
        |    i -> string_split(sym, ' ')[i] || ' ' || string_split(sym, ' ')[i+1])) AS pair,
        |    freq
        |  FROM w${m - 1}
        |), b$m AS (
        |  SELECT $m AS merge_rank, split_part(pair, ' ', 1) AS lft,
        |    split_part(pair, ' ', 2) AS rgt, CAST(n AS BIGINT) AS pair_freq
        |  FROM (SELECT pair, SUM(freq) AS n FROM p$m GROUP BY pair
        |        ORDER BY n DESC, pair LIMIT 1)
        |), w$m AS (
        |  SELECT w.w, list_reduce(string_split(w.sym, ' '),
        |    (acc, x) -> CASE WHEN (acc = b.lft OR ends_with(acc, ' ' || b.lft)) AND x = b.rgt
        |                THEN acc || x ELSE acc || ' ' || x END) AS sym, w.freq
        |  FROM w${m - 1} w CROSS JOIN b$m b
        |)""".stripMargin)
    }
    sb.toString
  }

  /** d62's shipped WordPiece vocab — plants every contract branch over
    * the 31-word corpus: longest-match preference ('custom' beats
    * 'cust', 'wind' beats 'win'), ten two-piece words, a dead-end
    * ('sor' matches but '##t' is absent, so `sort` → [UNK] with NO
    * backtracking) and a no-first-piece word (`dup` → [UNK]). */
  private val wordpieceVocab: Seq[String] = Seq(
    // full words
    "a", "the", "join", "data", "key", "row", "agg", "big", "hash",
    "scan", "slow", "fast", "merge", "order", "part", "query", "group",
    "line", "spark",
    // first pieces
    "bat", "custom", "cust", "wind", "win", "vec", "str", "tab", "col",
    "fil", "val", "sm", "sor",
    // continuations
    "##ch", "##er", "##ow", "##tor", "##eam", "##le", "##umn", "##ter",
    "##ue", "##all")

  /** d62's oracle: the greedy longest-match walk unrolled as `rounds`
    * LATERAL steps (the d28 fixed-unroll contract — rounds must be ≥ the
    * max pieces per word; a word needing more flags [UNK] on the oracle
    * side only and LOUDLY fails the hash). Each step picks the longest
    * vocab body matching at the current offset; a NULL pick with
    * characters left (or characters left after the last round) marks the
    * word [UNK], exactly like the no-backtrack Spark kernel. */
  private def wordpieceOracleSql(rounds: Int): String = {
    val vocabValues = wordpieceVocab.map { p =>
      val cont = p.startsWith("##")
      val body = if (cont) p.substring(2) else p
      s"('$p', '$body', ${body.length}, ${if (cont) "TRUE" else "FALSE"})"
    }.mkString(",\n    ")
    val steps = (2 to rounds).map { k =>
      s"""r$k AS (
         |  SELECT r.*, v.piece AS p$k, r.e${k - 1} + COALESCE(v.blen, 0) AS e$k
         |  FROM r${k - 1} r LEFT JOIN LATERAL (
         |    SELECT piece, blen FROM vocab
         |    WHERE cont AND r.p${k - 1} IS NOT NULL AND r.e${k - 1} < length(r.word)
         |      AND substr(r.word, r.e${k - 1} + 1, blen) = body
         |    ORDER BY blen DESC LIMIT 1) v ON TRUE
         |)""".stripMargin
    }.mkString(", ")
    val unkClauses = ("p1 IS NULL" +:
      (2 to rounds).map(k =>
        s"(p${k - 1} IS NOT NULL AND e${k - 1} < length(word) AND p$k IS NULL)") :+
      s"(p$rounds IS NOT NULL AND e$rounds < length(word))").mkString("\n     OR ")
    val pieceBranches = (1 to rounds).map(k =>
      s"  UNION ALL SELECT p$k AS piece, cnt FROM flagged WHERE NOT unk AND p$k IS NOT NULL")
      .mkString("\n")
    s"""WITH vocab(piece, body, blen, cont) AS (VALUES
       |    $vocabValues),
       |words AS (
       |  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
       |        FROM documents)
       |  WHERE length(w) > 0 GROUP BY 1
       |),
       |r1 AS (
       |  SELECT w.word, w.cnt, v.piece AS p1, COALESCE(v.blen, 0) AS e1
       |  FROM words w LEFT JOIN LATERAL (
       |    SELECT piece, blen FROM vocab
       |    WHERE NOT cont AND substr(w.word, 1, blen) = body
       |    ORDER BY blen DESC LIMIT 1) v ON TRUE
       |), $steps,
       |flagged AS (
       |  SELECT *,
       |    ($unkClauses) AS unk
       |  FROM r$rounds
       |),
       |pieces AS (
       |  SELECT '[UNK]' AS piece, cnt FROM flagged WHERE unk
       |$pieceBranches
       |)
       |SELECT piece, CAST(SUM(cnt) AS BIGINT) AS n FROM pieces
       |GROUP BY piece ORDER BY piece""".stripMargin
  }

  private def bpeOracleSql(numMerges: Int): String =
    bpeRoundsCte(numMerges) + "\n" + (1 to numMerges)
      .map(m => s"SELECT merge_rank, lft, rgt, pair_freq FROM b$m")
      .mkString("", "\nUNION ALL\n", "\nORDER BY merge_rank")

  /** The d35 oracle: learn the same 6 rules, then ENCODE the corpus with
    * the final word → token-sequence dictionary and aggregate integer
    * token statistics per source (all counts — hash-safe). */
  private def bpeEncodeOracleSql(numMerges: Int): String =
    bpeRoundsCte(numMerges) + s""",
      |enc AS (SELECT w, string_split(sym, ' ') AS toks FROM w$numMerges),
      |wfs AS (
      |  SELECT source, w, COUNT(*) AS freq FROM (
      |    SELECT source, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
      |    FROM documents) WHERE length(w) > 0 GROUP BY 1, 2
      |), ex AS (
      |  SELECT wfs.source, t.tok, wfs.freq
      |  FROM wfs JOIN enc USING (w), LATERAL unnest(enc.toks) AS t(tok)
      |)
      |SELECT source, CAST(SUM(freq) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct,
      |  CAST(SUM(freq * length(tok)) AS BIGINT) AS n_chars
      |FROM ex GROUP BY source ORDER BY source""".stripMargin

  val gates: Seq[Gate] = List(
    // --- LLM data ops: dedup / text / similarity -----------------------
    Gate("d01_exact_dedup",
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS group_size FROM documents
        |GROUP BY md5(text) HAVING COUNT(*) > 1 ORDER BY keep_id""".stripMargin) { (s, d) =>
      Dedup.exact(t(s, d, "documents"), "doc_id", Seq(md5(col("text")).as("h")))
        .select(col("keep_id"), col("group_size"))
        .orderBy(col("keep_id"))
    },
    Gate("d02_text_quality",
      """SELECT doc_id,
        | CAST(length(text) AS INTEGER) AS n_chars_computed,
        | CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS INTEGER) AS n_tokens,
        | CASE WHEN length(text) > 0 THEN
        |   CAST(length(regexp_replace(text, '[^.,;:!?''"()\[\]-]', '', 'g')) AS DOUBLE) / length(text)
        | END AS punct_ratio,
        | CASE WHEN len(regexp_split_to_array(trim(lower(text)), '\s+')) > 0 THEN
        |   CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |     t -> list_contains(['the','and','of','to','in','is','that','it','for','was','with','are'], t))) AS DOUBLE)
        |   / len(regexp_split_to_array(trim(lower(text)), '\s+'))
        | END AS stopword_ratio
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      // ratios left unrounded on purpose: int/int double division is
      // bit-identical across engines, so the oracle hash-matches exactly
      TextAnalysis.qualityMetrics(t(s, d, "documents"))
        .select(col("doc_id"), col("n_chars_computed"), col("n_tokens"),
          col("punct_ratio"), col("stopword_ratio"))
        .orderBy(col("doc_id"))
    },
    Gate("d03_token_stats",
      """SELECT lang,
        | CAST(SUM(len(regexp_split_to_array(trim(lower(text)), '\s+'))) AS BIGINT) AS total_tokens,
        | CAST(SUM(length(text)) AS BIGINT) AS total_chars, COUNT(*) AS n_docs
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      TextAnalysis.qualityMetrics(t(s, d, "documents"))
        .groupBy(col("lang"))
        .agg(sum(col("n_tokens")).as("total_tokens"),
          sum(col("n_chars_computed")).as("total_chars"),
          count(lit(1)).as("n_docs"))
        .orderBy(col("lang"))
    },
    // d04/d05: the custom-hash production paths (xxhash shingle minhash,
    // native simhash64) have no portable pair-for-pair SQL twin, so the
    // gate pins a RECALL property instead (the v03 pattern): every
    // strongest-signal pair from the hash-green portable twin (d19/d21)
    // must be found by the custom path. The oracle recomputes n_strong
    // EXACTLY in DuckDB; the 90%-floor clamp makes the healthy output
    // deterministic (constant-by-formula while recall holds, the raw
    // count when tripped — diagnosable from the dumped row).
    Gate("d04_minhash_lsh",
      // d04/d05: recall-property gates (the v03 pattern). DuckDB recomputes
      // n_strong EXACTLY via the portable twin pipelines (d19/d21 SQL) and
      // emits the formula-derived floor + TRUE; the engine's measured row
      // hash-matches only while the custom paths find >= 90% of the
      // strongest portable pairs.
      """WITH tk AS (
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
        |), strong AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM banded a JOIN banded b ON a.k = b.k AND a.sig = b.sig AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING COUNT(*) = 8
        |), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_strong FROM strong)
        |SELECT n_strong,
        |  CAST((n_strong * 9) // 10 AS BIGINT) AS n_found_floored,
        |  TRUE AS recall_ok
        |FROM n""".stripMargin) { (s, d) =>
      // strong = d19-pipeline pairs with 8/8 portable minima agreeing
      // (portable est jaccard 1.0, near-identical docs). Custom banding
      // math: at true j >= 0.8 a pair misses all 16 bands with
      // p = (1 - j^4)^16 < 1e-4 — the 90% floor is noise headroom.
      val strong = minhashSqlPairs(s, d).filter(col("n_matching") === 8)
        .select(col("id_a"), col("id_b"))
      val custom = Dedup.minhashLsh(t(s, d, "documents"), "doc_id",
          minEstJaccard = 0.3)
        .select(col("id_a"), col("id_b")).distinct()
      strong.join(custom.withColumn("__hit", lit(1L)), Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_strong"),
          coalesce(sum(col("__hit")), lit(0L)).as("n_found"))
        .select(col("n_strong"),
          least(col("n_found"), expr("(n_strong * 9) div 10")).as("n_found_floored"),
          (col("n_found") >= expr("(n_strong * 9) div 10")).as("recall_ok"))
    },
    Gate("d05_simhash",
      """WITH hs AS (
        |  SELECT doc_id,
        |    list_transform(regexp_split_to_array(trim(lower(text)), '\s+'), w -> md5(w)) AS hs
        |  FROM documents
        |), sigs AS (
        |  SELECT doc_id, array_to_string(list_transform(range(0, 64), j ->
        |    CASE WHEN list_reduce(list_prepend(0, list_transform(hs, h ->
        |        (((instr('0123456789abcdef', substring(h, CAST(j % 16 AS INTEGER) + 1, 1)) - 1)
        |          >> (j >> 4)) & 1) * 2 - 1)),
        |      (x, y) -> x + y) > 0 THEN '1' ELSE '0' END), '') AS sig
        |  FROM hs
        |), chunked AS (
        |  SELECT doc_id, sig, c AS chunk, substring(sig, CAST(c * 16 + 1 AS INTEGER), 16) AS key
        |  FROM sigs, (SELECT unnest(range(0, 4)) AS c)
        |), pairs AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sig_a, b.sig AS sig_b
        |  FROM chunked a JOIN chunked b ON a.chunk = b.chunk AND a.key = b.key AND a.doc_id < b.doc_id
        |), verified AS (
        |  SELECT id_a, id_b, list_reduce(list_prepend(0, list_transform(range(1, 65), i ->
        |      CASE WHEN substring(sig_a, CAST(i AS INTEGER), 1) <> substring(sig_b, CAST(i AS INTEGER), 1)
        |        THEN 1 ELSE 0 END)), (x, y) -> x + y) AS hamming
        |  FROM pairs
        |), n AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_strong FROM verified WHERE hamming <= 1
        |)
        |SELECT n_strong,
        |  CAST((n_strong * 9) // 10 AS BIGINT) AS n_found_floored,
        |  TRUE AS recall_ok
        |FROM n""".stripMargin) { (s, d) =>
      // strong = d21's portable pairs at hamming <= 1 (near-identical
      // token multisets). The custom path at maxHamming=8 splits 64 bits
      // into 9 chunks, so any pair within 8 custom-hamming bits has a
      // clean chunk by pigeonhole — candidate generation is deterministic;
      // the only probabilistic link is portable-close => custom-close.
      val strong = Dedup.simhashPairsPortable(t(s, d, "documents"), "doc_id",
          maxHamming = 3)
        .filter(col("hamming") <= 1).select(col("id_a"), col("id_b"))
      val custom = Dedup.simhashPairs(t(s, d, "documents"), "doc_id",
          maxHamming = 8)
        .select(col("id_a"), col("id_b")).distinct()
      strong.join(custom.withColumn("__hit", lit(1L)), Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_strong"),
          coalesce(sum(col("__hit")), lit(0L)).as("n_found"))
        .select(col("n_strong"),
          least(col("n_found"), expr("(n_strong * 9) div 10")).as("n_found_floored"),
          (col("n_found") >= expr("(n_strong * 9) div 10")).as("recall_ok"))
    },
    Gate("d06_langid",
      """WITH toks AS (
        |  SELECT lang, regexp_split_to_array(trim(lower(text)), '\s+') AS tk FROM documents
        |), hits AS (
        |  SELECT lang,
        |    len(list_filter(tk, t -> list_contains(['der','die','und','in','den','von','zu','das','mit','sich','des','auf'], t))) AS h_de,
        |    len(list_filter(tk, t -> list_contains(['the','and','of','to','in','is','that','it','for','was','with','are'], t))) AS h_en,
        |    len(list_filter(tk, t -> list_contains(['el','la','de','que','y','en','los','del','se','las','por','un'], t))) AS h_es,
        |    len(list_filter(tk, t -> list_contains(['le','la','de','et','les','des','en','un','du','une','que','est'], t))) AS h_fr,
        |    len(list_filter(tk, t -> list_contains(['de','a','o','que','e','do','da','em','um','para','com','os'], t))) AS h_pt
        |  FROM toks
        |), mx AS (
        |  SELECT lang, h_de, h_en, h_es, h_fr, h_pt,
        |    greatest(h_de, h_en, h_es, h_fr, h_pt) AS m FROM hits
        |), pred AS (
        |  SELECT lang,
        |    CASE WHEN m = 0 OR ((h_de = m)::INT + (h_en = m)::INT + (h_es = m)::INT
        |                        + (h_fr = m)::INT + (h_pt = m)::INT) > 1 THEN NULL
        |         WHEN h_pt = m THEN 'pt' WHEN h_fr = m THEN 'fr' WHEN h_es = m THEN 'es'
        |         WHEN h_en = m THEN 'en' ELSE 'de' END AS lang_pred
        |  FROM mx
        |)
        |SELECT lang, lang_pred, COUNT(*) AS n FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      TextAnalysis.withLangId(t(s, d, "documents"))
        .groupBy(col("lang"), col("lang_pred")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("lang_pred"))
    },
    Gate("d08_embedding_neardup",
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id % 4 = 0 AND b.vec_id % 4 = 0 AND a.vec_id < b.vec_id AND
        |  list_reduce(list_apply(list_zip(a.embedding, b.embedding),
        |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
        |  / (sqrt(list_reduce(list_apply(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))
        |     * sqrt(list_reduce(list_apply(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y)))
        |  >= 0.3125
        |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      // embedding-cosine near-dup, exact baseline on a keyed subset (the
      // exact path is O(n²) by construction — its own docs say bound the
      // input; the LSH-bucketed scale path is Dedup.cosineNearDupPairs,
      // DedupSpec). Ids only: the 0.3125 threshold is dyadic and the
      // cosines are sequential double folds, so the pair set is
      // bit-identical to the DuckDB oracle.
      Dedup.cosineNearDupExact(
          t(s, d, "embeddings").filter(expr("vec_id % 4 = 0")),
          "vec_id", "embedding", 0.3125)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    },
    Gate("d07_fingerprint",
      // the same fold as TextAnalysis.fingerprintPortable: code-point token
      // hash (seed 42, x31) rolled into a doc hash (seed 7, x37), mod 2^31-1 —
      // intermediates < 2^36 so both engines stay in exact BIGINT arithmetic
      """SELECT doc_id,
        |  list_reduce(list_prepend(CAST(7 AS BIGINT), list_transform(
        |      regexp_split_to_array(trim(lower(text)), '\s+'), w ->
        |        list_reduce(list_prepend(CAST(42 AS BIGINT),
        |            list_transform(range(1, length(w) + 1), i ->
        |              CAST(ascii(substring(w, i, 1)) AS BIGINT))),
        |          (x, c) -> (x * 31 + c) % 2147483647))),
        |    (a, h) -> (a * 37 + h) % 2147483647) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      // engine-portable rolling-hash fingerprint (code-point folds mod
      // 2^31-1) — hash-checked against the DuckDB twin of the same fold;
      // TextAnalysis.fingerprint (xxhash64 chaining) is the in-Spark fast
      // path with the identical normalize→token-hash→rolling-fold shape
      t(s, d, "documents").select(col("doc_id"),
          TextAnalysis.fingerprintPortable(col("text")).as("fingerprint"))
        .orderBy(col("doc_id"))
    },
    Gate("d09_bpeish_tokens",
      // \w and \s are ASCII classes in both Java regex (default) and RE2, so
      // the segment count equals the match count of `\w+|[^\w\s]`
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS INTEGER) AS n_bpeish
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      // BPE-ish pre-tokenizer count (word pieces + standalone punctuation)
      t(s, d, "documents").select(col("doc_id"),
          TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish"))
        .orderBy(col("doc_id"))
    },
    Gate("d10_corpus_clean",
      """WITH q AS (
        |  SELECT doc_id, text,
        |    CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS INTEGER) AS n_tokens
        |  FROM documents
        |  WHERE length(text) >= 50
        |    AND len(regexp_split_to_array(trim(lower(text)), '\s+')) >= 10
        |    AND CASE WHEN length(text) > 0 THEN
        |      CAST(length(regexp_replace(text, '[^.,;:!?''"()\[\]-]', '', 'g')) AS DOUBLE) / length(text)
        |    END <= 0.25
        |), kept AS (
        |  SELECT doc_id, text, n_tokens FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM q) t
        |  WHERE rn = 1
        |), toks AS (
        |  SELECT doc_id, n_tokens, regexp_split_to_array(trim(lower(text)), '\s+') AS tk FROM kept
        |), hits AS (
        |  SELECT doc_id, n_tokens,
        |    len(list_filter(tk, t -> list_contains(['der','die','und','in','den','von','zu','das','mit','sich','des','auf'], t))) AS h_de,
        |    len(list_filter(tk, t -> list_contains(['the','and','of','to','in','is','that','it','for','was','with','are'], t))) AS h_en,
        |    len(list_filter(tk, t -> list_contains(['el','la','de','que','y','en','los','del','se','las','por','un'], t))) AS h_es,
        |    len(list_filter(tk, t -> list_contains(['le','la','de','et','les','des','en','un','du','une','que','est'], t))) AS h_fr,
        |    len(list_filter(tk, t -> list_contains(['de','a','o','que','e','do','da','em','um','para','com','os'], t))) AS h_pt
        |  FROM toks
        |), pred AS (
        |  SELECT doc_id, n_tokens,
        |    CASE WHEN m = 0 OR ((h_de = m)::INT + (h_en = m)::INT + (h_es = m)::INT
        |                        + (h_fr = m)::INT + (h_pt = m)::INT) > 1 THEN NULL
        |         WHEN h_pt = m THEN 'pt' WHEN h_fr = m THEN 'fr' WHEN h_es = m THEN 'es'
        |         WHEN h_en = m THEN 'en' ELSE 'de' END AS lang_pred
        |  FROM (SELECT *, greatest(h_de, h_en, h_es, h_fr, h_pt) AS m FROM hits) x
        |)
        |SELECT doc_id, n_tokens, lang_pred FROM pred WHERE lang_pred IN ('en','es')
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      // end-to-end corpus cleaning, SQL-expressible path (nearDup=false —
      // the MinHash stage uses custom hashing and is spec-checked instead):
      // quality filter -> exact dedup (min id per text group) -> langid filter
      graft.llm.CorpusPipeline.clean(t(s, d, "documents"),
          cfg = graft.llm.CorpusCleanConfig(minChars = 50, minTokens = 10,
            maxPunctRatio = 0.25, keepLangs = Set("en", "es"), nearDup = false))
        .select(col("doc_id"), col("n_tokens"), col("lang_pred"))
        .orderBy(col("doc_id"))
    },
    Gate("d11_hash_sample",
      """SELECT doc_id, lang FROM documents
        |WHERE ((doc_id & 2147483647) * 2654435761) % 1000 <
        |  CASE WHEN lang = 'en' THEN 300 ELSE 100 END
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      // deterministic stratified sampling: Knuth multiplicative hash on the
      // id, 30% of English docs, 10% of the rest — pure integer arithmetic,
      // so the kept set is engine- and run-independent
      Sampling.hashSample(t(s, d, "documents"), col("doc_id"),
          when(col("lang") === "en", 300).otherwise(100))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
    Gate("d17_chunk_spans",
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, n,
        |    unnest(range(0, 1 + (greatest(n - 64, 0) + 47) // 48)) AS chunk_id FROM d
        |)
        |SELECT doc_id, chunk_id, chunk_id * 48 AS token_start,
        | least(64, n - chunk_id * 48) AS chunk_len
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
      // sliding-window chunking (window 64, stride 48 -> 16-token overlap):
      // span metadata per chunk, narrow integer generate, no text copies
      val docs = t(s, d, "documents")
        .withColumn("n_tokens", TextAnalysis.wsTokenCount(col("text")))
      Sampling.chunkSpans(docs, "n_tokens", window = 64, stride = 48)
        .select(col("doc_id"), col("chunk_id"), col("token_start"), col("chunk_len"))
        .orderBy(col("doc_id"), col("chunk_id"))
    },
    Gate("d18_bigram_vocab",
      """WITH tk AS (
        |  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
        |), g AS (
        |  SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
        |  FROM tk WHERE len(t) > 1
        |)
        |SELECT bigram, COUNT(*) AS n FROM g GROUP BY bigram
        |ORDER BY n DESC, bigram LIMIT 50""".stripMargin) { (s, d) =>
      // vocabulary induction: the BPE/merge-candidate core step — global
      // adjacent-pair counts, top 50 by frequency (deterministic tie order).
      // explode -> one keyed agg -> TakeOrdered; pair cardinality grows with
      // the data so the shuffle key space does too
      val toks = TextAnalysis.tokens(col("text"))
      val grams = zip_with(
        slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat_ws(" ", a, b))
      t(s, d, "documents")
        .filter(size(toks) > 1)
        .select(explode(grams).as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram"))
        .limit(50)
    },
    Gate("d19_minhash_sql",
      """WITH tk AS (
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
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_matching
        |FROM banded a JOIN banded b ON a.k = b.k AND a.sig = b.sig AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 4
        |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      // ORACLE-CHECKED MinHash-LSH: the same shingle -> per-function minima
      // -> band bucket join -> match-count pipeline as d04, built entirely
      // from engine-portable primitives (md5 over word 2-grams; min = hex
      // string order) so DuckDB reproduces the pair set bit-for-bit. The
      // custom-hash path (Dedup.minhashLsh, d04) is the fast production
      // variant; this one proves the ALGORITHM end to end.
      minhashSqlPairs(s, d).orderBy(col("id_a"), col("id_b"))
    },
    Gate("d20_dedup_clusters",
      // closure by recursive CTE: tiny here, but the point of the Spark side
      // (large-star/small-star) is exactly that closure-by-joins does NOT
      // scale — the oracle pins the semantics, the operator owns the scale
      dedupClustersOracleSql) { (s, d) =>
      // near-dup CLUSTER FORMATION: candidate pairs alone can't drop
      // duplicates (A~B, B~C chains) — distributed connected components
      // (large-star/small-star, ops/ConnectedComponents) labels each doc
      // with its component's min id. Edges = the oracle-checked minhash
      // pairs UNION a deterministic id chain (multiples of 7), which forces
      // a long-path component — exactly the shape where naive label
      // propagation stalls and the log-round algorithm matters. The DuckDB
      // oracle recomputes the closure with a recursive CTE.
      val docs = t(s, d, "documents").select(col("doc_id"))
      val chain = docs.filter(expr("doc_id % 7 = 0"))
        .select(col("doc_id").as("id_a"), (col("doc_id") + 7).as("id_b"))
        .join(docs.withColumnRenamed("doc_id", "id_b"), Seq("id_b"))
        .select(col("id_a"), col("id_b"))
      val edges = minhashSqlPairs(s, d).select(col("id_a"), col("id_b"))
        .unionByName(chain)
      graft.ops.ConnectedComponents.labels(edges, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("component"))
        .orderBy(col("doc_id"))
    },
    Gate("d21_simhash_sql",
      // Dedup.simhashPairsPortable's twin: md5-derived per-token bits
      // (position p = (j%16)+1, bit-plane s = j>>4), sign-sum per bit,
      // 4x16-char banding, 64-position Hamming verify
      """WITH hs AS (
        |  SELECT doc_id,
        |    list_transform(regexp_split_to_array(trim(lower(text)), '\s+'), w -> md5(w)) AS hs
        |  FROM documents
        |), sigs AS (
        |  SELECT doc_id, array_to_string(list_transform(range(0, 64), j ->
        |    CASE WHEN list_reduce(list_prepend(0, list_transform(hs, h ->
        |        (((instr('0123456789abcdef', substring(h, CAST(j % 16 AS INTEGER) + 1, 1)) - 1)
        |          >> (j >> 4)) & 1) * 2 - 1)),
        |      (x, y) -> x + y) > 0 THEN '1' ELSE '0' END), '') AS sig
        |  FROM hs
        |), chunked AS (
        |  SELECT doc_id, sig, c AS chunk, substring(sig, CAST(c * 16 + 1 AS INTEGER), 16) AS key
        |  FROM sigs, (SELECT unnest(range(0, 4)) AS c)
        |), pairs AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sig_a, b.sig AS sig_b
        |  FROM chunked a JOIN chunked b ON a.chunk = b.chunk AND a.key = b.key AND a.doc_id < b.doc_id
        |), verified AS (
        |  SELECT id_a, id_b, list_reduce(list_prepend(0, list_transform(range(1, 65), i ->
        |      CASE WHEN substring(sig_a, CAST(i AS INTEGER), 1) <> substring(sig_b, CAST(i AS INTEGER), 1)
        |        THEN 1 ELSE 0 END)), (x, y) -> x + y) AS hamming
        |  FROM pairs
        |)
        |SELECT id_a, id_b, CAST(hamming AS INTEGER) AS hamming FROM verified
        |WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      // ORACLE-CHECKED SimHash twin: the full banding + Hamming-verify
      // pipeline over md5-derived per-token bits (engine-portable
      // primitives — the d19 trick applied to SimHash). d05 (native
      // doGenCode simhash64 kernel) remains the production fast path.
      Dedup.simhashPairsPortable(t(s, d, "documents"), "doc_id", maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    },
    Gate("d15_stratified_sample",
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
        |  FROM documents) t
        |WHERE rnk <= 20 ORDER BY lang, doc_id""".stripMargin) { (s, d) =>
      // exact-size per-stratum sample: 20 docs per language by md5 rank
      // (deterministic reservoir stand-in; engine-portable hash order)
      Sampling.stratifiedFixedSample(t(s, d, "documents"), Seq("lang"),
          col("doc_id"), n = 20)
        .select(col("lang"), col("doc_id"))
        .orderBy(col("lang"), col("doc_id"))
    },
    Gate("d16_quantile_filter",
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS INTEGER) AS n_tokens
        |  FROM documents
        |), th AS (
        |  SELECT lang, quantile_cont(n_tokens, 0.25) AS thresh FROM d GROUP BY lang
        |)
        |SELECT d.doc_id, d.lang, d.n_tokens
        |FROM d JOIN th ON d.lang = th.lang
        |WHERE d.n_tokens >= th.thresh
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      // per-language bottom-quartile drop by token count (quality-percentile
      // curation); 0.25 is dyadic so the interpolated threshold is bit-exact
      val docs = t(s, d, "documents")
        .withColumn("n_tokens", size(TextAnalysis.tokens(col("text"))))
      Sampling.quantileFilter(docs, Seq("lang"), "n_tokens", q = 0.25)
        .select(col("doc_id"), col("lang"), col("n_tokens"))
        .orderBy(col("doc_id"))
    },
    Gate("d12_seq_pack",
      """WITH d AS (
        |  SELECT lang, doc_id,
        |    len(regexp_split_to_array(trim(lower(text)), '\s+')) AS n_tokens
        |  FROM documents
        |), b AS (
        |  SELECT lang, doc_id, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512 AS bin_id
        |  FROM d)
        |SELECT lang, CAST(bin_id AS BIGINT) AS bin_id, COUNT(*) AS n_docs,
        | CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      // token-budget sequence packing: contiguous greedy bins of 512 tokens
      // per language (running integer sum, keyed window — packs in parallel
      // across strata)
      val docs = t(s, d, "documents")
        .withColumn("n_tokens", size(TextAnalysis.tokens(col("text"))))
      Sampling.seqPack(docs, Seq("lang"), "doc_id", "n_tokens", capacity = 512L)
        .groupBy(col("lang"), col("bin_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).cast("long").as("bin_tokens"))
        .orderBy(col("lang"), col("bin_id"))
    },
    Gate("d61_training_mix",
      // d61: the composed mix-builder replay — d14's ordered-fold weights,
      // floor quotas, d15's md5 rank, d12's packing window, one statement
      """WITH c AS (
        |  SELECT lang, COUNT(*) AS n_rows FROM documents GROUP BY lang
        |), dn AS (
        |  SELECT list_reduce(list(sqrt(CAST(n_rows AS DOUBLE)) ORDER BY lang),
        |    (a, b) -> a + b) AS denom FROM c
        |), q AS (
        |  SELECT lang,
        |    CAST(FLOOR((sqrt(CAST(n_rows AS DOUBLE)) / denom) * 400) AS INT) AS quota
        |  FROM c, dn
        |), r AS (
        |  SELECT d0.lang, d0.doc_id, d0.n_tokens
        |  FROM (SELECT lang, doc_id,
        |          len(regexp_split_to_array(trim(lower(text)), '\s+')) AS n_tokens,
        |          ROW_NUMBER() OVER (PARTITION BY lang
        |            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
        |        FROM documents) d0
        |  JOIN q ON q.lang = d0.lang AND d0.rnk <= q.quota
        |), b AS (
        |  SELECT lang, doc_id, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512 AS bin_id
        |  FROM r
        |)
        |SELECT b.lang, CAST(bin_id AS BIGINT) AS bin_id,
        |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
        |  MAX(q.quota) AS quota
        |FROM b JOIN q ON q.lang = b.lang
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      // the END-TO-END TRAINING-MIX builder — the artifact a pretraining
      // data pipeline actually ships, composed from gated stages:
      // temperature mixture weights per lang (d14's ordered fold) →
      // integer per-lang doc quotas floor(weight·400) (bit-identical
      // weights ⇒ identical floors) → deterministic md5-rank quota
      // sample per lang (d15's mechanism, exact sizes) → token-budget
      // greedy packing of the sampled docs (d12's keyed running sum).
      // One composed SQL replay gates the whole chain — a drift in ANY
      // stage (fold order, rank tie, bin boundary) breaks the hash.
      val docs = t(s, d, "documents")
        .withColumn("n_tokens", size(TextAnalysis.tokens(col("text"))))
      val quotas = Sampling.mixtureWeights(docs, "lang")
        .select(col("lang"), floor(col("weight") * 400).cast("int").as("quota"))
      val w = Window.partitionBy("lang")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      val sampled = docs.join(broadcast(quotas), Seq("lang"))
        .withColumn("__rank", row_number().over(w))
        .filter(col("__rank") <= col("quota")).drop("__rank")
      Sampling.seqPack(sampled, Seq("lang"), "doc_id", "n_tokens",
          capacity = 512L)
        .groupBy(col("lang"), col("bin_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("bin_tokens"))
        .join(broadcast(quotas), Seq("lang"))
        .orderBy("lang", "bin_id")
    },
    Gate("d13_repetition",
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
        |), narrow AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) > 0 THEN
        |      1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t) END AS dup_word_ratio,
        |    CASE WHEN len(t) > 1 THEN
        |      1.0 - CAST(len(list_distinct(list_transform(range(1, len(t)),
        |        i -> t[i] || ' ' || t[i+1]))) AS DOUBLE) / (len(t) - 1) END AS dup_2gram_ratio
        |  FROM tk
        |), cnts AS (
        |  SELECT doc_id, tok, COUNT(*) AS c
        |  FROM (SELECT doc_id, unnest(t) AS tok FROM tk) u GROUP BY 1, 2
        |), top AS (
        |  SELECT doc_id, CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_token_frac
        |  FROM cnts GROUP BY doc_id
        |)
        |SELECT n.doc_id, n.dup_word_ratio, n.dup_2gram_ratio, top.top_token_frac
        |FROM narrow n LEFT JOIN top ON n.doc_id = top.doc_id
        |ORDER BY n.doc_id""".stripMargin) { (s, d) =>
      // Gopher-style repetition quality signals: duplicate-word /
      // duplicate-2-gram ratios (narrow array math) + top-token frequency
      // (explode + keyed agg); all ratios single int/int divisions
      TextAnalysis.repetitionMetrics(t(s, d, "documents"))
        .select(col("doc_id"), col("dup_word_ratio"), col("dup_2gram_ratio"),
          col("top_token_frac"))
        .orderBy(col("doc_id"))
    },
    Gate("d14_mix_weights",
      """WITH c AS (
        |  SELECT lang, COUNT(*) AS n_rows FROM documents GROUP BY lang
        |), d AS (
        |  SELECT list_reduce(list(sqrt(CAST(n_rows AS DOUBLE)) ORDER BY lang),
        |    (a, b) -> a + b) AS denom FROM c
        |)
        |SELECT lang, n_rows, sqrt(CAST(n_rows AS DOUBLE)) / denom AS weight
        |FROM c, d ORDER BY lang""".stripMargin) { (s, d) =>
      // temperature-based mixture weights (alpha = 0.5): sqrt(n)/sum sqrt(n)
      // with a SEQUENTIAL key-ordered fold for the denominator — bit-exact
      // across engines
      Sampling.mixtureWeights(t(s, d, "documents"), "lang", alpha = 0.5)
        .select(col("lang"), col("n_rows"), col("weight"))
        .orderBy(col("lang"))
    },
    Gate("d22_decontaminate",
      // decontamination twin: distinct word 3-grams; every ~97th doc is the
      // eval set, the rest the corpus; per-doc totals via LEFT joins so
      // zero-gram and zero-hit docs keep their rows
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
        |), g AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS grams
        |  FROM tk WHERE len(t) >= 3
        |), bench AS (
        |  SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0
        |), cg AS (
        |  SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 97 <> 0
        |), h AS (
        |  SELECT cg.doc_id, COUNT(*) AS n_grams, COUNT(b.gram) AS n_contaminated
        |  FROM cg LEFT JOIN bench b USING (gram) GROUP BY cg.doc_id
        |)
        |SELECT d.doc_id, COALESCE(h.n_grams, 0) AS n_grams,
        |  COALESCE(h.n_contaminated, 0) AS n_contaminated,
        |  COALESCE(h.n_contaminated, 0) > 0 AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
        |LEFT JOIN h USING (doc_id) ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      // benchmark decontamination: every ~97th doc plays the eval set; the
      // rest is the corpus, screened for shared word 3-grams. Broadcast
      // benchmark set, narrow corpus explode, one doc-keyed count shuffle.
      // hashGrams=false = the engine-portable oracle twin (the xxhash64
      // production path is pinned ≡ to it in DecontaminationSpec)
      val docs = t(s, d, "documents")
      Decontamination.contaminationStats(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0),
          n = 3, hashGrams = false)
        .orderBy(col("doc_id"))
    },
    Gate("d59_fuzzy_decontam",
      // d59: the d19 portable-signature contract over a train×eval split —
      // n_matching stays BIGINT (DuckDB COUNT) matching Spark's count
      fuzzyDecontamOracleSql) { (s, d) =>
      // FUZZY decontamination (Decontamination.fuzzyContamination): every
      // ~7th doc plays the eval set; training docs whose md5-minhash
      // signatures agree with an eval doc's on >= 4 of 8 functions (est
      // Jaccard >= 0.5) are flagged as paraphrased leakage — the
      // near-match complement of d22's exact n-gram screen. Broadcast
      // eval signatures, narrow corpus shingle pass, (k, sig) equi-join —
      // the oracle replays the exact pair set via the d19 portable-
      // signature contract.
      val docs = t(s, d, "documents")
      Decontamination.fuzzyContamination(
          docs.filter(col("doc_id") % 7 =!= 3),
          docs.filter(col("doc_id") % 7 === 3))
        .orderBy(col("doc_id"), col("eval_id"))
    },
    Gate("d60_url_canonical",
      // d60: the same synthetic messy-URL generator + the same
      // normalization chain (fragment strip, lower scheme/host, default-
      // port strip, trailing-slash collapse, utm filter, param sort) in
      // DuckDB string/list primitives
      (urlCanonCteSql +
      """
        |SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_variants, MIN(doc_id) AS keep_id
        |FROM canon GROUP BY 1 ORDER BY 1""".stripMargin)) { (s, d) =>
      // URL canonicalization + fetch dedup (llm/Urls): deterministic
      // MESSY synthetic URLs per doc (mixed-case scheme/host, default
      // vs real ports, trailing slashes, utm_* tracking params,
      // unordered query params, fragments — the d23 synthetic-PII
      // pattern) canonicalize and dedup to (canonical_url, n_variants,
      // keep_id). Pure built-in column ops — the oracle replays every
      // normalization byte-for-byte, so a regex or sort divergence
      // breaks the hash.
      val id = col("doc_id")
      val urls = t(s, d, "documents").select(id,
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
      graft.llm.Urls.dedupByCanonicalUrl(urls, "url", "doc_id")
        .orderBy("canonical_url")
    },
    Gate("d23_pii_redact",
      // PII twin: identical synthetic PII construction, counts via
      // regexp_extract_all, redaction via the same three patterns in the same
      // order (DuckDB needs the 'g' flag for replace-all; Spark's
      // regexp_replace is always global)
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
      // PII scrub: deterministic synthetic PII (emails/IPv4/phones keyed on
      // doc_id mods so the per-row counts VARY) appended to the corpus
      // text, then counted and masked — narrow codegen'd regex projection,
      // redaction order fixed (email → IP → phone). The oracle recomputes
      // the exact redacted strings (Java and RE2 share this regex subset)
      val id = col("doc_id")
      val withPii = t(s, d, "documents").withColumn("text", concat(
        col("text"),
        when(id % 3 === 0,
          concat(lit(" mail user"), id, lit("@example.com"))).otherwise(lit("")),
        when(id % 4 === 0,
          concat(lit(" from 10."), id % 200, lit(".0.7"))).otherwise(lit("")),
        when(id % 5 === 0,
          concat(lit(" call +1 555 014 "),
            lpad((id % 100).cast("string"), 4, "0"))).otherwise(lit(""))))
      Pii.redact(Pii.piiStats(withPii), outCol = "redacted")
        .select(col("doc_id"), col("n_emails"), col("n_ipv4"), col("n_phones"),
          col("redacted"))
        .orderBy(col("doc_id"))
    },
    Gate("d24_dup_spans",
      // duplicated-span twin: per-position word 8-grams, cross-doc duplicates
      // via min!=max per gram, maximal spans via the same gaps-and-islands
      // window, zero rows kept by the final LEFT join
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
        |), pos AS (
        |  SELECT doc_id, unnest(range(1, len(t) - 6)) AS pos, t
        |  FROM tk WHERE len(t) >= 8
        |), pg AS (
        |  SELECT doc_id, pos, array_to_string(t[pos:pos+7], ' ') AS gram FROM pos
        |), dup AS (
        |  SELECT gram FROM pg GROUP BY gram HAVING MIN(doc_id) <> MAX(doc_id)
        |), dp AS (
        |  SELECT pg.doc_id, pg.pos, pg.pos + 7 AS e FROM pg JOIN dup USING (gram)
        |), isl AS (
        |  SELECT doc_id, pos, e,
        |    CASE WHEN MAX(e) OVER (PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |      OR pos > MAX(e) OVER (PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      THEN 1 ELSE 0 END AS ns
        |  FROM dp
        |), isl2 AS (
        |  SELECT doc_id, pos, e,
        |    SUM(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM isl
        |), per AS (
        |  SELECT doc_id, island, COUNT(*) AS npos, MIN(pos) AS s, MAX(e) AS ee
        |  FROM isl2 GROUP BY 1, 2
        |), agg AS (
        |  SELECT doc_id, CAST(SUM(npos) AS BIGINT) AS n_dup_positions,
        |    CAST(SUM(ee - s + 1) AS BIGINT) AS n_covered_tokens
        |  FROM per GROUP BY doc_id
        |)
        |SELECT tk.doc_id, CAST(len(tk.t) AS INTEGER) AS n_tokens,
        |  CAST(greatest(len(tk.t) - 7, 0) AS BIGINT) AS n_positions,
        |  COALESCE(agg.n_dup_positions, 0) AS n_dup_positions,
        |  COALESCE(agg.n_covered_tokens, 0) AS n_covered_tokens
        |FROM tk LEFT JOIN agg USING (doc_id) ORDER BY tk.doc_id""".stripMargin) { (s, d) =>
      // position-level repeated-substring detection: word 8-grams occurring
      // in >= 2 docs, merged to maximal spans per doc (gaps-and-islands
      // window); "occurs elsewhere" is a min!=max aggregate, not a
      // count-distinct. String grams = the oracle twin; DedupSpec pins the
      // xxhash64 production variant ≡ on this corpus
      Dedup.dupNgramSpans(t(s, d, "documents"), "doc_id", n = 8, hashGrams = false)
        .orderBy(col("doc_id"))
    },
    Gate("d25_tfidf_keywords",
      // the hash carries the score's exact integer inputs (tf, df), not the
      // double: Spark's StrictMath log and DuckDB's libm ln differ by 1 ulp
      // on ~8% of arguments (see the d25 comment in queries)
      """WITH tk AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM tk GROUP BY 1, 2
        |), dfx AS (
        |  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
        |), n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, term, tf, df,
        |    tf * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS tfidf
        |  FROM tf JOIN dfx USING (term) CROSS JOIN n
        |)
        |SELECT doc_id, term, tf, df FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk FROM scored
        |) WHERE rk <= 3 ORDER BY doc_id, term""".stripMargin) { (s, d) =>
      // TF-IDF keyword extraction: top-3 terms per doc by tf·ln(N/df).
      // The hash carries (tf, df) — the score's exact rational inputs —
      // NOT the double score: Spark's `log` is StrictMath (fdlibm) and
      // DuckDB's `ln` is platform libm, 1 ulp apart on ~8% of arguments.
      // The top-3 SELECTION still exercises the float scoring end to end
      // (both engines rank by their own tf·ln(N/df); a selection flip
      // would need two different (tf,df) scores within 1 ulp).
      TextAnalysis.tfidfTopK(t(s, d, "documents"), "doc_id", "text", k = 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"))
        .orderBy(col("doc_id"), col("term"))
    },
    Gate("d26_semantic_dedup",
      // same fold order as dotFast/normFast -> bit-identical cosines; the
      // transitive closure is the d20 recursive-CTE trick; zero-norm vectors
      // pair with nothing (NULL cosine in Spark, excluded here) but still
      // appear as singleton keepers via the left join
      """WITH RECURSIVE nz AS (
        |  SELECT vec_id, embedding, list_reduce(list_apply(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y) AS n2
        |  FROM embeddings
        |), p AS (
        |  SELECT a.vec_id AS ia, b.vec_id AS ib
        |  FROM nz a, nz b
        |  WHERE a.vec_id < b.vec_id AND a.n2 > 0 AND b.n2 > 0 AND
        |    list_reduce(list_apply(list_zip(a.embedding, b.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (x, y) -> x + y)
        |      / (sqrt(a.n2) * sqrt(b.n2)) >= 0.40
        |), sym AS (
        |  SELECT ia AS u, ib AS v FROM p UNION SELECT ib, ia FROM p
        |), reach AS (
        |  SELECT u, v FROM sym
        |  UNION
        |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
        |), comp AS (
        |  SELECT u AS vec_id, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u
        |)
        |SELECT e.vec_id, COALESCE(c.component, e.vec_id) AS component,
        |  (COALESCE(c.component, e.vec_id) = e.vec_id) AS keep
        |FROM embeddings e LEFT JOIN comp c ON c.vec_id = e.vec_id
        |ORDER BY e.vec_id""".stripMargin) { (s, d) =>
      // semantic dedup, exact path: all-pairs cosine >= 0.40 closes
      // transitively (distributed CC) and each component keeps its min id.
      // Fully oracle-checked: DuckDB recomputes the pairs (same fold order
      // -> bit-identical cosines) and the closure with a recursive CTE.
      // Output is integer/boolean only — no floats in the hash.
      Dedup.semanticDedupExact(t(s, d, "embeddings"), "vec_id", "embedding",
          minCosine = 0.40)
        .orderBy(col("vec_id"))
    },
    Gate("d27_semdedup_cells",
      // the exact-side dropped count is recomputed INDEPENDENTLY here (the
      // booleans are the property pins; see the d27 comment in queries)
      """WITH RECURSIVE nz AS (
        |  SELECT vec_id, embedding, list_reduce(list_apply(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y) AS n2
        |  FROM embeddings
        |), p AS (
        |  SELECT a.vec_id AS ia, b.vec_id AS ib
        |  FROM nz a, nz b
        |  WHERE a.vec_id < b.vec_id AND a.n2 > 0 AND b.n2 > 0 AND
        |    list_reduce(list_apply(list_zip(a.embedding, b.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (x, y) -> x + y)
        |      / (sqrt(a.n2) * sqrt(b.n2)) >= 0.40
        |), sym AS (
        |  SELECT ia AS u, ib AS v FROM p UNION SELECT ib, ia FROM p
        |), reach AS (
        |  SELECT u, v FROM sym
        |  UNION
        |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_dropped,
        |  TRUE AS subset_ok, TRUE AS recall_ok
        |FROM (SELECT u FROM reach GROUP BY u HAVING MIN(v) < u)""".stripMargin) { (s, d) =>
      // semantic dedup, scale path, gated v03-style: k-means cells bound
      // the quadratic candidate work, the exact verify makes every celled
      // pair a true pair, so dropped(celled) SUBSET-OF dropped(exact) by
      // construction — subset_ok pins that invariant in the hash, and
      // recall_ok pins drop-recall >= 0.8 (a broken quantizer, probe, or
      // verify collapses it). nCells=16/nProbe=3 is the measured
      // pruning/recall balance on this corpus: 8 cells under-prune (the
      // celled path generated MORE candidate pairs than exact all-pairs at
      // n=2000), 32 cells split the dense sf0.1 near-dup clusters and fail
      // the 0.8 floor; 16 passes it at all three SFs. At real scale size
      // nCells so the expected cell holds ~1k-10k vectors (candidates per
      // cell stay ~10^6-10^8 per task) and keep nProbe ≥ 3 for recall.
      // n_exact_dropped is NOT a pinned constant: the DuckDB oracle
      // recomputes it via the d26 recursive-CTE closure.
      val emb = t(s, d, "embeddings")
      // ONE action: both dropped-id pipelines meet in a full-outer join
      // and all three counts fold out of it — the previous 2-checkpoint +
      // 3-action staging persisted both frames into the block manager,
      // which under full-suite memory pressure turned this gate into the
      // bench's top entry (25.9 s contended vs 3.5 isolated in r11)
      val exact = Dedup.semanticDedupExact(emb, "vec_id", "embedding", 0.40)
        .filter(!col("keep")).select(col("vec_id"), lit(1L).as("__e"))
      val celled = Dedup.semanticDedup(emb, "vec_id", "embedding",
          dim = 64, minCosine = 0.40, nCells = 16, nProbe = 3)
        .filter(!col("keep")).select(col("vec_id"), lit(1L).as("__c"))
      val r = exact.join(celled, Seq("vec_id"), "full_outer")
        .agg(coalesce(sum(col("__e")), lit(0L)),
          coalesce(sum(col("__c")), lit(0L)),
          coalesce(sum(when(col("__e").isNull, 1L)), lit(0L)))
        .head()
      val (nExact, nCelled, nOutside) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val ss = s
      import ss.implicits._
      Seq((nExact, nOutside == 0,
          nExact == 0 || nCelled.toDouble / nExact >= 0.8))
        .toDF("n_exact_dropped", "subset_ok", "recall_ok")
    },
    Gate("d35_bpe_encode", bpeEncodeOracleSql(6)) { (s, d) =>
      // the other half of the tokenizer story: ENCODE the corpus with the
      // 6 rules d28 learns (applyMerges — a narrow per-word greedy fold,
      // merge list arrives as literals, no join) and aggregate integer
      // token statistics per source. The oracle replays training AND
      // encoding, so the gate covers the full learn -> tokenize loop.
      val docs = t(s, d, "documents")
      val merges = graft.llm.Bpe.learnMerges(docs, "text", numMerges = 6)
        .orderBy(col("merge_rank")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      // encode each DISTINCT word once (the greedy fold runs at vocabulary
      // size, not corpus size — words repeat) and broadcast the dictionary
      // back onto the corpus explode; the corpus-sized stages stay narrow
      // localCheckpoint MATTERS here: un-materialized, the dict's greedy-
      // fold expression rides through the broadcast join and Catalyst
      // re-evaluates it per CORPUS row (~300k times) instead of per
      // vocabulary row — the d21 CollapseProject lesson in join form
      val dict = graft.llm.Bpe.applyMerges(
        docs.select(explode(TextAnalysis.tokens(col("text"))).as("w"))
          .filter(length(col("w")) > 0).distinct()
          .repartition(s.sparkContext.defaultParallelism),
        merges, textCol = "w", outCol = "toks")
        .localCheckpoint()
      docs.repartition(s.sparkContext.defaultParallelism)
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .join(broadcast(dict), "w")
        .select(col("source"), explode(col("toks")).as("tok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("tok")).as("n_distinct"),
          sum(length(col("tok"))).as("n_chars"))
        .orderBy("source")
    },
    Gate("d65_quality_classifier",
      // d63: all-integer rule chain — cross-multiplied thresholds, fixed
      // first-failure order, no float contract anywhere
      // d65: the full weak-label → train → score replay. The lab CTE is
      // d63's rule chain collapsed to one boolean; weights and scores are
      // integer-only (cross-multiplied odds, summed {−1,0,+1}).
      d65OracleSql) { (s, d) =>
      // classifier-based quality filtering TRAINED on weak labels
      // (TextAnalysis.oddsRatioClassifier — the CCNet/fastText pattern):
      // gopher rules weak-label the even-keyed half, a smoothed
      // odds-ratio keyword model learns weights in {−1,0,+1} by integer
      // cross-multiplication (log-odds > log 2 ⇔ one long inequality),
      // and the odd-keyed half is scored by summed weights over distinct
      // tokens. The oracle replays LABEL, TRAIN, and SCORE in closed
      // SQL — d63 gates the rules, this gates learning from them; no
      // float contract anywhere.
      val docs = t(s, d, "documents")
      val trainDocs = docs.filter(col("doc_id") % 2 === 0)
      val labels = graft.llm.TextAnalysis.gopherRules(trainDocs)
        .select(col("doc_id"), col("accepted").as("label"))
      graft.llm.TextAnalysis.oddsRatioClassifier(
          trainDocs.join(labels, "doc_id"),
          docs.filter(col("doc_id") % 2 === 1))
        .orderBy("doc_id")
    },
    Gate("d86_hrw_sharding",
      // d86: both rendezvous assignments replayed with arg_max over the
      // same md5 weights; hrw_ok pins the minimal-disruption invariant
      """WITH w AS (
        |  SELECT d.doc_id, s.sh,
        |    md5(CAST(d.doc_id AS VARCHAR) || ':' || CAST(s.sh AS VARCHAR)) AS w
        |  FROM documents d, (SELECT unnest(range(5)) AS sh) s
        |), a4 AS (
        |  SELECT doc_id, CAST(arg_max(sh, w) AS INT) AS shard4
        |  FROM w WHERE sh < 4 GROUP BY doc_id
        |), a5 AS (
        |  SELECT doc_id, CAST(arg_max(sh, w) AS INT) AS shard5
        |  FROM w GROUP BY doc_id
        |)
        |SELECT a4.doc_id, a4.shard4, a5.shard5,
        |  a4.shard4 != a5.shard5 AS moved,
        |  (a4.shard4 = a5.shard5) OR (a5.shard5 = 4) AS hrw_ok
        |FROM a4 JOIN a5 USING (doc_id) ORDER BY a4.doc_id""".stripMargin) { (s, d) =>
      // RENDEZVOUS (HRW) SHARDING (Sampling.hrwShard): stable shard
      // placement for a growing corpus — the gate assigns every doc
      // under 4 shards AND 5 shards and emits the HRW resize invariant
      // in the hash: a doc moves iff the NEW shard (id 4) wins its
      // rendezvous, so `hrw_ok` (¬moved ∨ shard5 = 4) must be true on
      // every row and ~1/5 of docs move. The oracle replays both
      // assignments with the same md5 rendezvous (arg_max).
      val docs = t(s, d, "documents").select(col("doc_id"))
      val a4 = Sampling.hrwShard(docs, "doc_id", 4, "shard4")
      val a5 = Sampling.hrwShard(docs, "doc_id", 5, "shard5")
      a4.join(a5, "doc_id")
        .withColumn("moved", col("shard4") =!= col("shard5"))
        .withColumn("hrw_ok", !col("moved") || col("shard5") === 4)
        .orderBy("doc_id")
    },
    Gate("d84_epoch_shuffle",
      // d84: the same md5 ordering replayed with a window — the ORACLE may
      // single-task-sort; the engine's GlobalRank result must equal it
      """WITH e AS (SELECT unnest([1, 2]) AS epoch),
        |h AS (
        |  SELECT e.epoch, d.doc_id,
        |    md5(CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)) AS hh
        |  FROM e, documents d
        |)
        |SELECT epoch, doc_id,
        |  CAST(row_number() OVER (PARTITION BY epoch ORDER BY hh) AS BIGINT) AS pos
        |FROM h ORDER BY epoch, doc_id""".stripMargin) { (s, d) =>
      // REPRODUCIBLE GLOBAL TRAINING-ORDER SHUFFLE: the epoch
      // permutation a trainer consumes — order docs by md5(epoch:doc_id)
      // and assign each its global position. Deterministic (same seed →
      // same order on any cluster), different per epoch, and UNIFORM in
      // the crypto-hash sense; the position comes from ops/GlobalRank
      // (range partitions + broadcast offsets), NOT a single-task
      // ORDER BY — the permutation of a 10⁹-doc corpus is itself a
      // 10⁹-row sort that must distribute. Two epochs in one gate prove
      // the permutations differ while each stays a bijection; the
      // oracle replays positions with the same md5 ordering.
      val docs = t(s, d, "documents").select(col("doc_id"))
      Seq(1, 2).map { e =>
        val hashed = docs.select(col("doc_id"),
          md5(concat_ws(":", lit(e), col("doc_id"))).as("__h"))
        graft.ops.GlobalRank.withGlobalRank(hashed, "pos", col("__h"))
          .select(lit(e).as("epoch"), col("doc_id"), col("pos"))
      }.reduce(_ unionByName _).orderBy("epoch", "doc_id")
    },
    Gate("d83_lexical_richness",
      """WITH uni AS (
        |  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c FROM (
        |    SELECT source,
        |      unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |    FROM documents) WHERE w <> '' GROUP BY 1, 2
        |), agg AS (
        |  SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS vocab,
        |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
        |    CAST(SUM(c * (c - 1)) AS BIGINT) AS coll
        |  FROM uni GROUP BY 1
        |)
        |SELECT source, n_tokens, vocab, hapax,
        |  ROUND(CAST(coll AS DOUBLE) /
        |    CAST(n_tokens * (n_tokens - 1) AS DOUBLE), 6) AS simpson_d
        |FROM agg ORDER BY source""".stripMargin) { (s, d) =>
      // per-source LEXICAL RICHNESS: vocabulary size, hapax count (words
      // seen once — the Good-Turing N_1 mass, localized per source) and
      // Simpson's diversity D = Σ c·(c−1) / (N·(N−1)) — the repeat-draw
      // collision probability, a corpus-mixing health check (template
      // spam drives D up, diverse prose keeps it near uniform). Counts
      // exact; D is one pinned divide of exact longs + ROUND(,6). Two
      // keyed aggs, map-side combinable.
      val uni = t(s, d, "documents")
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
      uni.groupBy("source")
        .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("vocab"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"),
          sum(col("c") * (col("c") - 1)).as("__coll"))
        .select(col("source"), col("n_tokens"), col("vocab"), col("hapax"),
          round(col("__coll").cast("double") /
            (col("n_tokens") * (col("n_tokens") - 1)).cast("double"), 6)
            .as("simpson_d"))
        .orderBy("source")
    },
    Gate("d81_vocab_growth",
      """WITH pos AS (
        |  SELECT doc_id, g.i AS p, a[g.i] AS w
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(trim(lower(text)), '\s+') AS a
        |        FROM documents) t,
        |  LATERAL (SELECT unnest(generate_series(1, len(t.a))) AS i) g
        |  WHERE a[g.i] <> ''
        |), counts AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nt FROM pos GROUP BY 1
        |), offs AS (
        |  SELECT doc_id, COALESCE(SUM(nt) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM counts
        |), fp AS (
        |  SELECT w, MIN(o.off + p.p) AS fp
        |  FROM pos p JOIN offs o USING (doc_id) GROUP BY w
        |), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pos),
        |ks AS (
        |  SELECT CAST(v.k AS BIGINT) AS k,
        |    CAST((n.n * v.k) // 8 AS BIGINT) AS n_prefix
        |  FROM (VALUES (1), (2), (3), (4), (5), (6), (7), (8)) v(k)
        |  CROSS JOIN n
        |)
        |SELECT ks.k, ks.n_prefix, CAST(COUNT(*) AS BIGINT) AS vocab
        |FROM fp CROSS JOIN ks WHERE fp.fp <= ks.n_prefix
        |GROUP BY 1, 2 ORDER BY ks.k""".stripMargin) { (s, d) =>
      // Heaps'-law VOCABULARY GROWTH curve: distinct-word count after
      // the first k/8 of the token stream (k = 1..8) — the dedup/
      // diversity planning curve (how fast does new data stop adding new
      // vocabulary?). Global token positions are assembled WITHOUT a
      // corpus-length single-task window: per-doc token counts get a
      // window over the DOC table (corpus-count rows, not token-count —
      // the d34 offset-table shape), and each token's position is
      // docOffset + in-doc pos. Then one min-agg per word and one
      // count-per-checkpoint — all exact integers.
      val docs = t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__ts"))
        .select(col("doc_id"),
          posexplode(col("__ts")).as(Seq("p", "w")))
        .filter(length(col("w")) > 0)
        .localCheckpoint() // doc counts + position join
      val counts = docs.groupBy("doc_id").agg(count(lit(1)).as("nt"))
      // exclusive prefix sum WITHOUT a single-task window — at 10⁹ docs
      // even the doc-count table is too big for one sort task
      val offsets = graft.ops.GlobalRank.withGlobalPrefixSum(
        counts, col("nt"), "off", col("doc_id"))
      val firstPos = docs.join(offsets, "doc_id")
        .select(col("w"), (col("off") + col("p") + 1).as("gpos"))
        .groupBy("w").agg(min(col("gpos")).as("fp"))
        .localCheckpoint() // eight checkpoint scans
      val nTotal = docs.count()
      import s.implicits._
      val ks = (1 to 8).map(k => (k.toLong, nTotal * k / 8)).toDF("k", "n_prefix")
      firstPos.crossJoin(broadcast(ks))
        .filter(col("fp") <= col("n_prefix"))
        .groupBy("k", "n_prefix").agg(count(lit(1)).as("vocab"))
        .orderBy("k")
    },
    Gate("d80_dispersion",
      """WITH tok AS (
        |  SELECT source, w FROM (
        |    SELECT source,
        |      unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |    FROM documents) WHERE w <> ''
        |), sizes AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS nt FROM tok GROUP BY 1
        |), n AS (SELECT CAST(SUM(nt) AS DOUBLE) AS n FROM sizes),
        |top AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS cw FROM tok GROUP BY 1
        |  ORDER BY cw DESC, w LIMIT 30
        |), cwi AS (
        |  SELECT w, source, CAST(COUNT(*) AS BIGINT) AS cwi
        |  FROM tok GROUP BY 1, 2
        |), grid AS (
        |  SELECT t.w, t.cw, s.source,
        |    ABS(CAST(COALESCE(c.cwi, 0) AS DOUBLE) / t.cw
        |        - CAST(s.nt AS DOUBLE) / n.n) AS term
        |  FROM top t CROSS JOIN sizes s CROSS JOIN n
        |  LEFT JOIN cwi c ON c.w = t.w AND c.source = s.source
        |)
        |SELECT w, cw AS freq,
        |  ROUND(list_reduce(list(term ORDER BY source), (x, y) -> x + y) / 2,
        |    4) AS dp
        |FROM grid GROUP BY w, cw ORDER BY freq DESC, w""".stripMargin) { (s, d) =>
      // corpus DISPERSION (Gries' DP, 2008): how evenly a word spreads
      // across sources — DP = Σ_i |v_i − s_i| / 2 over parts i, where
      // v_i is the word's occurrence share in part i and s_i the part's
      // corpus-size share. DP ≈ 0 = evenly dispersed (function words),
      // DP → 1 = bursty/concentrated — the signal that separates a
      // corpus-wide term from one source's boilerplate, complementing
      // d57/d58's keyness. Exact long counts; v_i and s_i are one
      // correctly-rounded divide each, the part sum folds in SOURCE
      // order (pinned IEEE), halving is exact, ROUND(,4). Missing
      // (word, part) cells contribute |0 − s_i| — the top-30 grid is
      // words × parts, built with a broadcast cross join.
      val tok = t(s, d, "documents")
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .localCheckpoint() // sizes + per-word + per-(word, part) counts
      val sizes = tok.groupBy("source").agg(count(lit(1)).as("nt"))
        .localCheckpoint()
      val nTotal = sizes.agg(sum(col("nt"))).head().getLong(0) // bounded: parts
      val top = tok.groupBy("w").agg(count(lit(1)).as("cw"))
        .orderBy(col("cw").desc, col("w")).limit(30)
      val cwi = tok.groupBy("w", "source").agg(count(lit(1)).as("cwi"))
      top.crossJoin(broadcast(sizes))
        .join(cwi, Seq("w", "source"), "left")
        .select(col("w"), col("cw"), col("source"),
          abs(coalesce(col("cwi"), lit(0L)).cast("double") / col("cw") -
            col("nt").cast("double") / lit(nTotal.toDouble)).as("term"))
        .groupBy("w", "cw")
        .agg(aggregate(sort_array(collect_list(struct(col("source"), col("term")))),
          lit(0.0), (a, x) => a + x.getField("term")).as("__dp"))
        .select(col("w"), col("cw").as("freq"),
          round(col("__dp") / 2, 4).as("dp"))
        .orderBy(col("freq").desc, col("w"))
    },
    Gate("d79_rake_keywords",
      """WITH pos AS (
        |  SELECT doc_id, g.i AS p, a[g.i] AS w
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(trim(lower(text)), '\s+') AS a
        |        FROM documents) t,
        |  LATERAL (SELECT unnest(generate_series(1, len(t.a))) AS i) g
        |  WHERE a[g.i] <> ''
        |), grouped AS (
        |  SELECT doc_id, p, w, w IN ('the', 'a') AS st,
        |    SUM(CASE WHEN w IN ('the', 'a') THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY p
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM pos
        |), phr AS (
        |  SELECT doc_id, grp, string_agg(w, ' ' ORDER BY p) AS phrase,
        |    CAST(COUNT(*) AS BIGINT) AS len
        |  FROM grouped WHERE NOT st GROUP BY 1, 2
        |), words AS (
        |  SELECT len, unnest(regexp_split_to_array(phrase, ' ')) AS w FROM phr
        |), wstat AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
        |    CAST(SUM(len) AS BIGINT) AS deg
        |  FROM words GROUP BY 1
        |), pstat AS (
        |  SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occ FROM phr GROUP BY 1
        |), member AS (
        |  SELECT ps.phrase, g.i AS wp,
        |    regexp_split_to_array(ps.phrase, ' ')[g.i] AS w
        |  FROM pstat ps, LATERAL (SELECT unnest(generate_series(
        |    1, len(regexp_split_to_array(ps.phrase, ' ')))) AS i) g
        |), scored AS (
        |  SELECT m.phrase,
        |    list_reduce(list(CAST(ws.deg AS DOUBLE) / ws.freq ORDER BY m.wp),
        |      (x, y) -> x + y) AS sc
        |  FROM member m JOIN wstat ws ON ws.w = m.w
        |  GROUP BY 1
        |)
        |SELECT ps.phrase, ps.n_occ, ROUND(sc.sc, 4) AS score
        |FROM pstat ps JOIN scored sc USING (phrase)
        |ORDER BY sc.sc DESC, ps.phrase LIMIT 20""".stripMargin) { (s, d) =>
      // RAKE keyword extraction (Rose et al. 2010) — the stopword-
      // delimited complement to d75's TextRank: candidate phrases are
      // maximal stopword-free runs (delimiters: the corpus's function
      // words 'the'/'a'), each member word accumulates freq and degree
      // (phrase length per occurrence), word score = deg/freq, phrase
      // score = position-ordered fold of member scores (the pinned-IEEE
      // contract), top-20 by score. Gaps-and-islands grouping + three
      // keyed aggs — all map-side combinable; phrases parallelize per
      // doc.
      val stop = Seq("the", "a")
      val pos = t(s, d, "documents")
        .select(col("doc_id"),
          posexplode(TextAnalysis.tokens(col("text"))).as(Seq("p", "w")))
        .filter(length(col("w")) > 0)
        .withColumn("__stop", col("w").isInCollection(stop))
      val wDoc = Window.partitionBy("doc_id").orderBy("p")
      val phrases = pos
        .withColumn("__grp",
          sum(when(col("__stop"), 1L).otherwise(0L)).over(wDoc))
        .filter(!col("__stop"))
        .groupBy("doc_id", "__grp")
        .agg(array_join(transform(
            sort_array(collect_list(struct(col("p"), col("w")))),
            x => x.getField("w")), " ").as("phrase"),
          count(lit(1)).as("len"))
        .localCheckpoint() // feeds word stats + phrase stats
      val wstat = phrases
        .select(col("len"), explode(split(col("phrase"), " ")).as("w"))
        .groupBy("w")
        .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
        .withColumn("wscore", col("deg").cast("double") / col("freq"))
      val pstat = phrases.groupBy("phrase").agg(count(lit(1)).as("n_occ"))
      val scored = pstat
        .select(col("phrase"),
          posexplode(split(col("phrase"), " ")).as(Seq("wp", "w")))
        .join(wstat.select("w", "wscore"), "w")
        .groupBy("phrase")
        .agg(aggregate(sort_array(collect_list(struct(col("wp"), col("wscore")))),
          lit(0.0), (a, x) => a + x.getField("wscore")).as("__sc"))
      pstat.join(scored, "phrase")
        .orderBy(col("__sc").desc, col("phrase")).limit(20)
        .select(col("phrase"), col("n_occ"), round(col("__sc"), 4).as("score"))
    },
    Gate("d78_dictionary_encode",
      """WITH post AS (
        |  SELECT doc_id, g.i AS p, a[g.i] AS w
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(trim(lower(text)), '\s+') AS a
        |        FROM documents) t,
        |  LATERAL (SELECT unnest(generate_series(1, len(t.a))) AS i) g
        |  WHERE a[g.i] <> ''
        |), dict AS (
        |  SELECT w, row_number() OVER (ORDER BY w) AS id
        |  FROM (SELECT DISTINCT w FROM post)
        |), encp AS (SELECT doc_id, p, id FROM post JOIN dict USING (w)),
        |rec AS (SELECT e.doc_id, e.p, e.id, d2.w FROM encp e JOIN dict d2 USING (id)),
        |agg AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    CAST(SUM(p * id) AS BIGINT) AS enc_checksum,
        |    string_agg(w, ' ' ORDER BY p) AS rt
        |  FROM rec GROUP BY 1
        |)
        |SELECT a.doc_id, a.n_tokens, a.enc_checksum,
        |  (a.rt = regexp_replace(trim(lower(d.text)), '\s+', ' '))
        |    AS roundtrip_ok
        |FROM agg a JOIN documents d USING (doc_id)
        |ORDER BY a.doc_id""".stripMargin) { (s, d) =>
      // global DICTIONARY ENCODING round-trip — the columnar-engine
      // primitive (and the string→int prerequisite every graph/ANN op
      // on token data needs): sorted term dictionary with dense
      // row_number ids, corpus re-encoded as (pos, id) postings through
      // one token-keyed equi-join, then DECODED back through the
      // dictionary and compared to the normalized original — the
      // checksum is position-weighted (Σ (pos+1)·id) so a permutation
      // or off-by-one breaks it, and roundtrip_ok proves the bijection
      // (w → id → w reconstructs every document verbatim). At 100 TB
      // the dictionary join shuffles on token (df-bounded skew, the d31
      // posting shape); dictionary ids come from GlobalRank's range-
      // partitioned offset pattern — no single-task sort at any vocab size.
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val post = docs
        .select(col("doc_id"),
          posexplode(TextAnalysis.tokens(col("text"))).as(Seq("p", "w")))
        .filter(length(col("w")) > 0)
        .localCheckpoint() // feeds the dict build AND the encode join
      val dict = graft.ops.GlobalRank
        .withGlobalRank(post.select("w").distinct(), "id", col("w"))
        .localCheckpoint() // encode side + decode side
      val encp = post.join(dict, "w").select(col("doc_id"), col("p"), col("id"))
      // decode STRICTLY through the dictionary (id -> w), not the source
      val rec = encp.join(dict.select(col("id"), col("w").as("__w")), "id")
      rec.groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum((col("p") + 1) * col("id")).as("enc_checksum"),
          array_join(transform(
            sort_array(collect_list(struct(col("p"), col("__w")))),
            x => x.getField("__w")), " ").as("__rt"))
        .join(docs, "doc_id")
        .select(col("doc_id"), col("n_tokens"), col("enc_checksum"),
          (col("__rt") ===
            regexp_replace(trim(lower(col("text"))), "\\s+", " "))
            .as("roundtrip_ok"))
        .orderBy("doc_id")
    },
    Gate("d77_unigram_tokenize", unigramOracleSql) { (s, d) =>
      // Unigram-LM (SentencePiece) Viterbi segmentation (llm/Unigram)
      // against a FIXED shipped vocab of integer piece costs — the
      // global-optimum tokenizer completing the BPE(d28/d35)/WordPiece
      // (d62) family. The vocab plants the branches greedy matching
      // gets wrong: "table" → [ta ble] (310) beats the whole-word piece
      // (340) — WordPiece's longest-match would take it — while
      // "customer" (360) beats [cust omer] (370); "er" is a shared
      // suffix across filter/merge/order/query. Optima are verified
      // UNIQUE over this corpus, so seg/cost/n_pieces hash with no
      // tie contract; the oracle replays the DP by exhaustive path
      // enumeration (recursive CTE) + per-word min.
      val freq = t(s, d, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("n_occ"))
      graft.llm.Unigram.segmentWords(freq, "word", unigramVocab)
        .select(col("word"), col("n_occ"), col("seg"), col("cost"),
          col("n_pieces"))
        .orderBy("word")
    },
    Gate("d76_good_turing",
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |  FROM documents
        |), uni AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS r FROM tok
        |  WHERE w <> '' GROUP BY 1
        |), fof AS (
        |  SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r FROM uni GROUP BY 1
        |)
        |SELECT f.r, f.n_r,
        |  ROUND(CAST(f.r + 1 AS DOUBLE) * fn.n_r / f.n_r, 4) AS r_star
        |FROM fof f LEFT JOIN fof fn ON fn.r = f.r + 1
        |ORDER BY f.r LIMIT 30""".stripMargin) { (s, d) =>
      // Good-Turing frequency smoothing (Good 1953, the Gale & Sampson
      // presentation): from the unigram count table, the frequency-of-
      // frequencies N_r and the adjusted count r* = (r+1)·N_{r+1}/N_r —
      // the LM-smoothing complement to d64's Kneser-Ney (GT reallocates
      // mass to UNSEEN events; N_1/N is the leave-one-out unseen-mass
      // estimate). Two keyed aggs (token, then count) + one self-join on
      // r+1 — everything integer except the final pinned divide +
      // ROUND(,4); r* is null where N_{r+1} = 0 (the raw estimator's
      // stated gap — SGT's regression smoothing fills it, out of scope).
      val uni = t(s, d, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("r"))
      val fof = uni.groupBy("r").agg(count(lit(1)).as("n_r"))
        .localCheckpoint() // both sides of the r+1 self-join
      fof.join(fof.select((col("r") - 1).as("r"), col("n_r").as("__nn")),
          Seq("r"), "left")
        .select(col("r"), col("n_r"),
          round((col("r") + 1).cast("double") * col("__nn") / col("n_r"), 4)
            .as("r_star"))
        .orderBy("r").limit(30)
    },
    Gate("d75_textrank",
      // d68: the public-suffix walk in closed SQL — suffix CASE is
      // longest-first (co.uk/gov.uk before com/io/org/uk, the Scala sort
      // order), registrable = the last (|suffix labels| + 1) host labels
      // d72: the whole crawl chain replayed — page template (d71's),
      // extraction regexes, token/rule chain (d63's) over the EXTRACTED
      // text, and the archive placement (row_number within doc_id//5)
      textRankOracleSql) { (s, d) =>
      // TextRank keyword extraction (Mihalcea & Tarau, EMNLP'04): PageRank
      // over the word co-occurrence graph — adjacent-token pairs become
      // undirected edges, 5 ordered-fold power iterations (q50's exact
      // double contract), top-20 words by rank. The text→graph→rank
      // COMPOSITION gate: tokenizer, graph construction, dense-id
      // mapping and the iterative engine all sit under one hash. The
      // row_number word→id mapping is the GATE path (a global window —
      // vocab-bounded, single task); at corpus scale the mapping is the
      // same sorted-dictionary build d77-style dictionary encoding would
      // ship, and ranks are invariant to the id permutation.
      val big = t(s, d, "documents")
        .select(TextAnalysis.tokens(col("text")).as("__ts"))
        .filter(size(col("__ts")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("__ts")) - 1), i =>
          struct(element_at(col("__ts"), i).as("w1"),
            element_at(col("__ts"), i + 1).as("w2")))).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .filter(col("w1") =!= col("w2") && length(col("w1")) > 0 &&
          length(col("w2")) > 0)
        .distinct()
        .localCheckpoint() // feeds the id build and both edge attaches
      val ids = graft.ops.GlobalRank.withGlobalRank(
          big.select(col("w1").as("w")).unionByName(big.select(col("w2").as("w")))
            .distinct(), "v", col("w"))
        .localCheckpoint()
      val dir = big
        .join(ids.select(col("w").as("w1"), col("v").as("__va")), "w1")
        .join(ids.select(col("w").as("w2"), col("v").as("__vb")), "w2")
        .select(col("__va").as("src"), col("__vb").as("dst"))
      val e = dir.unionByName(dir.select(col("dst").as("src"), col("src").as("dst")))
      graft.ops.Graph.pageRank(e, iterations = 5, damping = 0.85,
          orderedFold = true)
        .join(ids, "v")
        .select(col("w").as("word"), col("r"))
        .orderBy(col("r").desc, col("word")).limit(20)
    },
    Gate("d74_phrase_search", phraseSearchOracleSql) { (s, d) =>
      // PHRASE SEARCH over a positional inverted index — the d31
      // inverted index extended with positions, probed by a 3-term
      // phrase batch: postings join against a broadcast (phrase, word,
      // offset) dictionary, then the classic positional intersection —
      // every posting votes for start = pos − offset, and a start with
      // votes == phrase length is a match (Manning/Raghavan/Schütze's
      // positional-intersect, re-expressed as one groupBy). One narrow
      // posexplode + one broadcast join + one (doc, phrase, start) agg;
      // at 100 TB the postings shuffle is keyed by token and the
      // phrase dictionary stays broadcast-tiny. Exact integers.
      graft.llm.PhraseSearch.search(
        t(s, d, "documents"), "doc_id", "text", phraseSearchPhrases)
    },
    Gate("d73_cusum_changepoint",
      """WITH tot AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(n_chars) AS BIGINT) AS total
        |  FROM documents GROUP BY 1
        |), pre AS (
        |  SELECT d.source, d.doc_id, t.n,
        |    SUM(t.n * d.n_chars - t.total) OVER w AS p
        |  FROM documents d JOIN tot t USING (source)
        |  WINDOW w AS (PARTITION BY d.source ORDER BY d.doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), scored AS (
        |  SELECT source, doc_id, n, p - LEAST(0, MIN(p) OVER w) AS s
        |  FROM pre
        |  WINDOW w AS (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), peak AS (SELECT source, MAX(s) AS peak FROM scored GROUP BY 1)
        |SELECT sc.source, ANY_VALUE(sc.n) AS n_docs,
        |  CAST(p.peak AS BIGINT) AS peak,
        |  MIN(sc.doc_id) AS peak_doc,
        |  ROUND(CAST(p.peak AS DOUBLE) / ANY_VALUE(sc.n), 4) AS peak_per_doc
        |FROM scored sc JOIN peak p USING (source)
        |WHERE sc.s = p.peak
        |GROUP BY sc.source, p.peak
        |ORDER BY sc.source""".stripMargin) { (s, d) =>
      // CUSUM changepoint detection (Page 1954) over each source's
      // doc-length series — the corpus drift monitor: did a source's
      // content distribution shift mid-crawl? The recursion
      // S_t = max(0, S_{t-1} + (x_t − mean)) is computed CLOSED-FORM as
      // S_t = P_t − min(0, min_{j≤t} P_j) with P the prefix sum of
      // deviations — two running windows, no fold, no UDF. Deviations
      // are scaled by n (d_t = n·x_t − total) so everything stays exact
      // long arithmetic; the only float is the final ROUND(peak/n, 4).
      // Peak doc resolves ties by MIN doc_id (explicit, not arg_max's
      // unspecified pick). Scale: windows partition per source — series
      // parallelize across sources; a single 100 TB-scale source would
      // range-partition on (source, day) the way q94 slices days.
      val docs = t(s, d, "documents")
        .select(col("source"), col("doc_id"), col("n_chars"))
      val tot = docs.groupBy("source")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("total"))
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
      val scored = docs.join(broadcast(tot), "source")
        .withColumn("__d", col("n") * col("n_chars") - col("total"))
        .withColumn("__p", sum(col("__d")).over(w))
        .withColumn("__s", col("__p") - least(lit(0L), min(col("__p")).over(w)))
        .localCheckpoint() // feeds the peak agg AND the tie-resolve join
      val peak = scored.groupBy(col("source")).agg(max(col("__s")).as("peak"))
      scored.join(broadcast(peak), Seq("source"))
        .filter(col("__s") === col("peak"))
        .groupBy(col("source"), col("n"), col("peak"))
        .agg(min(col("doc_id")).as("peak_doc"))
        .withColumnRenamed("n", "n_docs")
        .select(col("source"), col("n_docs"), col("peak"), col("peak_doc"),
          round(col("peak").cast("double") / col("n_docs"), 4).as("peak_per_doc"))
        .orderBy("source")
    },
    Gate("d72_crawl_e2e",
      """WITH pg AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc ' || doc_id || '</title>' ||
        |    '<style>p{color:red}</style><script>var x=1;</script></head>' ||
        |    '<body><h1>Head ' || (doc_id % 7) || '</h1><p>para one ' ||
        |    (doc_id % 5) || '</p><!-- hidden --><p>' || text ||
        |    '</p><p>two &amp; three &lt;ok&gt;</p></body></html>' AS html
        |  FROM documents
        |), ex AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(
        |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |          regexp_replace(html,
        |          '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
        |          '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
        |          '(?s)<!--.*?-->', ' ', 'g'),
        |          '<[^>]*>', ' ', 'g'),
        |          '&lt;', '<', 'g'),
        |          '&gt;', '>', 'g'),
        |          '&quot;', '"', 'g'),
        |          '&nbsp;', ' ', 'g'),
        |          '&amp;', '&', 'g'),
        |      '\s+', ' ', 'g')) AS t
        |  FROM pg
        |), tok AS (
        |  SELECT doc_id, w, COUNT(*) AS cnt FROM (
        |    SELECT doc_id,
        |      unnest(regexp_split_to_array(trim(lower(t)), '\s+')) AS w
        |    FROM ex)
        |  WHERE length(w) > 0 GROUP BY 1, 2
        |), agg AS (
        |  SELECT doc_id,
        |    CAST(SUM(cnt) AS BIGINT) AS n_words,
        |    CAST(MAX(cnt) AS BIGINT) AS top_cnt,
        |    CAST(SUM(length(w) * cnt) AS BIGINT) AS n_wchars,
        |    CAST(SUM(CASE WHEN w IN ('the','a','of','and','to')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
        |  FROM tok GROUP BY 1
        |), ruled AS (
        |  SELECT doc_id,
        |    CASE WHEN n_words < 25 THEN 'too_short'
        |         WHEN n_words > 70 THEN 'too_long'
        |         WHEN n_wchars < 3 * n_words THEN 'word_len'
        |         WHEN n_wchars > 7 * n_words THEN 'word_len'
        |         WHEN n_stop < 2 THEN 'stopwords'
        |         WHEN top_cnt * 8 > n_words THEN 'repetition'
        |         ELSE 'ok' END AS reason
        |  FROM agg
        |)
        |SELECT CAST(e.doc_id // 5 AS BIGINT) AS archive_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY e.doc_id // 5
        |    ORDER BY e.doc_id) - 1 AS INT) AS record_idx,
        |  e.doc_id, md5(e.t) AS text_md5, r.reason,
        |  r.reason = 'ok' AS accepted
        |FROM ex e JOIN ruled r USING (doc_id)
        |ORDER BY e.doc_id""".stripMargin) { (s, d) =>
      // CRAWL PIPELINE END TO END in one DAG: pack the corpus into WARC
      // archives (5 docs/record-each per archive, real gzip members) →
      // ingest (Warc.warcIngestText: member walk + CRC + record parse) →
      // HTML extract (the d71 regex pipeline over each record's page) →
      // Gopher quality rules over the EXTRACTED text. The oracle replays
      // the whole chain: archive/record placement (row_number within
      // doc_id/5), the page template, every regex stage, and the
      // integer rule chain — so a bug at ANY stage boundary (bytes →
      // records → text → decision) breaks one hash.
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val packed = docs
        .groupBy(expr("doc_id div 5").as("archive_id"))
        .agg(sort_array(collect_list(struct(col("doc_id"), col("text"))))
          .as("recs"))
      val build = udf { (recs: Seq[org.apache.spark.sql.Row]) =>
        val out = new java.io.ByteArrayOutputStream()
        recs.foreach { r =>
          val id = r.getLong(0); val text = r.getString(1)
          val html = s"<html><head><title>Doc $id</title>" +
            "<style>p{color:red}</style><script>var x=1;</script></head>" +
            s"<body><h1>Head ${id % 7}</h1><p>para one ${id % 5}</p>" +
            s"<!-- hidden --><p>$text</p>" +
            "<p>two &amp; three &lt;ok&gt;</p></body></html>"
          val body = html.getBytes("UTF-8")
          val head = (s"WARC/1.0\r\nWARC-Type: response\r\n" +
            s"WARC-Target-URI: http://docs/$id\r\n" +
            s"Content-Length: ${body.length}\r\n\r\n").getBytes("US-ASCII")
          val gz = new java.util.zip.GZIPOutputStream(out)
          // close(), not finish(): close ends the native Deflater NOW
          // (finish leaves ~112 KB of zlib state to the finalizer —
          // 50k leaked deflaters per pass measurably GC-throttled the
          // whole bench suite); BAOS.close() is a no-op so the member
          // bytes are identical
          gz.write(head); gz.write(body); gz.close()
        }
        out.toByteArray
      }
      val archives = packed.select(col("archive_id"),
        build(col("recs")).as("payload"))
      val recs = graft.io.Warc.warcIngestText(archives)
      val extracted = recs.select(col("archive_id"), col("record_idx"),
        regexp_extract(col("uri"), "/(\\d+)$", 1).cast("long").as("doc_id"),
        graft.llm.TextAnalysis.htmlToText(col("body")).as("ext"))
      val ruled = graft.llm.TextAnalysis.gopherRules(
        extracted.select(col("doc_id"), col("ext").as("text")))
      extracted
        .join(ruled.select(col("doc_id"), col("reason"), col("accepted")),
          "doc_id")
        .select(col("archive_id"), col("record_idx"), col("doc_id"),
          md5(col("ext")).as("text_md5"), col("reason"), col("accepted"))
        .orderBy("doc_id")
    },
    Gate("d71_html_extract",
      // d71: the same page template and the same regex pipeline, each
      // replace global ('g'); entity order pinned (&amp; last)
      """WITH pg AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc ' || doc_id || '</title>' ||
        |    '<style>p{color:red}</style><script>var x=1;</script></head>' ||
        |    '<body><h1>Head ' || (doc_id % 7) || '</h1><p>para one ' ||
        |    (doc_id % 5) || '</p><!-- hidden --><p>' || text ||
        |    '</p><p>two &amp; three &lt;ok&gt;</p></body></html>' AS html
        |  FROM documents
        |), ex AS (
        |  SELECT doc_id, html,
        |    trim(regexp_replace(
        |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |          regexp_replace(html,
        |          '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
        |          '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
        |          '(?s)<!--.*?-->', ' ', 'g'),
        |          '<[^>]*>', ' ', 'g'),
        |          '&lt;', '<', 'g'),
        |          '&gt;', '>', 'g'),
        |          '&quot;', '"', 'g'),
        |          '&nbsp;', ' ', 'g'),
        |          '&amp;', '&', 'g'),
        |      '\s+', ' ', 'g')) AS t
        |  FROM pg
        |)
        |SELECT doc_id, regexp_extract(html, '<title>(.*?)</title>', 1) AS title,
        |  md5(t) AS text_md5,
        |  CAST(len(regexp_split_to_array(t, '\s+')) AS BIGINT) AS n_tokens
        |FROM ex ORDER BY doc_id""".stripMargin) { (s, d) =>
      // HTML → VISIBLE TEXT (TextAnalysis.htmlToText) — the WARC→WET
      // step run before any text analysis: drop script/style/comments,
      // strip tags, decode entities, collapse whitespace; plus the
      // <title> pull. Deterministic synthetic pages wrap each document's
      // real text with planted hazards (a style block with braces, a
      // script, a comment, &amp;/&lt; entities). The oracle replays every
      // regex stage with the same patterns ('g' flag), so a strip-order
      // or entity-order bug (e.g. decoding &amp; before &lt;) breaks the
      // hash.
      val id = col("doc_id")
      val html = concat(
        lit("<html><head><title>Doc "), id, lit("</title>"),
        lit("<style>p{color:red}</style><script>var x=1;</script></head>"),
        lit("<body><h1>Head "), id % 7, lit("</h1><p>para one "), id % 5,
        lit("</p><!-- hidden --><p>"), col("text"),
        lit("</p><p>two &amp; three &lt;ok&gt;</p></body></html>"))
      val ext = graft.llm.TextAnalysis.htmlToText(col("html"))
      t(s, d, "documents").select(id, html.as("html"))
        .select(id,
          graft.llm.TextAnalysis.htmlTitle(col("html")).as("title"),
          md5(ext).as("text_md5"),
          size(split(ext, "\\s+")).cast("long").as("n_tokens"))
        .orderBy("doc_id")
    },
    Gate("d92_linear_quality",
      // d92: the weight table and every doc's bag-of-words score rebuilt —
      // printf('%03x') buckets, ascii-mix weights, md5-prefix feature hash
      """WITH wt AS (
        |  SELECT printf('%03x', i.i) AS bucket,
        |    (ascii(substr(printf('%03x', i.i), 1, 1)) * 7 +
        |     ascii(substr(printf('%03x', i.i), 2, 1)) * 11 +
        |     ascii(substr(printf('%03x', i.i), 3, 1)) * 13) % 401 - 200 AS weight
        |  FROM (SELECT unnest(range(4096)) AS i) i
        |), tk AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |  FROM documents
        |), b AS (
        |  SELECT doc_id, substr(md5(w), 1, 3) AS bucket
        |  FROM tk WHERE length(w) > 0
        |)
        |SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(COALESCE(wt.weight, 0)) AS BIGINT) AS score,
        |  SUM(COALESCE(wt.weight, 0)) > 0 AS keep
        |FROM b LEFT JOIN wt USING (bucket)
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin) { (s, d) =>
      // MODEL-BASED quality filtering (TextAnalysis.linearQualityScore):
      // the fastText-style hashed-linear scorer over the REAL documents
      // corpus — tokens hash to md5-prefix buckets, a broadcast 4096-row
      // weight table (planted closed form: ascii-mix of the bucket's hex
      // chars, integers in [-200, 200]) supplies the model, doc score =
      // exact bag-of-words sum, keep = score > 0. The oracle rebuilds
      // the weight table AND every score, so a tokenize, hash-bucket,
      // join-miss, or bag-semantics bug breaks the hash.
      val weights = s.range(4096)
        .select(format_string("%03x", col("id")).as("bucket"))
        .select(col("bucket"),
          ((ascii(substring(col("bucket"), 1, 1)) * 7 +
            ascii(substring(col("bucket"), 2, 1)) * 11 +
            ascii(substring(col("bucket"), 3, 1)) * 13) % 401 - 200)
            .cast("long").as("weight"))
      graft.llm.TextAnalysis.linearQualityScore(
          t(s, d, "documents").select(col("doc_id"), col("text")), weights)
        .orderBy("doc_id")
    },
    Gate("d91_charset_detect",
      // d91: label by wire variant, text rebuilt verbatim (é is literal
      // UTF-8 in this SQL text — both engines read it identically)
      """SELECT p_partkey AS doc_id,
        |  CASE p_partkey % 4 WHEN 2 THEN 'utf-16le'
        |    WHEN 3 THEN 'latin-1' ELSE 'utf-8' END AS charset,
        |  'café w' || (p_partkey % 97) || ' n' || (p_partkey % 7) AS text,
        |  CAST(length('café w' || (p_partkey % 97) || ' n' || (p_partkey % 7)) AS BIGINT) AS n_chars
        |FROM part WHERE p_partkey <= 300
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      // CHARSET DETECTION + DECODE (llm/CharsetDetect): the SAME text —
      // "café w<id%97> n<id%7>", with a real multi-byte é — planted in
      // four wire encodings by id%4 (UTF-8 bare, UTF-8 BOM, UTF-16LE
      // BOM, Latin-1 single-byte é) must detect and decode back to ONE
      // string: BOM handling, strict RFC 3629 validation (the Latin-1 é
      // is an invalid UTF-8 lead and must fall through), and BOM
      // stripping all sit in the hash. The oracle carries the expected
      // label per variant and rebuilds the text verbatim.
      import s.implicits._
      val build = udf { (id: Long) =>
        val text = s"café w${id % 97} n${id % 7}"
        (id % 4) match {
          case 0 => text.getBytes("UTF-8")
          case 1 => Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++
            text.getBytes("UTF-8")
          case 2 => Array[Byte](0xFF.toByte, 0xFE.toByte) ++
            text.getBytes("UTF-16LE")
          case _ => text.getBytes("ISO-8859-1")
        }
      }
      val docs = t(s, d, "part").filter(col("p_partkey") <= 300)
        .select(col("p_partkey").cast("long").as("doc_id"))
        .withColumn("raw", build(col("doc_id")))
      graft.llm.CharsetDetect.withDecodedText(docs)
        .withColumn("n_chars", length(col("text")).cast("long"))
        .orderBy("doc_id")
    },
    Gate("d90_crawl_multiformat",
      // d90: both routed extractions rebuilt verbatim — the HTML title +
      // word list (tag strip ≡ the d71 contract) and the d89 PDF text
      d90OracleSql) { (s, d) =>
      // MULTI-FORMAT CRAWL COMPOSITION — the realistic ingest chain this
      // round's pieces exist for: WARC archives (gzip member walk)
      // carrying a REAL HTML page and a REAL FlateDecoded PDF per
      // archive, bodies kept as BYTES (warcIngestRaw — UTF-8 decoding
      // would corrupt the PDF before routing), content-SNIFFED by magic
      // prefix, and routed to htmlToText or Pdf.extractPdfText. The
      // oracle replays both extracted texts verbatim, so a member-walk,
      // sniff, tag-strip, inflate, or operator bug anywhere in the chain
      // breaks the hash.
      import s.implicits._
      val build = udf((id: Long) => graft.io.Warc.syntheticCrawlWarc(id))
      val archives = t(s, d, "part").filter(col("p_partkey") <= 150)
        .select(col("p_partkey").cast("long").as("archive_id"))
        .withColumn("payload", build(col("archive_id")))
      val pdfText = udf((b: Array[Byte]) =>
        graft.llm.Pdf.extractPdfText(b).orNull)
      graft.io.Warc.warcIngestRaw(archives)
        .withColumn("kind",
          when(expr("startswith(cast(body as string), '%PDF-')"), lit("pdf"))
            .otherwise(lit("html")))
        .withColumn("text",
          when(col("kind") === "pdf", pdfText(col("body")))
            .otherwise(graft.llm.TextAnalysis.htmlToText(
              col("body").cast("string"))))
        .select(col("archive_id"), col("record_idx"), col("kind"), col("text"))
        .orderBy("archive_id", "record_idx")
    },
    Gate("d89_pdf_extract",
      // d89: the extracted text rebuilt verbatim — words via string_agg in
      // k order, lines joined with chr(10) in j order, corrupt ids null
      """WITH docs AS (
        |  SELECT p_partkey AS doc_id, 3 + p_partkey % 4 AS n_lines
        |  FROM part WHERE p_partkey <= 200
        |), lines AS (
        |  SELECT d.doc_id, j.j,
        |    string_agg('w' || CAST((d.doc_id * 7 + j.j * 11 + k.k * 13) % 100 AS VARCHAR),
        |      ' ' ORDER BY k.k) AS line
        |  FROM docs d,
        |    LATERAL (SELECT unnest(range(d.n_lines)) AS j) j,
        |    LATERAL (SELECT unnest(range(4 + (d.doc_id + j.j) % 3)) AS k) k
        |  GROUP BY 1, 2
        |), texts AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY j) AS text
        |  FROM lines GROUP BY 1
        |)
        |SELECT d.doc_id,
        |  d.doc_id % 9 <> 0 AS ok,
        |  CASE WHEN d.doc_id % 9 = 0 THEN NULL
        |    ELSE CAST(length(t.text) AS BIGINT) END AS n_chars,
        |  CASE WHEN d.doc_id % 9 = 0 THEN NULL ELSE t.text END AS text
        |FROM docs d LEFT JOIN texts t USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      // PDF TEXT EXTRACTION (llm/Pdf, ISO 32000-1): payloads are
      // spec-valid single-page PDFs — FlateDecoded content streams,
      // xref, trailer — whose show operators ROTATE by id%3 (Tj + T*,
      // kerned TJ arrays, ' next-line) while extracting the IDENTICAL
      // closed-form text; every id % 9 == 0 payload has its magic
      // destroyed and must quarantine (ok=false, null text), never kill
      // the task. The oracle rebuilds the exact text with string_agg, so
      // an inflate, string-escape, operator-dispatch, or line-break bug
      // breaks the hash.
      import s.implicits._
      val build = udf { (id: Long) =>
        val a = graft.llm.Pdf.syntheticPdf(id)
        if (id % 9 == 0) a(0) = 'X'
        a
      }
      val extract = udf((p: Array[Byte]) => graft.llm.Pdf.extractPdfText(p).orNull)
      t(s, d, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey").cast("long").as("doc_id"))
        .withColumn("text", extract(build(col("doc_id"))))
        .select(col("doc_id"), col("text").isNotNull.as("ok"),
          when(col("text").isNotNull, length(col("text")).cast("long"))
            .as("n_chars"),
          col("text"))
        .orderBy("doc_id")
    },
    Gate("d88_geotiff_ingest",
      // d88: the GeoTIFF closed form — 16×10 Float32 band, value
      // (id·7+y·11+x·13)%256, origin (−72+(id%5)/2, 11−(id%3)/2), pixel
      // 1/32° — every lon/lat a dyadic rational, corrupt ids one marker row
      d88OracleSql) { (s, d) =>
      // REAL-BYTES raster ingestion (ops/RasterZonal.rasterCells over
      // llm/Tiff): payloads are genuine single-band Float32 GeoTIFFs
      // (SampleFormat 3, ModelTiepoint/ModelPixelScale georeference, the
      // WorldPop tile shape) exploded into cell-centroid rows — S12's
      // fetch side on actual raster bytes. Every id % 9 == 0 payload has
      // its byte order destroyed and must QUARANTINE (one raster_ok=false
      // marker row), never kill the task. The oracle replays cell counts,
      // exact value sums, and the dyadic lon/lat extents per raster.
      import s.implicits._
      val build = udf { (id: Long) =>
        val a = graft.llm.Tiff.syntheticGeoTiff(id)
        if (id % 9 == 0) a(0) = 'X'
        a
      }
      val rasters = t(s, d, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey").cast("long").as("raster_id"))
        .withColumn("payload", build(col("raster_id")))
      graft.ops.RasterZonal.rasterCells(rasters)
        .groupBy("raster_id")
        .agg(count(lit(1)).as("n_cells"),
          min(col("raster_ok")).as("ok"),
          sum(col("value")).cast("long").as("sum_value"),
          min(col("lon")).as("lon_min"), max(col("lon")).as("lon_max"),
          min(col("lat")).as("lat_min"), max(col("lat")).as("lat_max"))
        .orderBy("raster_id")
    },
    Gate("d87_warc_quarantine",
      // d87: d70's closed form restricted to the clean archives, UNION'd
      // with one (-1, NULL, NULL, NULL, true) marker per corrupt archive
      """WITH a AS (
        |  SELECT p_partkey AS archive_id, 3 + p_partkey % 4 AS n_rec
        |  FROM part WHERE p_partkey <= 200
        |), rec AS (
        |  SELECT a.archive_id, CAST(r.r AS INT) AS record_idx,
        |    'http://site' || (a.archive_id % 50) || '.com/p' || r.r AS uri,
        |    40 + (a.archive_id + r.r) % 30 AS len
        |  FROM a, LATERAL (SELECT unnest(range(a.n_rec)) AS r) r
        |  WHERE a.archive_id % 7 <> 0
        |), sums AS (
        |  SELECT archive_id, record_idx, uri, CAST(len AS BIGINT) AS n_bytes,
        |    (SELECT CAST(SUM((archive_id * 13 + record_idx * 7 + j.j * 3) % 26 + 97) AS BIGINT)
        |     FROM (SELECT unnest(range(len)) AS j) j) AS byte_sum,
        |    FALSE AS quarantined
        |  FROM rec
        |), bad AS (
        |  SELECT archive_id, CAST(-1 AS INT) AS record_idx,
        |    CAST(NULL AS VARCHAR) AS uri, CAST(NULL AS BIGINT) AS n_bytes,
        |    CAST(NULL AS BIGINT) AS byte_sum, TRUE AS quarantined
        |  FROM a WHERE archive_id % 7 = 0
        |)
        |SELECT * FROM (SELECT * FROM sums UNION ALL SELECT * FROM bad)
        |ORDER BY archive_id, record_idx""".stripMargin) { (s, d) =>
      // UNTRUSTED-BYTES crawl ingest (io/Warc.warcIngestQuarantine): the
      // d70 archives, but every id % 7 == 0 payload has its gzip magic
      // byte destroyed — the never-throw walk must yield the clean
      // archives' records (quarantined = false) and exactly ONE marker
      // row per corrupt archive (record_idx −1, null fields,
      // quarantined = true), with no task failure anywhere. The oracle
      // replays both halves in closed form, so quarantining too much,
      // too little, or throwing breaks the gate.
      import s.implicits._
      val build = udf { (id: Long) =>
        val a = graft.io.Warc.syntheticWarcGz(id)
        if (id % 7 == 0) a(0) = 0x00.toByte
        a
      }
      val archives = t(s, d, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey").cast("long").as("archive_id"))
        .withColumn("payload", build(col("archive_id")))
      graft.io.Warc.warcIngestQuarantine(archives)
        .orderBy("archive_id", "record_idx")
    },
    Gate("d70_warc_ingest",
      // d70: the planted WARC formula in closed form — record count
      // 3 + id%4, body length 40 + (id+r)%30, byte j = (id·13+r·7+j·3)%26
      // + 'a' (97)
      d70OracleSql) { (s, d) =>
      // CRAWL-ARCHIVE ingestion (io/Warc): concatenated per-record gzip
      // members — the Common Crawl WARC layout — walked manually (RFC
      // 1952 header fields, raw Inflater, CRC32+ISIZE verified per
      // member, loud-fail on corruption), records parsed for
      // WARC-Target-URI / Content-Length. The oracle recomputes every
      // record's length and payload byte sum from the planted formula,
      // so a member-boundary, header-skip, or slicing bug breaks the
      // hash while a trailer bug loud-fails the whole query.
      import s.implicits._
      val build = udf((id: Long) => graft.io.Warc.syntheticWarcGz(id))
      val archives = t(s, d, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey").cast("long").as("archive_id"))
        .withColumn("payload", build(col("archive_id")))
      graft.io.Warc.warcIngest(archives)
        .orderBy("archive_id", "record_idx")
    },
    Gate("d69_readability",
      // d69: same vowel-run / terminal-punctuation regexes, same pinned
      // (a − b·x) − c·y op tree over exact integer ratios
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |  FROM documents
        |), wc AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
        |    CAST(SUM(GREATEST(1, len(regexp_extract_all(w, '[aeiouy]+')))) AS BIGINT) AS n_syll
        |  FROM tok WHERE length(w) > 0 GROUP BY 1
        |), sc AS (
        |  SELECT doc_id,
        |    GREATEST(1, len(regexp_extract_all(text, '[.!?]+'))) AS n_sent
        |  FROM documents
        |)
        |SELECT wc.doc_id, wc.n_words, wc.n_syll,
        |  CAST(sc.n_sent AS BIGINT) AS n_sent,
        |  ROUND(CAST(206.835 AS DOUBLE)
        |    - CAST(1.015 AS DOUBLE) * (CAST(wc.n_words AS DOUBLE) / sc.n_sent)
        |    - CAST(84.6 AS DOUBLE) * (CAST(wc.n_syll AS DOUBLE) / wc.n_words), 4)
        |    AS flesch
        |FROM wc JOIN sc USING (doc_id)
        |ORDER BY wc.doc_id""".stripMargin) { (s, d) =>
      // READABILITY scoring (Flesch reading ease) — the classic
      // document-difficulty signal quality pipelines bucket by: syllables
      // approximated as vowel-group runs (the standard heuristic),
      // sentences as terminal-punctuation runs (floor 1). Counts are
      // exact integers; the score is ONE pinned IEEE op tree over exact
      // ratios (the d64 contract) with ROUND(,4), and the oracle replays
      // the regexes and the tree term for term.
      val toks = graft.llm.TextAnalysis.tokens(col("text"))
      val docs = t(s, d, "documents")
      val tok = docs
        .select(col("doc_id"), col("text"),
          explode(toks).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum(greatest(lit(1),
            size(regexp_extract_all(col("w"), lit("[aeiouy]+"), lit(0)))))
            .as("n_syll"))
      docs
        .select(col("doc_id"),
          greatest(lit(1L),
            size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))
              .cast("long")).as("n_sent"))
        .join(tok, "doc_id")
        .select(col("doc_id"), col("n_words"), col("n_syll"), col("n_sent"),
          round(lit(206.835)
            - lit(1.015) * (col("n_words").cast("double") / col("n_sent"))
            - lit(84.6) * (col("n_syll").cast("double") / col("n_words")), 4)
            .as("flesch"))
        .orderBy("doc_id")
    },
    Gate("d68_domain_stats",
      """WITH h AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 31 = 0 THEN 'co.uk'
        |         WHEN doc_id % 29 = 0 THEN 'site' || (doc_id % 20) || '.xyz'
        |         WHEN doc_id % 5 = 0 THEN 'a.b.site' || (doc_id % 20) || '.co.uk'
        |         WHEN doc_id % 5 = 1 THEN 'www.site' || (doc_id % 20) || '.com'
        |         WHEN doc_id % 5 = 2 THEN 'deep.sub.site' || (doc_id % 20) || '.org'
        |         WHEN doc_id % 5 = 3 THEN 'site' || (doc_id % 20) || '.uk'
        |         ELSE 'sub.site' || (doc_id % 20) || '.gov.uk' END AS host
        |  FROM documents
        |), m AS (
        |  SELECT doc_id, host,
        |    CASE WHEN host = 'co.uk' OR host LIKE '%.co.uk' THEN 'co.uk'
        |         WHEN host = 'gov.uk' OR host LIKE '%.gov.uk' THEN 'gov.uk'
        |         WHEN host = 'com' OR host LIKE '%.com' THEN 'com'
        |         WHEN host = 'io' OR host LIKE '%.io' THEN 'io'
        |         WHEN host = 'org' OR host LIKE '%.org' THEN 'org'
        |         WHEN host = 'uk' OR host LIKE '%.uk' THEN 'uk'
        |         END AS sfx
        |  FROM h
        |), r AS (
        |  SELECT doc_id,
        |    CASE WHEN sfx IS NULL OR host = sfx THEN NULL
        |         ELSE array_to_string(list_slice(string_split(host, '.'),
        |           len(string_split(host, '.')) - len(string_split(sfx, '.')),
        |           len(string_split(host, '.'))), '.') END AS registrable
        |  FROM m
        |)
        |SELECT COALESCE(registrable, '(none)') AS domain,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs, MIN(doc_id) AS first_doc
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      // REGISTRABLE-domain (eTLD+1) aggregation under the public-suffix
      // algorithm (Urls.registrableDomain) — the per-domain key crawl
      // curation groups by (quotas, per-site dedup, spam screens). The
      // planted hosts exercise every branch: multi-label suffix beating
      // its parent ("co.uk"/"gov.uk" over "uk"), deep subdomains, a host
      // that IS a suffix (null), and an unlisted TLD (null). The oracle
      // replays the longest-suffix match and label slicing byte-for-byte.
      val id = col("doc_id")
      val sfx = Seq("com", "org", "io", "uk", "co.uk", "gov.uk")
      val k = id % 20
      val hosts = t(s, d, "documents").select(id,
        when(id % 31 === 0, lit("co.uk"))
          .when(id % 29 === 0, concat(lit("site"), k, lit(".xyz")))
          .when(id % 5 === 0, concat(lit("a.b.site"), k, lit(".co.uk")))
          .when(id % 5 === 1, concat(lit("www.site"), k, lit(".com")))
          .when(id % 5 === 2, concat(lit("deep.sub.site"), k, lit(".org")))
          .when(id % 5 === 3, concat(lit("site"), k, lit(".uk")))
          .otherwise(concat(lit("sub.site"), k, lit(".gov.uk"))).as("host"))
      hosts
        .select(id, graft.llm.Urls.registrableDomain(col("host"), sfx)
          .as("registrable"))
        .groupBy(coalesce(col("registrable"), lit("(none)")).as("domain"))
        .agg(count(lit(1)).as("n_docs"), min(id).as("first_doc"))
        .orderBy("domain")
    },
    Gate("d67_blocklist", d67OracleSql) { (s, d) =>
      // BLOCKLIST safety screen via the native single-pass Aho-Corasick
      // automaton (TextExpressions.AhoFirstMatch/AhoMatchCount): first
      // matching pattern in PRIORITY order + distinct-hit count, one byte
      // walk per document regardless of list size — K contains() scans
      // read the text K times and die at a real (1k-phrase) blocklist.
      // The oracle replays the contract as the equivalent CASE/position
      // chain, so automaton construction bugs (failure links, suffix
      // match inheritance, priority ties) break the hash. The list plants
      // overlapping patterns ("slow fast" vs "fast slow") and one absent
      // pattern (automaton state that never fires).
      val docs = t(s, d, "documents")
      val idx = graft.llm.TextAnalysis.blocklistFirstHit(col("text"), blocklistPats)
      val patArr = array(blocklistPats.map(lit): _*)
      docs.select(col("doc_id"),
          when(idx >= 0, element_at(patArr, idx + 1))
            .otherwise(lit("clean")).as("first_hit"),
          coalesce(graft.llm.TextAnalysis
            .blocklistHitCount(col("text"), blocklistPats).cast("long"),
            lit(0L)).as("n_hits"))
        .orderBy("doc_id")
    },
    Gate("d66_lm_perplexity",
      // d66: KN train (even half) → perplexity score (odd half), the pinned
      // (w1, w2)-ordered fold; s29 is the streaming serving of the SAME
      // model and converges exactly, so it shares the SQL under its own key.
      d66OracleSql) { (s, d) =>
      // LM-PERPLEXITY quality filtering (the CCNet shape): the d64
      // Kneser-Ney machinery trained on the even-keyed half, then USED —
      // odd-keyed docs scored by avg negative log-likelihood over matched
      // bigrams, with the OOV count as its own coverage signal. d64 gates
      // the model's numbers; this gates the train→score composition. The
      // model is vocab-bounded and broadcast; the fold order is pinned
      // (sorted (w1, w2)) and ROUND(,4) absorbs the ≤1-ulp ln divergence,
      // the d45/d50 entropy contract.
      val docs = t(s, d, "documents")
      val model = graft.llm.TextAnalysis.kneserNeyBigram(
        docs.filter(col("doc_id") % 2 === 0), "text",
        discount = 0.75, minCount = 2)
      graft.llm.TextAnalysis.kneserNeyPerplexity(
          docs.filter(col("doc_id") % 2 === 1), model)
        .orderBy("doc_id")
    },
    Gate("d64_kneser_ney",
      // d64: every count exact-integer, the probability ONE pinned op tree
      // with every literal CAST to DOUBLE (DuckDB parses bare 0.75 as
      // DECIMAL — different rounding), parenthesization mirrored from the
      // Spark expression
      """WITH tk AS (
        |  SELECT doc_id, w, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS p
        |  FROM (
        |    SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w,
        |      generate_subscripts(regexp_split_to_array(trim(lower(text)), '\s+'), 1) AS pos
        |    FROM documents)
        |  WHERE length(w) > 0
        |), big AS (
        |  SELECT a.w AS w1, b.w AS w2
        |  FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND b.p = a.p + 1
        |), c12 AS (
        |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM big GROUP BY 1, 2
        |), types AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM c12),
        |lft AS (
        |  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
        |    CAST(COUNT(*) AS BIGINT) AS n1fw FROM c12 GROUP BY 1
        |), rgt AS (
        |  SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1pw FROM c12 GROUP BY 1
        |)
        |SELECT c.w1, c.w2, c.c12, l.c1, l.n1fw, r.n1pw,
        |  (GREATEST(CAST(c.c12 AS DOUBLE) - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE)) / l.c1)
        |  + ((CAST(0.75 AS DOUBLE) * l.n1fw) / l.c1)
        |    * (CAST(r.n1pw AS DOUBLE) / ty.t) AS p_kn
        |FROM c12 c
        |JOIN lft l ON l.w1 = c.w1
        |JOIN rgt r ON r.w2 = c.w2
        |CROSS JOIN types ty
        |WHERE c.c12 >= 8
        |ORDER BY c.w1, c.w2""".stripMargin) { (s, d) =>
      // Kneser-Ney smoothed bigram LM (TextAnalysis.kneserNeyBigram):
      // absolute discount D = 0.75 with CONTINUATION-count backoff —
      // the standard n-gram smoothing. All inputs are exact integer
      // counts, D is dyadic, and p_kn is one pinned IEEE op tree, so
      // the raw doubles hash bit-for-bit (no ROUND anywhere). Min
      // support 8 bounds the emitted pairs.
      graft.llm.TextAnalysis.kneserNeyBigram(
        t(s, d, "documents"), "text", discount = 0.75, minCount = 8)
    },
    Gate("d63_gopher_rules",
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
        |), ruled AS (
        |  SELECT doc_id, n_words, top_cnt, n_stop,
        |    CASE WHEN n_words < 25 THEN 'too_short'
        |         WHEN n_words > 70 THEN 'too_long'
        |         WHEN n_wchars < 3 * n_words THEN 'word_len'
        |         WHEN n_wchars > 7 * n_words THEN 'word_len'
        |         WHEN n_stop < 2 THEN 'stopwords'
        |         WHEN top_cnt * 8 > n_words THEN 'repetition'
        |         ELSE 'ok' END AS reason
        |  FROM agg
        |)
        |SELECT doc_id, n_words, top_cnt, n_stop, reason,
        |  reason = 'ok' AS accepted
        |FROM ruled ORDER BY doc_id""".stripMargin) { (s, d) =>
      // Gopher-style composite quality DECISIONS (TextAnalysis
      // .gopherRules): d02 scores signals, this ships accept/reject with
      // a first-failed-rule reason — word-count range, mean word length,
      // distinct-stopword floor, single-word repetition cap. Every
      // comparison is integer cross-multiplication, so the gate carries
      // no float contract at all. Thresholds sized to the corpus so all
      // reasons occur.
      graft.llm.TextAnalysis.gopherRules(t(s, d, "documents"))
        .orderBy("doc_id")
    },
    Gate("d62_wordpiece", wordpieceOracleSql(4)) { (s, d) =>
      // WordPiece tokenization (llm/WordPiece) against a FIXED shipped
      // vocab — greedy longest-match-first with ## continuations and
      // whole-word [UNK] on dead ends (no backtracking). BPE (d28)
      // LEARNS merges; this APPLIES a published vocab — the tokenize-
      // against-a-checkpoint shape. The vocab plants every branch:
      // longest-match preference, two-piece words, a mid-word dead-end
      // (sort), a no-first-piece word (dup). The oracle replays the
      // greedy walk as 4 unrolled LATERAL rounds (the d28 fixed-unroll
      // contract), so a match-order or continuation-prefix bug anywhere
      // breaks the hash.
      graft.llm.WordPiece.pieceCounts(
          t(s, d, "documents"), "text", wordpieceVocab)
        .orderBy("piece")
    },
    Gate("d28_bpe_merges", bpeOracleSql(6)) { (s, d) =>
      // distributed BPE merge learning, oracle-checked END TO END: six
      // training rounds (pair-count aggregate over the cached word-freq
      // table -> argmax rule -> greedy fold re-segmentation), replayed by
      // the DuckDB oracle as six unrolled CTE rounds. Ties break on the
      // pair string so the learned sequence is engine-independent.
      graft.llm.Bpe.learnMerges(t(s, d, "documents"), "text", numMerges = 6)
        .orderBy(col("merge_rank"))
    },
    Gate("d29_weighted_sample",
      // identical multiplicative-hash uniform and A-ES ranking; only the
      // integer sample is hashed (ln key is engine-local, d25 rule)
      """WITH keyed AS (
        |  SELECT lang, doc_id, n_chars,
        |    ln((((doc_id & 2147483647) * 2654435761) % 2147483648 + 0.5)
        |       / 2147483648.0) / CAST(n_chars AS DOUBLE) AS k
        |  FROM documents WHERE n_chars > 0
        |)
        |SELECT lang, doc_id, n_chars FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY lang ORDER BY k DESC, doc_id) AS rk FROM keyed)
        |WHERE rk <= 15 ORDER BY lang, doc_id""".stripMargin) { (s, d) =>
      // reproducible weighted sampling WITHOUT replacement (A-ES
      // exponential keys): 15 docs per language, inclusion probability
      // proportional to n_chars. u is a deterministic multiplicative-hash
      // uniform (exact dyadic arithmetic), so DuckDB draws the IDENTICAL
      // sample; the hash carries integers only (the ln ranking key is
      // engine-local — the d25 rule).
      Sampling.weightedSample(t(s, d, "documents"), col("doc_id"),
          Seq("lang"), col("n_chars"), k = 15)
        .select(col("lang"), col("doc_id"), col("n_chars"))
        .orderBy(col("lang"), col("doc_id"))
    },
    Gate("d33_winnow_edit_verify", winnowEditVerifyOracleSql) { (s, d) =>
      // candidate → verify: d30's winnow candidates verified by exact edit
      // distance on the normalized text (dist ≤ 25% of the longer doc).
      // Levenshtein is unit-cost integer in both engines — hash-safe; the
      // O(len²) DP runs on candidate pairs ONLY, never all pairs.
      val docs = t(s, d, "documents")
      val cl = docs.select(col("doc_id"),
        regexp_replace(lower(col("text")), "[^a-z0-9]", "").as("s"))
      Dedup.winnowPairs(docs, "doc_id", k = 16, w = 4, minShared = 3)
        .join(cl.select(col("doc_id").as("id_a"), col("s").as("__sa")), Seq("id_a"))
        .join(cl.select(col("doc_id").as("id_b"), col("s").as("__sb")), Seq("id_b"))
        .withColumn("edit_dist", levenshtein(col("__sa"), col("__sb")))
        .withColumn("verified",
          col("edit_dist") * 4 <= greatest(length(col("__sa")), length(col("__sb"))))
        .select("id_a", "id_b", "n_shared", "edit_dist", "verified")
        .orderBy(col("id_a"), col("id_b"))
    },
    Gate("d37_importance_rank",
      // brute-force ground truth — no prefix filter; equality proves the
      // Spark side's pruning is lossless
      // d34: the same bigram sets as d32, but candidates come from the
      // positional window over the (text-prefix, id) sort order — the oracle
      // recomputes the global order with a window row_number and pairs rows
      // at distance 1..3, so the hash also checks the scalable position
      // assignment (range partitions + offsets) against a plain sort.
      // d36: the oracle independently replays blocking, transitive closure
      // (recursive CTE), singleton fill, survivorship window, and lineage agg
      // d37: same bucket stats, same integer masses, same (score desc, id)
      // top-k — md5-prefix buckets keep the feature space a portable string.
      """WITH tok AS (
        |  SELECT doc_id, lang = 'en' AS t,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |  FROM documents
        |), f AS (
        |  SELECT doc_id, t, substr(md5(w), 1, 3) AS f FROM tok
        |), stats AS (
        |  SELECT f, CAST(COUNT(*) AS BIGINT) AS r_cnt,
        |    CAST(COUNT(*) FILTER (WHERE t) AS BIGINT) AS t_cnt
        |  FROM f GROUP BY 1
        |), pd AS (
        |  SELECT doc_id, f, CAST(COUNT(*) AS BIGINT) AS c FROM f GROUP BY 1, 2
        |), m AS (
        |  SELECT pd.doc_id,
        |    SUM(pd.c * stats.t_cnt) AS t_mass,
        |    SUM(pd.c * stats.r_cnt) AS r_mass
        |  FROM pd JOIN stats USING (f) GROUP BY 1
        |)
        |SELECT doc_id, CAST(t_mass AS BIGINT) AS t_mass,
        |  CAST(r_mass AS BIGINT) AS r_mass,
        |  CAST(t_mass AS DOUBLE) / r_mass AS score
        |FROM m ORDER BY score DESC, doc_id LIMIT 100""".stripMargin) { (s, d) =>
      // DSIR-flavored hashed-feature importance ranking
      // (Sampling.hashedImportanceTopK): 4096 md5-prefix token buckets,
      // target = lang='en', per-doc target/raw mass ratio as the score —
      // both masses exact integers, score one IEEE divide, so the top-100
      // (score desc, doc_id) selection is engine-deterministic. One
      // bounded bucket-stats broadcast + doc-keyed sums + TakeOrdered.
      graft.llm.Sampling.hashedImportanceTopK(t(s, d, "documents"),
        "doc_id", "text", isTarget = col("lang") === "en", k = 100)
    },
    Gate("d38_bm25",
      // d38: same BM25 fold (sorted-term order) with DuckDB's own ln; the
      // hash carries the selection + (tf_sum, dl), never the score
      """WITH tk AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM tk GROUP BY 1, 2
        |), dl AS (
        |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1
        |), dfx AS (
        |  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
        |), sc AS (
        |  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl
        |), q AS (
        |  SELECT * FROM (VALUES
        |    ('q1', 'spark'), ('q1', 'join'),
        |    ('q2', 'hash'), ('q2', 'window'), ('q2', 'dup'),
        |    ('q3', 'vector'), ('q3', 'stream'),
        |    ('q4', 'batch'), ('q4', 'sort'), ('q4', 'key'),
        |    ('q5', 'dup'), ('q5', 'merge')) AS v(query_id, term)
        |), ts AS (
        |  SELECT q.query_id, tf.doc_id, tf.term, tf.tf, dl.dl,
        |    ln(1.0 + ((sc.n_docs - dfx.df) + CAST(0.5 AS DOUBLE)) / (dfx.df + CAST(0.5 AS DOUBLE)))
        |      * (tf.tf * CAST(2.25 AS DOUBLE))
        |      / (tf.tf + CAST(1.25 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl.dl / sc.avgdl)) AS s
        |  FROM tf JOIN q USING (term) JOIN dfx USING (term)
        |  JOIN dl USING (doc_id) CROSS JOIN sc
        |), agg AS (
        |  SELECT query_id, doc_id,
        |    list_reduce(list(s ORDER BY term), (x, y) -> x + y) AS bm25,
        |    CAST(SUM(tf) AS BIGINT) AS tf_sum, MAX(dl) AS dl
        |  FROM ts GROUP BY 1, 2
        |)
        |SELECT query_id, rank, doc_id, tf_sum, dl FROM (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS INTEGER) AS rank
        |  FROM agg)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      // BM25 top-5 retrieval per query (TextAnalysis.bm25TopK). Query
      // terms are chosen with pairwise-DISTINCT document frequencies, so
      // symmetric tf swaps can't produce exact score ties; the hash
      // carries the selection + exact integer inputs (tf_sum, dl), not
      // the ln-carrying score (the d25 rule).
      import s.implicits._
      val qs = Seq(
        ("q1", Seq("spark", "join")),
        ("q2", Seq("hash", "window", "dup")),
        ("q3", Seq("vector", "stream")),
        ("q4", Seq("batch", "sort", "key")),
        ("q5", Seq("dup", "merge"))).toDF("query_id", "terms")
      TextAnalysis.bm25TopK(t(s, d, "documents"), qs, k = 5)
        .select(col("query_id"), col("rank"), col("doc_id"), col("tf_sum"), col("dl"))
        .orderBy(col("query_id"), col("rank"))
    },
    Gate("d39_bigram_lm",
      """WITH tk AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w,
        |    generate_subscripts(regexp_split_to_array(trim(lower(text)), '\s+'), 1) AS pos
        |  FROM documents
        |), big AS (
        |  SELECT doc_id, pos, w,
        |    lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |  FROM tk QUALIFY w2 IS NOT NULL
        |), c2 AS (
        |  SELECT w, w2, COUNT(*) AS c2 FROM big GROUP BY 1, 2
        |), c1 AS (
        |  SELECT w, SUM(c2) AS c1 FROM c2 GROUP BY 1
        |), v AS (
        |  SELECT COUNT(DISTINCT w) AS v FROM tk
        |), lp AS (
        |  SELECT b.doc_id, b.pos,
        |    ln(CAST(c2.c2 + 1 AS DOUBLE) / CAST(c1.c1 + v.v AS DOUBLE)) AS logp
        |  FROM big b JOIN c2 USING (w, w2) JOIN c1 USING (w) CROSS JOIN v
        |), agg AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |    -list_reduce(list(logp ORDER BY pos), (x, y) -> x + y) AS nll
        |  FROM lp GROUP BY 1
        |)
        |SELECT doc_id, n_bigrams, ROUND(nll / n_bigrams, 4) AS avg_nll
        |FROM agg ORDER BY doc_id""".stripMargin) { (s, d) =>
      // Bigram-LM quality scoring (KenLM-style perplexity filter,
      // TextAnalysis.bigramLmScore): add-1-smoothed bigram model trained
      // on the corpus itself, per-doc average negative log-likelihood.
      // Per-doc logp terms fold in position order (deterministic double
      // sum); the ln ulps survive ROUND(,4) — boundary flips need the
      // true value within 1e-14 of a rounding edge.
      TextAnalysis.bigramLmScore(t(s, d, "documents"))
        .select(col("doc_id"), col("n_bigrams"),
          round(col("avg_nll"), 4).as("avg_nll"))
        .orderBy(col("doc_id"))
    },
    Gate("d40_span_dedup", spanDedupOracleSql) { (s, d) =>
      // corpus-level EXACT span dedup WITH text reconstruction
      // (Dedup.removeDuplicateSpans, Lee et al. 2022 direction at 5-token
      // chunk granularity): d24 finds repeated spans, this removes every
      // non-first occurrence and reassembles the surviving text. One
      // chunk-keyed min-agg for the global first occurrence + one id-keyed
      // rebuild — strings and integers only, fully hash-checked.
      Dedup.removeDuplicateSpans(t(s, d, "documents"), "doc_id",
          chunkTokens = 5)
        .orderBy("doc_id")
    },
    Gate("d41_boilerplate_strip", boilerplateStripOracleSql) { (s, d) =>
      // CCNet-style boilerplate strip (Dedup.stripBoilerplateSpans):
      // remove ALL occurrences of any 5-token chunk present in >= 3
      // distinct docs (cross-crawl repeated content), keep everything
      // else. df threshold is exact count-distinct here so the oracle can
      // replay it; the operator degrades to approx_count_distinct at
      // corpus scale.
      Dedup.stripBoilerplateSpans(t(s, d, "documents"), "doc_id",
          chunkTokens = 5, minDocFrequency = 3)
        .orderBy("doc_id")
    },
    Gate("d42_stream_boilerplate",
      // d42: the streamed df-map formulation converges to the identical
      // cleaned corpus (the strip is non-causal, so the convergent artifact
      // is the view over the final df map) — shares d41's oracle VERBATIM.
      boilerplateStripOracleSql) { (s, d) =>
      // STREAMING BOILERPLATE STRIP (Streaming.boilerplateStripStream):
      // documents arrive in 3 microbatches; each folds its per-chunk
      // distinct-doc counts into the versioned df map (additive — every
      // doc is in exactly one batch) and stores its chunk occurrences.
      // The strip is NON-CAUSAL (a chunk may cross the df threshold
      // after its first doc streamed), so the convergent artifact is the
      // VIEW over the final map — which must equal d41's one-shot batch
      // strip; d42 shares d41's SQL oracle verbatim.
      val (stream, root) = docsThreeDropStream(s, d)
      graft.streaming.Streaming.boilerplateStripStream(
          stream, s"$root/state", s"$root/ckpt")
        .awaitTermination()
      graft.streaming.Streaming.boilerplateStripView(
          s, s"$root/state", minDocFrequency = 3)
        .orderBy("doc_id")
    },
    Gate("d82_csv_gzip_roundtrip", corpusChecksumOracleSql) { (s, d) =>
      // gzip-compressed CSV round-trip — the third interchange surface
      // (d52 JSONL, d54 ORC): the corpus writes as quoted CSV with the
      // gzip codec and reads back schema-first through the compressed
      // text path (the splittability trade is the documented cost:
      // one gzip member = one task — at 100 TB you shard into many
      // .csv.gz files, which the partitioned write does). Same checksum
      // gate and shared oracle as d52 — a quoting/escaping/codec bug
      // anywhere breaks the per-(lang, source) md5-distinct count.
      import org.apache.spark.sql.types._
      val root = graft.util.TempDirs.scratch("d82")
      t(s, d, "documents").write.mode("overwrite")
        .option("header", "true").option("compression", "gzip")
        .csv(s"$root/csvgz")
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      // multiLine: quoted text with an embedded newline must parse back
      // as one row (without it the roundtrip silently splits such rows);
      // costs per-file parallelism only inside this read — and a .gz
      // member is one task anyway
      s.read.schema(schema).option("header", "true")
        .option("multiLine", "true").csv(s"$root/csvgz")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("sum_len"),
          countDistinct(md5(col("text"))).as("n_distinct"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy("lang", "source")
    },
    Gate("d52_jsonl_roundtrip", corpusChecksumOracleSql) { (s, d) =>
      // JSONL io round-trip — the interchange format training pipelines
      // actually move documents in. The corpus writes as JSON Lines and
      // reads back with an explicit schema; the gate aggregates the
      // READ-BACK rows (counts, exact char sums, distinct text md5s per
      // (lang, source)) while the oracle computes the same over the
      // parquet source — any escaping/encoding corruption in the
      // round-trip breaks the md5-distinct count. Schema-on-read, narrow
      // writes, partition-parallel: the plumbing is the real multi-TB
      // export path.
      import org.apache.spark.sql.types._
      val root = graft.util.TempDirs.scratch("d52")
      t(s, d, "documents").write.mode("overwrite").json(s"$root/jsonl")
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      s.read.schema(schema).json(s"$root/jsonl")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("sum_len"),
          countDistinct(md5(col("text"))).as("n_distinct"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy("lang", "source")
    },
    Gate("d54_orc_roundtrip", corpusChecksumOracleSql) { (s, d) =>
      // ORC io round-trip — the other columnar interchange format Spark
      // ships natively. Same checksum gate (and shared oracle) as d52's
      // JSONL: corruption anywhere in the write/read path breaks the
      // per-(lang, source) md5-distinct count.
      val root = graft.util.TempDirs.scratch("d54")
      t(s, d, "documents").write.mode("overwrite").orc(s"$root/orc")
      s.read.orc(s"$root/orc")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("sum_len"),
          countDistinct(md5(col("text"))).as("n_distinct"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy("lang", "source")
    },
    Gate("d55_jaro_winkler",
      """WITH fixture(doc_id, key) AS (VALUES
        |  (-1, 'martha'), (-38, 'marhta'), (-2, 'dwayne'), (-39, 'duane'),
        |  (-3, 'dixon'), (-40, 'dicksonx'), (-4, 'aXXXX'), (-41, 'aYYYY'),
        |  (-5, 'ab'), (-42, 'ba')
        |), k AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, key FROM fixture
        |  UNION ALL SELECT doc_id, substr(text, 1, 12) FROM documents
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  ROUND(jaro_winkler_similarity(a.key, b.key), 4) AS jw
        |FROM k a JOIN k b ON a.doc_id % 37 = b.doc_id % 37 AND a.doc_id < b.doc_id
        |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      // Jaro-Winkler field similarity (native codegen'd expression,
      // TextExpressions.JaroWinkler) over blocked key pairs + the
      // canonical literature fixtures (martha/marhta 0.9611,
      // dixon/dicksonx 0.8133, the sub-0.7 no-boost case, the
      // window-excluded 'ab'/'ba' 0.0). The oracle replays every score
      // with DuckDB's jaro_winkler_similarity at 4 dp — match window,
      // transposition halving and the 0.7 boost gate must all agree.
      import s.implicits._
      // each canonical pair shares a residue mod 37 (e.g. -1 and -38) so
      // the blocking join actually forms it; negative residues never
      // collide with the real docs' 0..36
      val fixture = Seq(
        (-1L, "martha"), (-38L, "marhta"), (-2L, "dwayne"), (-39L, "duane"),
        (-3L, "dixon"), (-40L, "dicksonx"), (-4L, "aXXXX"), (-41L, "aYYYY"),
        (-5L, "ab"), (-42L, "ba")).toDF("doc_id", "key")
      val keys = t(s, d, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 12).as("key"))
        .unionByName(fixture)
      def side(p: String) = keys.select(col("doc_id").as(s"id_$p"),
        col("key").as(s"k_$p"))
      side("a").join(side("b"),
          col("id_a") % 37 === col("id_b") % 37 && col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(TextAnalysis.jaroWinkler(col("k_a"), col("k_b")), 4).as("jw"))
        .orderBy("id_a", "id_b")
    },
    Gate("d57_pmi_collocations", pmiOracleSql) { (s, d) =>
      // pointwise mutual information for adjacent-token collocations —
      // the classic corpus-linguistics keyness score: PMI =
      // ln(n12 · N / (n1 · n2)) over bigram occurrence counts, min
      // support 10. Exact integer counts, one ln per surviving pair in
      // a pinned operand order, ROUND(,4) — the bigram-LM portability
      // contract. Two token-keyed aggs + two equi-joins, map-side
      // combinable throughout.
      // token array as an attribute BEFORE the lambda (the d64 lesson)
      val big = t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(TextAnalysis.tokens(col("text")).as("__ts"))
        .filter(size(col("__ts")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("__ts")) - 1), i =>
          struct(element_at(col("__ts"), i).as("w1"),
            element_at(col("__ts"), i + 1).as("w2")))).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .localCheckpoint()
      val n = big.count()
      val c12 = big.groupBy("w1", "w2").agg(count(lit(1)).as("n12"))
      val c1 = big.groupBy("w1").agg(count(lit(1)).as("n1"))
      val c2 = big.groupBy("w2").agg(count(lit(1)).as("n2"))
      c12.filter(col("n12") >= 10)
        .join(c1, "w1").join(c2, "w2")
        .select(col("w1"), col("w2"), col("n12"),
          round(log(col("n12").cast("double") * lit(n.toDouble) /
            (col("n1").cast("double") * col("n2"))), 4).as("pmi"))
        .orderBy("w1", "w2")
    },
    Gate("d58_keyness_g2",
      """WITH tok AS (
        |  SELECT source,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |  FROM documents
        |), c AS (
        |  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS a FROM tok GROUP BY 1, 2
        |), ctt AS (SELECT w, CAST(SUM(a) AS BIGINT) AS ct FROM c GROUP BY 1),
        |rt AS (SELECT source, CAST(SUM(a) AS BIGINT) AS ns FROM c GROUP BY 1),
        |nn AS (SELECT CAST(SUM(a) AS BIGINT) AS n FROM c)
        |SELECT c.source, c.w, c.a, CAST(ctt.ct - c.a AS BIGINT) AS b,
        |  ROUND((
        |    CAST(c.a AS DOUBLE) * ln(CAST(c.a AS DOUBLE) * CAST(nn.n AS DOUBLE) /
        |      (CAST(rt.ns AS DOUBLE) * ctt.ct)) +
        |    CASE WHEN ctt.ct - c.a > 0 THEN
        |      CAST(ctt.ct - c.a AS DOUBLE) * ln(CAST(ctt.ct - c.a AS DOUBLE) * CAST(nn.n AS DOUBLE) /
        |        (CAST(nn.n - rt.ns AS DOUBLE) * ctt.ct))
        |    ELSE 0.0 END) * 2, 4) AS g2
        |FROM c JOIN ctt USING (w) JOIN rt USING (source) CROSS JOIN nn
        |WHERE ctt.ct >= 50
        |ORDER BY 1, 2""".stripMargin) { (s, d) =>
      // log-likelihood keyness (Dunning's G²) per (source, token) vs the
      // rest of the corpus — the classic "what words characterize this
      // source" comparison: G² = 2·(a·ln(a·N/(n_s·ct)) +
      // b·ln(b·N/(n_r·ct))) with a/b the in/out-of-source counts and ct
      // the token's corpus count; zero-count terms contribute 0. Exact
      // integer counts, two ln's per row in pinned operand order,
      // ROUND(,4). Min corpus support 50 keeps the output stable.
      val docs = t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      val counts = docs
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("a"))
        .localCheckpoint()
      val colT = counts.groupBy("w").agg(sum(col("a")).as("ct"))
      val rowT = counts.groupBy("source").agg(sum(col("a")).as("ns"))
      val n = counts.agg(sum(col("a"))).head().getLong(0)
      counts.join(colT, "w").join(rowT, "source")
        .filter(col("ct") >= 50)
        .select(col("source"), col("w"), col("a"),
          (col("ct") - col("a")).as("b"),
          round((
            col("a").cast("double") * log(col("a").cast("double") * lit(n.toDouble) /
              (col("ns").cast("double") * col("ct"))) +
            when(col("ct") - col("a") > 0,
              (col("ct") - col("a")).cast("double") *
                log((col("ct") - col("a")).cast("double") * lit(n.toDouble) /
                  ((lit(n) - col("ns")).cast("double") * col("ct"))))
              .otherwise(lit(0.0))) * 2, 4).as("g2"))
        .orderBy("source", "w")
    },
    Gate("d51_normalize_text",
      """WITH fixture(doc_id, text) AS (VALUES
        |  (-1, 'Cafe' || chr(769) || '  du  Monde'),
        |  (-2, chr(193) || 'ngel ' || chr(209) || 'o' || chr(241) || 'o'),
        |  (-3, 'Z' || chr(220) || 'RICH' || chr(9) || 'na' || chr(239) || 've c' || chr(244) || 'te'),
        |  (-4, '  Fa' || chr(231) || 'ade ' || chr(229) || 'r  '),
        |  (-5, 'plain ascii text')
        |), u AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM fixture
        |  UNION ALL SELECT doc_id, text FROM documents
        |)
        |SELECT doc_id,
        |  trim(regexp_replace(lower(strip_accents(nfc_normalize(text))), '\s+', ' ', 'g')) AS norm_text
        |FROM u ORDER BY doc_id""".stripMargin) { (s, d) =>
      // canonical corpus normalization (NFC -> strip accents -> casefold
      // -> collapse whitespace) as a NATIVE codegen'd expression
      // (TextExpressions.NormalizeText). The planted fixture rows carry
      // combining marks, precomposed accents, tabs and edge whitespace;
      // the ASCII documents corpus runs through the same pipeline at
      // volume. The oracle replays the identical pipeline with DuckDB's
      // nfc_normalize/strip_accents — byte equality IS the check.
      import s.implicits._
      val fixture = Seq(
        (-1L, "Café  du  Monde"),
        (-2L, "Ángel Ñoño"),
        (-3L, "ZÜRICH\tnaïve côte"),
        (-4L, "  Façade år  "),
        (-5L, "plain ascii text")).toDF("doc_id", "text")
      t(s, d, "documents").select(col("doc_id"), col("text"))
        .unionByName(fixture)
        .select(col("doc_id"),
          graft.llm.TextAnalysis.normalizeText(col("text")).as("norm_text"))
        .orderBy("doc_id")
    },
    Gate("d48_novelty",
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents
        |), g AS (
        |  SELECT DISTINCT doc_id, gram FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS gram
        |    FROM tk WHERE len(t) > 1)
        |), fo AS (
        |  SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY 1
        |)
        |SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |  CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) AS novelty
        |FROM g JOIN fo f USING (gram)
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin) { (s, d) =>
      // per-doc NOVELTY score (curriculum / crawl-dedup signal): the
      // fraction of a doc's distinct bigrams whose corpus-wide FIRST
      // occurrence (min doc_id) is this doc — 1.0 = all-new content,
      // 0.0 = everything seen before. One per-doc distinct explode, one
      // gram-keyed min-agg (map-side combinable), one id-keyed rollup;
      // counts exact, novelty one IEEE divide.
      // spread + materialize ONCE: grams feed both the first-occurrence
      // agg and the join back (the d44 lesson — without this the explode
      // runs twice, single-threaded off the one-partition parquet); token
      // array as an attribute BEFORE the lambda (the d64 lesson)
      val grams = t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__ts"))
        .filter(size(col("__ts")) >= 2)
        .select(col("doc_id"), explode(array_distinct(
          transform(sequence(lit(1), size(col("__ts")) - 1), i =>
            concat_ws(" ", element_at(col("__ts"), i), element_at(col("__ts"), i + 1)))))
          .as("gram"))
        .localCheckpoint()
      val fo = grams.groupBy("gram").agg(min(col("doc_id")).as("first_doc"))
      grams.join(fo, "gram")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          (col("n_novel").cast("double") / col("n_grams")).as("novelty"))
        .orderBy("doc_id")
    },
    Gate("d50_jsd_drift",
      """WITH tok AS (
        |  SELECT source,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |  FROM documents
        |), c AS (
        |  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
        |), t AS (
        |  SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY 1
        |), g AS (SELECT DISTINCT source FROM c),
        |pairs AS (
        |  SELECT a.source AS g_a, b.source AS g_b
        |  FROM g a JOIN g b ON a.source < b.source
        |), vocab AS (SELECT DISTINCT w FROM c),
        |grid AS (
        |  SELECT p.g_a, p.g_b, v.w, ca.c AS ca, cb.c AS cb, ta.n AS na, tb.n AS nb
        |  FROM pairs p CROSS JOIN vocab v
        |  LEFT JOIN c ca ON ca.source = p.g_a AND ca.w = v.w
        |  LEFT JOIN c cb ON cb.source = p.g_b AND cb.w = v.w
        |  JOIN t ta ON ta.source = p.g_a JOIN t tb ON tb.source = p.g_b
        |), tm AS (
        |  SELECT g_a, g_b, w,
        |    COALESCE(CASE WHEN ca IS NOT NULL THEN
        |      (CAST(ca AS DOUBLE) / na) * ln((CAST(ca AS DOUBLE) / na) /
        |        ((COALESCE(CAST(ca AS DOUBLE) / na, 0) + COALESCE(CAST(cb AS DOUBLE) / nb, 0)) / 2)) / 2
        |      END, 0) +
        |    COALESCE(CASE WHEN cb IS NOT NULL THEN
        |      (CAST(cb AS DOUBLE) / nb) * ln((CAST(cb AS DOUBLE) / nb) /
        |        ((COALESCE(CAST(ca AS DOUBLE) / na, 0) + COALESCE(CAST(cb AS DOUBLE) / nb, 0)) / 2)) / 2
        |      END, 0) AS tt,
        |    CASE WHEN ca IS NOT NULL AND cb IS NOT NULL THEN 1 ELSE 0 END AS in_both
        |  FROM grid
        |)
        |, jb AS (
        |  SELECT g_a, g_b, substr(md5(w), 1, 3) AS bk,
        |    CAST(SUM(in_both) AS BIGINT) AS bshared,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(tt ORDER BY w)),
        |      (x, y) -> x + y) AS bs
        |  FROM tm GROUP BY 1, 2, 3
        |)
        |SELECT g_a, g_b, CAST(SUM(bshared) AS BIGINT) AS n_shared,
        |  ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(bs ORDER BY bk)),
        |    (x, y) -> x + y), 4) AS jsd
        |FROM jb GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      // pairwise Jensen-Shannon divergence between every source pair's
      // unigram distribution (TextAnalysis.jensenShannon) — the bounded
      // symmetric drift metric s17's entropy monitor escalates to when a
      // source shifts. Ordered per-token folds + ROUND(,4) make the
      // doubles portable (the d39/d45 contract).
      val counts = t(s, d, "documents")
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
      TextAnalysis.jensenShannon(counts).orderBy("g_a", "g_b")
    },
    Gate("d49_pair_metrics",
      """WITH d AS (
        |  SELECT doc_id, lang, source, n_chars FROM documents
        |), cand AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib FROM d a JOIN d b
        |  ON a.lang = b.lang AND a.n_chars % 7 = b.n_chars % 7
        |    AND a.doc_id < b.doc_id
        |), truth AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib FROM d a JOIN d b
        |  ON a.source = b.source AND a.n_chars % 5 = b.n_chars % 5
        |    AND a.doc_id < b.doc_id
        |), j AS (
        |  SELECT COALESCE(c.ia, t.ia) AS ia, c.ia IS NOT NULL AS in_c,
        |    t.ia IS NOT NULL AS in_t
        |  FROM cand c FULL OUTER JOIN truth t ON c.ia = t.ia AND c.ib = t.ib
        |), m AS (
        |  SELECT CAST(SUM(CASE WHEN in_c AND in_t THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN in_c AND NOT in_t THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(SUM(CASE WHEN NOT in_c AND in_t THEN 1 ELSE 0 END) AS BIGINT) AS fn
        |  FROM j
        |)
        |SELECT tp, fp, fn,
        |  CAST(tp AS DOUBLE) / NULLIF(tp + fp, 0) AS precision,
        |  CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0) AS recall
        |FROM m""".stripMargin) { (s, d) =>
      // blocking-evaluation harness (Dedup.pairMetrics): two independent
      // blocking schemes — (lang, n_chars%7) candidates vs
      // (source, n_chars%5) "truth" — scored as tp/fp/fn + precision/
      // recall from one full-outer pair join. The arithmetic and the
      // canonicalization (unordered, deduped, self-pairs dropped) are
      // what's gated; DedupSpec exercises the real LSH-vs-bruteforce use.
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      def block(keys: Seq[Column]) = {
        val a = docs.select(col("doc_id").as("id_a"),
          struct(keys: _*).as("__k"))
        val b = docs.select(col("doc_id").as("id_b"),
          struct(keys: _*).as("__k"))
        a.join(b, Seq("__k")).filter(col("id_a") < col("id_b"))
          .select("id_a", "id_b")
      }
      Dedup.pairMetrics(
        block(Seq(col("lang"), (col("n_chars") % 7).as("m"))),
        block(Seq(col("source"), (col("n_chars") % 5).as("m"))))
    },
    Gate("d47_pipeline_e2e", pipelineE2eOracleSql) { (s, d) =>
      // END-TO-END PRETRAINING DATA PIPELINE — the composition a user of
      // this library ships: corpus-level exact span dedup (d40) →
      // survival-quality gate (keep docs retaining at least half their
      // chunks, drop fully-deduped residue) → token recount of the
      // CLEANED text → per-language token-budget packing (d12's greedy
      // contiguous bins). Every stage is individually oracle-green; this
      // row proves the COMPOSITION against one independent SQL replay.
      val cleaned = Dedup.removeDuplicateSpans(t(s, d, "documents"),
        "doc_id", chunkTokens = 5)
      val kept = cleaned
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
    Gate("d46_leakfree_split",
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
        |), sym AS (
        |  SELECT id_a AS u, id_b AS v FROM mh UNION SELECT id_b, id_a FROM mh
        |), reach AS (
        |  SELECT u, v FROM sym
        |  UNION
        |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
        |), comp AS (
        |  SELECT u AS doc_id, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u
        |), d AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0)
        |SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component,
        |  CASE WHEN substring(md5(CAST(COALESCE(c.component, d.doc_id) AS VARCHAR)), 1, 1) < '8'
        |       THEN 'train' ELSE 'test' END AS split
        |FROM d LEFT JOIN comp c USING (doc_id) ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      // LEAKAGE-FREE train/test split: a near-dup of a training doc in
      // the eval set leaks the answer, so the split unit is the CONNECTED
      // COMPONENT of the near-dup graph, not the document — every member
      // inherits its component's side. Side = first md5 hex digit of the
      // component id (< '8' ⇒ train, ~50/50, portable); singletons are
      // their own component. Composition of oracle-green pieces: d19's
      // pair pipeline + d20's CC + d11's hash-split rule.
      val docs = t(s, d, "documents").filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"))
      val pairs = minhashSqlPairs(s, d).select(col("id_a"), col("id_b"))
      val comp = graft.ops.ConnectedComponents.labels(pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("component"))
      docs.join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"))
        .withColumn("split",
          when(substring(md5(col("component").cast("string")), 1, 1) < "8",
            "train").otherwise("test"))
        .orderBy("doc_id")
    },
    Gate("d43_linkage_scores",
      """WITH d AS (
        |  SELECT doc_id, lang, source, n_chars, text FROM documents
        |), p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    a.source AS source_a, b.source AS source_b,
        |    a.n_chars AS nc_a, b.n_chars AS nc_b,
        |    regexp_split_to_array(trim(lower(a.text)), '\s+')[1] AS ft_a,
        |    regexp_split_to_array(trim(lower(b.text)), '\s+')[1] AS ft_b
        |  FROM d a JOIN d b ON a.lang = b.lang
        |    AND a.n_chars % 17 = b.n_chars % 17 AND a.doc_id < b.doc_id
        |), sc AS (
        |  SELECT id_a, id_b,
        |    CASE WHEN source_a = source_b THEN 1 ELSE 0 END AS same_source_agree,
        |    CASE WHEN abs(nc_a - nc_b) <= 5 THEN 1 ELSE 0 END AS close_length_agree,
        |    CASE WHEN ft_a = ft_b THEN 1 ELSE 0 END AS first_token_agree,
        |    (CASE WHEN source_a = source_b THEN 24 ELSE -8 END
        |     + CASE WHEN abs(nc_a - nc_b) <= 5 THEN 11 ELSE -5 END
        |     + CASE WHEN ft_a = ft_b THEN 6 ELSE -2 END) AS score
        |  FROM p
        |)
        |SELECT id_a, id_b, same_source_agree, close_length_agree,
        |  first_token_agree, CAST(score AS BIGINT) AS score,
        |  CASE WHEN score >= 20 THEN 'link' WHEN score > 0 THEN 'possible'
        |       ELSE 'non-link' END AS decision
        |FROM sc ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      // Fellegi-Sunter record-linkage scoring (Dedup.linkageScores) on
      // (lang, n_chars%17)-blocked pairs: per-field agreement bits, an
      // additive QUANTIZED-integer log-likelihood score, and the 1969
      // three-way link/possible/non-link decision. Integer weights make
      // the whole result exact, so score and decision both hash-check.
      import graft.llm.Dedup.LinkageRule
      // tokenize ONCE per doc (the d53 lesson): short first_token through
      // the pair join instead of the whole text payload
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          element_at(TextAnalysis.tokens(col("text")), 1).as("first_token"))
      Dedup.linkageScores(blockedDocPairs(docs), docs, "doc_id", Seq(
          LinkageRule("same_source",
            col("source_a") === col("source_b"), 24L, -8L),
          LinkageRule("close_length",
            abs(col("n_chars_a") - col("n_chars_b")) <= 5, 11L, -5L),
          LinkageRule("first_token",
            col("first_token_a") === col("first_token_b"), 6L, -2L)),
        upperThreshold = 20L, lowerThreshold = 0L)
        .orderBy("id_a", "id_b")
    },
    Gate("d53_er_e2e",
      // d53: d43's scored pairs at decision='link' (score >= 20) feed
      // d36's recursive closure + survivorship — the whole ER pipeline in
      // one gate.
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, lang, source, n_chars, text FROM documents
        |), p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    (CASE WHEN a.source = b.source THEN 24 ELSE -8 END
        |     + CASE WHEN abs(a.n_chars - b.n_chars) <= 5 THEN 11 ELSE -5 END
        |     + CASE WHEN regexp_split_to_array(trim(lower(a.text)), '\s+')[1] =
        |            regexp_split_to_array(trim(lower(b.text)), '\s+')[1]
        |       THEN 6 ELSE -2 END) AS score
        |  FROM d a JOIN d b ON a.lang = b.lang
        |    AND a.n_chars % 17 = b.n_chars % 17 AND a.doc_id < b.doc_id
        |), edges AS (
        |  SELECT id_a, id_b FROM p WHERE score >= 20
        |), sym AS (
        |  SELECT id_a AS u, id_b AS v FROM edges UNION SELECT id_b, id_a FROM edges
        |), reach AS (
        |  SELECT u, v FROM sym
        |  UNION
        |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
        |), comp AS (
        |  SELECT u AS doc_id, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u
        |), lbl AS (
        |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster_id
        |  FROM d LEFT JOIN comp c USING (doc_id)
        |), stats AS (
        |  SELECT cluster_id, COUNT(*) AS n_members,
        |    list_sort(list(doc_id)) AS member_ids
        |  FROM lbl GROUP BY cluster_id
        |), ranked AS (
        |  SELECT l.cluster_id, d.doc_id, d.lang, d.source, d.n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY l.cluster_id
        |      ORDER BY d.n_chars DESC, d.doc_id) AS rn
        |  FROM lbl l JOIN d USING (doc_id)
        |)
        |SELECT r.cluster_id, s.n_members,
        |  array_to_string(s.member_ids, ',') AS member_ids,
        |  r.doc_id AS canonical_id, r.lang, r.source, r.n_chars
        |FROM ranked r JOIN stats s USING (cluster_id)
        |WHERE rn = 1 ORDER BY r.cluster_id""".stripMargin) { (s, d) =>
      // ENTITY-RESOLUTION E2E COMPOSITION GATE — the linkage-side twin
      // of d47's corpus gate: blocking (d43's (lang, n_chars%17)) →
      // Fellegi-Sunter scoring (d43's integer rules) → keep only
      // decision='link' → transitive closure + survivorship
      // (d36's goldenRecords). Every stage exact, so the composed
      // clusters, lineage and survivors all hash-check against one
      // recursive-CTE oracle.
      import graft.llm.Dedup.LinkageRule
      // tokenize ONCE per doc, not once per pair side: the pair join then
      // carries a short first_token instead of the whole text payload
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          element_at(TextAnalysis.tokens(col("text")), 1).as("first_token"))
      val links = Dedup.linkageScores(blockedDocPairs(docs), docs, "doc_id", Seq(
          LinkageRule("same_source",
            col("source_a") === col("source_b"), 24L, -8L),
          LinkageRule("close_length",
            abs(col("n_chars_a") - col("n_chars_b")) <= 5, 11L, -5L),
          LinkageRule("first_token",
            col("first_token_a") === col("first_token_b"), 6L, -2L)),
          upperThreshold = 20L, lowerThreshold = 0L)
        .filter(col("decision") === "link")
        .select("id_a", "id_b")
      Dedup.goldenRecords(docs.drop("first_token"), "doc_id", links,
          survivorOrder = Seq(col("n_chars").desc, col("doc_id")))
        .select(col("cluster_id"), col("n_members"),
          concat_ws(",", col("member_ids").cast("array<string>")).as("member_ids"),
          col("doc_id").as("canonical_id"), col("lang"), col("source"),
          col("n_chars"))
        .orderBy("cluster_id")
    },
    Gate("d56_fuzzy_linkage",
      """WITH d AS (
        |  SELECT doc_id, lang, source, n_chars, substr(text, 1, 12) AS prefix
        |  FROM documents
        |), p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CASE WHEN a.source = b.source THEN 1 ELSE 0 END AS same_source_agree,
        |    CASE WHEN ROUND(jaro_winkler_similarity(a.prefix, b.prefix), 4) >= 0.9
        |      THEN 1 ELSE 0 END AS fuzzy_prefix_agree,
        |    (CASE WHEN a.source = b.source THEN 24 ELSE -8 END
        |     + CASE WHEN ROUND(jaro_winkler_similarity(a.prefix, b.prefix), 4) >= 0.9
        |       THEN 13 ELSE -4 END) AS score
        |  FROM d a JOIN d b ON a.lang = b.lang
        |    AND a.n_chars % 17 = b.n_chars % 17 AND a.doc_id < b.doc_id
        |)
        |SELECT id_a, id_b, same_source_agree, fuzzy_prefix_agree,
        |  CAST(score AS BIGINT) AS score,
        |  CASE WHEN score >= 30 THEN 'link' WHEN score > 5 THEN 'possible'
        |       ELSE 'non-link' END AS decision
        |FROM p ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      // the d55 comparator composed into Fellegi-Sunter: agreement on a
      // jaro_winkler >= 0.9 match of the 12-char text prefix replaces
      // exact equality — the fuzzy-name-match shape real ER runs on.
      // Scores stay quantized integers so the gate is exact; the oracle
      // replays the JW threshold with DuckDB's own function (the d55
      // byte-compatibility is what makes the threshold portable).
      import graft.llm.Dedup.LinkageRule
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          substring(col("text"), 1, 12).as("prefix"))
      Dedup.linkageScores(blockedDocPairs(docs), docs, "doc_id", Seq(
          LinkageRule("same_source",
            col("source_a") === col("source_b"), 24L, -8L),
          LinkageRule("fuzzy_prefix",
            // threshold on the 4-dp ROUNDED score: d55 certifies the two
            // engines agree at 4 dp, so the comparison is portable even
            // when the raw doubles differ by an ulp at the boundary
            round(TextAnalysis.jaroWinkler(col("prefix_a"), col("prefix_b")), 4) >= 0.9,
            13L, -4L)),
          upperThreshold = 30L, lowerThreshold = 5L)
        .orderBy("id_a", "id_b")
    },
    Gate("d44_source_containment",
      """WITH tk AS (
        |  SELECT source, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents
        |), g AS (
        |  SELECT DISTINCT source, gram FROM (
        |    SELECT source,
        |      unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS gram
        |    FROM tk WHERE len(t) > 1)
        |), tot AS (
        |  SELECT source AS source_a, CAST(COUNT(*) AS BIGINT) AS n_a FROM g GROUP BY 1
        |), com AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_common
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.source <> b.source
        |  GROUP BY 1, 2
        |)
        |SELECT c.source_a, c.source_b, c.n_common, t.n_a,
        |  CAST(c.n_common AS DOUBLE) / t.n_a AS containment
        |FROM com c JOIN tot t USING (source_a)
        |ORDER BY source_a, source_b""".stripMargin) { (s, d) =>
      // cross-source shingle CONTAINMENT (|A∩B|/|A|, the asymmetric
      // leakage measure) over distinct token bigrams per source
      // (Dedup.sourceShingleContainment). Exact counts + one IEEE divide
      // — fully hash-checked; the 100 TB path swaps the exact distinct
      // sets for q53's KMV sketches with the same output schema.
      Dedup.sourceShingleContainment(t(s, d, "documents"), "source")
        .orderBy("source_a", "source_b")
    },
    Gate("d45_source_entropy", sourceEntropyOracleSql) { (s, d) =>
      // corpus diversity metrics per source (TextAnalysis.unigramEntropy):
      // Shannon entropy over the unigram distribution + exact type-token
      // ratio. The s17 streaming twin derives the same metrics from the
      // state store's final counts and shares this oracle.
      val counts = t(s, d, "documents")
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
      TextAnalysis.unigramEntropy(counts).orderBy("source")
    },
    Gate("d36_golden_records",
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id % 2 = 0
        |), pa AS (
        |  SELECT x.doc_id AS id_a, y.doc_id AS id_b FROM d x JOIN d y
        |  ON x.lang = y.lang AND x.n_chars % 101 = y.n_chars % 101
        |    AND x.doc_id < y.doc_id
        |), pb AS (
        |  SELECT x.doc_id AS id_a, y.doc_id AS id_b FROM d x JOIN d y
        |  ON x.source = y.source AND x.n_chars % 23 = y.n_chars % 23
        |    AND x.doc_id < y.doc_id
        |), edges AS (
        |  SELECT id_a, id_b FROM pa UNION SELECT id_a, id_b FROM pb
        |), sym AS (
        |  SELECT id_a AS u, id_b AS v FROM edges UNION SELECT id_b, id_a FROM edges
        |), reach AS (
        |  SELECT u, v FROM sym
        |  UNION
        |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
        |), comp AS (
        |  SELECT u AS doc_id, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u
        |), lbl AS (
        |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster_id
        |  FROM d LEFT JOIN comp c USING (doc_id)
        |), stats AS (
        |  SELECT cluster_id, COUNT(*) AS n_members,
        |    list_sort(list(doc_id)) AS member_ids
        |  FROM lbl GROUP BY cluster_id
        |), ranked AS (
        |  SELECT l.cluster_id, d.doc_id, d.lang, d.source, d.n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY l.cluster_id
        |      ORDER BY d.n_chars DESC, d.doc_id) AS rn
        |  FROM lbl l JOIN d USING (doc_id)
        |)
        |SELECT r.cluster_id, s.n_members,
        |  array_to_string(s.member_ids, ',') AS member_ids,
        |  r.doc_id AS canonical_id, r.lang, r.source, r.n_chars
        |FROM ranked r JOIN stats s USING (cluster_id)
        |WHERE rn = 1 ORDER BY r.cluster_id""".stripMargin) { (s, d) =>
      // ENTITY CONSOLIDATION (Dedup.goldenRecords): two overlapping
      // blockings — (lang, n_chars%101) and (source, n_chars%23) — chain
      // into transitive match clusters (CC closure); each cluster
      // collapses to its survivor (longest doc, ties min id) with lineage
      // (member count + sorted member ids). The oracle replays the
      // closure with a recursive CTE and the same survivorship window —
      // cluster formation, singleton handling, and survivor choice all
      // hash-checked.
      val docs = t(s, d, "documents").filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      def side(p: String) = docs.select(col("doc_id").as(s"${p}_id"),
        col("lang").as(s"${p}_lang"), col("source").as(s"${p}_source"),
        col("n_chars").as(s"${p}_nc"))
      val pa = side("a").join(side("b"),
          col("a_lang") === col("b_lang") &&
            col("a_nc") % 101 === col("b_nc") % 101 && col("a_id") < col("b_id"))
        .select(col("a_id").as("id_a"), col("b_id").as("id_b"))
      val pb = side("a").join(side("b"),
          col("a_source") === col("b_source") &&
            col("a_nc") % 23 === col("b_nc") % 23 && col("a_id") < col("b_id"))
        .select(col("a_id").as("id_a"), col("b_id").as("id_b"))
      Dedup.goldenRecords(docs, "doc_id", pa.unionByName(pb),
          survivorOrder = Seq(col("n_chars").desc, col("doc_id")))
        .select(col("cluster_id"), col("n_members"),
          // comma-joined string, not array<long>: the driver's pandas
          // canonicalizer cannot sort rows on an array-typed column
          concat_ws(",", col("member_ids").cast("array<string>")).as("member_ids"),
          col("doc_id").as("canonical_id"), col("lang"), col("source"),
          col("n_chars"))
        .orderBy("cluster_id")
    },
    Gate("d34_sorted_neighborhood",
      """WITH toks AS (
        |  SELECT doc_id, text, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
        |  FROM documents
        |), f AS (SELECT * FROM toks WHERE len(ts) >= 2),
        |grams AS (
        |  SELECT doc_id, substr(text, 1, 20) AS bkey,
        |         list_sort(list_distinct([ts[i] || ' ' || ts[i+1] FOR i IN range(1, len(ts))])) AS gs
        |  FROM f
        |), pos AS (
        |  SELECT doc_id, gs, len(gs) AS m,
        |         row_number() OVER (ORDER BY bkey, doc_id) AS pos
        |  FROM grams
        |), cand AS (
        |  SELECT least(a.doc_id, b.doc_id) AS id_a, greatest(a.doc_id, b.doc_id) AS id_b,
        |         len(list_intersect(a.gs, b.gs)) AS inter,
        |         CASE WHEN a.doc_id < b.doc_id THEN a.m ELSE b.m END AS m_a,
        |         CASE WHEN a.doc_id < b.doc_id THEN b.m ELSE a.m END AS m_b
        |  FROM pos a JOIN pos b ON b.pos - a.pos BETWEEN 1 AND 3
        |)
        |SELECT id_a, id_b, inter, m_a, m_b FROM cand
        |WHERE inter * 2 >= (m_a + m_b - inter)
        |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      // sorted-neighborhood blocking (Merge/Purge): one range-partitioned
      // sort by a 20-char text-prefix key, pairs only within a 4-row
      // window (O(n*w) candidates), exact bigram-Jaccard >= 0.5 verify in
      // integer arithmetic. Near-dups share prefixes, so the positional
      // window finds them without signatures — the record-linkage
      // complement to d04's LSH blocking.
      // a small parquet arrives as ONE partition — spread BEFORE the gram
      // build, or the interpreted bigram transform runs single-threaded
      // when the checkpoint materializes it (count() never showed it: the
      // column gets pruned)
      val docs = t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      // token array as an attribute BEFORE the lambda (the d64 lesson)
      val grams = docs
        .select(col("doc_id"), substring(col("text"), 1, 20).as("bkey"),
          TextAnalysis.tokens(col("text")).as("__ts"))
        .filter(size(col("__ts")) >= 2)
        .select(col("doc_id"), col("bkey"),
          transform(sequence(lit(1), size(col("__ts")) - 1), i =>
            concat_ws(" ", element_at(col("__ts"), i), element_at(col("__ts"), i + 1))).as("grams"))
      Dedup.sortedNeighborhoodPairs(grams, "doc_id", col("bkey"), "grams",
          window = 4, minJaccard = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    },
    Gate("d32_setsim_join",
      """WITH toks AS (
        |  SELECT doc_id, ts FROM (
        |    SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
        |    FROM documents) WHERE len(ts) >= 3
        |), big AS (
        |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS gram
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(ts) - 1)) AS i) u
        |), m AS (SELECT doc_id, COUNT(*) AS m FROM big GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM big a JOIN big b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT id_a, id_b, inter, ma.m AS m_a, mb.m AS m_b
        |FROM inter JOIN m ma ON ma.doc_id = id_a JOIN m mb ON mb.doc_id = id_b
        |WHERE inter * 2 >= (ma.m + mb.m - inter)
        |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      // EXACT set-similarity self-join (AllPairs prefix filtering): every
      // doc pair with TRIgram-Jaccard >= 0.5, no all-pairs pass, no
      // approximation — the oracle recomputes it brute-force, so the gate
      // also proves the candidate pruning is lossless. Trigrams, not
      // bigrams, deliberately: prefix filtering is only as strong as the
      // token space is discriminative — on this corpus's ~30-word
      // vocabulary the ~900 possible bigrams put thousands of docs in each
      // rare-prefix bucket (16.5M candidate pairs at sf0.1); the ~27k
      // observed trigrams cut that 38x (430k) with the same operator.
      val grams = t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("ts"))
        .filter(size(col("ts")) >= 3)
        // ts is already an attribute here, so the lambda reads are cheap
        .select(col("doc_id"), transform(sequence(lit(1), size(col("ts")) - 2), i =>
          concat_ws(" ", element_at(col("ts"), i), element_at(col("ts"), i + 1),
            element_at(col("ts"), i + 2))).as("grams"))
      Dedup.setSimilarityJoin(grams, "doc_id", "grams", minJaccard = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    },
    Gate("d31_inverted_index",
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
        |  FROM documents
        |), big AS (
        |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] AS gram
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(ts))) AS i) u
        |)
        |SELECT gram, CAST(COUNT(*) AS BIGINT) AS df,
        |  array_to_string(list_sort(list(doc_id)), ',') AS postings
        |FROM big GROUP BY gram HAVING COUNT(*) BETWEEN 3 AND 40
        |ORDER BY gram""".stripMargin) { (s, d) =>
      // distributed inverted-index build (the IR/retrieval core): token →
      // document frequency + sorted posting list. Narrow per-doc distinct
      // explode → ONE hash aggregate; at 100 TB postings for stopword-like
      // tokens are the skew risk, hence the df band filter (and a bucketed
      // writer would range-partition on token).
      t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("ts"))
        .filter(size(col("ts")) >= 2)
        .select(col("doc_id"), explode(array_distinct(
          transform(sequence(lit(1), size(col("ts")) - 1), i =>
            concat_ws(" ", element_at(col("ts"), i), element_at(col("ts"), i + 1)))))
          .as("gram"))
        .groupBy("gram")
        // postings as a comma-joined string, not array<long>: the driver's
        // pandas canonicalizer cannot sort rows on an array-typed column
        .agg(count(lit(1)).as("df"),
          concat_ws(",", sort_array(collect_set(col("doc_id"))).cast("array<string>"))
            .as("postings"))
        .filter(col("df").between(3, 40))
        .orderBy(col("gram"))
    },
    Gate("d30_winnow_pairs",
      // identical winnowing pipeline from shared primitives: same polynomial
      // gram hash (seed 42, ·31 mod 2³¹−1), same h·2²¹+(2²⁰−pos) key encoding
      // (min ⇒ rightmost-tie winnowing rule), same window-min selection
      winnowPairsOracleSql) { (s, d) =>
      // Winnowing (MOSS) substring-overlap candidate pairs: normalize →
      // k=16-gram polynomial hashes → min of every w=4-gram window
      // (rightmost-tie rule via the key encoding) → pairs sharing >= 3
      // selected gram hashes. Native codegen'd kernel; engine-portable
      // hash formula — DuckDB recomputes the identical fingerprint set.
      Dedup.winnowPairs(t(s, d, "documents"), "doc_id",
          k = 16, w = 4, minShared = 3)
        .orderBy(col("id_a"), col("id_b"))
    }
  )
}
