package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for large-scale training-data pipelines: quality
 * scoring, language ID, token counting, fingerprinting. All built from
 * codegen'd `org.apache.spark.sql.functions` (no UDFs in the hot path) so
 * they stay inside whole-stage codegen and scale linearly — each is a
 * narrow per-row map over the documents table, no shuffle.
 */
object TextAnalysis {

  /** Whitespace tokens of the lowercased text. */
  def tokens(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** Bucket key for the two-level ordered folds ([[unigramEntropy]],
    * [[jensenShannon]]): the first 3 hex chars of md5(w) — 4096 buckets,
    * byte-identical in Spark and DuckDB (`substr(md5(w), 1, 3)`), so the
    * (bucket, token) fold order is a portable contract while every
    * aggregation buffer stays at ~|vocab|/4096 entries. */
  private def foldBucket: Column = substring(md5(col("w").cast("binary")), 1, 3)

  /** Whitespace-token COUNT without materializing the token array: the
    * native codegen'd [[TextExpressions.WsTokenCount]] byte scan. Matches
    * `size(tokens(text))` exactly (incl. the empty-string -> 1 regex-split
    * quirk) at a fraction of the cost — the hot denominator for corpus
    * quality filtering. */
  def wsTokenCount(text: Column): Column =
    call_function("ws_token_count", text)

  /** Canonical corpus text normalization (NFC → strip accents → casefold →
    * collapse whitespace) via the native codegen'd
    * [[TextExpressions.NormalizeText]] — the cleaning step run before
    * hashing/dedup so "Café" and "cafe " collide. d51-oracle-pinned
    * byte-compatible with DuckDB's strip_accents/nfc_normalize pipeline. */
  def normalizeText(text: Column): Column =
    call_function("normalize_text", text)

  /** Jaro-Winkler similarity between two string columns via the native
    * codegen'd [[TextExpressions.JaroWinkler]] — the record-linkage field
    * comparator for names/short strings (a [[graft.llm.Dedup.LinkageRule]]
    * agree predicate like `jaroWinkler(a, b) >= 0.9`); d55-oracle-pinned
    * compatible with DuckDB's `jaro_winkler_similarity` on ASCII text
    * (DuckDB compares UTF-8 bytes, this kernel UTF-16 chars — multi-byte
    * codepoints diverge; normalize/transliterate first for accented
    * names). */
  def jaroWinkler(a: Column, b: Column): Column =
    call_function("jaro_winkler", a, b)

  /** First-priority blocklist hit over `patterns` (list order = priority)
    * via the native single-pass [[TextExpressions.AhoFirstMatch]] automaton:
    * the index of the first pattern contained in `text`, or -1 for clean.
    * Equivalent to `CASE WHEN contains(p1) ... WHEN contains(pK)` but reads
    * each document ONCE regardless of pattern count — the only blocklist
    * shape that survives a 100 TB corpus with a real (1k+ phrase) list. */
  def blocklistFirstHit(text: Column, patterns: Seq[String]): Column =
    call_function("aho_first", text, lit(patterns.toArray))

  /** Count of DISTINCT blocklist patterns present in `text`, one automaton
    * pass — see [[blocklistFirstHit]]. */
  def blocklistHitCount(text: Column, patterns: Seq[String]): Column =
    call_function("aho_count", text, lit(patterns.toArray))

  /**
   * HASHED-LINEAR quality scorer — the fastText-style MODEL-BASED filter
   * modern corpora gate on (heuristics pass first, a learned linear model
   * over hashed bag-of-words features decides the rest): tokens hash to
   * the md5-prefix buckets ([[jensenShannon]]'s portable bucket key), a
   * BROADCAST (bucket, weight) table supplies the learned weights, and a
   * document's score is the bag-semantics sum (duplicate tokens count).
   * Unseen buckets contribute 0. Plan: one narrow explode + one broadcast
   * join + one doc-keyed aggregation — a full-scan feature pass like
   * langid, no shuffle wider than doc_id. Integer weights keep the score
   * exact (the d92 oracle replays it verbatim).
   *
   * @param weights (bucket: 3-hex-char string, weight: integer) — at most
   *                4096 rows, broadcast by construction
   * @return (idCol, n_tokens, score, keep = score > 0)
   */
  def linearQualityScore(df: DataFrame, weights: DataFrame,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    df.select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .withColumn("bucket", substring(md5(col("w").cast("binary")), 1, 3))
      .join(broadcast(weights.select(col("bucket"), col("weight"))),
        Seq("bucket"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("weight"), lit(0L))).cast("long").as("score"))
      .withColumn("keep", col("score") > 0)
  }

  /** `<title>` contents of an HTML document (first match, empty if none). */
  def htmlTitle(html: Column): Column =
    regexp_extract(html, "<title>(.*?)</title>", 1)

  /**
   * VISIBLE text of an HTML document — the WARC→WET step every crawl
   * corpus runs before any text analysis: drop script/style blocks and
   * comments (their contents are not prose), strip the remaining tags,
   * decode the common entities, collapse whitespace. A fixed chain of
   * codegen'd regex replaces (no UDF, no parser state), portable enough
   * that the d71 oracle replays each stage with the same patterns.
   * Entity decode order matters: `&amp;` is rewritten LAST so
   * `&amp;lt;` stays `&lt;` as text rather than double-decoding.
   */
  def htmlToText(html: Column): Column = {
    val noScript = regexp_replace(html, "(?s)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?s)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]*>", " ")
    val ent1 = regexp_replace(noTags, "&lt;", "<")
    val ent2 = regexp_replace(ent1, "&gt;", ">")
    val ent3 = regexp_replace(ent2, "&quot;", "\"")
    val ent4 = regexp_replace(ent3, "&nbsp;", " ")
    val ent5 = regexp_replace(ent4, "&amp;", "&")
    trim(regexp_replace(ent5, "\\s+", " "))
  }

  /** BPE-ish token count: word pieces + standalone punctuation, the classic
    * `\w+|[^\w\s]` pre-tokenizer regex. */
  def bpeishTokenCount(text: Column): Column =
    size(filter(split(text, "((?<=[^\\w\\s])|(?=[^\\w\\s]))|\\s+"), t => length(t) > 0))

  private val StopwordSets: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "was", "with", "are"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "del", "se", "las", "por", "un"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "en", "un", "du", "une", "que", "est"),
    "de" -> Seq("der", "die", "und", "in", "den", "von", "zu", "das", "mit", "sich", "des", "auf"),
    "pt" -> Seq("de", "a", "o", "que", "e", "do", "da", "em", "um", "para", "com", "os"))

  /** Count of tokens that appear in `words` (duplicates counted). */
  def stopwordHits(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), w => w.isin(words.map(lit): _*)))

  /**
   * Quality metrics (length / punctuation / stopword ratios — the standard
   * heuristic pre-filters for LLM training corpora): one narrow projection.
   */
  def qualityMetrics(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val nTokens = wsTokenCount(t)
    df.withColumn("n_chars_computed", length(t))
      .withColumn("n_tokens", nTokens)
      .withColumn("mean_token_len",
        when(nTokens > 0, length(regexp_replace(t, "\\s+", "")).cast("double") / nTokens))
      .withColumn("punct_ratio",
        when(length(t) > 0,
          length(regexp_replace(t, "[^.,;:!?'\"()\\[\\]-]", "")).cast("double") / length(t)))
      .withColumn("stopword_ratio",
        when(nTokens > 0, stopwordHits(t, StopwordSets("en")).cast("double") / nTokens))
      .withColumn("uppercase_ratio",
        when(length(t) > 0,
          length(regexp_replace(t, "[^A-Z]", "")).cast("double") / length(t)))
  }

  /**
   * Language ID: argmax over per-language stopword hit counts (n-gram/stopword
   * heuristic). Ties and zero-hit rows resolve to null ("und").
   *
   * The text is lowered/trimmed/split exactly ONCE into a materialized token
   * array, and the 5-element hit-count array is materialized ONCE per row —
   * the argmax/tie logic then runs over that tiny array instead of
   * re-evaluating the scoring tree (CollapseProject keeps the expensive
   * multi-use aliases as separate projections, so neither intermediate is
   * inlined into its consumers).
   */
  def withLangId(df: DataFrame, textCol: String = "text",
                 outCol: String = "lang_pred"): DataFrame = {
    val toks = "__langid_toks"
    val scores = "__langid_scores"
    val scored = StopwordSets.toSeq.sortBy(_._1).map { case (langCode, words) =>
      struct(size(filter(col(toks), w => w.isin(words.map(lit): _*))).as("hits"),
        lit(langCode).as("lang"))
    }
    // max by hits (struct ordering compares hits first); null on 0 hits or tie
    val best = array_max(col(scores))
    val maxHits = best.getField("hits")
    val nAtMax = size(filter(col(scores), s => s.getField("hits") === maxHits))
    df.withColumn(toks, tokens(col(textCol)))
      .withColumn(scores, array(scored: _*))
      .withColumn(outCol, when(maxHits > 0 && nAtMax === 1, best.getField("lang")))
      .drop(toks, scores)
  }

  /**
   * Document fingerprint: 64-bit order-sensitive rolling hash of the
   * whitespace-normalized lowercased tokens. Built from built-ins via
   * `aggregate` chaining xxhash64(acc, token) — stays codegen'd, no
   * overflowing arithmetic (ANSI-safe); identical content (modulo
   * whitespace) hashes identically, the standard "normalize then hash"
   * exact-dedup key.
   */
  def fingerprint(text: Column): Column =
    aggregate(tokens(text), lit(42L), (acc, w) => xxhash64(acc, w))

  def withFingerprint(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("fingerprint", fingerprint(col(textCol)))

  /**
   * Engine-portable variant of [[fingerprint]]: the same order-sensitive
   * "normalize → per-token hash → rolling fold" construction, built only
   * from primitives every SQL engine shares — character code points and
   * bounded modular arithmetic — so the whole pipeline is oracle-checkable
   * in a second engine (the d19 trick, applied to fingerprinting).
   *
   *   token hash:  fold code points c:  a ← (a·31 + c) mod (2³¹−1), seed 42
   *   doc hash:    fold token hashes h: a ← (a·37 + h) mod (2³¹−1), seed 7
   *
   * Every intermediate stays < 2³⁶ — no overflow under Spark ANSI mode and
   * plain BIGINT arithmetic in DuckDB. [[fingerprint]] (xxhash64) remains
   * the in-Spark fast path: one codegen'd hash per token beats a
   * per-character fold; this variant exists to prove the algorithm.
   */
  def fingerprintPortable(text: Column): Column = {
    val M = lit(2147483647L)
    val charCodes = (w: Column) =>
      when(length(w) > 0,
        transform(sequence(lit(1), length(w)), i => ascii(w.substr(i, lit(1))).cast("long")))
      .otherwise(array().cast("array<long>"))
    val tokHash = (w: Column) =>
      aggregate(charCodes(w), lit(42L), (a, c) => (a * lit(31L) + c) % M)
    aggregate(tokens(text), lit(7L), (a, w) => (a * lit(37L) + tokHash(w)) % M)
  }

  /**
   * Repetition metrics (the Gopher/RefinedWeb "repetitious content" quality
   * signals, word-level): per document,
   *
   *  - `dup_word_ratio`   fraction of tokens that are repeats of an earlier
   *                       token (1 - distinct/total),
   *  - `dup_2gram_ratio`  same over adjacent token 2-grams,
   *  - `top_token_frac`   frequency of the most common token / total tokens.
   *
   * The first two are narrow array expressions (no shuffle). The mode needs
   * per-(doc, token) counts, which no array built-in provides without an
   * O(n²) scan — so it's the classic explode → two keyed aggregations, both
   * partitioned by `idCol`: tokens of one document meet in one place and
   * nothing else shuffles. All ratios are int/int divisions — bit-exact.
   */
  /**
   * TF-IDF keyword extraction: the top-`k` terms of each document by
   * `tf · ln(N / df)` (unsmoothed idf — every term in the frame occurs in
   * at least one document, so df ≥ 1 and the log is finite).
   *
   * Scale shape: term frequencies are one narrow explode plus a map-side-
   * combinable (id, term) aggregate; document frequencies aggregate THAT
   * frame (the result is vocabulary-sized, far smaller than the corpus) and
   * join back broadcast; N arrives as a broadcast scalar cross join, so no
   * driver round-trip; the top-k is a per-document window — no global sort.
   * Ties in the score break on the term, so output order is deterministic.
   */
  def tfidfTopK(df: DataFrame, idCol: String = "doc_id",
                textCol: String = "text", k: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val tf = df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = df.agg(count(lit(1)).as("__n_docs"))
    val scored = tf.join(broadcast(docFreq), Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        col("tf") * log(col("__n_docs").cast("double") / col("df").cast("double")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("__rk", row_number().over(w)).filter(col("__rk") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("tfidf"))
      // tfidf is for the caller; hash gates should compare (tf, df) — the
      // score's exact rational inputs — because Spark's `log` (StrictMath,
      // fdlibm) and other engines' libm `ln` differ by 1 ulp on ~8% of
      // arguments. Rank order is immune: two DIFFERENT (tf, df) combos
      // landing within 1 ulp of each other doesn't happen on real data.
  }

  def repetitionMetrics(df: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    val tk = col("__toks")
    val grams2 = zip_with(slice(tk, lit(1), size(tk) - 1), slice(tk, lit(2), size(tk) - 1),
      (a, b) => concat_ws(" ", a, b))
    val narrow = df.select(col(idCol), toks.as("__toks"))
      .withColumn("dup_word_ratio",
        when(size(col("__toks")) > 0,
          lit(1.0) - size(array_distinct(col("__toks"))).cast("double") / size(col("__toks"))))
      .withColumn("dup_2gram_ratio",
        when(size(col("__toks")) > 1,
          lit(1.0) - size(array_distinct(grams2)).cast("double") / (size(col("__toks")) - 1)))
    val topFrac = df.select(col(idCol), explode(toks).as("__tok"))
      .groupBy(col(idCol), col("__tok")).agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg((max(col("__c")).cast("double") / sum(col("__c"))).as("top_token_frac"))
    narrow.join(topFrac, Seq(idCol), "left").drop("__toks")
  }

  /**
   * BM25 retrieval: top-k documents per query (Okapi BM25, the Robertson/
   * Spärck Jones formulation with the Lucene `ln(1 + …)` idf, public
   * textbook formula). `queries` is (queryIdCol, termsCol: array<string>).
   *
   * Scale shape: one corpus explode → (doc, term) tf aggregate; document
   * length reaggregates THAT frame; df and the (N, avgdl) scalars are
   * vocabulary-/unit-sized and broadcast; the query terms broadcast onto tf
   * so the corpus never reshuffles on term; scoring is a per-(query, doc)
   * aggregate and the top-k a per-query window — no global sort, no
   * all-pairs.
   *
   * Determinism: per-(query, doc) term scores are folded in sorted-term
   * order (collect → sort_array → aggregate), so the double sum is
   * reproducible run to run; `bm25` itself still carries `ln` ulps, so
   * hash gates should compare the selection + exact integer inputs
   * (tf_sum, dl), not the score (the d25 rule).
   */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int,
               idCol: String = "doc_id", textCol: String = "text",
               queryIdCol: String = "query_id", termsCol: String = "terms",
               k1: Double = 1.25, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val tf = docs.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col(idCol)).agg(sum(col("tf")).as("dl"))
    val docFreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scalars = dl.agg(count(lit(1)).as("__n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("__avgdl"))
    val qt = queries.select(col(queryIdCol), explode(col(termsCol)).as("term")).distinct()
    val termScore =
      log(lit(1.0) + (col("__n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
        (col("tf") * (lit(k1) + 1.0)) /
        (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("__avgdl")))
    val scored = tf
      .join(broadcast(qt), Seq("term"))
      .join(broadcast(docFreq), Seq("term"))
      .join(dl, Seq(idCol))
      .crossJoin(broadcast(scalars))
      .select(col(queryIdCol), col(idCol), col("dl"), col("tf"),
        termScore.as("__s"), col("term"))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(
        aggregate(transform(sort_array(collect_list(struct(col("term"), col("__s")))),
          x => x("__s")), lit(0.0), (acc, x) => acc + x).as("bm25"),
        sum(col("tf")).as("tf_sum"), first(col("dl")).as("dl"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(queryIdCol)).orderBy(col("bm25").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col(queryIdCol), col("rank"), col(idCol), col("tf_sum"), col("dl"), col("bm25"))
  }

  /**
   * Bigram-language-model quality scoring (the KenLM-perplexity filter of
   * CCNet/RefinedWeb-style pipelines, reduced to an add-1-smoothed bigram
   * model trained on the corpus itself): per document, the average negative
   * log-likelihood `avg_nll = -(1/n) Σ ln p(w_i | w_{i-1})` with
   * `p(w2|w1) = (c(w1,w2)+1) / (c(w1·)+V)`. High avg_nll = improbable
   * token transitions = low-quality text; `exp(avg_nll)` is the perplexity.
   *
   * Scale shape: one posexplode + a per-doc window builds the bigram
   * stream; the model (bigram counts, history counts, vocab size) is
   * aggregated from that stream — model size is O(vocab²), data-dependent,
   * so the count joins are plain equi-joins (AQE broadcasts them when they
   * fit, falls back to shuffle when a real vocabulary doesn't); only the
   * two scalar frames are forced broadcast. Per-doc logp terms fold in
   * position order so the double sum is reproducible run to run.
   */
  def bigramLmScore(df: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    val tk = df.select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("pos", "w")))
    val big = tk.withColumn("w2", lead(col("w"), 1).over(w))
      .filter(col("w2").isNotNull)
    val c2 = big.groupBy(col("w"), col("w2")).agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy(col("w")).agg(sum(col("c2")).as("c1"))
    val vocab = tk.agg(countDistinct(col("w")).as("__v"))
    val logp = log((col("c2") + 1).cast("double") / (col("c1") + col("__v")).cast("double"))
    big.join(c2, Seq("w", "w2")).join(c1, Seq("w"))
      .crossJoin(broadcast(vocab))
      .select(col(idCol), col("pos"), logp.as("__lp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        (-aggregate(transform(sort_array(collect_list(struct(col("pos"), col("__lp")))),
          x => x("__lp")), lit(0.0), (acc, x) => acc + x)).as("nll"))
      .withColumn("avg_nll", col("nll") / col("n_bigrams"))
      .select(col(idCol), col("n_bigrams"), col("avg_nll"))
  }

  /**
   * Pairwise Jensen-Shannon divergence between groups' unigram
   * distributions — the symmetric, bounded ([0, ln 2]) corpus-drift
   * metric: `JSD(P,Q) = ½Σ p·ln(p/m) + ½Σ q·ln(q/m)`, `m = (p+q)/2`,
   * with absent-token terms contributing 0 on their side. Portability is
   * the [[unigramEntropy]] contract: every divide/multiply/add is one
   * correctly-rounded IEEE op on identical operands, per-token terms fold
   * in ascending-token order, and the ln ulps survive ROUND(,4).
   *
   * Plan: pair grid (|groups|² rows, broadcast) × union vocabulary, two
   * LEFT joins against the count table and one keyed ordered-fold agg —
   * output is |pairs| rows however large the corpus. At 100 TB the
   * count table is the only data-sized input and it is already the
   * product of one map-side-combinable aggregation.
   *
   * The grid is QUADRATIC IN GROUPS by definition (drift matrices are
   * asked for across ~tens of corpus sources, i.e. hundreds of pairs);
   * `maxGroups` loud-fails a caller feeding thousands of groups — at
   * that scale restrict to target×source pairs or prune upstream, a
   * silent cap would drop pairs without saying which.
   *
   * @param counts columns (groupCol, w, c)
   * @return (g_a, g_b) for g_a < g_b: n_shared (tokens in both), jsd
   */
  def jensenShannon(counts: DataFrame, groupCol: String = "source",
                    maxGroups: Int = 1000): DataFrame = {
    require(maxGroups >= 2, s"maxGroups=$maxGroups must be >= 2")
    val c = counts.localCheckpoint()
    val nGroups = c.select(col(groupCol)).distinct()
      .limit(maxGroups + 1).count()
    require(nGroups <= maxGroups,
      s"jensenShannon: more than maxGroups=$maxGroups distinct $groupCol " +
        "values — the pair grid is |groups|² x union vocab; restrict to " +
        "target x source pairs or raise the bound deliberately")
    val totals = c.groupBy(groupCol).agg(sum(col("c")).as("n"))
    val groups = totals.select(col(groupCol).as("g"))
    val pairs = broadcast(groups.crossJoin(groups.select(col("g").as("g2")))
      .filter(col("g") < col("g2"))
      .select(col("g").as("g_a"), col("g2").as("g_b")))
    val vocab = c.select(col("w")).distinct()
    val grid = pairs.crossJoin(vocab)
      .join(c.select(col(groupCol).as("g_a"), col("w"), col("c").as("ca")),
        Seq("g_a", "w"), "left")
      .join(c.select(col(groupCol).as("g_b"), col("w"), col("c").as("cb")),
        Seq("g_b", "w"), "left")
      .join(broadcast(totals.select(col(groupCol).as("g_a"), col("n").as("na"))), "g_a")
      .join(broadcast(totals.select(col(groupCol).as("g_b"), col("n").as("nb"))), "g_b")
    val p = col("ca").cast("double") / col("na")
    val q = col("cb").cast("double") / col("nb")
    val m = (coalesce(p, lit(0.0)) + coalesce(q, lit(0.0))) / 2
    val term =
      coalesce(when(col("ca").isNotNull, p * log(p / m) / 2), lit(0.0)) +
        coalesce(when(col("cb").isNotNull, q * log(q / m) / 2), lit(0.0))
    // Two-level ordered fold: bucket tokens by substr(md5(w),1,3) (4096
    // buckets, identical bytes in Spark and DuckDB), fold each bucket in
    // token order, then fold bucket subtotals in bucket order. Same
    // double-portability contract as the single fold, but each
    // aggregation buffer holds at most ~|vocab|/4096 structs — bounded at
    // a 10^8-token corpus where the whole-vocabulary collect_list would
    // OOM an executor.
    grid.select(col("g_a"), col("g_b"), col("w"), foldBucket.as("__bk"),
        term.as("__t"),
        (col("ca").isNotNull && col("cb").isNotNull).cast("long").as("__both"))
      .groupBy(col("g_a"), col("g_b"), col("__bk"))
      .agg(sum(col("__both")).as("__bshared"),
        aggregate(sort_array(collect_list(struct(col("w"), col("__t")))),
          lit(0.0), (a, x) => a + x.getField("__t")).as("__bs"))
      .groupBy("g_a", "g_b")
      .agg(sum(col("__bshared")).as("n_shared"),
        aggregate(sort_array(collect_list(struct(col("__bk"), col("__bs")))),
          lit(0.0), (a, x) => a + x.getField("__bs")).as("__j"))
      .select(col("g_a"), col("g_b"), col("n_shared"),
        round(col("__j"), 4).as("jsd"))
  }

  /**
   * Corpus diversity metrics from a unigram count table (columns
   * `groupCol`, `w`, `c`): Shannon entropy H = -Σ (c/N)·ln(c/N) folded in
   * ascending-token order (the bigram-LM double-portability contract:
   * every divide/multiply/add is one correctly-rounded IEEE op on
   * identical operands, the fold order fixes the bits, and the ln ulps
   * survive ROUND(,4)) + exact type-token ratio. Taking COUNTS as input
   * lets the batch (d45) and streaming-state (s17) paths share it. The
   * ordered fold is the GATE path; the 100 TB path is the order-free
   * decomposition H = ln N − (Σ c·ln c)/N with a map-side-combinable sum.
   */
  def unigramEntropy(counts: DataFrame, groupCol: String = "source"): DataFrame = {
    // materialize once: counts feeds the totals agg AND the term join, and
    // totals feeds two joins — without this the upstream tokenize/explode
    // (batch path) replays once per consumer (9 shuffles -> 5)
    val c = counts.localCheckpoint()
    val totals = c.groupBy(groupCol)
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"))
      .localCheckpoint()
    val p = col("c").cast("double") / col("n_tokens")
    // Two-level ordered fold (see jensenShannon): md5-prefix buckets keep
    // every aggregation buffer at ~|vocab|/4096 structs instead of the
    // whole vocabulary, while the (bucket order, token order) fold stays a
    // fixed data-independent sequence of IEEE adds that DuckDB replays
    // bit-for-bit.
    c.join(totals, groupCol)
      .select(col(groupCol), col("w"), foldBucket.as("__bk"),
        (-p * log(p)).as("term"))
      .groupBy(col(groupCol), col("__bk"))
      .agg(aggregate(sort_array(collect_list(struct(col("w"), col("term")))),
        lit(0.0), (a, x) => a + x.getField("term")).as("__bs"))
      .groupBy(groupCol)
      .agg(aggregate(sort_array(collect_list(struct(col("__bk"), col("__bs")))),
        lit(0.0), (a, x) => a + x.getField("__bs")).as("__h"))
      .join(totals, groupCol)
      .select(col(groupCol), col("n_tokens"), col("n_types"),
        (col("n_types").cast("double") / col("n_tokens")).as("ttr"),
        round(col("__h"), 4).as("entropy"))
  }

  /**
   * Kneser-Ney smoothed bigram probabilities (Kneser & Ney, ICASSP'95 —
   * the standard n-gram-LM smoothing): `P(w2|w1) = max(c12 − D, 0)/c1 +
   * (D·N1+(w1·)/c1) · (N1+(·w2)/|bigram types|)` with absolute discount
   * D. The backoff weights by CONTINUATION counts, not raw frequency —
   * the classic insight that a word can be frequent yet follow almost
   * nothing ("Francisco" after "San").
   *
   * Engine-portable: every input is an exact integer count, D is dyadic
   * (0.75 — the `c − D` subtraction and `D·n` product are exact), and
   * the probability is ONE fixed IEEE op tree with pinned
   * parenthesization — so an external oracle replays the raw doubles
   * bit-for-bit with no ROUND (the d64 gate).
   *
   * Scale shape: one bigram explode + token-keyed aggregates (all
   * map-side combinable) + two equi-joins on token keys — the d57 plan
   * shape; nothing wider than (w1, w2, count) crosses an exchange.
   */
  def kneserNeyBigram(df: DataFrame, textCol: String = "text",
                      discount: Double = 0.75, minCount: Long = 1): DataFrame = {
    require(discount > 0 && discount < 1, s"discount=$discount out of (0, 1)")
    // materialize the token array in its own projection BEFORE the lambda:
    // inlining `tokens(text)` into the transform makes every element_at
    // re-run the regex split (~2 full-text splits PER BIGRAM — measured
    // 5+ s of the 5.3 s d64 total at sf0.1); CollapseProject keeps a
    // non-cheap multiply-referenced alias in its own node, so this stays
    // one split per document
    val big = df
      .select(tokens(col(textCol)).as("__ts"))
      .filter(size(col("__ts")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("__ts")) - 1), i =>
        struct(element_at(col("__ts"), i).as("w1"),
          element_at(col("__ts"), i + 1).as("w2")))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .localCheckpoint()
    val c12 = big.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .localCheckpoint()
    val types = c12.count() // |distinct bigram types|
    val left = c12.groupBy("w1").agg(sum(col("c12")).as("c1"),
      count(lit(1)).as("n1fw")) // N1+(w1·): distinct continuations of w1
    val right = c12.groupBy("w2").agg(count(lit(1)).as("n1pw")) // N1+(·w2)
    c12.filter(col("c12") >= minCount)
      .join(left, "w1").join(right, "w2")
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
        col("n1fw"), col("n1pw"),
        ((greatest(col("c12").cast("double") - discount, lit(0.0)) / col("c1")) +
          ((lit(discount) * col("n1fw")) / col("c1")) *
            (col("n1pw").cast("double") / lit(types.toDouble))).as("p_kn"))
      .orderBy("w1", "w2")
  }

  /**
   * LM-perplexity quality scoring — the CCNet filter shape (Wenzek et al.
   * 2020): score each document by its average negative log-likelihood
   * under a [[kneserNeyBigram]] model trained on a held-in corpus; low
   * avg-NLL ≈ fluent prose, high ≈ gibberish/boilerplate. The pipeline's
   * actual USE of the d64 LM, not just its training.
   *
   * Contract (what the d66 oracle replays): per document, `n_bigrams`
   * (every consecutive token pair, occurrences counted), `n_oov`
   * (pairs absent from the model — a coverage signal of its own), and
   * `avg_nll = ROUND(Σ −ln(p_kn) / n_matched, 4)` over the matched pairs.
   * The sum folds in sorted (w1, w2) order — one pinned sequence of IEEE
   * adds an external engine replays (`list_reduce(... ORDER BY w1, w2)`),
   * with ROUND(,4) absorbing the ≤1-ulp `ln` libm divergence the entropy
   * gates (d45/d50) established. Documents with no matched bigram are
   * dropped (no likelihood is defined for them).
   *
   * Scale shape: the model is vocab-bounded (the budget a shipped KenLM
   * binary occupies), so the score join BROADCASTS it; the per-doc fold
   * buffer is bounded by document length. One narrow explode, zero
   * all-pairs work — the 100 TB path is explode → broadcast-join → agg.
   */
  def kneserNeyPerplexity(docs: DataFrame, model: DataFrame,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    // token array materialized before the lambda — see kneserNeyBigram:
    // an inlined tokens() re-runs the regex split per element_at
    val big = docs
      .select(col(idCol), tokens(col(textCol)).as("__ts"))
      .filter(size(col("__ts")) >= 2)
      .select(col(idCol), explode(transform(sequence(lit(1), size(col("__ts")) - 1), i =>
        struct(element_at(col("__ts"), i).as("w1"),
          element_at(col("__ts"), i + 1).as("w2")))).as("b"))
      .select(col(idCol), col("b.w1").as("w1"), col("b.w2").as("w2"))
    big
      .join(broadcast(model.select("w1", "w2", "p_kn")), Seq("w1", "w2"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("p_kn").isNull, 1L).otherwise(0L)).as("n_oov"),
        // collect_list skips the null (OOV) entries; sort_array pins the
        // fold order to (w1, w2) — duplicate pairs carry identical terms,
        // so ties cannot reorder distinct values
        aggregate(sort_array(collect_list(when(col("p_kn").isNotNull,
            struct(col("w1"), col("w2"), (-log(col("p_kn"))).as("nll"))))),
          lit(0.0), (a, x) => a + x.getField("nll")).as("nll_sum"))
      .withColumn("n_matched", col("n_bigrams") - col("n_oov"))
      .filter(col("n_matched") > 0)
      .select(col(idCol), col("n_bigrams"), col("n_oov"),
        round(col("nll_sum") / col("n_matched"), 4).as("avg_nll"))
  }

  /**
   * Gopher-style composite quality rules (Rae et al. 2021 §A1.1 shape):
   * the ship-a-decision layer on top of [[qualityMetrics]]'s raw signals.
   * A document is accepted iff it passes EVERY rule; `reason` names the
   * FIRST failed rule (fixed evaluation order — the triage label a
   * curation dashboard groups by): word count in [minWords, maxWords],
   * mean word length in [minMeanLen, maxMeanLen], ≥ 2 distinct stopwords,
   * and no single word above 1/8 of the tokens (the repetition screen).
   *
   * Every comparison is INTEGER arithmetic — mean length and the
   * repetition fraction test as cross-multiplications (`n_wchars <
   * minMeanLen·n_words`, `top_cnt·8 > n_words`) — so the decision
   * replays in any engine with no float contract at all (the d63 gate).
   *
   * Scale shape: explode → (doc, word) count → per-doc aggregate; both
   * aggs are map-side combinable and nothing wider than (id, word,
   * count) crosses an exchange. Word-character totals come from
   * `Σ len(word)·count` inside the second agg, so the raw text is read
   * exactly once.
   */
  def gopherRules(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text",
                  stopwords: Seq[String] = Seq("the", "a", "of", "and", "to"),
                  minWords: Int = 25, maxWords: Int = 70,
                  minMeanLen: Int = 3, maxMeanLen: Int = 7): DataFrame = {
    val tok = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("cnt"))
    tok.groupBy(col(idCol)).agg(
        sum(col("cnt")).as("n_words"),
        max(col("cnt")).as("top_cnt"),
        sum(length(col("w")) * col("cnt")).as("n_wchars"),
        sum(when(col("w").isin(stopwords.map(lit): _*), 1L).otherwise(0L))
          .as("n_stop"))
      .withColumn("reason",
        when(col("n_words") < minWords, "too_short")
          .when(col("n_words") > maxWords, "too_long")
          .when(col("n_wchars") < col("n_words") * minMeanLen, "word_len")
          .when(col("n_wchars") > col("n_words") * maxMeanLen, "word_len")
          .when(col("n_stop") < 2, "stopwords")
          .when(col("top_cnt") * 8 > col("n_words"), "repetition")
          .otherwise("ok"))
      .withColumn("accepted", col("reason") === "ok")
      .select(col(idCol), col("n_words"), col("top_cnt"), col("n_stop"),
        col("reason"), col("accepted"))
  }

  /**
   * Classifier-based quality filtering TRAINED on weak labels — the
   * CCNet/fastText pipeline shape (rule-labeled seed set → learned keyword
   * weights → scores for the unlabeled rest) with exact integer arithmetic
   * so train AND score are oracle-checkable end to end:
   *
   *  - features: binary token presence (document frequency over the
   *    labeled set), tokens with df ≥ `minDf`
   *  - weight(w) ∈ {−1, 0, +1} by smoothed odds ratio decided via integer
   *    cross-multiplication: +1 iff
   *    (df_pos+1)·(N_neg+2) > 2·(df_neg+1)·(N_pos+2) (log-odds > log 2),
   *    −1 for the mirror, else 0 — no float anywhere
   *  - score(doc) = Σ weight over the doc's DISTINCT tokens;
   *    `predicted` = score > 0
   *
   * Scale shape: two token-keyed map-side-combinable aggregates, the class
   * totals as a broadcast scalar attach, and one token-keyed equi-join of
   * test tokens against the weight table. No driver-side state; the weight
   * table is df-bounded (≤ |vocab| rows).
   */
  def oddsRatioClassifier(labeled: DataFrame, test: DataFrame,
                          labelCol: String = "label", idCol: String = "doc_id",
                          textCol: String = "text", minDf: Int = 5): DataFrame = {
    val wts = oddsRatioWeights(labeled, labelCol, idCol, textCol, minDf)
    val teTok = test
      .select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .distinct()
    teTok.join(wts, Seq("w"), "left")
      .groupBy(col(idCol))
      .agg(coalesce(sum(col("wt")), lit(0L)).as("score"))
      .withColumn("predicted", col("score") > 0)
  }

  /** The TRAIN half of [[oddsRatioClassifier]]: the df-floored
    * `(w, wt ∈ {−1,0,+1})` weight table. Exposed separately so a serving
    * path (e.g. the s28 streaming scorer) can train once and broadcast
    * the model — the table is df-bounded and integer-valued. */
  def oddsRatioWeights(labeled: DataFrame, labelCol: String = "label",
                       idCol: String = "doc_id", textCol: String = "text",
                       minDf: Int = 5): DataFrame = {
    val trTok = labeled
      .select(col(idCol), col(labelCol).as("__lab"),
        explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .distinct()
    val cls = labeled.agg(
      sum(when(col(labelCol), 1L).otherwise(0L)).as("n_pos"),
      sum(when(col(labelCol), 0L).otherwise(1L)).as("n_neg"))
    val dfs = trTok.groupBy("w").agg(
        sum(when(col("__lab"), 1L).otherwise(0L)).as("df_pos"),
        sum(when(col("__lab"), 0L).otherwise(1L)).as("df_neg"))
      .filter(col("df_pos") + col("df_neg") >= minDf)
    dfs.crossJoin(broadcast(cls))
      .withColumn("wt",
        when((col("df_pos") + 1) * (col("n_neg") + 2) >
             (col("df_neg") + 1) * (col("n_pos") + 2) * 2, 1L)
          .when((col("df_neg") + 1) * (col("n_pos") + 2) >
                (col("df_pos") + 1) * (col("n_neg") + 2) * 2, -1L)
          .otherwise(0L))
      .select("w", "wt")
  }
}
