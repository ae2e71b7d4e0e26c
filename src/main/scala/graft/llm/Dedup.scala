package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for training-data pipelines:
 *
 *  - [[exact]]              hash-groupBy exact dedup
 *  - [[minhashLsh]]         MinHash + LSH banding near-dup candidate pairs
 *  - [[simhash]]            64-bit SimHash + banded Hamming neighbor search
 *  - [[ngramJaccard]]       exact n-gram Jaccard verification on candidates
 *  - [[cosineNearDupPairs]] embedding-cosine near-dup (sign-LSH buckets +
 *                           exact verify); [[cosineNearDupExact]] baseline
 *
 * Scale design: every stage is either a narrow map or a shuffle keyed on a
 * hash/bucket value whose cardinality grows with the data (no broadcast of
 * the corpus, no driver collect). The LSH band join is the classic
 * shingle→minhash→band→bucket-join pipeline: only documents sharing a band
 * bucket are paired, so the candidate set is output-bound, not O(n²). Skewed
 * buckets (boilerplate text) are bounded by `maxBucketSize`.
 */
object Dedup {

  /** Exact dedup on caller-supplied key expressions (callers typically pass
    * a text hash — md5 where an engine-portable oracle is wanted, xxhash64
    * when staying inside Spark; both are collision-safe enough for candidate
    * grouping; `keep` is the minimum id). Returns one row per duplicate
    * *group* with its size. */
  def exact(df: DataFrame, idCol: String, keyCols: Seq[Column]): DataFrame =
    df.groupBy(keyCols: _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("group_size"))
      .filter(col("group_size") > 1)

  /** Documents minus exact duplicates (keeps the min-id representative). */
  def exactDeduped(df: DataFrame, idCol: String, key: Column): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Character shingles (n-grams) of the normalized text, as a distinct array
    * (codegen'd built-ins; substr is 1-based). */
  def shingles(text: Column, n: Int): Column =
    // Hoist.once: the normalization would otherwise re-run per shingle
    // position inside the transform lambda (interpreted, per element)
    graft.util.Hoist.once(regexp_replace(lower(text), "\\s+", " ")) { s =>
      val cnt = length(s) - (n - 1)
      when(cnt > 0,
        array_distinct(transform(sequence(lit(1), cnt), i => s.substr(i, lit(n)))))
        .otherwise(array(s))
    }

  /** MinHash signature computed in ONE pass directly from the text: inline
    * rolling character shingling (no intermediate Spark string arrays — at
    * corpus scale the materialized shingle arrays dominated runtime) and all
    * `numHashes` minima updated per shingle. Distinctness of shingles is
    * irrelevant to a min — duplicates can't change it — so no dedup set is
    * kept either.
    *
    * The `numHashes` per-shingle hash values are derived by
    * Kirsch–Mitzenmacher double hashing — `h_k = h1 + k * h2` from two
    * independent avalanche mixes of the shingle hash — so the inner loop is
    * one add per hash function instead of a full 64-bit finalizer
    * (asymptotically the same pairwise-independence guarantee the banding
    * analysis needs; standard practice for multi-hash sketches). */
  def minhashSignature(text: Column, n: Int, numHashes: Int): Column = {
    val f = udf { (t: String) =>
      if (t == null) null
      else {
        // lowercase + collapse whitespace runs in ONE regex-free pass (the
        // regex replaceAll was the dominant cost of the signature, not the
        // hashing); leading/trailing whitespace drops out entirely
        val len = t.length
        val norm = new Array[Char](len)
        var m = 0
        var pendingSpace = false
        var ci = 0
        while (ci < len) {
          val c = t.charAt(ci)
          if (Character.isWhitespace(c)) pendingSpace = m > 0
          else {
            if (pendingSpace) { norm(m) = ' '; m += 1; pendingSpace = false }
            norm(m) = Character.toLowerCase(c); m += 1
          }
          ci += 1
        }
        val mins = Array.fill(numHashes)(Long.MaxValue)
        val upper = math.max(m - n, 0)
        var i = 0
        while (i <= upper) {
          // FNV-1a over the shingle's chars without substring allocation
          var h = graft.util.Hashing.FnvOffset
          val end = math.min(i + n, m)
          var j = i
          while (j < end) { h ^= norm(j); h *= graft.util.Hashing.FnvPrime; j += 1 }
          val h1 = graft.util.Hashing.mix64(h)
          val h2 = graft.util.Hashing.mix64(h ^ 0x9e3779b97f4a7c15L) | 1L
          var hk = h1
          var k = 0
          while (k < numHashes) {
            if (hk < mins(k)) mins(k) = hk
            hk += h2 // overflow wraps (plain JVM arithmetic, not ANSI SQL)
            k += 1
          }
          i += 1
        }
        mins
      }
    }
    f(text)
  }

  /** Bumped whenever [[minhashSignature]]'s definition changes (shingle
    * normalization, hash family): signatures from different versions NEVER
    * match, so a persisted index must be rebuilt — the version column makes
    * the mismatch fail loud instead of silently returning zero pairs. */
  final val SignatureVersion = 2

  /** One row per (document, band): `(id, sig, band, bucket, sig_version)`
    * where `bucket` hashes the band's signature slice. This IS the
    * persistable LSH index — write it partitioned however the corpus is
    * sharded and join new data against it ([[minhashLshAgainstIndex]])
    * without ever re-scanning the corpus text. */
  def bandedSignatures(df: DataFrame, idCol: String, textCol: String = "text",
                       shingleSize: Int = 5, numHashes: Int = 64,
                       bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rowsPerBand = numHashes / bands
    val sigs = graft.util.Spread.ifNarrow(df).select(col(idCol).as("id"),
      minhashSignature(col(textCol), shingleSize, numHashes).as("sig"))
    sigs.select(col("id"), col("sig"),
      posexplode(array((0 until bands).map { b =>
        xxhash64(concat_ws(",", (0 until rowsPerBand).map(r =>
          col("sig").getItem(b * rowsPerBand + r)): _*))
      }: _*)).as(Seq("band", "bucket")))
      .withColumn("sig_version", lit(SignatureVersion))
  }

  /** Fraction of matching minhash components — the Jaccard estimator.
    * A Scala UDF, deliberately: higher-order functions (zip_with +
    * aggregate) evaluate interpreted with a per-call array conversion
    * (~0.2 ms/row measured — Catalyst also pushes the `>= minEstJaccard`
    * filter into the pair join's SMJ condition, so the estimator runs in
    * the join's interpreted path), while this UDF is a primitive loop at
    * ~1 µs/row. Array[Long] (not Seq[Long]) is load-bearing: the primitive
    * signature converts via a bulk UnsafeArrayData.toLongArray copy, where
    * Seq[Long] would box all 128 elements per call — at millions of
    * candidate pairs that boxing was the dominant stage cost (measured
    * 250-2600 executor-CPU-seconds on 13.6M candidates, GC-bound). */
  private val estJaccard = udf { (a: Array[Long], b: Array[Long]) =>
    // null-text docs have null signatures; propagate null like the HOF
    // formulation did (the >= threshold filter then drops the pair)
    if (a == null || b == null) null
    else {
      val n = a.length
      var i = 0; var m = 0
      while (i < n) { if (a(i) == b(i)) m += 1; i += 1 }
      java.lang.Double.valueOf(m.toDouble / n)
    }: java.lang.Double
  }

  /**
   * MinHash-LSH near-duplicate candidate pairs.
   *
   * @param bands  number of LSH bands; rows per band = numHashes / bands.
   *               Threshold ≈ (1/bands)^(1/rowsPerBand).
   * @return (id_a, id_b, est_jaccard) with id_a < id_b, est_jaccard =
   *         fraction of matching minhash components, ≥ `minEstJaccard`.
   */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String = "text",
                 shingleSize: Int = 5, numHashes: Int = 64, bands: Int = 16,
                 minEstJaccard: Double = 0.5, maxBucketSize: Int = 1000): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rowsPerBand = numHashes / bands
    // Signatures stay a NARROW recomputed pass, never cached: columnar-
    // caching rows that carry an array<long>(64) column costs ~25x the UDF
    // recompute (measured at 500k docs: ~67 s InMemoryRelation build vs
    // ~2.6 s per signature evaluation — per-element array encoding dominates
    // the cache build), so everything that shuffles or materializes below is
    // sig-free (id, band, bucket) at ~24 bytes/row, and the fat signature
    // rows are joined back only for the output-bound candidate pairs.
    val sigs = graft.util.Spread.ifNarrow(df).select(col(idCol).as("id"),
      minhashSignature(col(textCol), shingleSize, numHashes).as("sig"))
    val banded = sigs.select(col("id"),
      posexplode(array((0 until bands).map { b =>
        xxhash64(concat_ws(",", (0 until rowsPerBand).map(r =>
          col("sig").getItem(b * rowsPerBand + r)): _*))
      }: _*)).as(Seq("band", "bucket")))
    // bound boilerplate skew: drop singleton and pathological buckets in ONE
    // window pass (a groupBy+join-back would evaluate the signature twice
    // and sort-merge-join the results); localCheckpoint materializes the
    // surviving narrow rows once for both sides of the self-join
    val wBucket = Window.partitionBy("band", "bucket")
    val inBuckets = banded
      .withColumn("__n", count(lit(1)).over(wBucket))
      .filter(col("__n") <= maxBucketSize && col("__n") > 1)
      .drop("__n")
      .localCheckpoint(false)

    val a = inBuckets.select(col("band"), col("bucket"), col("id").as("id_a"))
    val b = inBuckets.select(col("band"), col("bucket"), col("id").as("id_b"))
    // a pair sharing k bands appears k times; keep one. Hash aggregation
    // with map-side combine — cheaper than a row_number window, which would
    // a pair sharing k bands appears k times; the narrow distinct (hash
    // aggregation, map-side combine) keeps one
    val pairIds = a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    // candidate pairs are output-bound and sig-free, so they broadcast-join
    // back against the two signature sides (each side one narrow recompute)
    val pairs = pairIds
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))

    pairs.withColumn("est_jaccard", estJaccard(col("sig_a"), col("sig_b")))
      .filter(col("est_jaccard") >= minEstJaccard)
      .select("id_a", "id_b", "est_jaccard")
  }

  /**
   * [[minhashLsh]]'s pair stage over PRE-COMPUTED [[bandedSignatures]]
   * rows — for callers that already hold (and typically have
   * localCheckpoint'ed) the banded signatures of a batch, so the
   * signature kernel is not re-run for the self-join
   * ([[graft.streaming.Streaming.nearDupIngestStream]] computes ONE
   * signature pass per microbatch and feeds it to the index probe, the
   * index append, and — via this — the in-batch self-dedup). Identical
   * math and identical output contract to [[minhashLsh]]: the bucket
   * cap, the pair distinct, and the component-match estimator are the
   * same code path, and `band = 0` selects exactly one (id, sig) row per
   * document for the verify join-back (every band row carries the full
   * signature). Everything that shuffles stays sig-free (id, band,
   * bucket), as in [[minhashLsh]].
   */
  def minhashLshPairsFromBanded(banded: DataFrame,
                                minEstJaccard: Double = 0.5,
                                maxBucketSize: Int = 1000): DataFrame = {
    val sigs = banded.filter(col("band") === 0).select(col("id"), col("sig"))
    val wBucket = Window.partitionBy("band", "bucket")
    val inBuckets = banded.select(col("id"), col("band"), col("bucket"))
      .withColumn("__n", count(lit(1)).over(wBucket))
      .filter(col("__n") <= maxBucketSize && col("__n") > 1)
      .drop("__n")
      .localCheckpoint(false)
    val a = inBuckets.select(col("band"), col("bucket"), col("id").as("id_a"))
    val b = inBuckets.select(col("band"), col("bucket"), col("id").as("id_b"))
    val pairIds = a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    pairIds
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .withColumn("est_jaccard", estJaccard(col("sig_a"), col("sig_b")))
      .filter(col("est_jaccard") >= minEstJaccard)
      .select("id_a", "id_b", "est_jaccard")
  }

  /**
   * Incremental near-dup detection: candidate pairs of NEW documents against
   * an EXISTING [[bandedSignatures]] index — the ingest-time path for a
   * corpus too large to self-join on every batch. Only the new batch is
   * shingled/hashed; the corpus contributes its persisted `(band, bucket,
   * sig)` rows, so the join cost is |new batch| × bands plus the matching
   * index buckets (store the index bucketed/partitioned on `bucket` and the
   * shuffle touches only matching buckets).
   *
   * @return (new_id, index_id, est_jaccard ≥ minEstJaccard); rows whose
   *         `new_id` appears here are near-dups of the existing corpus.
   */
  def minhashLshAgainstIndex(newDocs: DataFrame, index: DataFrame, idCol: String,
                             textCol: String = "text", shingleSize: Int = 5,
                             numHashes: Int = 64, bands: Int = 16,
                             minEstJaccard: Double = 0.5,
                             maxBucketSize: Int = 1000): DataFrame =
    minhashLshSigsAgainstIndex(
      bandedSignatures(newDocs, idCol, textCol, shingleSize, numHashes, bands),
      index, minEstJaccard, maxBucketSize)

  /** [[minhashLshAgainstIndex]] taking PRE-COMPUTED [[bandedSignatures]]
    * for the new batch — the ingest path computes signatures once and
    * reuses them for both the index probe and the index append. */
  def minhashLshSigsAgainstIndex(newSigs: DataFrame, index: DataFrame,
                                 minEstJaccard: Double = 0.5,
                                 maxBucketSize: Int = 1000): DataFrame = {
    val fresh = newSigs
      .select(col("band"), col("bucket"), col("id").as("new_id"), col("sig").as("sig_new"))
    // stale-index guard: signatures from a different definition version can
    // never match — fail loud instead of silently returning zero pairs
    if (index.columns.contains("sig_version"))
      index.filter(col("sig_version") =!= SignatureVersion).limit(1).collect().headOption
        .foreach { r => throw new IllegalArgumentException(
          s"LSH index was built with sig_version ${r.getAs[Any]("sig_version")}, " +
          s"current is $SignatureVersion — rebuild the index (bandedSignatures)") }
    // the skew cap applies to the index side (boilerplate buckets there are
    // the quadratic risk; the new batch is bounded by construction). A
    // window count keeps this to ONE scan of the persisted index (a
    // groupBy+join back would read it twice per ingest batch).
    val wBucket = Window.partitionBy("band", "bucket")
    val idx = index
      .withColumn("__bsize", count(lit(1)).over(wBucket))
      .filter(col("__bsize") <= maxBucketSize)
      .select(col("band"), col("bucket"), col("id").as("index_id"), col("sig").as("sig_idx"))
    fresh.join(idx, Seq("band", "bucket"))
      .filter(col("new_id") =!= col("index_id"))
      .groupBy("new_id", "index_id")
      .agg(first(col("sig_new")).as("sig_new"), first(col("sig_idx")).as("sig_idx"))
      .withColumn("est_jaccard", estJaccard(col("sig_new"), col("sig_idx")))
      .filter(col("est_jaccard") >= minEstJaccard)
      .select("new_id", "index_id", "est_jaccard")
  }

  /** Number of band-hash prefix partitions a persisted signature index is
    * bucketed into. 64 keeps per-partition file counts manageable while a
    * single-doc probe (16 bands) still prunes to ≤ 16/64 of the index. */
  val IndexBucketPrefixes = 64

  /** Partition key for the persisted signature index: a uniform prefix of
    * the (already xxhash64-distributed) band bucket. */
  def indexPrefix(bucket: Column): Column =
    pmod(bucket, lit(IndexBucketPrefixes.toLong))

  /** Append [[bandedSignatures]] rows to a persisted index bucketed by
    * [[indexPrefix]] (layout: parquet files under `dir/pfx=N`), so a probe for a new
    * batch partition-prunes to only the prefixes the batch hashes into
    * instead of re-scanning the whole corpus index every ingest.
    * `batchId` attributes the rows to their writing microbatch (-1 for
    * one-shot builds) — what lets a crash-replayed ingest batch probe the
    * index EXCLUDING its own prior append and recompute identical
    * decisions. */
  def writeSignatureIndex(sigs: DataFrame, dir: String, batchId: Long = -1L): Unit =
    sigs.withColumn("batch", lit(batchId))
      .withColumn("pfx", indexPrefix(col("bucket")))
      // cluster by pfx before the dynamic-partition write: without it every
      // upstream task writes one file into EVERY pfx=N dir it touches
      // (tasks × 64 tiny files per append — measured 1.6 s of the s06
      // batch on pure file creation); clustered, an append lands ~one file
      // per touched prefix, which is also the documented index layout the
      // compactor assumes
      .repartition(col("pfx"))
      .write.mode("append").partitionBy("pfx").parquet(dir)

  /** Read a bucketed signature index restricted to the given prefixes —
    * the `pfx` filter is a partition-column predicate, so Spark prunes the
    * non-matching `pfx=N` directories at planning time (the probe never
    * opens their files). `excludeBatch` drops rows a crash-replayed batch
    * appended itself (older indexes without the batch column read as-is). */
  def readSignatureIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                         prefixes: Seq[Int],
                         excludeBatch: Option[Long] = None): DataFrame = {
    // an index with mixed files (pre-upgrade without the batch column +
    // new ones with it) must still expose `batch` — with footer-sampled
    // inference the replay exclusion could silently not apply at all.
    // mergeSchema reads EVERY footer though (an O(index files) tax per
    // probe), so pay it only when the sampled schema actually lacks the
    // column; a sampled schema WITH it reads legacy rows as NULL already.
    val sampled = spark.read.parquet(dir)
    val base =
      if (sampled.columns.contains("batch")) sampled
      else spark.read.option("mergeSchema", "true").parquet(dir)
    val df = base.filter(col("pfx").isin(prefixes.map(_.toLong): _*))
    excludeBatch match {
      case Some(b) if df.columns.contains("batch") =>
        // legacy rows read as batch=NULL; a null-rejecting =!= would drop
        // them from EVERY probe (missed duplicates). Coalesce to the
        // one-shot sentinel -1, which no microbatch id collides with.
        df.filter(coalesce(col("batch"), lit(-1L)) =!= b)
      case _ => df
    }
  }

  /** Complete or discard interrupted compaction commits: a crash between
    * `delete(part)` and `rename(staging, part)` leaves only the hidden
    * `.compact_pfx=N` staging dir — its contents ARE the compacted
    * partition, so rename it into place; if both exist the crash happened
    * before the delete and the staging copy is redundant. Called from the
    * existence probe (every ingest batch) and from compaction itself, so
    * the index self-heals on the next touch. */
  private[graft] def recoverInterruptedCompactions(
      dir: String,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return
    fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(".compact_"))
      .foreach { s =>
        val target = new Path(root, s.getPath.getName.stripPrefix(".compact_"))
        if (!fs.exists(target)) fs.rename(s.getPath, target)
        else fs.delete(s.getPath, true)
      }
  }

  /** True once a bucketed signature index has any committed data. Also
    * heals interrupted compactions and REFUSES a legacy flat layout
    * (naked parquet at the top level) loudly — appending the pfx=
    * layout next to it would corrupt both. */
  def signatureIndexExists(dir: String): Boolean = {
    import org.apache.hadoop.fs.Path
    // session conf when a session is active (credentials/settings for
    // object stores), bare defaults otherwise — same FS resolution as
    // compactSignatureIndex
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root) || !fs.getFileStatus(root).isDirectory) return false
    recoverInterruptedCompactions(dir, conf)
    val entries = fs.listStatus(root)
    require(!entries.exists(s => s.isFile && s.getPath.getName.endsWith(".parquet")),
      s"signature index at $dir uses the legacy FLAT layout (top-level parquet" +
        " files); migrate it to the pfx= bucketed layout before streaming" +
        " against it — mixed layouts fail Spark's partition discovery")
    entries.exists(s =>
      s.isDirectory && s.getPath.getName.startsWith("pfx=") &&
        fs.listStatus(s.getPath).exists(_.getPath.getName.endsWith(".parquet")))
  }

  /** Compact index partitions that have accumulated more than
    * `maxFilesPerPartition` parquet files (streaming appends one file per
    * touched partition per batch — unbounded small files otherwise).
    * Each over-full `pfx=N` directory is rewritten to a single file via a
    * hidden sibling dir + atomic rename, so a concurrent reader sees
    * either the old or the new layout, never a partial one. Returns the
    * number of partitions compacted. Uses the Hadoop FileSystem API, so
    * it works on any supported store, not just the local FS. */
  def compactSignatureIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                            maxFilesPerPartition: Int = 8): Int = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return 0
    // heal any commit interrupted between delete and rename first
    recoverInterruptedCompactions(dir, spark.sessionState.newHadoopConf())
    val parts = fs.listStatus(root).filter(s =>
      s.isDirectory && s.getPath.getName.startsWith("pfx="))
    val overFull = parts.filter { s =>
      fs.listStatus(s.getPath).count(_.getPath.getName.endsWith(".parquet")) >
        maxFilesPerPartition
    }
    overFull.foreach { s =>
      val part = s.getPath
      // dot-prefixed staging dir: hidden from Spark's partition discovery
      val staging = new Path(root, s".compact_${part.getName}")
      spark.read.parquet(part.toString).coalesce(1)
        .write.mode("overwrite").parquet(staging.toString)
      fs.delete(part, true)
      fs.rename(staging, part)
    }
    overFull.length
  }

  /** 64-bit SimHash over whitespace tokens: per-bit sign-sum of per-token
    * 64-bit hashes, folded in one pass by the NATIVE codegen'd expression
    * ([[TextExpressions.Simhash64]] — stays inside whole-stage codegen, no
    * UDF boundary; `call_function` resolves against the session registry,
    * where `graft.geo.GraftExtensions` injects it). */
  def simhash64(text: Column): Column =
    call_function("simhash64", text)

  /** SimHash near-dup pairs: band the 64-bit signature into `maxHamming + 1`
    * chunks (pigeonhole: a pair within Hamming distance `maxHamming` differs
    * in at most `maxHamming` chunks, so it shares ≥1 exact chunk),
    * bucket-join on chunks, verify Hamming distance ≤ `maxHamming`.
    *
    * Guaranteed-recall contract: chunk count is DERIVED from `maxHamming`,
    * so every qualifying pair is found. The trade-off is real: larger
    * `maxHamming` ⇒ narrower chunks ⇒ smaller bucket-key space ⇒ bigger
    * candidate buckets. Past ~15 the chunks drop under 4 bits and the join
    * degenerates toward all-pairs, hence the require. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String = "text",
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming=$maxHamming: chunks of 64/(maxHamming+1) bits lose bucketing power past 15")
    val nChunks = maxHamming + 1
    // distribute 64 bits as evenly as possible across the chunks
    val widths = Array.tabulate(nChunks)(i => 64 / nChunks + (if (i < 64 % nChunks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _).init
    val sigs = graft.util.Spread.ifNarrow(df)
      .select(col(idCol).as("id"), simhash64(col(textCol)).as("sig"))
    val chunked = sigs.select(col("id"), col("sig"),
      posexplode(array((0 until nChunks).map { c =>
        // arithmetic shiftright may sign-extend; the width mask strips it
        shiftright(col("sig"), offsets(c)).bitwiseAND(lit((1L << widths(c)) - 1))
      }: _*)).as(Seq("chunk", "key")))
    val a = chunked.select(col("chunk"), col("key"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = chunked.select(col("chunk"), col("key"), col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("chunk", "key")).filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming").distinct()
  }

  /**
   * Engine-portable SimHash twin (the d19 trick applied to SimHash): the
   * same "per-token 64-bit hash → per-bit sign-sum → banded bucket join →
   * Hamming verify" pipeline as [[simhashPairs]], but the per-token bits
   * come from md5 hex digits and the signature is a 64-char '0'/'1' string —
   * primitives a second engine shares, so the full pair set is
   * oracle-checkable in DuckDB bit for bit. [[simhashPairs]] (the native
   * doGenCode simhash64 kernel) stays the production path; this variant
   * proves the ALGORITHM end to end.
   *
   * Bit j of token w (j ∈ 0..63): hex digit p = (j mod 16)+1 of md5(w),
   * value v = instr('0123456789abcdef', digit) − 1, bit = (v >> (j >> 4)) & 1
   * — a bijective (position, bit-plane) mapping that needs no integer
   * division. Weight ±1 per token OCCURRENCE (multiset, like the native
   * kernel); per-bit sum > 0 → '1' (ties → '0').
   */
  def simhashPairsPortable(df: DataFrame, idCol: String, textCol: String = "text",
                           maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming=$maxHamming: chunks of 64/(maxHamming+1) bits lose bucketing power past 15")
    val nChunks = maxHamming + 1
    val widths = Array.tabulate(nChunks)(i => 64 / nChunks + (if (i < 64 % nChunks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _).init
    // Single-pass sign-sum: fold the token array ONCE with a 16-long packed
    // accumulator instead of running 64 separate folds (one per bit). The
    // 64-folds formulation let CollapseProject inline the md5 array into the
    // outer transform's lambda, re-evaluating every token's md5 64× per row;
    // here md5 runs once per token (outer transform element) and each token
    // contributes ONE packed long per hex-digit position: digit value
    // v = (ascii − 48) mod 39 ('0'..'9' → 0..9, 'a'..'f' → 10..15, same
    // mapping as instr(alphabet)−1) indexes a 16-entry LUT that spreads v's
    // four bit-planes into four 16-bit count fields. A doc would need >65535
    // tokens to overflow a field — three orders of magnitude past any real
    // document chunk. Bit j (plane k = j>>4, digit p = j%16) is then
    // '1' iff 2·count > T (⟺ the ±1 sign-sum is positive), so the signature
    // string — and the DuckDB oracle hash — is bit-identical to the
    // documented per-bit formulation.
    val packLut = lit(Array.tabulate(16) { v =>
      ((v & 1).toLong) | ((v >> 1) & 1).toLong << 16 |
        ((v >> 2) & 1).toLong << 32 | ((v >> 3) & 1).toLong << 48
    })
    val packed = transform(
      transform(TextAnalysis.tokens(col(textCol)), w => md5(w)),
      h => transform(sequence(lit(1), lit(16)),
        p => element_at(packLut, (ascii(h.substr(p, lit(1))) - 48) % 39 + 1)))
    // ONE aggregate expression end to end: the expensive `packed` input
    // appears exactly once, in input position, so no projection collapse can
    // ever re-evaluate it (the original 35 s bug was exactly that — the md5
    // array inlined into a 64-iteration lambda). Slot 17 of the accumulator
    // counts tokens so the finish lambda needs no second `packed` reference;
    // inside `finish` everything is a lambda-variable read, which is cheap
    // no matter how many times the 4×16 bit expansion mentions it.
    val sig = aggregate(packed, array_repeat(lit(0L), 17),
      (acc, vs) => zip_with(acc, concat(vs, array(lit(1L))), (a, b) => a + b),
      acc => {
        val t = element_at(acc, 17)
        array_join(flatten(transform(sequence(lit(0), lit(3)), k =>
          transform(slice(acc, 1, 16), c =>
            when(call_function("shiftright", c, k * 16)
              .bitwiseAND(lit(0xFFFFL)) * 2 > t, lit("1")).otherwise(lit("0"))))), "")
      })
    val sigs = graft.util.Spread.ifNarrow(df)
      .select(col(idCol).as("id"), sig.as("sig"))
    // Pack the bit string into two 32-bit halves so the per-pair Hamming
    // verify is bit_count(xor) — codegen'd integer work — instead of a
    // 64-iteration interpreted substr fold. Halves (not one 64-bit conv)
    // because a leading-1 signature exceeds Long.MaxValue and the ANSI cast
    // of conv's unsigned decimal string would fail.
    val half = (s: Column, from: Int) =>
      conv(s.substr(lit(from), lit(32)), 2, 10).cast("long")
    // cached: the self-join otherwise re-evaluates the whole signature
    // subtree (md5 + sign-sum fold) once per side
    val chunked = sigs.select(col("id"),
      half(col("sig"), 1).as("hi"), half(col("sig"), 33).as("lo"),
      posexplode(array((0 until nChunks).map(c =>
        col("sig").substr(lit(offsets(c) + 1), lit(widths(c)))): _*)).as(Seq("chunk", "key")))
      .cache()
    val a = chunked.select(col("chunk"), col("key"), col("id").as("id_a"),
      col("hi").as("hi_a"), col("lo").as("lo_a"))
    val b = chunked.select(col("chunk"), col("key"), col("id").as("id_b"),
      col("hi").as("hi_b"), col("lo").as("lo_b"))
    a.join(b, Seq("chunk", "key")).filter(col("id_a") < col("id_b"))
      .withColumn("hamming", (bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
        bit_count(col("lo_a").bitwiseXOR(col("lo_b")))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming").distinct()
  }

  /**
   * Embedding-cosine near-duplicate pairs, scale path: random-hyperplane
   * sign buckets (multiple tables) propose candidates, exact cosine verifies
   * `>= minCosine`. Shuffle is keyed on (table, bucket) — output-bound, not
   * O(n²). Recall is probabilistic (sign-LSH): with `tables` hash tables a
   * pair at cosine c survives with 1-(1-(1-acos(c)/π)^bits)^tables — near 1
   * for true near-dups (c ≥ 0.9) at the defaults; use
   * [[cosineNearDupExact]] when exact recall matters more than scale.
   */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         minCosine: Double, dim: Int,
                         bits: Int = 8, tables: Int = 8,
                         maxBucketSize: Int = 10000): DataFrame = {
    // Same narrow-shuffle discipline as [[minhashLsh]]: everything that
    // shuffles or materializes is vector-free (table, bucket, id) — caching
    // or shuffling the array<float> column pays per-element columnar encode
    // and boxing costs that dwarf recomputing it. Norms are one fold per
    // row; vectors join back only to the output-bound candidate pairs, and
    // the per-pair work is one primitive dot. cosine = dot/(na*nb) is the
    // exact expression the oracle computes.
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("__v"),
      Similarity.normFast(col(vecCol)).as("__n"))
    val bucketedRaw = df.select(col(idCol).as("id"),
      posexplode(array((0 until tables).map(t =>
        Similarity.hyperplaneBucket(col(vecCol), dim, bits, seed = 42L + 1000L * t)): _*))
        .as(Seq("table", "bucket")))
      .localCheckpoint(false)
    // skew cap: a bucket that collects a degenerate share of the corpus
    // (near-constant embeddings, dead dimensions) would make the self-join
    // quadratic — cap it like the minhash/winnow paths; recall for such
    // buckets falls to the OTHER tables
    val wBucket = Window.partitionBy("table", "bucket")
    val bucketed = bucketedRaw
      .withColumn("__n", count(lit(1)).over(wBucket))
      .filter(col("__n") <= maxBucketSize).drop("__n")
    val a = bucketed.select(col("table"), col("bucket"), col("id").as("id_a"))
    val b = bucketed.select(col("table"), col("bucket"), col("id").as("id_b"))
    a.join(b, Seq("table", "bucket")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
      .join(vecs.select(col("id").as("id_a"), col("__v").as("__va"),
        col("__n").as("__na")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("__v").as("__vb"),
        col("__n").as("__nb")), Seq("id_b"))
      .withColumn("cosine", Similarity.cosineFromParts(
        Similarity.dotFast(col("__va"), col("__vb")), col("__na"), col("__nb")))
      .filter(col("cosine") >= minCosine)
      .select("id_a", "id_b", "cosine")
  }

  /**
   * Semantic deduplication (the SemDeDup direction, exact verification):
   * rows whose embedding cosine ≥ `minCosine` are near-duplicates;
   * duplicate chains close transitively via distributed connected
   * components (A~B, B~C ⟹ one group even when cos(A,C) < τ) and each
   * component keeps its minimum id as the representative. Every input id
   * comes back as (id, component, keep) — singletons keep themselves.
   *
   * This exact variant verifies ALL pairs — O(n²/2), the correctness /
   * oracle path; bound the input before calling at scale.
   * [[semanticDedup]] is the scale path: identical verify + keep rule,
   * candidate generation restricted to k-means cells.
   */
  def semanticDedupExact(df: DataFrame, idCol: String, vecCol: String,
                         minCosine: Double): DataFrame =
    semanticKeep(df, idCol,
      cosineNearDupExact(df, idCol, vecCol, minCosine))

  /**
   * Scale path of [[semanticDedupExact]]: candidates are proposed only
   * within the same k-means cell (the deterministic seeded coarse
   * quantizer of [[Similarity.ivfIndex]]/[[Similarity.assignCells]] —
   * bounded driver-side train, broadcast centroids), every candidate is
   * verified with the EXACT cosine, then the same component/keep rule.
   *
   * Guarantees: the pair set is a subset of the exact pair set (the verify
   * is exact), and min-id keep over a subgraph can only drop an id the
   * full graph also drops — so dropped(celled) ⊆ dropped(exact):
   * precision 1.0 by construction, recall bounded by cross-cell misses.
   * `nProbe` is the recall lever: each vector lands in its `nProbe`
   * nearest cells (soft assignment), so a pair is missed only when the
   * two vectors share NONE of their nProbe cells. d27 pins the measured
   * recall in its hash gate.
   *
   * Scale shape: the only shuffles are the cell equi-join on vector-free
   * (cell, id) rows and the component iterations; vectors join back only
   * to output-bound candidate pairs; per-cell pair work is O((nProbe ·
   * cell)²), so nCells/nProbe bound the quadratic blowup exactly like IVF
   * bounds probe cost.
   */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    dim: Int, minCosine: Double, nCells: Int = 16,
                    nProbe: Int = 2): DataFrame = {
    require(nProbe >= 1 && nProbe <= nCells,
      s"nProbe must be in [1, nCells], got $nProbe of $nCells")
    val centroids = Similarity.ivfIndex(df, dim, nCells, idCol = idCol, vecCol = vecCol)
    val bucketed = Similarity.assignCellsMulti(
        df.select(col(idCol), col(vecCol)), centroids, nProbe, vecCol)
      .select(col(idCol).as("id"), col("cell"))
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("__v"),
      Similarity.normFast(col(vecCol)).as("__n"))
    val a = bucketed.select(col("cell"), col("id").as("id_a"))
    val b = bucketed.select(col("cell"), col("id").as("id_b"))
    val pairs = a.join(b, Seq("cell")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
      .join(vecs.select(col("id").as("id_a"), col("__v").as("__va"),
        col("__n").as("__na")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("__v").as("__vb"),
        col("__n").as("__nb")), Seq("id_b"))
      .withColumn("cosine", Similarity.cosineFromParts(
        Similarity.dotFast(col("__va"), col("__vb")), col("__na"), col("__nb")))
      .filter(col("cosine") >= minCosine)
      .select("id_a", "id_b")
    semanticKeep(df, idCol, pairs)
  }

  /**
   * Winnowing fingerprint candidate pairs (Schleimer/Wilkerson/Aiken MOSS,
   * SIGMOD'03) — the substring-overlap detector the MinHash/SimHash family
   * can't provide: MinHash sees bag-of-shingles Jaccard, winnowing GUARANTEES
   * a hit for any shared run of ≥ w+k−1 normalized characters (contiguous
   * plagiarism / quotation / template reuse), at fingerprint density
   * ≈ 2/(w+1) of positions instead of all of them.
   *
   * Pipeline: normalize (`lower`, strip non-`[a-z0-9]`) → native codegen'd
   * [[TextKernels.winnowKeys]] kernel (one pass per doc) → explode selected
   * keys → distinct (id, gram-hash) → bucket self-join on hash → count
   * shared hashes per pair. Everything that shuffles is (id, long); the
   * `maxBucketSize` cap bounds boilerplate-gram buckets exactly like the
   * LSH paths. Engine-portable hash formula, so d30 oracle-checks the full
   * pipeline in DuckDB bit for bit.
   */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String = "text",
                  k: Int = 16, w: Int = 4, minShared: Int = 3,
                  maxBucketSize: Int = 1000): DataFrame = {
    val fps = df.select(col(idCol).as("id"),
        regexp_replace(lower(col(textCol)), "[^a-z0-9]", "").as("__s"))
      .select(col("id"),
        explode(call_function("winnow_keys", col("__s"), lit(k), lit(w))).as("__key"))
      .select(col("id"), shiftright(col("__key"), 21).as("__h"))
      .distinct()
    val wBucket = Window.partitionBy("__h")
    // lazy checkpoint (the minhashLsh `inBuckets` pattern): without it the
    // self-join's two sides each re-run the whole scan → normalize →
    // winnow-kernel → explode → distinct → window subtree — the kernel is
    // the expensive part and the rows here are narrow (id, long)
    val capped = fps.withColumn("__n", count(lit(1)).over(wBucket))
      .filter(col("__n") <= maxBucketSize).drop("__n")
      .localCheckpoint(false)
    val a = capped.select(col("__h"), col("id").as("id_a"))
    val b = capped.select(col("__h"), col("id").as("id_b"))
    a.join(b, Seq("__h")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /**
   * EXACT set-similarity self-join via prefix filtering (Bayardo/Ma/Srikant
   * "Scaling Up All Pairs Similarity Search", WWW'07 — the AllPairs/PPJoin
   * family): emit every pair with Jaccard(tokens_a, tokens_b) ≥ `minJaccard`,
   * WITHOUT an all-pairs pass and WITHOUT approximation (MinHash estimates;
   * this one is exact — the candidate pruning is lossless).
   *
   * Prefix filter: order each doc's distinct tokens by ascending global
   * document frequency (rarest first, ties by token); two sets with
   * Jaccard ≥ t MUST share a token among each one's first
   * m − ⌈t·m⌉ + 1 tokens, so only docs sharing a PREFIX token become
   * candidates — rare-token buckets, tiny by construction. Verify is an
   * exact sorted-rank-array intersection on candidates only.
   *
   * Scale: the only global structure is the vocabulary rank (vocab-sized,
   * broadcast back); everything else shuffles on (token-rank) buckets. A
   * prefix bucket larger than `maxBucketSize` would break the quadratic
   * bound, and DROPPING it would silently break the exactness guarantee —
   * so the default FAILS the job loudly (`raise_error`) when a bucket
   * exceeds the cap, naming the over-full token rank and telling the
   * caller their two options: raise the cap, or opt into bounded recall
   * loss with [[setSimilarityJoinCounted]], which drops over-full buckets
   * but surfaces the dropped-entry count through a named accumulator
   * (never silently).
   */
  def setSimilarityJoin(df: DataFrame, idCol: String, tokCol: String,
                        minJaccard: Double,
                        maxBucketSize: Int = 100000): DataFrame =
    setSimJoinImpl(df, idCol, tokCol, minJaccard, maxBucketSize, dropAcc = None)

  /**
   * [[setSimilarityJoin]] with bounded-drop semantics: prefix buckets over
   * `maxBucketSize` are DROPPED (trading exactness for boundedness at the
   * extreme skew tail) and every dropped (token, doc) prefix entry is
   * counted in the returned `LongAccumulator` — registered under a UI-
   * visible name, populated once the returned DataFrame executes. Callers
   * MUST check it: a non-zero value means the result may be missing pairs
   * whose only shared prefix token was that hot. (Task retries can
   * over-count; zero vs non-zero is the load-bearing signal.)
   */
  def setSimilarityJoinCounted(df: DataFrame, idCol: String, tokCol: String,
                               minJaccard: Double,
                               maxBucketSize: Int = 100000)
      : (DataFrame, org.apache.spark.util.LongAccumulator) = {
    val acc = df.sparkSession.sparkContext
      .longAccumulator("graft.setSimilarityJoin.droppedPrefixEntries")
    (setSimJoinImpl(df, idCol, tokCol, minJaccard, maxBucketSize, Some(acc)), acc)
  }

  private def setSimJoinImpl(df: DataFrame, idCol: String, tokCol: String,
                             minJaccard: Double, maxBucketSize: Int,
                             dropAcc: Option[org.apache.spark.util.LongAccumulator])
      : DataFrame = {
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      s"minJaccard=$minJaccard must be in (0, 1]")
    val toks = df.select(col(idCol).as("id"),
      explode(array_distinct(col(tokCol))).as("tok"))
    // df-rank WITHOUT a single-task global window: a web-scale vocabulary
    // is 10⁸–10⁹ distinct tokens, far past what one sort task can hold
    val ranked = graft.ops.GlobalRank.withGlobalRank(
        toks.groupBy("tok").agg(count(lit(1)).as("df")),
        "rk", col("df"), col("tok"))
      .select(col("tok"), col("rk"))
    // plain shuffle join on tok — the rank table is one row PER DISTINCT
    // TOKEN, i.e. vocabulary-sized (10⁸–10⁹ at web scale, the very bound
    // that forced GlobalRank above), so a broadcast hint here would OOM at
    // exactly the scale the rank rewrite targets. Skew on tok is df-bounded
    // and already the d31 posting shape.
    // sets feeds THREE consumers (the prefix explode plus both attach
    // joins of the verify step); without a checkpoint the whole
    // toks→rank→collect_set chain re-executed once per consumer — 4
    // materializations of the same corpus pass in one d32 plan (measured:
    // the verify join job alone was 2.4 s of a 4.6 s query). Lazy
    // localCheckpoint: first action materializes, the rest reuse.
    val sets = toks.join(ranked, "tok")
      .groupBy("id").agg(sort_array(collect_set(col("rk"))).as("rks"))
      .select(col("id"), col("rks"), size(col("rks")).as("m"))
      .localCheckpoint(false)
    // prefix length p = m − ⌈t·m⌉ + 1, in EXACT integer arithmetic (a float
    // ceil of t·m can overshoot by one and silently break losslessness)
    val num = math.round(minJaccard * 1000000)
    val pfx = sets.select(col("id"),
      explode(slice(col("rks"), lit(1),
        (col("m") - expr(s"(m * ${num}L + 999999L) div 1000000L") + 1).cast("int"))).as("rk"))
    val wBucket = Window.partitionBy("rk")
    val withN = pfx.withColumn("__n", count(lit(1)).over(wBucket))
    val capped = dropAcc match {
      case None =>
        // lossless contract: an over-full bucket is a hard, descriptive error
        withN.filter(when(col("__n") > maxBucketSize,
            raise_error(format_string(
              "setSimilarityJoin: prefix bucket for token rank %d holds %d entries" +
                " > maxBucketSize %d; raise maxBucketSize or use" +
                " setSimilarityJoinCounted to drop with an audited count",
              col("rk"), col("__n"), lit(maxBucketSize))))
          .otherwise(lit(true))).drop("__n")
          // capped feeds both sides of the candidate self-join; the
          // counted branch below always checkpointed (its accumulator
          // forces it) — the lossless branch paid the prefix window
          // TWICE instead. Lazy checkpoint: same raise_error semantics,
          // evaluated once.
          .localCheckpoint(false)
      case Some(acc) =>
        // bounded-drop: count every dropped prefix entry (non-codegen UDF,
        // but it only runs on the already-shuffled window output). The
        // side effect forces asNondeterministic + an EAGER materialization:
        // the capped frame feeds BOTH sides of the candidate self-join, and
        // without the checkpoint the filter would re-execute per side and
        // double every count (task retries can still over-count — the
        // accumulator is a monitoring signal, not an exact ledger).
        val keep = udf { n: Long =>
          val ok = n <= maxBucketSize
          if (!ok) acc.add(1L)
          ok
        }.asNondeterministic()
        withN.filter(keep(col("__n"))).drop("__n").localCheckpoint()
    }
    val cands = capped.select(col("rk"), col("id").as("id_a"))
      .join(capped.select(col("rk"), col("id").as("id_b")), Seq("rk"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cands
      .join(sets.select(col("id").as("id_a"), col("rks").as("__ra"), col("m").as("m_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("rks").as("__rb"), col("m").as("m_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("__ra"), col("__rb"))))
      // exact rational compare: inter/(m_a+m_b-inter) >= t without float
      .filter(col("inter") * lit(1000000L) >=
        lit(math.round(minJaccard * 1000000)) * (col("m_a") + col("m_b") - col("inter")))
      .select("id_a", "id_b", "inter", "m_a", "m_b")
  }

  /**
   * Corpus-scale variant of [[semanticDedup]]: candidates from sign-LSH
   * buckets ([[cosineNearDupPairs]] — shuffle keyed on (table, bucket),
   * output-bound) instead of k-means cells. The celled path's per-cell
   * quadratic work needs ~√n cells to stay bounded, and a driver-side
   * Lloyd's with k ≈ √n stops being practical around 10⁶ rows — sign-LSH
   * needs no training at all and its recall is tunable with (bits,
   * tables). Verify is exact cosine, so precision stays 1.0.
   *
   * SIZE `bits` ≈ log₂(n) + 4 for a SELF-join: expected structural
   * candidates are n²·tables/2^(bits+1) REGARDLESS of similarity, so
   * under-bucketing (16 bits at 10⁶ rows → ~15 rows/bucket → ~60M pairs)
   * floods the verify join with vector payloads. Near-identical pairs
   * survive even very fine buckets (flip probability per hyperplane ≈
   * angle/π), so more bits costs little recall at high `minCosine`.
   */
  def semanticDedupLsh(df: DataFrame, idCol: String, vecCol: String,
                       dim: Int, minCosine: Double,
                       bits: Int = 8, tables: Int = 8): DataFrame =
    semanticKeep(df, idCol,
      cosineNearDupPairs(df, idCol, vecCol, minCosine, dim, bits, tables))

  /** Close `pairs` transitively (distributed CC, min-id labels) and emit
    * every id of `df` as (idCol, component, keep = is-representative). */
  private def semanticKeep(df: DataFrame, idCol: String,
                           pairs: DataFrame): DataFrame = {
    val labels = graft.ops.ConnectedComponents.labels(pairs, "id_a", "id_b")
    df.select(col(idCol).as("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("component"), col("id")).as("component"),
        (coalesce(col("component"), col("id")) === col("id")).as("keep"))
  }

  /**
   * Sorted-neighborhood blocking (Hernández & Stolfo, "The Merge/Purge
   * Problem for Large Databases", SIGMOD'95): order the corpus ONCE by a
   * caller-supplied blocking key, and only rows within `window` positions
   * of each other become candidate pairs — O(n·window) candidates instead
   * of O(n²) — then verify candidates with EXACT token-set Jaccard. The
   * classic record-linkage complement to LSH ([[minhashLsh]]): it needs no
   * signatures, and a good blocking key (sort-normalized name, text
   * prefix, zip code) places near-dups adjacently regardless of how many
   * tokens they share.
   *
   * Scale design: a global `row_number` window would funnel the corpus
   * through ONE task, so the global position is assembled declaratively —
   * `repartitionByRange(key, id)` (sampled range exchange, the Z-order
   * write-path trick) fixes an ORDERED partitioning, then each row's
   * position is its per-partition `row_number` (windows keyed on
   * `spark_partition_id()` — parallel) plus the cumulative count of the
   * partitions before it (a partition-count offset table, P rows). Range
   * partitions are ordered and (key, id) is a strict total order, so the
   * result is independent of where the sampled boundaries fall. The
   * neighbor pairing is then ONE equi-join on position (each row joins to
   * its `window − 1` predecessors via a static offset explode), and gram
   * arrays are shipped exactly once per side. Output: `(id_a, id_b,
   * inter, m_a, m_b)` with `Jaccard = inter/(m_a + m_b − inter) ≥
   * minJaccard` enforced in exact integer arithmetic (hash-safe).
   */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, blockKey: Column,
                              tokCol: String, window: Int,
                              minJaccard: Double): DataFrame = {
    require(window >= 2, s"window=$window must be >= 2")
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      s"minJaccard=$minJaccard must be in (0, 1]")
    val base = df.select(col(idCol).as("id"), blockKey.as("__bk"),
      sort_array(array_distinct(col(tokCol))).as("__gs"))
      .withColumn("__m", size(col("__gs")))
    // global position via ops.GlobalRank (range partitions + broadcast
    // P-row offset table — the pattern this method originated); the
    // outer localCheckpoint stops the gram build re-running per consumer:
    // withPos feeds the slim pair join (twice) and both gram attaches
    val withPos = graft.ops.GlobalRank
      .withGlobalRank(base, "pos", col("__bk"), col("id"))
      .localCheckpoint()
    // each row pairs with its window-1 predecessors: explode the offsets on
    // the slim (pos, id) side, equi-join on position — positions are unique,
    // so every unordered pair is emitted at most once (no distinct needed)
    val slim = withPos.select(col("pos"), col("id"))
    val probe = slim
      .select(explode(sequence(lit(1), lit(window - 1))).as("__o"),
        col("pos"), col("id").as("__id_hi"))
      .select((col("pos") - col("__o")).as("pos"), col("__id_hi"))
      .filter(col("pos") >= 1L)
    val cands = slim.join(probe, "pos")
      .select(least(col("id"), col("__id_hi")).as("id_a"),
        greatest(col("id"), col("__id_hi")).as("id_b"))
    val sets = withPos.select(col("id"), col("__gs"), col("__m"))
    val num = math.round(minJaccard * 1000000)
    cands
      .join(sets.select(col("id").as("id_a"), col("__gs").as("__ga"), col("__m").as("m_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("__gs").as("__gb"), col("__m").as("m_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("__ga"), col("__gb"))))
      .filter(col("inter") * lit(1000000L) >=
        lit(num) * (col("m_a") + col("m_b") - col("inter")))
      .select("id_a", "id_b", "inter", "m_a", "m_b")
  }

  /** Exact all-pairs variant (the correctness baseline / oracle path):
    * O(n²/2) — bound the input (subset, partition) before calling at scale.
    *
    * CONTRACT: `idCol` must be an integral type (byte/short/int/long) —
    * ids are widened to long for the primitive broadcast arrays, and
    * `id_a`/`id_b` come back as long regardless of the input width. A
    * string or decimal id is rejected up front (it would otherwise throw
    * mid-job under ANSI, or null out and silently return nothing with
    * ANSI off) — map such ids through a dense integer index and join
    * back. The corpus is hard-bounded at 200,000 rows (boundedCollect
    * FAILS above that, it does not truncate); use
    * [[cosineNearDupPairs]] for anything larger.
    *
    * Physical shape: NOT a nested-loop join. The corpus (which a BNLJ
    * would broadcast anyway) is collected bounded, broadcast as PRIMITIVE
    * arrays, and each streaming row scores against it in one tight JVM
    * loop — no per-pair Row materialization, no per-pair UDF argument
    * conversion (the former plan built ~n²/2 wide rows and converted two
    * float arrays per pair; at 2k vectors that was ~2M conversions and
    * dominated the query). Only matching pairs are ever materialized.
    * Arithmetic is the same sequential float→double fold as
    * [[Similarity.dotFast]]/[[Similarity.normFast]] — bit-identical to the
    * DuckDB list_reduce oracle; zero-norm vectors pair with nothing
    * (cosine undefined), as before.
    */
  def cosineNearDupExact(df: DataFrame, idCol: String, vecCol: String,
                         minCosine: Double): DataFrame = {
    val spark = df.sparkSession
    val idType = df.schema(idCol).dataType
    require(Seq(org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType).contains(idType),
      s"cosineNearDupExact: idCol '$idCol' is $idType; an integral id type" +
        " is required (map arbitrary ids through a dense integer index and" +
        " join back)")
    val side = df.select(col(idCol).cast("long"), col(vecCol))
    val rows = graft.util.Collects.boundedCollect(side,
      "cosineNearDupExact corpus", "cosineNearDupPairs (the LSH scale path)",
      max = 200000)
    val ids = rows.map(_.getLong(0))
    val vecs = rows.map { r =>
      val s = r.getSeq[Float](1); if (s == null) null else s.toArray
    }
    val norms = vecs.map { v =>
      if (v == null) 0.0
      else {
        var acc = 0.0; var i = 0
        while (i < v.length) { acc += v(i).toDouble * v(i).toDouble; i += 1 }
        math.sqrt(acc)
      }
    }
    val bc = spark.sparkContext.broadcast((ids, vecs, norms))
    val matches = udf { (id: java.lang.Long, v: Array[Float]) =>
      if (id == null || v == null) Array.empty[(Long, Double)]
      else {
        val (bIds, bVecs, bNorms) = bc.value
        var na = 0.0
        var i = 0
        while (i < v.length) { na += v(i).toDouble * v(i).toDouble; i += 1 }
        na = math.sqrt(na)
        val out = Array.newBuilder[(Long, Double)]
        if (na != 0.0) {
          var j = 0
          while (j < bIds.length) {
            // id_a < id_b exactly as the join predicate had it
            if (bIds(j) > id && bNorms(j) != 0.0) {
              val bv = bVecs(j)
              var dot = 0.0
              val n = math.min(v.length, bv.length)
              var t = 0
              while (t < n) { dot += v(t).toDouble * bv(t).toDouble; t += 1 }
              val cos = dot / (na * bNorms(j))
              if (cos >= minCosine) out += ((bIds(j), cos))
            }
            j += 1
          }
        }
        out.result()
      }
    }
    // a small input often arrives as one partition (one parquet footer) —
    // spread the O(n²/2) scoring across the cluster first
    side.toDF("id_a", "__v")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("id_a"), explode(matches(col("id_a"), col("__v"))).as("__m"))
      .select(col("id_a"), col("__m._1").as("id_b"), col("__m._2").as("cosine"))
  }

  /**
   * Position-level repeated-substring detection (the "deduplicating
   * training data makes language models better" direction, word-gram
   * approximation): for every document, find the token positions whose
   * length-`n` word n-gram also occurs in ANOTHER document, merge the
   * overlapping duplicated windows into maximal spans, and report
   *
   *  - `n_positions`       n-gram windows in the doc (tokens − n + 1),
   *  - `n_dup_positions`   windows duplicated cross-document,
   *  - `n_covered_tokens`  tokens under the UNION of duplicated windows
   *                        (merged spans — the count a span-removal pass
   *                        would actually cut),
   *  - `n_tokens`          document length.
   *
   * Scale design: the position explode is narrow; "occurs in ≥ 2 docs" is
   * `min(doc) ≠ max(doc)` per gram — a map-side-combinable single
   * aggregate, NOT a count-distinct, so the one gram-keyed shuffle carries
   * only (gram, min, max) partials even for stopword-heavy grams. The
   * span merge is the classic gaps-and-islands window, partitioned by doc
   * — documents parallelize independently. `hashGrams` (production
   * default) shuffles 8-byte xxhash64 keys instead of strings; a
   * collision can only grow a span (safe direction). The string variant
   * is the oracle twin.
   */
  def dupNgramSpans(docs: DataFrame, idCol: String, textCol: String = "text",
                    n: Int = 8, hashGrams: Boolean = true): DataFrame = {
    require(n >= 1, s"span n-gram size must be >= 1, got $n")
    val toks = TextAnalysis.tokens(col(textCol))
    val gramAt = (i: Column) =>
      concat_ws(" ", (0 until n).map(k => element_at(col("__toks"), i + k)): _*)
    val positions = docs
      .select(col(idCol).as("id"), toks.as("__toks"))
      .select(col("id"), size(col("__toks")).as("n_tokens"),
        posexplode(when(size(col("__toks")) >= n,
            transform(sequence(lit(1), size(col("__toks")) - (n - 1)), gramAt))
          .otherwise(array().cast("array<string>"))).as(Seq("__p", "gram")))
      .select(col("id"), col("n_tokens"), (col("__p") + 1).as("pos"),
        (if (hashGrams) xxhash64(col("gram")) else col("gram")).as("gram"))
    // grams seen in >= 2 distinct docs, without a count-distinct shuffle
    val dupGrams = positions.groupBy(col("gram"))
      .agg(min(col("id")).as("__mn"), max(col("id")).as("__mx"))
      .filter(col("__mn") =!= col("__mx"))
      .select(col("gram"))
    val dupPos = positions.join(dupGrams, Seq("gram"), "left_semi")
      .withColumn("end", col("pos") + (n - 1))
    // gaps-and-islands: a window starts a new span iff it begins past the
    // furthest end seen so far; island id = running count of span starts
    val w = Window.partitionBy("id").orderBy("pos")
    val islanded = dupPos
      .withColumn("__prev_max_end",
        max(col("end")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new_span",
        when(col("__prev_max_end").isNull || col("pos") > col("__prev_max_end"), 1)
          .otherwise(0))
      .withColumn("__island", sum(col("__new_span")).over(w))
    val perDoc = islanded
      .groupBy(col("id"), col("__island"))
      .agg(count(lit(1)).as("__n_pos"), min(col("pos")).as("__s"), max(col("end")).as("__e"))
      .groupBy(col("id"))
      .agg(sum(col("__n_pos")).as("n_dup_positions"),
        sum(col("__e") - col("__s") + 1).as("n_covered_tokens"))
    docs.select(col(idCol).as("id"), size(toks).as("n_tokens"))
      .withColumn("n_positions", greatest(col("n_tokens") - (n - 1), lit(0)).cast("long"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_tokens"), col("n_positions"),
        coalesce(col("n_dup_positions"), lit(0L)).as("n_dup_positions"),
        coalesce(col("n_covered_tokens"), lit(0L)).as("n_covered_tokens"))
  }

  /**
   * Entity consolidation (golden records): collapse each transitive match
   * cluster to ONE survivor row plus cluster lineage — the step after
   * candidate pairing + verification in an entity-resolution pipeline
   * (pairs typically come from [[sortedNeighborhoodPairs]], [[minhashLsh]],
   * or blocking joins; any (id_a, id_b) frame works).
   *
   *   - cluster_id = the minimum member id ([[graft.ops.ConnectedComponents
   *     .labels]] closure over the pairs; unpaired rows are singleton
   *     clusters of themselves);
   *   - the survivor is the first row per cluster under `survivorOrder`
   *     (e.g. richest/newest record wins — row-level survivorship; field-
   *     level merge is a projection of the same window);
   *   - lineage = member count and the sorted member-id list.
   *
   * Scale: closure cost is the CC labeling (adaptive driver/distributed);
   * everything else is ONE window + ONE aggregate, both keyed on
   * cluster_id, plus a broadcast-friendly label join. The member-id list is
   * per-cluster bounded (clusters are near-dup groups, not the corpus); at
   * adversarial cluster sizes, drop `member_ids` and keep the count.
   */
  def goldenRecords(docs: DataFrame, idCol: String, pairs: DataFrame,
                    survivorOrder: Seq[Column],
                    srcCol: String = "id_a", dstCol: String = "id_b"): DataFrame = {
    require(survivorOrder.nonEmpty, "survivorOrder must be non-empty")
    val lbl = graft.ops.ConnectedComponents.labels(pairs, srcCol, dstCol)
      .withColumnRenamed("id", idCol)
    val clustered = docs.join(lbl, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("component"), col(idCol)))
      .drop("component")
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(survivorOrder: _*)
    val survivors = clustered
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .drop("__rn")
    val stats = clustered.groupBy("cluster_id").agg(
      count(lit(1)).as("n_members"),
      sort_array(collect_list(col(idCol))).as("member_ids"))
    survivors.join(stats, Seq("cluster_id"))
  }

  /** Non-overlapping `c`-token chunks of the normalized text as an array
    * of chunk strings (the last chunk may be shorter). The chunk is the
    * UNIT of exact corpus-level span dedup below — the C4/CCNet paragraph
    * analogue for corpora whose documents have no sentence structure. */
  private def tokenChunks(text: Column, c: Int): Column = {
    // null-safe: a null text must still yield its one-chunk empty doc so
    // the per-doc output contract ("one row per input doc") holds.
    // Hoist.once: an inlined tokens() would re-split per chunk (d64 lesson)
    graft.util.Hoist.once(TextAnalysis.tokens(coalesce(text, lit("")))) { toks =>
      val nChunks = floor((size(toks) + lit(c - 1)) / lit(c)).cast("int")
      transform(sequence(lit(0), nChunks - 1),
        i => concat_ws(" ", slice(toks, i * c + 1, lit(c))))
    }
  }

  /** Shared explode: one row per (id, chunk_idx, chunk string). Spread
    * first (r13): the tokenize+chunk pass is the expensive part and a
    * single-file / single-partition-batch input would run it on one core
    * (no-op at scale; PlanSpec pins the unspread narrow shape).
    * `spread = false` is for per-MICROBATCH callers (r14): inside
    * foreachBatch the batch is latency-bounded by the batching itself,
    * and a repartition-to-core-count exchange per batch costs more than
    * the one-core tokenize it parallelizes — worse, everything written
    * downstream inherits the inflated partition count (32 files per
    * 167-doc batch measured on d42's chunk store). */
  private def explodedChunks(docs: DataFrame, idCol: String, textCol: String,
                             chunkTokens: Int, spread: Boolean = true): DataFrame = {
    val narrow = docs.select(col(idCol).as("__id"), col(textCol))
    (if (spread) graft.util.Spread.ifNarrow(narrow) else narrow)
      .select(col("__id"),
        posexplode(tokenChunks(col(textCol), chunkTokens)).as(Seq("__idx", "__chunk")))
  }

  /** Chunk frame with keep decisions: a chunk occurrence is kept iff its
    * chunk is NOT in `seenChunks` (one string column `chunk` — chunks
    * first-seen by EARLIER corpora/batches) AND it is the batch-local
    * first occurrence. `seenChunks = None` gives pure batch semantics.
    * Columns: (__id, __idx, __chunk, __kept). */
  private[graft] def markedSpans(docs: DataFrame, idCol: String, textCol: String,
                                 chunkTokens: Int,
                                 seenChunks: Option[DataFrame],
                                 spread: Boolean = true): DataFrame = {
    // The streaming ingest path (spread=false and/or seenChunks defined)
    // references `ch` in up to FOUR subtree copies (semi + anti branches,
    // each appearing again under firstOcc's aggregate): the tokenize+chunk
    // HOF tree would be re-optimized and re-executed per copy per
    // microbatch. A microbatch is bounded by the batching contract, so
    // materializing it once is safe and turns the other copies into
    // in-memory scans. The batch path keeps the pure two-pass recompute
    // shape — at corpus scale the exploded chunks are O(tokens) rows and
    // recompute is two narrow passes, cheaper than persisting them.
    val ch0 = explodedChunks(docs, idCol, textCol, chunkTokens, spread)
    val ch = if (!spread || seenChunks.isDefined) ch0.localCheckpoint() else ch0
    val withSeen = seenChunks match {
      case Some(seen) =>
        // semi/anti, not distinct + outer join: duplicate index rows (the
        // at-least-once replay shape) can neither multiply chunk rows nor
        // force an O(index) dedup shuffle every batch — the index side
        // streams through the join untouched
        val keys = seen.select(col("chunk").as("__chunk"))
        ch.join(keys, Seq("__chunk"), "left_semi")
          .withColumn("__seen", lit(true))
          .unionByName(ch.join(keys, Seq("__chunk"), "left_anti")
            .withColumn("__seen", lit(false)))
      case None => ch.withColumn("__seen", lit(false))
    }
    val firstOcc = withSeen.groupBy("__chunk")
      .agg(min(struct(col("__id"), col("__idx"))).as("__first"))
    withSeen.join(firstOcc, "__chunk")
      .withColumn("__kept", !col("__seen") &&
        col("__id") === col("__first.__id") && col("__idx") === col("__first.__idx"))
  }

  /** Rebuild per-doc clean text from a marked chunk frame: one id-keyed
    * aggregation (kept chunks concatenated in position order). */
  private[graft] def reassembleSpans(marked: DataFrame, idCol: String): DataFrame =
    marked.groupBy(col("__id").as(idCol))
      .agg(
        concat_ws(" ", transform(
          sort_array(collect_list(when(col("__kept"),
            struct(col("__idx"), col("__chunk"))))),
          x => x.getField("__chunk"))).as("clean_text"),
        count(lit(1)).as("n_chunks"),
        sum(when(col("__kept"), 0L).otherwise(1L)).as("n_removed"))

  /**
   * Corpus-level EXACT span dedup with text reconstruction — the
   * "deduplicate training data" direction of Lee et al. 2022 at chunk
   * granularity: every occurrence of a `chunkTokens`-token chunk that is
   * NOT the corpus-wide first occurrence (smallest (id, position)) is
   * REMOVED, and each document's text is reassembled from its surviving
   * chunks in order. d24 finds repeated spans; this operator applies the
   * removal — what a pipeline actually ships to training.
   *
   * Scale: one narrow tokenize+explode, ONE chunk-keyed aggregation for
   * the global first occurrence (min combiner — map-side partial, hot
   * boilerplate chunks cost one partial per partition, never a fan-out),
   * one chunk-keyed equi-join back, and one id-keyed reassembly agg. No
   * all-pairs anywhere; shuffle width follows the chunk count (≈ corpus
   * tokens / chunkTokens). Documents whose every chunk is removed come
   * back with empty `clean_text` (they stay countable).
   *
   * @param idCol orderable id — first occurrence = min (id, chunk_idx)
   * @return (id, clean_text, n_chunks, n_removed), one row per input doc
   */
  def removeDuplicateSpans(docs: DataFrame, idCol: String,
                           textCol: String = "text",
                           chunkTokens: Int = 5): DataFrame =
    reassembleSpans(
      markedSpans(docs, idCol, textCol, chunkTokens, seenChunks = None), idCol)

  /**
   * CCNet-style boilerplate strip: remove ALL occurrences of any chunk
   * that appears in at least `minDocFrequency` DISTINCT documents (nav
   * bars, cookie banners, licence footers — content repeated across the
   * crawl, not within a page). Complements [[removeDuplicateSpans]]: that
   * keeps one copy corpus-wide; this keeps none of the high-df chunks and
   * everything else untouched.
   *
   * Same plan shape — the df aggregate is `count distinct id` per chunk,
   * which at 100 TB degrades gracefully to approx_count_distinct without
   * changing the operator contract (exact here so the gate can replay it).
   *
   * @return (id, clean_text, n_chunks, n_removed), one row per input doc
   */
  def stripBoilerplateSpans(docs: DataFrame, idCol: String,
                            textCol: String = "text",
                            chunkTokens: Int = 5,
                            minDocFrequency: Int = 3): DataFrame = {
    val ch = explodedChunks(docs, idCol, textCol, chunkTokens)
    val df = ch.groupBy("__chunk")
      .agg(countDistinct(col("__id")).as("__df"))
    reassembleSpans(
      ch.join(df, "__chunk")
        .withColumn("__kept", col("__df") < minDocFrequency), idCol)
  }

  /** Exploded chunk occurrences with the span-pipeline's internal columns
    * (__id, __idx, __chunk) — the persisted form of a streamed corpus
    * slice awaiting a df-map strip
    * ([[graft.streaming.Streaming.boilerplateStripStream]]). */
  private[graft] def chunkOccurrences(docs: DataFrame, idCol: String,
                                      textCol: String = "text",
                                      chunkTokens: Int = 5,
                                      spread: Boolean = true): DataFrame =
    explodedChunks(docs, idCol, textCol, chunkTokens, spread)

  /** Strip a persisted chunk-occurrence store against a df map (columns
    * `chunk`, `df`) — the view half of the streaming boilerplate strip:
    * identical keep rule and reassembly as [[stripBoilerplateSpans]], so
    * the result over a fully-folded df map equals the one-shot batch
    * strip. */
  private[graft] def stripAgainstDf(chunks: DataFrame, dfMap: DataFrame,
                                    idCol: String,
                                    minDocFrequency: Int): DataFrame =
    reassembleSpans(
      chunks.join(dfMap.select(col("chunk").as("__chunk"), col("df")),
          Seq("__chunk"), "left")
        .withColumn("__kept",
          coalesce(col("df"), lit(0L)) < minDocFrequency), idCol)

  /** One field-comparison rule for [[linkageScores]]: `agree` is a boolean
    * over the pair frame's `<col>_a` / `<col>_b` columns; the weights are
    * QUANTIZED Fellegi-Sunter log-likelihood ratios (integer ≈
    * round(log2(m/u)) resp. round(log2((1−m)/(1−u))) for match/unmatch
    * field probabilities m,u) — integers so the total score is exact and
    * engine-portable. */
  final case class LinkageRule(name: String, agree: Column,
                               wAgree: Long, wDisagree: Long)

  /**
   * Fellegi-Sunter record-linkage scoring (Fellegi & Sunter 1969) over
   * BLOCKED candidate pairs — the probabilistic complement to the
   * blocking operators ([[sortedNeighborhoodPairs]], [[minhashLsh]],
   * golden-record consolidation): each pair gets a per-field agreement
   * vector, an additive integer log-likelihood score, and the classic
   * three-way decision (`link` / `possible` / `non-link`) against the
   * caller's upper/lower thresholds.
   *
   * Plan shape: two equi-joins attach the `_a`/`_b` field copies to the
   * pair list (both sides keyed on the id — broadcast when the record
   * table is small, shuffle otherwise), then one narrow projection folds
   * the rules. No aggregation, no window — O(pairs) with codegen'd
   * comparisons; the pair list itself comes from a blocking operator, so
   * the all-pairs blow-up is someone else's contract.
   *
   * @param pairs columns id_a, id_b
   * @param docs  record table; every column is exposed as `<name>_a` /
   *              `<name>_b` to the rule expressions
   * @return id_a, id_b, one `<rule>_agree` int column per rule, score,
   *         decision
   */
  def linkageScores(pairs: DataFrame, docs: DataFrame, idCol: String,
                    rules: Seq[LinkageRule],
                    upperThreshold: Long, lowerThreshold: Long): DataFrame = {
    require(rules.nonEmpty, "at least one LinkageRule required")
    require(rules.map(_.name).distinct.size == rules.size,
      s"duplicate rule names: ${rules.map(_.name).mkString(", ")} — " +
        "each rule becomes an output column")
    require(upperThreshold >= lowerThreshold,
      s"upper=$upperThreshold must be >= lower=$lowerThreshold")
    // the id copy gets an internal name (not `<idCol>_a`) so a pair frame
    // whose idCol is literally `id` cannot collide with its own id_a/id_b
    def side(sfx: String) = docs.columns.foldLeft(docs) { (d, c) =>
      d.withColumnRenamed(c, if (c == idCol) s"__rid$sfx" else s"$c$sfx")
    }
    val joined = pairs
      .join(side("_a"), col("id_a") === col("__rid_a"))
      .join(side("_b"), col("id_b") === col("__rid_b"))
    val score = rules.map(r =>
        when(r.agree, lit(r.wAgree)).otherwise(lit(r.wDisagree)))
      .reduce(_ + _)
    joined.select(
      Seq(col("id_a"), col("id_b")) ++
        rules.map(r => when(r.agree, 1).otherwise(0).as(s"${r.name}_agree")) ++
        Seq(score.as("score"),
          when(score >= upperThreshold, "link")
            .when(score > lowerThreshold, "possible")
            .otherwise("non-link").as("decision")): _*)
  }

  /**
   * Cross-source corpus CONTAINMENT: for every ordered pair of groups
   * (sources, crawls, snapshots), the fraction of group A's distinct
   * token-bigram shingles that also occur in group B — `|A∩B| / |A|`,
   * the asymmetric leakage measure Jaccard can't express (a small corpus
   * fully contained in a big one has tiny Jaccard but containment 1).
   *
   * Exact path (this): one distinct over (group, gram) — map-side
   * combinable — then a gram-keyed self-join whose output is bounded by
   * Σ_gram df(gram)², aggregated down to groups² rows. Fine while the
   * vocabulary is corpus-bounded; at 100 TB swap the exact distinct sets
   * for per-group KMV sketches ([[graft.ops.Kmv]], q53) — same output
   * schema, estimated counts. Counts are exact longs + one IEEE divide,
   * so the gate hashes the whole result.
   *
   * @return source_a, source_b (a ≠ b), n_common, n_a, containment
   */
  def sourceShingleContainment(docs: DataFrame, groupCol: String,
                               textCol: String = "text"): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    // materialize the distinct (group, gram) set ONCE — it feeds both the
    // totals agg and the pair generation, and the tokenize+explode pass is
    // the expensive part (the hashedImportanceTopK lesson: without this
    // the scan runs once per consumer). Spread FIRST: a small parquet
    // arrives as one partition and the explode would run single-threaded
    // into the checkpoint (the d34 lesson).
    val grams = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      // tokens materialized as an attribute BEFORE the lambda (the d64
      // lesson: an inlined tokens() re-runs the regex split per element_at)
      .select(col(groupCol).as("__g"), toks.as("__ts"))
      .filter(size(col("__ts")) >= 2)
      .select(col("__g"), explode(array_distinct(
        transform(sequence(lit(1), size(col("__ts")) - 1), i =>
          concat_ws(" ", element_at(col("__ts"), i), element_at(col("__ts"), i + 1)))))
        .as("__gram"))
      .distinct()
      .localCheckpoint()
    val totals = grams.groupBy(col("__g").as("source_a"))
      .agg(count(lit(1)).as("n_a"))
    // pairs via per-gram group sets, NOT a gram-keyed self-join: one agg
    // collects each gram's sources (bounded by the group count, not the
    // corpus), then a narrow ordered-pair explode feeds the pair counts —
    // the Σ_gram df² intermediate never goes through join machinery
    val common = grams.groupBy("__gram")
      .agg(collect_set(col("__g")).as("__gs"))
      .select(explode(expr(
        "flatten(transform(__gs, a -> transform(filter(__gs, b -> b != a), b -> struct(a, b))))"))
        .as("__p"))
      .groupBy(col("__p.a").as("source_a"), col("__p.b").as("source_b"))
      .agg(count(lit(1)).as("n_common"))
    common.join(totals, "source_a")
      .select(col("source_a"), col("source_b"), col("n_common"), col("n_a"),
        (col("n_common").cast("double") / col("n_a")).as("containment"))
  }

  /**
   * Candidate-pair quality metrics against a ground-truth pair set — the
   * evaluation harness every blocking/LSH parameterization needs before
   * it ships: both sides canonicalize to distinct unordered (min, max)
   * pairs, then ONE full-outer key join yields tp/fp/fn and
   * precision/recall (pair completeness) as single IEEE divides of exact
   * longs. One row out; input order, duplicates, and orientation are all
   * normalized away.
   */
  def pairMetrics(candidates: DataFrame, truth: DataFrame): DataFrame = {
    def canon(df: DataFrame) = df.select(
        least(col("id_a"), col("id_b")).as("a"),
        greatest(col("id_a"), col("id_b")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    canon(candidates).withColumn("__c", lit(1))
      .join(canon(truth).withColumn("__t", lit(1)), Seq("a", "b"), "full_outer")
      .agg(
        // coalesce: sum over ZERO joined rows (both inputs empty after
        // canonicalization) must report 0, not null
        coalesce(sum(when(col("__c").isNotNull && col("__t").isNotNull, 1L)
          .otherwise(0L)), lit(0L)).as("tp"),
        coalesce(sum(when(col("__c").isNotNull && col("__t").isNull, 1L)
          .otherwise(0L)), lit(0L)).as("fp"),
        coalesce(sum(when(col("__c").isNull && col("__t").isNotNull, 1L)
          .otherwise(0L)), lit(0L)).as("fn"))
      .select(col("tp"), col("fp"), col("fn"),
        // null (not NaN/inf) when a denominator is empty — engines differ
        // on 0.0/0, and null is the honest "undefined" for empty inputs
        when(col("tp") + col("fp") === 0, lit(null).cast("double"))
          .otherwise(col("tp").cast("double") / (col("tp") + col("fp")))
          .as("precision"),
        when(col("tp") + col("fn") === 0, lit(null).cast("double"))
          .otherwise(col("tp").cast("double") / (col("tp") + col("fn")))
          .as("recall"))
  }

  /** Exact n-gram Jaccard similarity for given candidate pairs
    * (columns id_a, id_b) against the documents table. */
  def ngramJaccard(pairs: DataFrame, docs: DataFrame, idCol: String,
                   textCol: String = "text", n: Int = 3): DataFrame = {
    val grams = docs.select(col(idCol).as("id"), shingles(col(textCol), n).as("grams"))
    pairs
      .join(grams.withColumnRenamed("id", "id_a").withColumnRenamed("grams", "grams_a"), "id_a")
      .join(grams.withColumnRenamed("id", "id_b").withColumnRenamed("grams", "grams_b"), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("grams_a"), col("grams_b"))).cast("double") /
          size(array_union(col("grams_a"), col("grams_b"))))
      .drop("grams_a", "grams_b")
  }
}
