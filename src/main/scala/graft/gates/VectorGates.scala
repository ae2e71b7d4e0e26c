package graft.gates

import graft.llm.Similarity
import org.apache.spark.sql.functions._
import GateInputs._

/** The vector gates (`v*`): similarity search, clustering and
  * quantization over the embeddings table. */
object VectorGates {

  /** v06's oracle: `iters` unrolled Lloyd rounds over the embeddings
    * table — the same fixed-order float contract as q50/q45 (argmin on
    * dim-ordered distance folds with ties to the lower cluster id;
    * centroid means folded over members in ascending-id order from the
    * first member; inertia likewise), so every double matches the Spark
    * `Clustering.lloyd(orderedFold = true)` result bit for bit. */
  private def kmeansOracleSql(k: Int, iters: Int, dim: Int): String = {
    val dp = dim + 1
    def dist(v1: String, v2: String) =
      s"list_reduce(list_transform(range(1, $dp), i -> ($v1[i]-$v2[i])*($v1[i]-$v2[i])), (x,y) -> x + y)"
    val rounds = (1 to iters).map { m =>
      s"""a$m AS (SELECT vec_id, v, j AS cluster FROM (
         |    SELECT e.vec_id, e.v, c.j, row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${dist("e.v", "c.v")}, c.j) AS rn
         |    FROM emb e CROSS JOIN c${m - 1} c) t WHERE rn = 1),
         |g$m AS (SELECT cluster AS j, COUNT(*) AS n, list(v ORDER BY vec_id) AS vs
         |        FROM a$m GROUP BY cluster),
         |c$m AS (SELECT j, n, list_transform(
         |    list_reduce(vs, (acc, x) -> list_transform(range(1, $dp), i -> acc[i] + x[i])),
         |    s -> s / n) AS v FROM g$m)""".stripMargin
    }.mkString(",\n")
    s"""WITH emb AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |),
       |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, v
       |       FROM (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT $k) t),
       |$rounds,
       |d$iters AS (
       |  SELECT a.vec_id, a.cluster, ${dist("a.v", "c.v")} AS d2
       |  FROM a$iters a JOIN c$iters c ON c.j = a.cluster
       |),
       |inert AS (SELECT cluster, list_reduce(list(d2 ORDER BY vec_id), (x,y) -> x + y) AS inertia
       |          FROM d$iters GROUP BY cluster)
       |SELECT CAST(c$iters.j AS INTEGER) AS cluster, c$iters.n, inert.inertia,
       |  CAST(u.i - 1 AS INTEGER) AS dim, c$iters.v[u.i] AS c
       |FROM c$iters JOIN inert ON inert.cluster = c$iters.j,
       |  LATERAL unnest(range(1, $dp)) AS u(i)
       |ORDER BY cluster, dim""".stripMargin
  }

  val gates: Seq[Gate] = List(
    Gate("v01_ann_bruteforce",
      """WITH scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_apply(list_zip(q.embedding, c.embedding),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)
        |    / (sqrt(list_reduce(list_apply(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))
        |       * sqrt(list_reduce(list_apply(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))) AS cosine
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
        |  FROM scored
        |)
        |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },
    Gate("v15_knn_graph",
      // v15: the exact 5-NN graph of the planted clustered fixture — v01's
      // cosine fold with queries = corpus over closed-form dyadic vectors;
      // NN-Descent's parameters give exact convergence on clustered data,
      // so the hash pins recall = 1.0 (see the gate comment)
      """WITH v AS (
        |  SELECT p_partkey AS vec_id,
        |    list_transform(range(16), j -> CAST(
        |      ((p_partkey % 20) * 37 + j * 13) % 16 +
        |      ((p_partkey * 31 + j * 17) % 4) * 0.0625 AS DOUBLE)) AS embedding
        |  FROM part WHERE p_partkey <= 400
        |), scored AS (
        |  SELECT q.vec_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_apply(list_zip(q.embedding, c.embedding),
        |      p -> p[1] * p[2]), (acc, x) -> acc + x)
        |    / (sqrt(list_reduce(list_apply(q.embedding, x -> x * x), (a, b) -> a + b))
        |       * sqrt(list_reduce(list_apply(c.embedding, x -> x * x), (a, b) -> a + b))) AS cosine
        |  FROM v q, v c
        |  WHERE c.vec_id <> q.vec_id
        |), ranked AS (
        |  SELECT vec_id, neighbor_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
        |  FROM scored
        |)
        |SELECT vec_id, neighbor_id, rank FROM ranked WHERE rank <= 5
        |ORDER BY vec_id, rank""".stripMargin) { (s, d) =>
      // NN-DESCENT k-NN GRAPH (llm/NnDescent, Dong et al. WWW'11): the
      // whole corpus's 5-NN graph over a PLANTED clustered fixture (20
      // clusters of dyadic-rational vectors built from part keys — every
      // coordinate, dot, and norm² is exact in both engines, the v-gate
      // float contract). On clustered data the parameters (multi-seed
      // LSH init + per-round seed rotation, 5 refinement rounds) give
      // EXACT convergence, so the hash pins recall = 1.0 against the
      // brute-force oracle while the operator never goes all-pairs
      // (degree-capped neighbor-of-neighbor pairs + capped LSH buckets).
      // NnDescentSpec separately pins the recall floor on unclustered
      // data, where exactness is not the contract.
      import s.implicits._
      val build = udf { (id: Long) =>
        Array.tabulate(16) { j =>
          ((((id % 20) * 37 + j * 13) % 16) +
            (((id * 31 + j * 17) % 4) * 0.0625)).toFloat
        }
      }
      val vecs = t(s, d, "part").filter(col("p_partkey") <= 400)
        .select(col("p_partkey").cast("long").as("vec_id"))
        .withColumn("embedding", build(col("vec_id")))
      graft.llm.NnDescent.knnGraph(vecs, k = 5, iterations = 5)
        .select(col("vec_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("vec_id"), col("rank"))
    },
    Gate("v07_hard_negatives",
      // cosine ordering is bit-identical across engines: both compute the dot
      // and norms as SEQUENTIAL double folds over the float vectors (Spark
      // `aggregate` with 0.0 init vs DuckDB list_reduce; 0.0+v1 == v1 exactly),
      // so equal ranks need no float output — only ids survive to the hash
      """WITH scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_apply(list_zip(q.embedding, c.embedding),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)
        |    / (sqrt(list_reduce(list_apply(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))
        |       * sqrt(list_reduce(list_apply(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))) AS cosine
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id AND c.label <> q.label
        |), ranked AS (
        |  SELECT query_id, neighbor_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
        |  FROM scored
        |)
        |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 3
        |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      // HARD-NEGATIVE MINING for contrastive training: each query's top-3
      // most-similar vectors whose label DIFFERS (the near-but-wrong
      // examples a dual encoder trains against). Same exact cosine fold
      // as v01 — only ids and integer ranks survive to the hash.
      val emb = t(s, d, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 3,
          excludeSameCol = Some("label"))
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },
    Gate("v08_mmr_rerank",
      // v08: the 3 greedy MMR steps unrolled — p1 = argmax rel, then each
      // step scores 0.5·rel − 0.5·max(sim to picked) over the survivors
      // (identical fold-order cosines, dyadic λ ⇒ every score op IEEE
      // exactly-rounded) with min-id tie-break. Only ids/picks survive.
      """WITH scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_apply(list_zip(q.embedding, c.embedding),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)
        |    / (sqrt(list_reduce(list_apply(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))
        |       * sqrt(list_reduce(list_apply(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))) AS cosine
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
        |), topn AS (
        |  SELECT query_id, neighbor_id, cosine FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
        |    FROM scored) WHERE rn <= 8
        |), sim AS (
        |  SELECT a.query_id, a.neighbor_id AS ca, b.neighbor_id AS cb,
        |    list_reduce(list_apply(list_zip(ea.embedding, eb.embedding),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)
        |    / (sqrt(list_reduce(list_apply(ea.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a2, b2) -> a2 + b2))
        |       * sqrt(list_reduce(list_apply(eb.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a2, b2) -> a2 + b2))) AS s
        |  FROM topn a JOIN topn b ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id
        |  JOIN embeddings ea ON ea.vec_id = a.neighbor_id
        |  JOIN embeddings eb ON eb.vec_id = b.neighbor_id
        |), p1 AS (
        |  SELECT query_id, neighbor_id AS s1 FROM (
        |    SELECT query_id, neighbor_id,
        |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
        |    FROM topn) WHERE rn = 1
        |), c2 AS (
        |  SELECT t.query_id, t.neighbor_id, 0.5 * t.cosine - 0.5 * s.s AS score
        |  FROM topn t
        |  JOIN p1 ON p1.query_id = t.query_id AND t.neighbor_id <> p1.s1
        |  JOIN sim s ON s.query_id = t.query_id AND s.ca = t.neighbor_id AND s.cb = p1.s1
        |), p2 AS (
        |  SELECT query_id, neighbor_id AS s2 FROM (
        |    SELECT query_id, neighbor_id,
        |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn
        |    FROM c2) WHERE rn = 1
        |), c3 AS (
        |  SELECT t.query_id, t.neighbor_id,
        |    0.5 * t.cosine - 0.5 * GREATEST(sa.s, sb.s) AS score
        |  FROM topn t
        |  JOIN p1 ON p1.query_id = t.query_id
        |  JOIN p2 ON p2.query_id = t.query_id
        |  JOIN sim sa ON sa.query_id = t.query_id AND sa.ca = t.neighbor_id AND sa.cb = p1.s1
        |  JOIN sim sb ON sb.query_id = t.query_id AND sb.ca = t.neighbor_id AND sb.cb = p2.s2
        |  WHERE t.neighbor_id <> p1.s1 AND t.neighbor_id <> p2.s2
        |), p3 AS (
        |  SELECT query_id, neighbor_id AS s3 FROM (
        |    SELECT query_id, neighbor_id,
        |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn
        |    FROM c3) WHERE rn = 1
        |)
        |SELECT query_id, 1 AS pick, s1 AS neighbor_id FROM p1
        |UNION ALL SELECT query_id, 2, s2 FROM p2
        |UNION ALL SELECT query_id, 3, s3 FROM p3
        |ORDER BY query_id, pick""".stripMargin) { (s, d) =>
      // MMR diversified re-rank (Similarity.mmrRerank): greedy
      // λ·relevance − (1−λ)·max-sim-to-picked over each query's top-8
      // candidate pool, k = 3 picks. The oracle unrolls the 3 greedy
      // steps in SQL over the identical fold-order cosines (λ = 0.5 is
      // dyadic, every score op IEEE exactly-rounded), so a divergent
      // pick order anywhere breaks the hash — only ids and pick ranks
      // are emitted.
      val emb = t(s, d, "embeddings")
      val cands = Similarity.bruteForceTopK(
        emb, emb.filter(col("vec_id") < 10), k = 8)
      Similarity.mmrRerank(cands, emb, k = 3, lambda = 0.5)
        .orderBy("query_id", "pick")
    },
    Gate("v10_range_search",
      // v10: EXACT brute-force range query — every pair with cosine >= 0.25
      // (dyadic threshold; the same sequential-fold cosine as v01, so the
      // boundary decision is bit-identical). The LSH path must reach
      // recall 1.0 to match this oracle.
      """WITH scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_apply(list_zip(q.embedding, c.embedding),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)
        |    / (sqrt(list_reduce(list_apply(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))
        |       * sqrt(list_reduce(list_apply(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))) AS cosine
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
        |)
        |SELECT query_id, neighbor_id FROM scored WHERE cosine >= 0.25
        |ORDER BY query_id, neighbor_id""".stripMargin) { (s, d) =>
      // RANGE (radius) search (Similarity.rangeSearch): ALL neighbours
      // with cosine >= tau rather than a fixed k — the answer-set size
      // varies per query. Same full-recall LSH parameterization as v02,
      // so the hash gate against the EXACT brute-force SQL oracle pins
      // recall = 1.0 AND the boundary behavior: tau = 0.25 is dyadic and
      // both engines fold the cosine in the same left-to-right double
      // order, so every >= decision is bit-identical at the threshold.
      val emb = t(s, d, "embeddings")
      Similarity.rangeSearch(emb, emb.filter(col("vec_id") < 10),
          tau = 0.25, dim = 64, bits = 5, tables = 12, multiprobe = true)
        .select(col("query_id"), col("neighbor_id"))
        .orderBy(col("query_id"), col("neighbor_id"))
    },
    Gate("v13_ann_filtered",
      // v11: the SQ8 pipeline replayed exactly — per-dim min/max (no
      // rounding), the same floor/clamp encode, the same dequant and the
      // same left-to-right squared-diff fold (list_reduce without init
      // starts at the first element; 0.0 + e0 = e0 exactly, so the engine's
      // zero-seeded fold agrees bit for bit)
      // v13: v01's exact-cosine ranks restricted by the metadata predicate
      // (pre-filtering) — same sequential-fold cosine, same id tie-break
      """WITH scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_apply(list_zip(q.embedding, c.embedding),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)
        |    / (sqrt(list_reduce(list_apply(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))
        |       * sqrt(list_reduce(list_apply(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))) AS cosine
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id AND c.label % 3 = 0
        |), ranked AS (
        |  SELECT query_id, neighbor_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
        |  FROM scored
        |)
        |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      // FILTERED vector search (the vector-DB feature every RAG stack
      // leans on): exact cosine top-k restricted to candidates passing a
      // metadata predicate (label % 3 = 0) — PRE-filtering, the shape
      // that stays correct when the predicate is selective (post-filter
      // truncates below k). The label filter is a plain pushed-down
      // parquet predicate BEFORE any vector work (PlanSpec-guarded), so
      // at 100 TB the scan prunes to the candidate stripe first. Ranks
      // only (the d25 engine-local-float rule, as v01).
      val emb = t(s, d, "embeddings")
      Similarity.bruteForceTopK(
          emb.filter(col("label") % 3 === 0),
          emb.filter(col("vec_id") < 10), k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },
    Gate("v14_bq_rerank",
      // v12: the sign-bit packing replayed word-for-word (32 bits/word —
      // DuckDB's << loud-fails on a shift into bit 63), Hamming = Σ
      // bit_count(xor), exact ranks with id tie-break
      // v14: stage 1 = v12's BQ hamming shortlist (top-64), stage 2 = v01's
      // exact cosine fold over ONLY the shortlist, re-ranked
      """WITH sig AS (
        |  SELECT vec_id, list_transform(range(2), j ->
        |    list_reduce(list_prepend(0::BIGINT, list_transform(range(32), b ->
        |      CASE WHEN embedding[j * 32 + b + 1] > 0
        |           THEN (1::BIGINT << b) ELSE 0::BIGINT END)),
        |      (a, x) -> a | x)) AS sg
        |  FROM embeddings
        |), ham AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    bit_count(xor(q.sg[1], c.sg[1]))
        |      + bit_count(xor(q.sg[2], c.sg[2])) AS hamming
        |  FROM sig q, sig c
        |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
        |), shortlist AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY hamming ASC, neighbor_id) AS hrk
        |    FROM ham) WHERE hrk <= 64
        |), rer AS (
        |  SELECT s.query_id, s.neighbor_id,
        |    list_reduce(list_apply(list_zip(q.embedding, c.embedding),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)
        |    / (sqrt(list_reduce(list_apply(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))
        |       * sqrt(list_reduce(list_apply(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))) AS cosine
        |  FROM shortlist s
        |  JOIN embeddings q ON q.vec_id = s.query_id
        |  JOIN embeddings c ON c.vec_id = s.neighbor_id
        |)
        |SELECT query_id, neighbor_id, rank FROM (
        |  SELECT query_id, neighbor_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
        |  FROM rer)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      // TWO-STAGE retrieval (Quantization.bqRerankTopK): BQ Hamming
      // shortlist (64 candidates — the only full-corpus pass, over the
      // 32×-compressed signatures) → exact cosine rerank → top-5. The
      // oracle replays BOTH stages in SQL (v12's signature packing +
      // v01's cosine fold restricted to the shortlist), so a shortlist
      // boundary tie, rerank fold, or stage-composition bug breaks the
      // hash. The shortlist is LOSSY by design (sign bits discard
      // magnitude): the gate pins the two-stage contract itself — the
      // exact-rerank order over whatever stage 1 admits — not recall
      // against brute force; v04/v05 carry the recall-style gates.
      val emb = t(s, d, "embeddings")
      graft.llm.Quantization.bqRerankTopK(emb, emb.filter(col("vec_id") < 10),
          dim = 64, shortlist = 64, k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
    Gate("v12_ann_bq",
      """WITH sig AS (
        |  SELECT vec_id, list_transform(range(2), j ->
        |    list_reduce(list_prepend(0::BIGINT, list_transform(range(32), b ->
        |      CASE WHEN embedding[j * 32 + b + 1] > 0
        |           THEN (1::BIGINT << b) ELSE 0::BIGINT END)),
        |      (a, x) -> a | x)) AS sg
        |  FROM embeddings
        |), scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(bit_count(xor(q.sg[1], c.sg[1]))
        |       + bit_count(xor(q.sg[2], c.sg[2])) AS BIGINT) AS hamming
        |  FROM sig q, sig c
        |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id, hamming,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY hamming ASC, neighbor_id) AS INTEGER) AS rank
        |  FROM scored
        |)
        |SELECT query_id, neighbor_id, hamming, rank FROM ranked
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      // BINARY quantization (Quantization.bqSignature/bqTopK): sign-bit
      // signatures packed 32 bits/word, Hamming top-k by xor+popcount —
      // the 32x-compression extreme of the quantization family (SQ8 4x,
      // PQ ~32x with codebooks, BQ pure bit ops). EVERYTHING is integer,
      // so unlike the recall-gated lossy paths (v04/v05) this
      // hash-checks exact ranks; the oracle replays the packing
      // word-for-word and popcounts in SQL. rank ties break on
      // neighbor_id; the query side broadcasts so the candidate pass is
      // one narrow signature scan.
      val emb = t(s, d, "embeddings")
      graft.llm.Quantization.bqTopK(emb, emb.filter(col("vec_id") < 10),
          dim = 64, k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
    Gate("v11_ann_sq8",
      """WITH dimmm AS (
        |  SELECT d.d AS d,
        |    MIN(CAST(e.embedding[d.d + 1] AS DOUBLE)) AS mn,
        |    MAX(CAST(e.embedding[d.d + 1] AS DOUBLE)) AS mx
        |  FROM embeddings e, (SELECT unnest(range(64)) AS d) d
        |  GROUP BY d.d
        |), mm AS (
        |  SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs
        |  FROM dimmm
        |), deq AS (
        |  SELECT e.vec_id, list_transform(range(64), i ->
        |    CASE WHEN mm.mxs[i + 1] = mm.mns[i + 1] THEN mm.mns[i + 1]
        |         ELSE mm.mns[i + 1] +
        |           LEAST(255, GREATEST(0,
        |             FLOOR((CAST(e.embedding[i + 1] AS DOUBLE) - mm.mns[i + 1])
        |               * 255.0 / (mm.mxs[i + 1] - mm.mns[i + 1]))))
        |           * (mm.mxs[i + 1] - mm.mns[i + 1]) / 255.0 END) AS r
        |  FROM embeddings e, mm
        |), scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_transform(range(64), i ->
        |      (CAST(q.embedding[i + 1] AS DOUBLE) - c.r[i + 1])
        |      * (CAST(q.embedding[i + 1] AS DOUBLE) - c.r[i + 1])),
        |      (a, b) -> a + b) AS dist
        |  FROM embeddings q, deq c
        |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id) AS INTEGER) AS rank
        |  FROM scored
        |)
        |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      // SQ8 scalar quantization (Quantization.sq8Train/Encode/TopK):
      // per-dim [min,max] from ONE aggregate pass, 8-bit codes (4× under
      // float32 — the memory-bound ANN lever when PQ's locality loss is
      // unacceptable), asymmetric L2 against dequantized values. Unlike
      // the lossy-PQ recall gates (v04/v05) this one hash-checks EXACT
      // ranks end to end: min/max of floats involve no rounding, and
      // encode floor decisions, dequant, and the distance fold are one
      // pinned IEEE op tree the oracle replays dimension by dimension.
      // dist is engine-local (the d25 rule) — ids/ranks only.
      val emb = t(s, d, "embeddings")
      val model = graft.llm.Quantization.sq8Train(emb, dim = 64)
      val enc = graft.llm.Quantization.sq8Encode(emb, model)
      graft.llm.Quantization.sq8TopK(enc, emb.filter(col("vec_id") < 10),
          model, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },
    Gate("v09_stream_vector_ingest",
      // v09: v03's recall constants over the STREAMED index probe, plus the
      // completeness flag (|streamed index| = |corpus|)
      "SELECT CAST(10 AS BIGINT) AS n_queries_found, CAST(35 AS BIGINT) AS n_matches_floored, TRUE AS recall_ok, TRUE AS index_complete") { (s, d) =>
      // STREAMING VECTOR INGEST (Streaming.vectorIngestStream): the
      // embeddings corpus arrives in 3 microbatches, each assigning
      // cells against the STATIC coarse quantizer (broadcast centroids,
      // narrow) and appending to the cell-partitioned index; probing
      // the converged read-back must hit v03's recall constants against
      // the exact top-k (same centroids/parameterization — a dropped or
      // duplicated batch shifts recall or the completeness flag and
      // flips the pinned booleans). index_complete pins |index| = |corpus|.
      import org.apache.spark.sql.types._
      val ss = graft.streaming.Streaming.statefulSession(s)
      val emb = t(ss, d, "embeddings").localCheckpoint()
      val centroids = Similarity.ivfIndex(emb, dim = 64, k = 16)
      val root = graft.util.TempDirs.scratch("v09")
      (0 until 3).foreach { b =>
        graft.streaming.Streaming.writeOrderedMicrobatch(
          emb.filter(col("vec_id") % 3 === b), s"$root/in", b)
      }
      val schema = StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("label", IntegerType)))
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
      graft.streaming.Streaming.vectorIngestStream(
          stream, s"$root/index", s"$root/ckpt", centroids)
        .awaitTermination()
      val assigned = ss.read.parquet(s"$root/index")
        .select(col("vec_id"), col("embedding"), col("cell"))
      val qs = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(emb, qs, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      Similarity.ivfTopKAssigned(assigned, qs, centroids, k = 5, nprobe = 8)
        .select(col("query_id"), col("neighbor_id"))
        .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(countDistinct(col("query_id")).as("n_queries_found"),
          least(count(lit(1)), lit(35L)).as("n_matches_floored"),
          (count(lit(1)) >= 35).as("recall_ok"))
        .crossJoin(assigned.agg(
          (count(lit(1)) === emb.count()).as("index_complete")))
    },
    Gate("v02_ann_lsh",
      // v02's oracle is the SAME exact top-k: the LSH query is parameterized
      // for full recall on this corpus (bits=5, 12 tables, Hamming-1
      // multiprobe), so candidate sets cover the true top-5 and the identical
      // cosine fold yields identical ranks — the hash pins recall = 1.0.
      """WITH scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_apply(list_zip(q.embedding, c.embedding),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)
        |    / (sqrt(list_reduce(list_apply(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))
        |       * sqrt(list_reduce(list_apply(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))) AS cosine
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
        |  FROM scored
        |)
        |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      // LSH parameters sized to the corpus (500-2k vectors -> 2^5 buckets)
      // with Hamming-1 multiprobe: measured recall is 1.0 at every SF, so
      // the result is oracle-checked against the EXACT SQL top-k — the hash
      // gate pins recall = 1.0 (a starved parameterization fails the gate).
      val emb = t(s, d, "embeddings")
      Similarity.lshBucketedTopK(emb, emb.filter(col("vec_id") < 10), k = 5,
          dim = 64, bits = 5, tables = 12, multiprobe = true)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },
    Gate("v03_ann_ivf",
      // v03-v05 pin a recall property, not ranks (approximate indexes): the
      // oracle emits the expected constants; Spark emits the measured
      // recall-floor boolean plus the match count CLAMPED at the floor
      // (constant while healthy, the real count when tripped) — the q37
      // pattern (a property pinned IN the hash). These constants are honest
      // only because v01 independently DuckDB-verifies the shared exact-top-k
      // code path (bruteForceTopK) these gates measure recall against.
      "SELECT CAST(10 AS BIGINT) AS n_queries_found, CAST(35 AS BIGINT) AS n_matches_floored, TRUE AS recall_ok") { (s, d) =>
      // IVF is approximate (nprobe=8 of 16 cells), so the gate pins a
      // RECALL property against the in-Spark exact top-k (the q37
      // TRUE-property pattern: the oracle emits the expected booleans; a
      // candidate-starved parameterization flips them and fails the hash).
      // Oracle independence note: the exact side (bruteForceTopK) is the
      // same code path that v01 hash-verifies against a DuckDB-computed
      // exact top-k, so a common-mode cosine/ranking bug would fail v01
      // first — this gate's oracle constants lean on that.
      // Measured recall@5 on these near-random embeddings: 0.78-0.88 at
      // every SF with every query finding >=2 of its true top-5 — the gate
      // pins total recall >= 0.7 and all 10 queries found, leaving margin
      // for k-means seed/fold sensitivity. n_matches_floored clamps the raw
      // match count at the floor: constant (=35) while healthy, the actual
      // count when the gate trips — so a failed hash check is diagnosable
      // from the dumped row alone.
      val emb = t(s, d, "embeddings")
      val qs = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(emb, qs, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      Similarity.ivfTopK(emb, qs, k = 5, dim = 64, nCells = 16, nprobe = 8)
        .select(col("query_id"), col("neighbor_id"))
        .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(countDistinct(col("query_id")).as("n_queries_found"),
          least(count(lit(1)), lit(35L)).as("n_matches_floored"),
          (count(lit(1)) >= 35).as("recall_ok"))
    },
    Gate("v04_ann_pq",
      "SELECT CAST(10 AS BIGINT) AS n_queries_found, CAST(40 AS BIGINT) AS n_matches_floored, TRUE AS recall_ok") { (s, d) =>
      // PQ-ADC is lossy (~32x code compression): the published PQ metric is
      // recall@R — did the true top-k land in the ADC SHORTLIST of R
      // candidates (Jegou et al., the shortlist then feeds exact rerank).
      // Gate: true top-5 in the ADC top-50, total recall >= 0.8 and all 10
      // queries found (measured 0.90-0.98 at every SF; a broken
      // codebook/encode path collapses this to ~0 and fails loud; the
      // clamped n_matches_floored makes a trip diagnosable — see v03, which
      // also documents the v01 oracle-independence dependency).
      val emb = t(s, d, "embeddings")
      val qs = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(emb, qs, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val model = graft.llm.Quantization.train(emb, dim = 64, m = 16, k = 32)
      graft.llm.Quantization.adcTopK(
          graft.llm.Quantization.encode(emb, model), qs, model, k = 50)
        .select(col("query_id"), col("neighbor_id"))
        .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(countDistinct(col("query_id")).as("n_queries_found"),
          least(count(lit(1)), lit(40L)).as("n_matches_floored"),
          (count(lit(1)) >= 40).as("recall_ok"))
    },
    Gate("v06_kmeans", kmeansOracleSql(4, 3, 64)) { (s, d) =>
      // distributed Lloyd's k-means, oracle-checked BIT FOR BIT: 3 rounds,
      // k = 4, deterministic lowest-id init, every float widened to double
      // before arithmetic, distances and centroid means folded in fixed
      // order (the q50 exact-fold contract extended to vectors). DuckDB
      // replays all 3 rounds as unrolled CTEs — assignment argmins,
      // centroid means, member counts, and within-cluster inertia must all
      // reproduce exactly.
      val emb = t(s, d, "embeddings")
        .repartition(s.sparkContext.defaultParallelism)
      graft.llm.Clustering.lloyd(emb, "vec_id", "embedding", k = 4,
          iterations = 3, orderedFold = true)
        .select(col("cluster"), col("n"), col("inertia"),
          posexplode(col("centroid")).as(Seq("dim", "c")))
        .orderBy(col("cluster"), col("dim"))
    },
    Gate("v05_ann_opq",
      "SELECT CAST(10 AS BIGINT) AS n_queries_found, CAST(40 AS BIGINT) AS n_matches_floored, TRUE AS recall_ok") { (s, d) =>
      // OPQ-ADC: same recall@R shortlist gate as v04 (true top-5 in the ADC
      // top-50, total >= 0.8, all queries found; measured 0.90-1.0 at every
      // SF; clamped count for diagnosability, v01-anchored oracle — see
      // v03). OpqSpec separately proves the rotation is orthogonal and cuts
      // quantization error >10% vs plain PQ.
      val emb = t(s, d, "embeddings")
      val qs = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(emb, qs, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val model = graft.llm.Opq.train(emb, dim = 64, m = 16, k = 32)
      val rotated = graft.llm.Opq.rotate(emb, model.rotation, outCol = "rotated")
      graft.llm.Opq.adcTopK(
          graft.llm.Quantization.encode(rotated, model.pq, vecCol = "rotated"),
          qs, model, k = 50)
        .select(col("query_id"), col("neighbor_id"))
        .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(countDistinct(col("query_id")).as("n_queries_found"),
          least(count(lit(1)), lit(40L)).as("n_matches_floored"),
          (count(lit(1)) >= 40).as("recall_ok"))
    }
  )
}
