package graft

import graft.ops.SpatialJoin
import graft.pipeline.{Constants, SyntheticScenario, TileUniverse}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Scale benchmark for the hot path: N tiles × 51-member × 5-threshold
 * envelope set → per-(tile, threshold) probability + E_ values. Run with
 * SPARK_GRAFT_TILES=2000000 to size the tile universe.
 *
 * This is the workload whose shape must survive 100 TB: tile generation and
 * the probability join are both narrow (no shuffle), so throughput scales
 * with cores; the printed tiles/sec is per-32-thread-node.
 */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    val nTiles = sys.env.getOrElse("SPARK_GRAFT_TILES", "1000000").toLong
    // optional args = substring filters over metric names, so one shape can
    // be re-measured without paying for the whole suite
    def sel(name: String): Boolean = args.isEmpty || args.exists(name.contains)
    val dimV = 64
    val cpus = EngineSession.cores
    val spark = EngineSession.start("graft-scalebench")

    if (sel("probability_join")) {
      // size a bbox to ~nTiles zoom-14 tiles (square-ish)
      val side = math.sqrt(nTiles.toDouble).ceil.toInt
      val degPerTile = 360.0 / (1 << 14)
      val (minLon, minLat) = (-72.0, 10.0)
      val tiles = TileUniverse.generate(spark, 14,
        minLon, minLat, minLon + side * degPerTile, minLat + side * degPerTile * 0.8)
        .repartition(cpus * 4)

      val envs = SyntheticScenario.envelopes(spark, members = 51,
        thresholds = Constants.WindThresholds.take(5),
        anchorLon = minLon + side * degPerTile / 2,
        anchorLat = minLat + side * degPerTile * 0.4)

      val nGen = tiles.count()
      val t0 = System.nanoTime()
      val tv = SpatialJoin.probabilityByThreshold(tiles, "geometry", envs, "geometry",
        keepZeroRows = false)
      val out = tv.agg(count(lit(1)), sum("n_members")).head()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"""{"metric":"scale_probability_join","tiles":$nGen,"envelopes":${51 * 5},"hit_rows":${out.getLong(0)},"member_hits":${out.getLong(1)},"sec":$secs%.2f,"tiles_per_sec":${(nGen / secs).toLong}}""")
    }

    if (sel("wind_field")) {
      // wind-field construction (S3): narrow per-row quadrant-arc polygons —
      // the other per-row geometry hot path; scales with cores like the join
      val nPoints = math.min(nTiles, 2000000L)
      val pts = spark.range(nPoints).select(
        col("id"),
        (lit(-72.0) + (col("id") % 1000) * lit(0.001)).as("longitude"),
        (lit(18.0) + (col("id") % 800) * lit(0.001)).as("latitude"),
        (col("id") % 97).cast("double").as("radius_34_knot_winds_ne_km"),
        (col("id") % 89).cast("double").as("radius_34_knot_winds_se_km"),
        (col("id") % 83).cast("double").as("radius_34_knot_winds_sw_km"),
        (col("id") % 79).cast("double").as("radius_34_knot_winds_nw_km"))
        .repartition(cpus * 4)
      val t1 = System.nanoTime()
      val wf = graft.ops.Tracks.withWindFields(pts)
      val nPolys = wf.filter(col("wind_field_polygon_34kt").isNotNull).count()
      val secs1 = (System.nanoTime() - t1) / 1e9
      println(f"""{"metric":"scale_wind_field","points":$nPoints,"polygons":$nPolys,"sec":$secs1%.2f,"points_per_sec":${(nPoints / secs1).toLong}}""")
    }

    if (sel("related_table")) {
      // related-table flatten (S17): many small per-(storm,threshold,level)
      // CSVs → one long frame. The scale property under test: plan depth is
      // the number of DISTINCT HEADERS (3 here), not the number of files, so
      // a thousand-storm backfill stays a handful of multi-path scans.
      val nFiles = sys.env.getOrElse("SPARK_GRAFT_RT_FILES", "300").toInt
      val rowsPerFile = 500
      val rtRoot = java.nio.file.Files.createTempDirectory("graft_rt_scale").toString
      val store = new graft.io.DataStore(rtRoot)
      // three header groups: full metrics, no-facilities, population-only
      val headers = Seq(
        "tile_id,E_population,E_built_surface_m2,E_num_schools,probability",
        "tile_id,E_population,E_built_surface_m2,probability",
        "tile_id,E_population,probability")
      (0 until nFiles).foreach { i =>
        val name = f"PHL_STORM${i % 40}%02d_202601${(i % 28) + 1}%02d000000_${Seq(34, 50, 64)(i % 3)}_admin${(i % 3) + 1}.csv"
        val h = headers(i % headers.size)
        val nCols = h.count(_ == ',')
        val body = (0 until rowsPerFile).map { r =>
          (Seq(s"t$r") ++ (1 to nCols).map(c => ((r * c) % 1000).toString)).mkString(",")
        }.mkString("\n")
        store.writeText(s"admin_impact_views/$name", h + "\n" + body)
      }
      val t2 = System.nanoTime()
      val discovered = graft.io.RelatedTable.discover(store)
      val flat = graft.io.RelatedTable.rows(spark, store, discovered)
      val nRows = flat.agg(count(lit(1))).head().getLong(0)
      val secs2 = (System.nanoTime() - t2) / 1e9
      println(f"""{"metric":"scale_related_table_flatten","files":${discovered.size},"rows":$nRows,"header_groups":${headers.size},"sec":$secs2%.2f,"rows_per_sec":${(nRows / secs2).toLong}}""")
      store.remove("")
    }

    if (sel("minhash_signature")) {
      // minhash signature (dedup hot path): one narrow UDF pass computing all
      // 64 hash minima per ~200-char document — the per-row cost that
      // dominates corpus dedup; scales with cores, no shuffle
      val nDocs = math.min(nTiles, 500000L)
      val docs = spark.range(nDocs).select(col("id"),
        concat_ws(" ", (0 until 30).map(j =>
          concat(lit(s"w$j"), ((col("id") * (j + 7)) % 1000).cast("string"))): _*).as("text"))
        .repartition(cpus * 4)
      val t3 = System.nanoTime()
      val nSigs = docs
        .select(graft.llm.Dedup.minhashSignature(col("text"), 5, 64).as("sig"))
        .filter(size(col("sig")) === 64).count()
      val secs3 = (System.nanoTime() - t3) / 1e9
      println(f"""{"metric":"scale_minhash_signature","docs":$nSigs,"hashes":64,"sec":$secs3%.2f,"docs_per_sec":${(nSigs / secs3).toLong}}""")
    }

    if (sel("asof_join")) {
      // as-of join (union + one window pass): left = 8x the right side,
      // 100k keys — the shape that replaces a per-key cross product; cost
      // must stay linear in |left| + |right|
      val nEvents = math.min(nTiles * 10, 10000000L)
      val lefts = spark.range(nEvents).select(
        (col("id") % 100000).as("k"), col("id").as("lid"),
        ((col("id") * 37L) % 1000000000L).as("lt"))
        .repartition(cpus * 4)
      val rights = spark.range(nEvents / 8).select(
        (col("id") % 100000).as("k"), col("id").as("rid"),
        ((col("id") * 293L) % 1000000000L).as("rt"))
      val t4 = System.nanoTime()
      val nAsof = graft.ops.Deltas.asofJoin(lefts, rights, Seq("k"),
          leftTime = "lt", rightTime = "rt", payload = Seq("rid"))
        .agg(count(col("asof_rid"))).head().getLong(0)
      val secs4 = (System.nanoTime() - t4) / 1e9
      println(f"""{"metric":"scale_asof_join","left_rows":$nEvents,"right_rows":${nEvents / 8},"matched":$nAsof,"sec":$secs4%.2f,"rows_per_sec":${(nEvents / secs4).toLong}}""")
    }

    if (sel("minhash_lsh_pairs")) {
      // MinHash-LSH END TO END (signature + band explode + bucket join + pair
      // agg) with a 20% planted duplicate rate — the d04 shape at 100x the
      // bench corpus. The property under test: candidate pairs stay
      // output-bound (planted dup groups), so cost is dominated by the narrow
      // signature pass and stays linear in docs.
      val nLshDocs = math.min(nTiles, 500000L)
      val base = (col("id") % (nLshDocs * 4 / 5)).as("b")
      // word values are injective in the base (no small modulus) and mixed by
      // a large prime so the vocabulary is diverse: each dup group has the
      // intended ~2 members and band collisions stay near the true-dup rate.
      // (A low-entropy generator — few distinct words — inflates candidate
      // pairs quadratically through noise buckets and benchmarks the verify
      // step's worst case rather than a realistic corpus.)
      val lshDocs = spark.range(nLshDocs).select(col("id"), base)
        .select(col("id"), concat_ws(" ", (0 until 30).map(j =>
          concat(lit(s"w$j"), ((col("b") * 31 + j) * 2654435761L).cast("string"))): _*).as("text"))
        .repartition(cpus * 4)
      val t5 = System.nanoTime()
      val nPairs = graft.llm.Dedup.minhashLsh(lshDocs, "id", minEstJaccard = 0.5)
        .agg(count(lit(1))).head().getLong(0)
      val secs5 = (System.nanoTime() - t5) / 1e9
      println(f"""{"metric":"scale_minhash_lsh_pairs","docs":$nLshDocs,"pairs":$nPairs,"sec":$secs5%.2f,"docs_per_sec":${(nLshDocs / secs5).toLong}}""")
    }

    if (sel("lsh_skew_cap")) {
      // SKEW TRIGGER for the LSH bucket cap (Dedup.minhashLsh
      // maxBucketSize): 30% of the corpus is one byte-identical
      // boilerplate clique — the "empty page served 120k times" crawl
      // pathology. Every clique doc lands in the SAME bucket in every
      // band, so without the cap the clique alone would contribute
      // ~(0.3n)²/2 candidate pairs (7e9 at n=400k — the run would not
      // finish). The section proves three things: the planted bucket
      // actually exceeds the cap (the skew is real), the capped run
      // emits ZERO clique pairs (the cap engaged — dropped, by the
      // documented contract that mass-identical cliques belong to exact
      // dedup), and recall over planted HONEST near-dup twins in small
      // buckets stays ≥ 0.95 (no collateral damage).
      val n = math.min(nTiles, 400000L)
      val clique = n * 3 / 10
      val boiler = (0 until 40).map(j => s"boiler$j").mkString(" ")
      // twins (2k, 2k+1): 40 shared salted words, the last word differs →
      // shingle jaccard ≈ 0.76, est ≥ 0.5 with ≥1 band collision w.p. ~0.998
      val docs = spark.range(n).select(col("id"),
        when(col("id") < clique, lit(boiler))
          .otherwise(concat(
            concat_ws(" ", (0 until 39).map(j =>
              concat(lit(s"w$j"), (((col("id") - clique) / 2).cast("long") * 31 + j)
                .cast("long").*(2654435761L).cast("string"))): _*),
            lit(" tail"), col("id").cast("string")))
          .as("text"))
        .repartition(cpus * 4)
      val cap = 1000
      val maxBucket = graft.llm.Dedup.bandedSignatures(docs, "id")
        .groupBy("band", "bucket").agg(count(lit(1)).as("c"))
        .agg(max("c")).head().getLong(0)
      require(maxBucket > cap,
        s"planted skew check failed: max bucket $maxBucket <= cap $cap")
      val t5b = System.nanoTime()
      val pairs = graft.llm.Dedup.minhashLsh(docs, "id", minEstJaccard = 0.5,
        maxBucketSize = cap).localCheckpoint(false)
      val cliquePairs = pairs.filter(col("id_a") < clique).count()
      val planted = spark.range(clique, n, 2)
        .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
      val found = planted.join(pairs, Seq("id_a", "id_b"), "left_semi").count()
      val nPlanted = (n - clique) / 2
      val secs5b = (System.nanoTime() - t5b) / 1e9
      val recall = found.toDouble / nPlanted
      require(cliquePairs == 0,
        s"cap did not engage: $cliquePairs pairs from the pathological clique")
      require(recall >= 0.95, f"twin recall $recall%.4f below the 0.95 floor")
      println(f"""{"metric":"scale_lsh_skew_cap","docs":$n,"clique":$clique,"max_bucket":$maxBucket,"clique_pairs":$cliquePairs,"planted":$nPlanted,"found":$found,"recall":$recall%.4f,"sec":$secs5b%.2f}""")
    }

    if (sel("fuzzy_decontam")) {
      // fuzzy decontamination at scale: 500k training docs screened
      // against a 2k-doc eval set whose members are PARAPHRASED copies
      // (last word changed) of known training docs — the d59 shape at
      // 100x the bench corpus. The properties under test: the eval
      // signature side broadcasts (no corpus self-join anywhere), cost is
      // one narrow shingle pass over the corpus + an output-bound
      // (k, sig) join, and every planted leak is found (exact check).
      val nDocs = math.min(nTiles, 500000L)
      val nEval = 2000L
      def corpusText(base: org.apache.spark.sql.Column) =
        concat_ws(" ", (0 until 30).map(j =>
          concat(lit(s"w$j"), (base * 31 + j) * 2654435761L cast "string")): _*)
      val train = spark.range(nDocs).select(col("id"),
        corpusText(col("id")).as("text")).repartition(cpus * 4)
      // eval doc e paraphrases train doc e*17 (never shares text verbatim:
      // the last word is replaced) — fuzzy must still flag it
      val eval_ = spark.range(nEval).select(
        (col("id") + nDocs).as("id"),
        concat(
          concat_ws(" ", (0 until 29).map(j =>
            concat(lit(s"w$j"), ((col("id") * 17) % nDocs * 31 + j) * 2654435761L cast "string")): _*),
          lit(" paraphrased")).as("text"))
      val t20 = System.nanoTime()
      val flagged = graft.llm.Decontamination.fuzzyContamination(
        train, eval_, idCol = "id")
      val hits = flagged.select(col("id"),
          ((col("eval_id") - nDocs) * 17 % nDocs).as("expect"))
        .localCheckpoint(false)
      val nFlagged = hits.count()
      val planted = hits.filter(col("id") === col("expect")).count()
      val secs20 = (System.nanoTime() - t20) / 1e9
      require(planted == nEval,
        s"fuzzy decontam missed planted leaks: $planted of $nEval found")
      println(f"""{"metric":"scale_fuzzy_decontam","docs":$nDocs,"eval":$nEval,"flagged":$nFlagged,"planted_found":$planted,"sec":$secs20%.2f,"docs_per_sec":${(nDocs / secs20).toLong}}""")
    }

    if (sel("connected_components")) {
      // Connected components (d20's algorithm) on a graph engineered to be
      // hard both ways: a sparse random-ish graph (giant component — many
      // rounds of bulk work) PLUS a long path (the diameter case where naive
      // label propagation needs O(path) rounds but large/small-star stays
      // O(log²)). Cost per round is keyed shuffles over a SHRINKING edge set.
      val nVerts = math.min(nTiles * 2, 2000000L)
      val nRandEdges = nVerts / 2
      val pathLen = 100000L
      val rand = spark.range(nRandEdges).select(
        ((col("id") * 2654435761L) % nVerts).as("src"),
        ((col("id") * 1099511628211L) % nVerts).as("dst"))
      val path = spark.range(pathLen).select(
        (col("id") + nVerts).as("src"), (col("id") + nVerts + 1).as("dst"))
      val edges = rand.unionByName(path).repartition(cpus * 4)
      val t6 = System.nanoTime()
      val lbl = graft.ops.ConnectedComponents.labels(edges, "src", "dst")
      val cc = lbl.agg(count(lit(1)).as("n"), countDistinct(col("component")).as("c")).head()
      val secs6 = (System.nanoTime() - t6) / 1e9
      val nEdgesTotal = nRandEdges + pathLen
      println(f"""{"metric":"scale_connected_components","edges":$nEdgesTotal,"vertices":${cc.getLong(0)},"components":${cc.getLong(1)},"sec":$secs6%.2f,"edges_per_sec":${(nEdgesTotal / secs6).toLong}}""")
    }

    if (sel("ann")) {
      // ANN at corpus scale: 1M 64-dim vectors. The exact baseline scores
      // |corpus| x |queries| primitive dots and shuffles only narrow rows to
      // its top-k window; the sign-LSH path probes hash buckets, so its
      // candidate count (and cost) is output-bound. Vectors localCheckpoint,
      // not cache: columnar-caching array columns pays per-element encoding.
      val nVecs = math.min(nTiles * 2, 1000000L)
      val vecs = spark.range(nVecs).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dimV - 1)),
          j => sin((col("id") % 100000) * (j + 1) * 0.0001).cast("float")).as("embedding"))
        .repartition(cpus * 4)
        .localCheckpoint(false)
      val qs10 = vecs.filter(col("vec_id") < 10)
      val t7 = System.nanoTime()
      val nExact = graft.llm.Similarity.bruteForceTopK(vecs, qs10, k = 10)
        .agg(count(lit(1))).head().getLong(0)
      val secs7 = (System.nanoTime() - t7) / 1e9
      println(f"""{"metric":"scale_ann_bruteforce","corpus":$nVecs,"queries":10,"dim":$dimV,"rows":$nExact,"sec":$secs7%.2f,"scored_pairs_per_sec":${(nVecs * 10 / secs7).toLong}}""")
      val qs100 = vecs.filter(col("vec_id") < 100)
      val t8 = System.nanoTime()
      val nLsh = graft.llm.Similarity.lshBucketedTopK(vecs, qs100, k = 10,
          dim = dimV, bits = 16, tables = 4)
        .agg(count(lit(1))).head().getLong(0)
      val secs8 = (System.nanoTime() - t8) / 1e9
      println(f"""{"metric":"scale_ann_lsh","corpus":$nVecs,"queries":100,"dim":$dimV,"bits":16,"tables":4,"rows":$nLsh,"sec":$secs8%.2f}""")
    }

    if (sel("nn_descent")) {
      // k-NN GRAPH construction at corpus scale (v15's operator): 200k
      // 64-dim vectors in 2000 planted clusters of 100. Brute-force truth
      // is 4·10¹⁰ pairs — unattainable, which is the operator's reason to
      // exist — so quality is judged by construction: a point's true
      // neighbors are its cluster siblings, and we report the fraction of
      // graph edges that stay intra-cluster (purity) alongside wall time.
      // Cost shape: per round, candidates are degree-capped
      // neighbor-of-neighbor pairs + capped LSH buckets — linear in corpus,
      // never all-pairs.
      val nVecs = math.min(nTiles / 5, 200000L)
      val clusters = 2000
      val vecs = spark.range(nVecs).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dimV - 1)), j =>
          (sin((col("id") % clusters) * (j + 3) * 0.37) +
            sin(col("id") * (j + 1) * 0.0001) * 0.05).cast("float")).as("embedding"))
        .repartition(cpus * 4)
        .localCheckpoint(false)
      val t0nn = System.nanoTime()
      val g = graft.llm.NnDescent.knnGraph(vecs, k = 5, iterations = 3)
        .localCheckpoint(false)
      val rows = g.count()
      val secsNn = (System.nanoTime() - t0nn) / 1e9
      val intra = g.filter(col("vec_id") % clusters === col("neighbor_id") % clusters)
        .count()
      println(f"""{"metric":"scale_nn_descent","corpus":$nVecs,"clusters":$clusters,"k":5,"iterations":3,"rows":$rows,"intra_cluster":${intra.toDouble / rows}%.4f,"sec":$secsNn%.2f,"edges_per_sec":${(rows / secsNn).toLong}}""")
    }

    if (sel("range_search")) {
      // Radius search at corpus scale (v10's operator): 1M 64-dim vectors
      // with 1000 planted near-identical twins (one dim +0.001 ⇒ cosine ≈
      // 0.99999 to their base), tau = 0.99. Distinct xxhash64-mixed bases
      // have cosine ~N(0, 1/64) — 8σ below the threshold — so the exact
      // answer set IS the planted mapping: recall AND precision are
      // asserted row-for-row, not sampled. The LSH candidate stage keeps
      // the cost bucket-keyed, never all-pairs.
      val nRs = math.min(nTiles, 1000000L)
      val nRsBase = nRs - 1000
      val rsVecs = spark.range(nRs).select(col("id"),
          when(col("id") >= nRsBase, col("id") - nRsBase)
            .otherwise(col("id")).as("b"))
        .select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(dimV - 1)), j =>
            (pmod(xxhash64(col("b"), j), lit(1000L)).cast("double") / 500.0 - 1.0 +
              when(col("id") >= nRsBase && j === lit(0), lit(0.001))
                .otherwise(lit(0.0))).cast("float")).as("embedding"))
        .repartition(cpus * 4)
        .localCheckpoint(false)
      val rsQueries = rsVecs.filter(col("vec_id") < 100)
      val tRs = System.nanoTime()
      val gotRs = graft.llm.Similarity.rangeSearch(rsVecs, rsQueries,
          tau = 0.99, dim = dimV, bits = 24, tables = 8)
        .select(col("query_id"), col("neighbor_id")).collect()
      val secsRs = (System.nanoTime() - tRs) / 1e9
      val rsExact = gotRs.length == 100 &&
        gotRs.forall(r => r.getLong(1) == r.getLong(0) + nRsBase)
      require(rsExact, s"range_search planted-set mismatch: ${gotRs.length} rows, " +
        gotRs.take(5).mkString(","))
      println(f"""{"metric":"scale_range_search","corpus":$nRs,"queries":100,"tau":0.99,"rows":${gotRs.length},"planted_exact":$rsExact,"sec":$secsRs%.2f}""")
    }

    if (sel("semantic_dedup")) {
      // Semantic dedup at corpus scale (the d26/d27 semantics on 1M vectors,
      // 20% planted near-dups): sign-LSH candidates (no k-means training —
      // the celled path needs ~√n cells, impractical to train driver-side at
      // this size), exact cosine verify, adaptive CC, min-id keep. Cost is
      // bucket-keyed and output-bound; the planted dups are near-identical
      // (one dim perturbed), so drop-recall should be ~the planted count.
      val nSem = math.min(nTiles, 1000000L)
      val nSemBase = nSem * 4 / 5
      // xxhash64-decorrelated coordinates: every (base, dim) gets an
      // INDEPENDENT uniform value, so distinct bases have cosine ~N(0,1/64)
      // and only the planted perturbed copies pass minCosine. Two failed
      // generators are cautionary tales: `b % 100000` collapsed 1M rows
      // onto 100k distinct vectors (10 identical copies each — every LSH
      // bucket quadratic), and sin(b·P + j·Q) made different bases SHIFTED
      // WINDOWS of one sequence (lag-m pairs have cosine ≈ cos(mQ) — ±1
      // for unlucky lags, flooding buckets again). Only real hash mixing
      // breaks the linear structure.
      val semVecs = spark.range(nSem).select(col("id"),
          (col("id") % nSemBase).as("b"))
        .select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(dimV - 1)), j =>
            (pmod(xxhash64(col("b"), j), lit(1000L)).cast("double") / 500.0 - 1.0 +
              when(col("id") >= nSemBase && j === lit(0), lit(0.001))
                .otherwise(lit(0.0))).cast("float")).as("embedding"))
        .repartition(cpus * 4)
        .localCheckpoint(false)
      val t9 = System.nanoTime()
      val semDropped = graft.llm.Dedup.semanticDedupLsh(semVecs, "vec_id",
          // bits = 24 per the operator's own self-join sizing (log2(n) + 4):
          // 16 bits at 1M rows means ~60M structural candidate pairs whose
          // vector payloads spill the sort join to disk death — under-
          // bucketing is THE failure mode this shape exists to demonstrate
          "embedding", dim = dimV, minCosine = 0.999, bits = 24, tables = 8)
        .filter(!col("keep")).agg(count(lit(1))).head().getLong(0)
      val secs9 = (System.nanoTime() - t9) / 1e9
      println(f"""{"metric":"scale_semantic_dedup","vectors":$nSem,"planted_dups":${nSem - nSemBase},"dropped":$semDropped,"sec":$secs9%.2f,"vectors_per_sec":${(nSem / secs9).toLong}}""")
    }

    if (sel("pagerank")) {
      // PageRank at graph scale (q50's operator, production unordered-sum
      // path): 2M vertices x 5 out-edges, 5 rounds. Per-round cost is two
      // src-keyed equi-joins + one dst-keyed map-side-combinable aggregate —
      // AQE-splittable shuffles, lineage truncated per round. Mass stays
      // <= 1 (dangling drop), reported as a sanity figure.
      val nPrVerts = math.min(nTiles * 2, 2000000L)
      val prEdges = Seq((31L, 7L), (17L, 3L), (13L, 11L), (7L, 1L), (41L, 19L))
        .map { case (a, b) =>
          spark.range(nPrVerts).select(col("id").as("src"),
            ((col("id") * a + b) % nPrVerts).as("dst"))
        }.reduce(_.unionByName(_)).repartition(cpus * 4)
      val t10 = System.nanoTime()
      val prStats = graft.ops.Graph.pageRank(prEdges, iterations = 5)
        .agg(count(lit(1)).as("n"), sum(col("r")).as("mass")).head()
      val secs10 = (System.nanoTime() - t10) / 1e9
      println(f"""{"metric":"scale_pagerank","edges":${nPrVerts * 5},"vertices":${prStats.getLong(0)},"mass":${prStats.getDouble(1)}%.4f,"rounds":5,"sec":$secs10%.2f,"edge_rounds_per_sec":${(nPrVerts * 5 * 5 / secs10).toLong}}""")
    }

    if (sel("sorted_neighborhood")) {
      // Sorted-neighborhood blocking at corpus scale (d34's operator): 1M
      // rows, 20% planted dups sharing the blocking key so they sort
      // adjacent. The global position comes from the range-partitioned
      // zipWithIndex path (no single-task window); candidates are exactly
      // n*(w-1) before the Jaccard verify.
      val nSnm = math.min(nTiles, 1000000L)
      val snmBase = nSnm * 4 / 5
      val snmRows = spark.range(nSnm).select(col("id"), (col("id") % snmBase).as("b"))
        .select(col("id"),
          concat(lit("k"), lpad(col("b").cast("string"), 9, "0")).as("bkey"),
          transform(sequence(lit(0), lit(29)), j =>
            concat(lit("t"), (((col("b") * 31 + j) * 2654435761L) % 1000000L +
              when(col("id") >= snmBase && j === lit(0), lit(1L)).otherwise(lit(0L)))
              .cast("string"))).as("toks"))
        .repartition(cpus * 4)
      val t11 = System.nanoTime()
      val nSnmPairs = graft.llm.Dedup.sortedNeighborhoodPairs(snmRows, "id",
          col("bkey"), "toks", window = 4, minJaccard = 0.8)
        .agg(count(lit(1))).head().getLong(0)
      val secs11 = (System.nanoTime() - t11) / 1e9
      println(f"""{"metric":"scale_sorted_neighborhood","rows":$nSnm,"planted_dups":${nSnm - snmBase},"pairs":$nSnmPairs,"sec":$secs11%.2f,"rows_per_sec":${(nSnm / secs11).toLong}}""")
    }

    if (sel("skyline")) {
      // 2-D skyline at scale (q54's operator): 10M correlated points — the
      // shape where bucketed local skylines prune hardest (anti-correlated
      // data keeps more of the frontier; both shapes stay one bucket-keyed
      // pass + broadcast merge). Deterministic congruential "noise".
      val nSky = math.min(nTiles * 10, 10000000L)
      val skyRows = spark.range(nSky).select(col("id"),
        ((col("id") * 2654435761L) % 1000000L).as("x"),
        ((col("id") * 40503L + 7L) % 1000000L).as("y"))
        .repartition(cpus * 4)
      val t12 = System.nanoTime()
      val nFrontier = graft.ops.Skyline.pareto2d(skyRows, "x", "y", buckets = 256)
        .agg(count(lit(1))).head().getLong(0)
      val secs12 = (System.nanoTime() - t12) / 1e9
      println(f"""{"metric":"scale_skyline","rows":$nSky,"frontier":$nFrontier,"buckets":256,"sec":$secs12%.2f,"rows_per_sec":${(nSky / secs12).toLong}}""")
    }

    if (sel("kmv")) {
      // KMV shard-overlap at scale (q53's operator): 10M values across 16
      // shards with engineered pairwise overlap; the only full-data pass is
      // ONE distinct on (shard, hash), min-k is two bounded keyed windows.
      val nKmv = math.min(nTiles * 10, 10000000L)
      val kmvRows = spark.range(nKmv).select(
        concat(lit("s"), (col("id") % 16).cast("string")).as("shard"),
        // consecutive shards share half their value range
        ((col("id") % 16) * 500000L + (expr("id div 16") % 1000000L)).as("v"))
        .repartition(cpus * 4)
      val t13 = System.nanoTime()
      val nOverlaps = graft.ops.Kmv.shardOverlap(kmvRows, "shard", "v", k = 256)
        .agg(count(lit(1)), sum(col("both_k"))).head()
      val secs13 = (System.nanoTime() - t13) / 1e9
      println(f"""{"metric":"scale_kmv_overlap","rows":$nKmv,"shards":16,"pairs":${nOverlaps.getLong(0)},"sum_both_k":${nOverlaps.getLong(1)},"k":256,"sec":$secs13%.2f,"rows_per_sec":${(nKmv / secs13).toLong}}""")
    }
    if (sel("span_dedup")) {
      // corpus span dedup at scale (d40's operator): 1M docs, 30 tokens
      // each, 20% exact-duplicate docs (so every chunk of a dup doc is a
      // later occurrence and gets removed). Cost model: one explode
      // (6 chunks/doc), one chunk-keyed min-agg, one join back, one
      // id-keyed rebuild — all linear in total chunks. The planted check:
      // removed chunks == exactly the duplicated docs' chunk count.
      val nSpanDocs = math.min(nTiles, 1000000L)
      val nUnique = nSpanDocs * 4 / 5
      val spanBase = (col("id") % nUnique).as("b")
      val spanDocs = spark.range(nSpanDocs).select(col("id"), spanBase)
        .select(col("id"), concat_ws(" ", (0 until 30).map(j =>
          concat(lit(s"w$j"), ((col("b") * 31 + j) * 2654435761L).cast("string"))): _*).as("text"))
        .repartition(cpus * 4)
      val t14 = System.nanoTime()
      val spanOut = graft.llm.Dedup.removeDuplicateSpans(spanDocs, "id",
          chunkTokens = 5)
        .agg(count(lit(1)), sum("n_removed"), sum("n_chunks")).head()
      val secs14 = (System.nanoTime() - t14) / 1e9
      val expectRemoved = (nSpanDocs - nUnique) * 6 // 30 tokens -> 6 chunks
      println(f"""{"metric":"scale_span_dedup","docs":${spanOut.getLong(0)},"chunks":${spanOut.getLong(2)},"removed":${spanOut.getLong(1)},"expect_removed":$expectRemoved,"sec":$secs14%.2f,"docs_per_sec":${(nSpanDocs / secs14).toLong}}""")
    }

    if (sel("label_prop")) {
      // label propagation at scale (q62's operator): 3 rounds on the same
      // 10M-edge affine multigraph as the pagerank section. Per round one
      // edge-wide neighbour join + two keyed aggs; the planted check is
      // community count <= vertex count and > 1.
      val nLpV = math.min(nTiles * 2, 2000000L)
      val lpEdges = spark.range(nLpV).select(col("id").as("src"),
          ((col("id") * 31 + 7) % nLpV).as("dst"))
        .union(spark.range(nLpV).select(col("id"),
          ((col("id") * 17 + 3) % nLpV).as("dst")))
        .union(spark.range(nLpV).select(col("id"),
          ((col("id") * 13 + 11) % nLpV).as("dst")))
        .union(spark.range(nLpV).select(col("id"),
          ((col("id") * 7 + 1) % nLpV).as("dst")))
        .union(spark.range(nLpV).select(col("id"),
          ((col("id") * 41 + 19) % nLpV).as("dst")))
        .repartition(cpus * 4)
      val t15 = System.nanoTime()
      val lp = graft.ops.Graph.labelPropagation(lpEdges, rounds = 3,
          localThreshold = 0)
        .agg(count(lit(1)), countDistinct(col("label"))).head()
      val secs15 = (System.nanoTime() - t15) / 1e9
      println(f"""{"metric":"scale_label_prop","edges":${nLpV * 5},"vertices":${lp.getLong(0)},"communities":${lp.getLong(1)},"rounds":3,"sec":$secs15%.2f,"edge_rounds_per_sec":${(nLpV * 15 / secs15).toLong}}""")
    }

    if (sel("stream_span_dedup")) {
      // STREAMING span dedup at scale (s16's operator): 900k docs arrive
      // as 3 ordered microbatches through the persisted seen-chunk index.
      // Measures the real streaming cost — per-batch index probe joins +
      // checkpoint commits — against the batch section's one-shot number.
      // Planted check: later batches repeat earlier batches' docs, so
      // removed chunks == the planted repeats exactly.
      val nStreamDocs = math.min(nTiles, 300000L)
      val root = java.nio.file.Files.createTempDirectory("sb_span").toString
      (0 until 3).foreach { b =>
        // batch b re-emits the first 20% of batch b-1's id space
        val lo = b * nStreamDocs
        val docs = spark.range(lo - (if (b > 0) nStreamDocs / 5 else 0L),
            lo + nStreamDocs)
          .select(col("id"), concat_ws(" ", (0 until 30).map(j =>
            concat(lit(s"w$j"), ((col("id") * 31 + j) * 2654435761L).cast("string"))): _*).as("text"))
        graft.streaming.Streaming.writeOrderedMicrobatch(docs, s"$root/in", b)
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      val t18 = System.nanoTime()
      graft.streaming.Streaming.spanDedupIngestStream(
          spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(s"$root/in"),
          s"$root/index", s"$root/ckpt", idCol = "id", chunkTokens = 5)(
          (clean, bid) => clean.write.mode("overwrite")
            .parquet(s"$root/out/batch=$bid"))
        .awaitTermination()
      val out = spark.read.parquet(s"$root/out")
        .agg(count(lit(1)), sum("n_removed")).head()
      val secs18 = (System.nanoTime() - t18) / 1e9
      val totalDocs = 3 * nStreamDocs + 2 * (nStreamDocs / 5)
      val expectRemoved = 2 * (nStreamDocs / 5) * 6 // re-emitted docs, 6 chunks each
      println(f"""{"metric":"scale_stream_span_dedup","docs":${out.getLong(0)},"expect_docs":$totalDocs,"removed":${out.getLong(1)},"expect_removed":$expectRemoved,"batches":3,"sec":$secs18%.2f,"docs_per_sec":${(totalDocs / secs18).toLong}}""")
    }

    if (sel("span_stream_bucketed")) {
      // the SAME streaming workload with the chunk-bucketed index table:
      // the per-batch probe join keeps the growing index side co-located
      // (no re-shuffle) — the production layout's measured effect.
      val nStreamDocs = math.min(nTiles, 300000L)
      val root = java.nio.file.Files.createTempDirectory("sb_spanb").toString
      val tbl = s"sb_span_idx_${System.nanoTime()}"
      (0 until 3).foreach { b =>
        val lo = b * nStreamDocs
        val docs = spark.range(lo - (if (b > 0) nStreamDocs / 5 else 0L),
            lo + nStreamDocs)
          .select(col("id"), concat_ws(" ", (0 until 30).map(j =>
            concat(lit(s"w$j"), ((col("id") * 31 + j) * 2654435761L).cast("string"))): _*).as("text"))
        graft.streaming.Streaming.writeOrderedMicrobatch(docs, s"$root/in", b)
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      val t19 = System.nanoTime()
      graft.streaming.Streaming.spanDedupIngestStream(
          spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(s"$root/in"),
          s"$root/unused", s"$root/ckpt", idCol = "id", chunkTokens = 5,
          bucketedIndexTable = Some(tbl), indexBuckets = 32)(
          (clean, bid) => clean.write.mode("overwrite")
            .parquet(s"$root/out/batch=$bid"))
        .awaitTermination()
      val out = spark.read.parquet(s"$root/out")
        .agg(count(lit(1)), sum("n_removed")).head()
      val secs19 = (System.nanoTime() - t19) / 1e9
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      val totalDocs = 3 * nStreamDocs + 2 * (nStreamDocs / 5)
      val expectRemoved = 2 * (nStreamDocs / 5) * 6
      println(f"""{"metric":"scale_span_stream_bucketed","docs":${out.getLong(0)},"expect_docs":$totalDocs,"removed":${out.getLong(1)},"expect_removed":$expectRemoved,"batches":3,"sec":$secs19%.2f,"docs_per_sec":${(totalDocs / secs19).toLong}}""")
    }

    if (sel("scd2")) {
      // SCD2 history rebuild at scale (q69's operator): 10M time-ordered
      // changes over 100k keys + a 100k-row current base — one lead window
      // per key builds the whole validity chain. Planted check: every key
      // has exactly (changes/key minus deletes) + base survivors, and
      // total versions = base + changes - deletes.
      val nCh = math.min(nTiles * 10, 10000000L)
      val nKeys = 100000L
      val scdBase = spark.range(nKeys).select(col("id").as("k"),
        (col("id") * 3).as("v"), lit(0L).as("valid_from"),
        lit(null).cast("long").as("valid_to"))
      val scdCh = spark.range(nCh).select((col("id") % nKeys).as("k"),
          (col("id") * 7 % 1000000L).as("v"),
          (col("id") + 1000L).as("ts"),
          when(col("id") % 17 === 0, "D").otherwise("U").as("op"))
        .repartition(cpus * 4)
      val t17 = System.nanoTime()
      val hist = graft.ops.Cdc.applyChangesetScd2(scdBase, scdCh,
          Seq("k"), Seq("v"), "ts", "op")
        .agg(count(lit(1)), sum(when(col("is_current"), 1L).otherwise(0L))).head()
      val secs17 = (System.nanoTime() - t17) / 1e9
      val nDel = (nCh + 16) / 17
      println(f"""{"metric":"scale_scd2","changes":$nCh,"keys":$nKeys,"versions":${hist.getLong(0)},"expect_versions":${nKeys + nCh - nDel},"current":${hist.getLong(1)},"sec":$secs17%.2f,"changes_per_sec":${(nCh / secs17).toLong}}""")
    }

    if (sel("sssp")) {
      // Bellman-Ford at scale (q63's operator): bounded 8-round relaxation
      // over the 10M-edge graph with integer weights; per round one edge
      // join + one min-agg + a 2-scalar convergence probe.
      val nSsV = math.min(nTiles * 2, 2000000L)
      val ssEdges = spark.range(nSsV).select(col("id").as("src"),
          ((col("id") * 31 + 7) % nSsV).as("dst"))
        .union(spark.range(nSsV).select(col("id"),
          ((col("id") * 17 + 3) % nSsV).as("dst")))
        .union(spark.range(nSsV).select(col("id"),
          ((col("id") * 13 + 11) % nSsV).as("dst")))
        .union(spark.range(nSsV).select(col("id"),
          ((col("id") * 7 + 1) % nSsV).as("dst")))
        .union(spark.range(nSsV).select(col("id"),
          ((col("id") * 41 + 19) % nSsV).as("dst")))
        .select(col("src"), col("dst"),
          ((col("src") * 7 + col("dst") * 3) % 20 + 1).as("w"))
        .repartition(cpus * 4)
      val t16 = System.nanoTime()
      val ss = graft.ops.Graph.shortestPaths(ssEdges,
          spark.range(3).select((col("id") + 1).as("v")), maxRounds = 8,
          localThreshold = 0)
        .agg(count(lit(1)), max(col("dist"))).head()
      val secs16 = (System.nanoTime() - t16) / 1e9
      println(f"""{"metric":"scale_sssp","edges":${nSsV * 5},"reached":${ss.getLong(0)},"max_dist":${ss.getLong(1)},"rounds":8,"sec":$secs16%.2f,"edge_rounds_per_sec":${(nSsV * 40 / secs16).toLong}}""")
    }

    if (sel("stream_boilerplate")) {
      // STREAMING boilerplate strip at scale (d42's operator): 3 ordered
      // microbatches fold per-chunk distinct-doc counts into the
      // versioned df map; the cleaned corpus is the VIEW over the final
      // map. Planted check: every doc carries one shared boilerplate
      // chunk (df = all docs, way past the threshold) plus two unique
      // chunks, so the view must strip exactly one chunk per doc.
      val nBpDocs = math.min(nTiles, 300000L)
      val rootBp = java.nio.file.Files.createTempDirectory("sb_bp").toString
      (0 until 3).foreach { b =>
        val docs = spark.range(b * nBpDocs, (b + 1) * nBpDocs)
          .select(col("id").as("doc_id"),
            concat(lit("bp1 bp2 ua"), col("id"), lit(" ub"), col("id"),
              lit(" wc"), col("id"), lit(" wd"), col("id")).as("text"))
        graft.streaming.Streaming.writeOrderedMicrobatch(docs, s"$rootBp/in", b)
      }
      val bpSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      val tBp = System.nanoTime()
      graft.streaming.Streaming.boilerplateStripStream(
          spark.readStream.schema(bpSchema)
            .option("maxFilesPerTrigger", "1").parquet(s"$rootBp/in"),
          s"$rootBp/state", s"$rootBp/ckpt", chunkTokens = 2)
        .awaitTermination()
      val view = graft.streaming.Streaming.boilerplateStripView(
        spark, s"$rootBp/state", minDocFrequency = 3)
      val agg = view.agg(count(lit(1)), sum("n_removed"), sum("n_chunks")).head()
      val secsBp = (System.nanoTime() - tBp) / 1e9
      val totalBp = 3 * nBpDocs
      require(agg.getLong(0) == totalBp && agg.getLong(1) == totalBp &&
        agg.getLong(2) == 3 * totalBp,
        s"planted boilerplate check failed: $agg vs ($totalBp, $totalBp, ${3 * totalBp})")
      println(f"""{"metric":"scale_stream_boilerplate","docs":$totalBp,"removed":${agg.getLong(1)},"batches":3,"df_map_rows":${2 * totalBp + 1},"sec":$secsBp%.2f,"docs_per_sec":${(totalBp / secsBp).toLong}}""")
    }

    if (sel("scc")) {
      // coloring/FW-BW SCC at scale, distributed path forced: 8-cycles
      // (n/8 planted SCCs) with STAR bridges 0 -> blockStart, so the
      // condensation is depth-2 and the outer loop settles in ~2 rounds —
      // rounds track condensation depth (the documented coloring-SCC
      // characteristic), while within a round every color class resolves
      // in parallel.
      val nScc = math.min(nTiles * 2, 2000000L)
      val sccV = spark.range(nScc).select(col("id").as("v"))
      val sccStart = expr("(v div 8) * 8")
      val sccEnd = least(sccStart + 7, lit(nScc - 1))
      val sccEdges = sccV.select(col("v").as("src"),
          when(col("v") === sccEnd, sccStart).otherwise(col("v") + 1).as("dst"))
        .union(sccV.filter(col("v") % 8 === 0 && col("v") > 0)
          .select(lit(0L).as("src"), col("v").as("dst")))
        .repartition(cpus * 4)
      val t18 = System.nanoTime()
      val scc = graft.ops.Graph.stronglyConnectedComponents(sccEdges,
        localThreshold = 0)
      val bad = scc.filter(col("component") =!= expr("(v div 8) * 8")).count()
      val nv = scc.count()
      val secs18 = (System.nanoTime() - t18) / 1e9
      require(bad == 0, s"SCC planted check failed: $bad mislabelled vertices")
      println(f"""{"metric":"scale_scc","vertices":$nv,"sccs":${(nScc + 7) / 8},"mislabelled":$bad,"sec":$secs18%.2f,"verts_per_sec":${(nv / secs18).toLong}}""")
    }

    if (sel("kcore")) {
      // k-core peeling at scale, planted q84 shape: per 8-vertex block an
      // m-clique (m = 3 + block%6) + a ≤5-vertex path hanging off it, so
      // the cascade depth per phase is bounded (the documented long-path
      // caveat does NOT apply to this shape) and coreness is known in
      // closed form for an exact planted check at 2M vertices.
      val nK = math.min(nTiles * 2, 2000000L)
      val full = (nK / 8) * 8
      val vvK = spark.range(full).select(col("id").as("v"),
          expr("id div 8").as("b"), (col("id") % 8).as("p"),
          expr("3 + (id div 8) % 6").as("m"))
        .repartition(cpus * 4)
      val clK = vvK.filter(col("p") < col("m"))
      val cliqueE = clK.select(col("b"), col("p").as("p1"), col("v").as("src"))
        .join(clK.select(col("b"), col("p").as("p2"), col("v").as("dst")), Seq("b"))
        .filter(col("p1") < col("p2")).select("src", "dst")
      val pathE = vvK.filter(col("p") >= col("m") - 1 && col("p") < 7)
        .select(col("v").as("src"), (col("v") + 1).as("dst"))
      val t19 = System.nanoTime()
      val core = graft.ops.Graph.kCoreness(cliqueE.unionByName(pathE),
        localThreshold = 0) // always the distributed peel at scale
      val badK = core.filter(col("coreness") =!=
        expr("CASE WHEN v % 8 < 3 + (v div 8) % 6 THEN 2 + (v div 8) % 6 ELSE 1 END")).count()
      val nvK = core.count()
      val secs19 = (System.nanoTime() - t19) / 1e9
      require(badK == 0, s"kcore planted check failed: $badK mislabelled vertices")
      require(nvK == full, s"kcore emitted $nvK of $full vertices")
      println(f"""{"metric":"scale_kcore","vertices":$full,"bad":$badK,"sec":$secs19%.2f,"vertices_per_sec":${(full / secs19).toLong}}""")
    }

    if (sel("unigram")) {
      // Unigram-LM Viterbi segmentation at 10M words (d77's operator):
      // the corpus cycles a 6-word working set through the d77-style
      // vocab, so the expected total cost and piece count are closed
      // form — the 10M-row distributed result must equal the driver's
      // 6-word segmentation times the multiplicities. Per-word DP is a
      // narrow map over a broadcast vocab: throughput scales with cores.
      val vocabU: Map[String, Long] =
        (0 until 26).map(i => ('a' + i).toChar.toString -> (101L + i)).toMap ++
          Map("ta" -> 150L, "ble" -> 160L, "table" -> 340L, "str" -> 140L,
            "eam" -> 145L, "win" -> 130L, "dow" -> 135L, "er" -> 90L)
      val wordsU = Seq("table", "stream", "window", "filter", "merge", "batch")
      val nU = math.min(nTiles * 10, 10000000L)
      val arrU = array(wordsU.map(lit): _*)
      val dfU = spark.range(nU)
        .select(element_at(arrU, (col("id") % wordsU.size).cast("int") + 1)
          .as("word"))
        .repartition(cpus * 4)
      val tU = System.nanoTime()
      val segU = graft.llm.Unigram.segmentWords(dfU, "word", vocabU)
        .agg(sum(col("cost")), sum(col("n_pieces")), count(lit(1))).head()
      val secsU = (System.nanoTime() - tU) / 1e9
      // driver twin: segment the 6 distinct words once, scale by counts
      import spark.implicits._
      val one = graft.llm.Unigram.segmentWords(
          wordsU.toDF("word"), "word", vocabU)
        .select("word", "cost", "n_pieces")
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val perWord = (0 until wordsU.size).map(i => nU / wordsU.size +
        (if (i < nU % wordsU.size) 1L else 0L))
      val expCost = wordsU.zipWithIndex.map { case (w, i) => one(w)._1 * perWord(i) }.sum
      val expPieces = wordsU.zipWithIndex.map { case (w, i) => one(w)._2 * perWord(i) }.sum
      require(segU.getLong(0) == expCost && segU.getLong(1) == expPieces,
        s"unigram planted check failed: (${segU.getLong(0)},${segU.getLong(1)}) " +
          s"vs ($expCost,$expPieces)")
      println(f"""{"metric":"scale_unigram","words":$nU,"sec":$secsU%.2f,"words_per_sec":${(nU / secsU).toLong}}""")
    }

    if (sel("link_prediction")) {
      // q95's operator at 2M vertices, planted star blocks with closed-form
      // scores: per 5-vertex block a center c and 4 leaves, edges c-leaf
      // only. Every leaf pair is a predicted non-edge with cn = 1 and
      // ra_e12 = 10^12 div 4 = 250000000000; there are C(4,2) = 6 per
      // block and nothing across blocks. Degrees are bounded (4), so the
      // wedge budget Σ deg² is linear in blocks — the shape that scales.
      val nLp = math.min(nTiles * 2, 2000000L)
      val blocks = (nLp / 5)
      val vLp = spark.range(blocks * 5).select(col("id").as("v"),
          expr("id div 5").as("b"), (col("id") % 5).as("p"))
        .repartition(cpus * 4)
      val starE = vLp.filter(col("p") > 0)
        .select((col("b") * 5).as("src"), col("v").as("dst"))
      val tLp = System.nanoTime()
      val pred = graft.ops.Graph.linkPrediction(starE)
      val aggLp = pred.agg(count(lit(1)),
        sum(when(col("cn") === 1L && col("ra_e12") === 250000000000L, 0L)
          .otherwise(1L))).head()
      val secsLp = (System.nanoTime() - tLp) / 1e9
      require(aggLp.getLong(0) == blocks * 6,
        s"link_prediction planted check failed: ${aggLp.getLong(0)} pairs vs ${blocks * 6}")
      require(aggLp.getLong(1) == 0L,
        s"link_prediction planted check failed: ${aggLp.getLong(1)} rows with wrong scores")
      println(f"""{"metric":"scale_link_prediction","vertices":${blocks * 5},"pairs":${aggLp.getLong(0)},"sec":$secsLp%.2f,"vertices_per_sec":${(blocks * 5 / secsLp).toLong}}""")
    }

    if (sel("phrase_search")) {
      // d74's positional intersection at 1M documents: every 97th doc
      // carries the planted phrase twice (once mid-doc, once at the end),
      // everything else is doc-unique filler the dictionary join discards
      // at the scan. Expected matches and occurrence counts are closed
      // form, and only planted-token postings survive the broadcast join —
      // the property that keeps the votes shuffle output-bound at 100 TB.
      val nPs = math.min(nTiles, 1000000L)
      val docsPs = spark.range(nPs).select(col("id").as("doc_id"),
          when(col("id") % 97 === 0, concat(lit("alpha beta gamma pad"),
            col("id").cast("string"), lit(" mid alpha beta gamma")))
            .otherwise(concat(lit("pad"), col("id").cast("string"),
              lit(" filler"), (col("id") % 13).cast("string"))).as("text"))
        .repartition(cpus * 4)
        .localCheckpoint(false)
      val tPs = System.nanoTime()
      val hits = graft.llm.PhraseSearch.search(
        docsPs, "doc_id", "text", Seq("alpha beta gamma"))
      val aggPs = hits.agg(count(lit(1)),
        sum(when(col("n_occ") === 2L && col("first_pos") === 1L, 0L)
          .otherwise(1L))).head()
      val secsPs = (System.nanoTime() - tPs) / 1e9
      val expectPs = (nPs + 96) / 97
      require(aggPs.getLong(0) == expectPs,
        s"phrase_search planted check failed: ${aggPs.getLong(0)} docs vs $expectPs")
      require(aggPs.getLong(1) == 0L,
        s"phrase_search planted check failed: ${aggPs.getLong(1)} wrong rows")
      println(f"""{"metric":"scale_phrase_search","docs":$nPs,"matched":${aggPs.getLong(0)},"sec":$secsPs%.2f,"docs_per_sec":${(nPs / secsPs).toLong}}""")
    }

    if (sel("hierarchy")) {
      // subtree rollup at scale (q79's operator): the parent(k) = k/2
      // forest over 2M nodes is ~21 levels deep, so the upward
      // accumulation runs ~21 bounded rounds with the moving set
      // shrinking geometrically. Planted check: total delivered mass =
      // Σ_v value(v)·(depth(v)+1), computable in closed form per node.
      val nH = math.min(nTiles * 2, 2000000L)
      val hNodes = spark.range(1, nH + 1).select(col("id").as("v"))
        .withColumn("value", col("v"))
        .repartition(cpus * 4)
      val hEdges = hNodes.filter(col("v") >= 2)
        .select(col("v").as("child"), expr("v div 2").as("parent"))
      val tH = System.nanoTime()
      val rolled = graft.ops.Hierarchy.subtreeSum(hEdges, hNodes)
      val total = rolled.agg(sum(col("subtree_sum"))).head().getLong(0)
      val secsH = (System.nanoTime() - tH) / 1e9
      // each node's value is delivered once per ancestor incl. itself:
      // Σ_v v·(floor(log2 v) + 1), exact integer fold on the driver side
      var expectTotal = 0L
      var lo = 1L; var depth = 0L
      while (lo <= nH) {
        val hi = math.min(lo * 2 - 1, nH)
        // Σ of consecutive range lo..hi times (depth+1)
        expectTotal += (lo + hi) * (hi - lo + 1) / 2 * (depth + 1)
        lo *= 2; depth += 1
      }
      require(total == expectTotal,
        s"hierarchy planted check failed: $total vs $expectTotal")
      println(f"""{"metric":"scale_hierarchy","nodes":$nH,"depth":${depth},"total_mass":$total,"sec":$secsH%.2f,"nodes_per_sec":${(nH / secsH).toLong}}""")
    }

    if (sel("entropy_vocab")) {
      // unigramEntropy at a 10^7-distinct-token vocabulary — the workload
      // that OOM'd the pre-round-8 single whole-vocab collect_list fold.
      // The two-level md5-bucket fold caps every aggregation buffer at
      // ~|vocab per source|/4096 structs; the planted check is the
      // order-free closed form H = ln N - (sum c*ln c)/N, which the
      // ordered fold must match to ~1e-9 relative at this scale.
      val nVocab = math.max(nTiles * 10, 10000000L)
      val counts = spark.range(nVocab).select(
          concat(lit("s"), col("id") % 4).as("source"),
          concat(lit("w"), col("id")).as("w"),
          (col("id") % 7 + 1).as("c"))
        .repartition(cpus * 4)
        .localCheckpoint()
      val t17 = System.nanoTime()
      val ent = graft.llm.TextAnalysis.unigramEntropy(counts)
        .select(col("source"), col("entropy")).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      val secs17 = (System.nanoTime() - t17) / 1e9
      // tolerance, not exact equality: the closed form's sum() accumulates
      // in partition order (nondeterministic bits), and ent is rounded to
      // 4 dp — a true value near a 0.00005 boundary could flip one side
      val closed = counts.groupBy("source")
        .agg(sum(col("c")).as("n"),
          sum(col("c").cast("double") * log(col("c").cast("double"))).as("clc"))
        .select(col("source"),
          (log(col("n").cast("double")) - col("clc") / col("n")).as("h"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      require(ent.keySet == closed.keySet &&
        ent.forall { case (k, v) => math.abs(v - closed(k)) <= 6e-5 },
        s"entropy drifted from closed form: $ent vs $closed")
      // peak buffer bound: the largest (source, bucket) group, measured
      val maxBucket = counts
        .groupBy(col("source"), substring(md5(col("w").cast("binary")), 1, 3).as("bk"))
        .agg(count(lit(1)).as("n")).agg(max(col("n"))).head().getLong(0)
      println(f"""{"metric":"scale_entropy_vocab","vocab":$nVocab,"sources":4,"max_bucket_rows":$maxBucket,"sec":$secs17%.2f,"tokens_per_sec":${(nVocab / secs17).toLong}}""")
    }
    if (sel("wordpiece")) {
      // WordPiece at corpus scale: 10M tokens drawn (xxhash64-mixed) from
      // 400 two-piece words over a 40-piece vocab. The operator's claim
      // is corpus-size INDEPENDENCE of the string work — segmentation
      // runs once per DISTINCT word (400), never per token — so the cost
      // here is the token-count aggregate, not the greedy matcher. The
      // planted structure is exact: every word is exactly two vocab
      // pieces, so Σ piece counts = 2 · tokens, the piece vocabulary
      // closes at 40, and zero [UNK] may appear.
      val nTok = math.max(nTiles * 10, 10000000L)
      val first = (0 until 20).map(i => s"a${('a' + i).toChar}")
      val cont = (0 until 20).map(i => s"b${('a' + i).toChar}")
      val vocab = first ++ cont.map("##" + _)
      val wordArr = for (f <- first; c <- cont) yield f + c
      val docs = spark.range(nTok / 100).select(col("id").as("doc_id"),
          concat_ws(" ", (0 until 100).map(j =>
            element_at(lit(wordArr.toArray),
              (pmod(xxhash64(col("id"), lit(j)), lit(400)) + 1).cast("int"))): _*)
            .as("text"))
        .repartition(cpus * 4)
        .localCheckpoint(false)
      val t18 = System.nanoTime()
      val pieces = graft.llm.WordPiece.pieceCounts(docs, "text", vocab)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val secs18 = (System.nanoTime() - t18) / 1e9
      require(!pieces.contains("[UNK]"), "planted words must all segment")
      require(pieces.size == 40, s"piece vocabulary must close at 40: ${pieces.size}")
      require(pieces.values.sum == 2L * nTok,
        s"piece mass ${pieces.values.sum} != 2 x $nTok tokens")
      println(f"""{"metric":"scale_wordpiece","tokens":$nTok,"distinct_words":400,"pieces":${pieces.size},"sec":$secs18%.2f,"tokens_per_sec":${(nTok / secs18).toLong}}""")
    }
    if (sel("blocklist")) {
      // Aho-Corasick blocklist at corpus scale: nTiles docs (~420 B each)
      // against a 1000-phrase list in ONE pass — the d67 operator's 100 TB
      // claim. K contains() scans would read the text 1000x; the automaton
      // reads it once, so throughput is bytes/sec independent of pattern
      // count. Planted structure is exact: every 5th doc carries exactly
      // one phrase, cycling through patterns 0..199 (each hit exactly
      // nDocs/1000 times when nDocs % 1000 == 0); patterns 200..999 never
      // occur (dead automaton states walked on every byte).
      val nDocs = math.max(nTiles, 1000000L)
      val pats = (0 until 1000).map(i => s"blk$i phrase")
      val filler = Array.fill(20)("lorem filler tokens alpha beta").mkString(" ")
      val patArr = lit(pats.toArray)
      val docs = spark.range(nDocs).select(col("id"),
          when(col("id") % 5 === 0,
            concat(lit(filler + " "),
              element_at(patArr, ((col("id") / 5) % 200 + 1).cast("int")),
              lit(" " + filler)))
            .otherwise(lit(filler + " " + filler)).as("text"))
        .repartition(cpus * 4)
        .localCheckpoint(false)
      val t19 = System.nanoTime()
      val screened = docs.select(col("id"),
        graft.llm.TextAnalysis.blocklistFirstHit(col("text"), pats).as("hit"),
        graft.llm.TextAnalysis.blocklistHitCount(col("text"), pats).as("n"))
      val agg = screened.agg(
        sum(when(col("hit") >= 0, 1L).otherwise(0L)),
        sum(col("n").cast("long")),
        count_distinct(when(col("hit") >= 0, col("hit")))).head()
      val secs19 = (System.nanoTime() - t19) / 1e9
      val expFlag = (nDocs + 4) / 5
      require(agg.getLong(0) == expFlag,
        s"flagged ${agg.getLong(0)} != planted $expFlag")
      require(agg.getLong(1) == expFlag,
        s"hit mass ${agg.getLong(1)} != $expFlag (each flagged doc plants exactly one)")
      require(agg.getLong(2) == 200L,
        s"distinct first-hit patterns ${agg.getLong(2)} != 200 planted")
      val bytes = nDocs * (2L * filler.length + 14)
      println(f"""{"metric":"scale_blocklist","docs":$nDocs,"patterns":1000,"flagged":${agg.getLong(0)},"sec":$secs19%.2f,"docs_per_sec":${(nDocs / secs19).toLong},"mb_per_sec":${(bytes / secs19 / 1e6).toLong}}""")
    }
    if (sel("perplexity")) {
      // d66's scale shape: a vocab-bounded KN model (broadcast) scoring
      // nTiles docs — explode -> broadcast-join -> per-doc fold, zero
      // wide shuffles of text. The planted corpus draws bigrams from a
      // closed 200-word vocabulary so the model covers everything:
      // n_oov must be exactly 0 and every doc must emit a score.
      val nDocs2 = math.max(nTiles / 2, 500000L)
      val vocabArr = (0 until 200).map(i => s"v$i").toArray
      val mk = (0 until 30).map(j =>
        element_at(lit(vocabArr), (pmod(xxhash64(col("id"), lit(j)), lit(200)) + 1).cast("int")))
      val docs2 = spark.range(nDocs2)
        .select(col("id").as("doc_id"), concat_ws(" ", mk: _*).as("text"))
        .repartition(cpus * 4)
        .localCheckpoint(false)
      val t20 = System.nanoTime()
      val model = graft.llm.TextAnalysis.kneserNeyBigram(
        docs2.filter(col("doc_id") % 100 < 10), "text", minCount = 1)
      val scored = graft.llm.TextAnalysis.kneserNeyPerplexity(docs2, model)
      val a2 = scored.agg(count(lit(1)), sum(col("n_oov")),
        min(col("avg_nll")), max(col("avg_nll"))).head()
      val secs20 = (System.nanoTime() - t20) / 1e9
      require(a2.getLong(0) == nDocs2, s"scored ${a2.getLong(0)} != $nDocs2 docs")
      require(a2.getLong(1) == 0L,
        s"closed-vocab corpus must have zero OOV bigrams, got ${a2.getLong(1)}")
      require(a2.getDouble(2) > 0 && a2.getDouble(3) < 20,
        s"avg_nll out of sane range: ${a2.getDouble(2)}..${a2.getDouble(3)}")
      println(f"""{"metric":"scale_perplexity","docs":$nDocs2,"model_bigrams":"<=40k","sec":$secs20%.2f,"docs_per_sec":${(nDocs2 / secs20).toLong}}""")
    }

    if (sel("global_rank")) {
      // the round-12 single-task-window replacement at vocabulary scale:
      // rank 10M distinct keys. The correctness gate is exact — the
      // GlobalRank result must equal the closed form (ids are a known
      // permutation: rank of x in 0..n-1 under the bit-reversal-ish
      // shuffle below is recomputable per row), checked by a full
      // anti-join, not a sample. Also prefix-sum: offsets must equal
      // rank·(rank−1)/2 when the summed value equals the rank itself.
      val n = math.min(nTiles * 10, 10000000L)
      // a deterministic permutation of 0..n-1 as the unsorted input
      val perm = spark.range(n)
        .select((col("id") * 2654435761L % n).as("k0"), col("id"))
        .groupBy("k0").agg(min("id").as("key")) // dedup collisions of the mult hash
        .select(col("key"))
        .repartition(cpus * 4)
        .localCheckpoint(false)
      val nDistinct = perm.count()
      val t21 = System.nanoTime()
      val ranked = graft.ops.GlobalRank.withGlobalRank(perm, "rk", col("key"))
      // rank must equal (1-based) position of key in the sorted distinct
      // key set; keys here ARE a subset of 0..n-1, so verify monotone
      // bijection rank<->key order via pair fingerprints: sum of rk over
      // all rows = nDistinct(nDistinct+1)/2 AND max(|rk_gap|) respects
      // order — checked with one agg over a self-ordered lag-free form:
      // min/max rank, rank count distinct == n, and order violations = 0
      val viol = ranked.select(col("key"), col("rk"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("rk")).as("nd"),
          min("rk").as("lo"), max("rk").as("hi"),
          sum(col("rk")).as("s")).head()
      val secs21 = (System.nanoTime() - t21) / 1e9
      require(viol.getLong(0) == nDistinct && viol.getLong(1) == nDistinct &&
        viol.getLong(2) == 1L && viol.getLong(3) == nDistinct &&
        viol.getLong(4) == nDistinct * (nDistinct + 1) / 2,
        s"globalRank fingerprint broken: $viol")
      // order correctness: rank must be monotone in key — ranking the
      // ranks by key must reproduce them (idempotence under a second
      // independent range partitioning). Full anti-join, zero rows.
      val again = graft.ops.GlobalRank.withGlobalRank(
        ranked.select(col("key"), col("rk").as("rk1")), "rk2", col("key"))
      val bad = again.filter(col("rk1") =!= col("rk2")).count()
      require(bad == 0L, s"globalRank not order-stable: $bad mismatches")
      println(f"""{"metric":"scale_global_rank","keys":$nDistinct,"sec":$secs21%.2f,"keys_per_sec":${(nDistinct / secs21).toLong}}""")
    }
    spark.stop()
  }
}
