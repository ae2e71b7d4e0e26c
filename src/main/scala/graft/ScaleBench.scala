package graft

import graft.ops.SpatialJoin
import graft.pipeline.{Constants, SyntheticScenario, TileUniverse}
import graft.util.TempDirs
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import java.util.Locale
import scala.util.control.NonFatal

/** One [[ScaleBench]] case, printed as the metric `scale_<name>`.
  *
  * `build` makes the inputs from the session, the size `n` and the core
  * count; it is not timed. Adjacent cases declared with the same `build`
  * value share one build. `run` is the timed part. `check`, when there is
  * one, throws when the run's planted answer is wrong. */
final class ScaleCase[I, R] private (val name: String,
                                     val build: (SparkSession, Long, Int) => I,
                                     val run: I => ScaleCase.Out[R],
                                     val check: Option[(I, R) => Unit]) {
  def checked(f: (I, R) => Unit): ScaleCase[I, R] = new ScaleCase(name, build, run, Some(f))
}

object ScaleCase {
  def apply[I, R](name: String)(build: (SparkSession, Long, Int) => I)(
      run: I => Out[R]): ScaleCase[I, R] = new ScaleCase(name, build, run, None)

  /** What a timed run returns: the line's fields in print order, each rate
    * field with the units of work the loop divides by `sec`, and the value
    * the check reads. A field value given as a function is evaluated once
    * the timer has stopped. */
  final case class Out[+R](fields: Seq[(String, Any)], rates: Seq[(String, Long)], result: R) {
    def keeping[S](r: S): Out[S] = Out(fields, rates, r)
  }

  def out(fields: (String, Any)*)(rates: (String, Long)*): Out[Unit] = Out(fields, rates, ())
}

/**
 * Scale benchmark: the operators' hot paths at corpus scale, one JSON line
 * per case on stdout. `SPARK_GRAFT_TILES` sets the size `n` (default 10⁶);
 * each case derives its own sizes from it, and at the default every size is
 * the one PERF.md's tables were measured at. Optional args are substring
 * filters over the case names, so one shape can be re-measured without
 * paying for the whole suite.
 *
 * The probability join is the workload whose shape must survive 100 TB:
 * tile generation and the join are both narrow (no shuffle), so throughput
 * scales with cores.
 */
object ScaleBench {
  import ScaleCase.out

  private val dimV = 64

  /** The (id, text) microbatch schema the streaming cases read. */
  private def idText(idCol: String): StructType =
    StructType(Seq(StructField(idCol, LongType), StructField("text", StringType)))

  /** Writes `batch(0..2)` as three ordered microbatches under `dir`. */
  private def microbatches(dir: String)(batch: Int => DataFrame): Unit =
    (0 until 3).foreach(b => graft.streaming.Streaming.writeOrderedMicrobatch(batch(b), dir, b))

  /** A 30-word document per `base` whose word values are injective in the
    * base and mixed by a large prime, so the vocabulary is diverse. */
  private def words30(base: Column): Column =
    concat_ws(" ", (0 until 30).map(j =>
      concat(lit(s"w$j"), ((base * 31 + j) * 2654435761L).cast("string"))): _*)

  /** 64-dim vectors with xxhash64-decorrelated coordinates per base `b`:
    * every (base, dim) gets an INDEPENDENT uniform value, so distinct bases
    * have cosine ~N(0,1/64). Rows at or past `twinsFrom` get dim 0 nudged by
    * 0.001, a near-identical twin (cosine ≈ 0.99999) of their base. */
  private def hashedVectors(ids: DataFrame, twinsFrom: Long, cpus: Int): DataFrame =
    ids.select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dimV - 1)), j =>
          (pmod(xxhash64(col("b"), j), lit(1000L)).cast("double") / 500.0 - 1.0 +
            when(col("id") >= twinsFrom && j === lit(0), lit(0.001))
              .otherwise(lit(0.0))).cast("float")).as("embedding"))
      .repartition(cpus * 4)
      .localCheckpoint(false)

  /** `n` source ids with five affine out-edges each: the 10M-edge
    * multigraph of the pagerank, label_prop and sssp cases. */
  private def affineEdges(spark: SparkSession, n: Long): DataFrame =
    Seq((31L, 7L), (17L, 3L), (13L, 11L), (7L, 1L), (41L, 19L))
      .map { case (a, b) =>
        spark.range(n).select(col("id").as("src"), ((col("id") * a + b) % n).as("dst"))
      }.reduce(_.unionByName(_))

  // STREAMING span dedup (s16's operator): n docs per microbatch, 3 ordered
  // microbatches, where batch b re-emits the first 20% of batch b-1's id
  // space. Planted check: removed chunks == the planted repeats exactly.
  private val spanStream = (spark: SparkSession, n: Long, _: Int) => {
    val nStreamDocs = math.min(n, 300000L)
    val root = TempDirs.scratch("sb_span")
    microbatches(s"$root/in") { b =>
      val lo = b * nStreamDocs
      spark.range(lo - (if (b > 0) nStreamDocs / 5 else 0L), lo + nStreamDocs)
        .select(col("id"), words30(col("id")).as("text"))
    }
    (spark, nStreamDocs, root)
  }

  /** Runs s16's ingest over [[spanStream]]'s microbatches into `dir`. */
  private def spanStreamRun(spark: SparkSession, nStreamDocs: Long, root: String, dir: String,
                            bucketedIndexTable: Option[String]): ScaleCase.Out[(Long, Long, Long, Long)] = {
    graft.streaming.Streaming.spanDedupIngestStream(
        spark.readStream.schema(idText("id"))
          .option("maxFilesPerTrigger", "1").parquet(s"$root/in"),
        s"$dir/index", s"$dir/ckpt", idCol = "id", chunkTokens = 5,
        bucketedIndexTable = bucketedIndexTable, indexBuckets = 32)(
        (clean, bid) => clean.write.mode("overwrite")
          .parquet(s"$dir/out/batch=$bid"))
      .awaitTermination()
    val got = spark.read.parquet(s"$dir/out")
      .agg(count(lit(1)), sum("n_removed")).head()
    val totalDocs = 3 * nStreamDocs + 2 * (nStreamDocs / 5)
    val expectRemoved = 2 * (nStreamDocs / 5) * 6 // re-emitted docs, 6 chunks each
    out("docs" -> got.getLong(0), "expect_docs" -> totalDocs, "removed" -> got.getLong(1),
      "expect_removed" -> expectRemoved, "batches" -> 3)("docs_per_sec" -> totalDocs)
      .keeping((got.getLong(0), totalDocs, got.getLong(1), expectRemoved))
  }

  private val spanStreamCheck: ((SparkSession, Long, String), (Long, Long, Long, Long)) => Unit = {
    case (_, (docs, expectDocs, removed, expectRemoved)) =>
      require(docs == expectDocs && removed == expectRemoved,
        s"planted span check failed: docs $docs vs $expectDocs, removed $removed vs $expectRemoved")
  }

  // ANN at corpus scale: 1M 64-dim vectors, shared by the two ANN cases.
  // Vectors localCheckpoint, not cache: columnar-caching array columns pays
  // per-element encoding.
  private val annVectors = (spark: SparkSession, n: Long, cpus: Int) => {
    val nVecs = math.min(n * 2, 1000000L)
    (nVecs, spark.range(nVecs).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dimV - 1)),
          j => sin((col("id") % 100000) * (j + 1) * 0.0001).cast("float")).as("embedding"))
      .repartition(cpus * 4)
      .localCheckpoint(false))
  }

  val cases: Seq[ScaleCase[_, _]] = Seq(
    ScaleCase("probability_join") { (spark, n, cpus) =>
      // N tiles × 51-member × 5-threshold envelope set → per-(tile,
      // threshold) probability + E_ values; a bbox sized to ~n zoom-14
      // tiles (square-ish)
      val side = math.sqrt(n.toDouble).ceil.toInt
      val degPerTile = 360.0 / (1 << 14)
      val (minLon, minLat) = (-72.0, 10.0)
      val tiles = TileUniverse.generate(spark, 14,
        minLon, minLat, minLon + side * degPerTile, minLat + side * degPerTile * 0.8)
        .repartition(cpus * 4)
      val envs = SyntheticScenario.envelopes(spark, members = 51,
        thresholds = Constants.WindThresholds.take(5),
        anchorLon = minLon + side * degPerTile / 2,
        anchorLat = minLat + side * degPerTile * 0.4)
      (tiles.count(), tiles, envs)
    } { case (nGen, tiles, envs) =>
      val hits = SpatialJoin.probabilityByThreshold(tiles, "geometry", envs, "geometry",
        keepZeroRows = false).agg(count(lit(1)), sum("n_members")).head()
      out("tiles" -> nGen, "envelopes" -> 51 * 5, "hit_rows" -> hits.getLong(0),
        "member_hits" -> hits.getLong(1))("tiles_per_sec" -> nGen)
    },

    ScaleCase("wind_field") { (spark, n, cpus) =>
      // wind-field construction (S3): narrow per-row quadrant-arc polygons —
      // the other per-row geometry hot path; scales with cores like the join
      val nPoints = math.min(n, 2000000L)
      (nPoints, spark.range(nPoints).select(
        col("id"),
        (lit(-72.0) + (col("id") % 1000) * lit(0.001)).as("longitude"),
        (lit(18.0) + (col("id") % 800) * lit(0.001)).as("latitude"),
        (col("id") % 97).cast("double").as("radius_34_knot_winds_ne_km"),
        (col("id") % 89).cast("double").as("radius_34_knot_winds_se_km"),
        (col("id") % 83).cast("double").as("radius_34_knot_winds_sw_km"),
        (col("id") % 79).cast("double").as("radius_34_knot_winds_nw_km"))
        .repartition(cpus * 4))
    } { case (nPoints, pts) =>
      val nPolys = graft.ops.Tracks.withWindFields(pts)
        .filter(col("wind_field_polygon_34kt").isNotNull).count()
      out("points" -> nPoints, "polygons" -> nPolys)("points_per_sec" -> nPoints)
    },

    ScaleCase("related_table_flatten") { (spark, _, _) =>
      // related-table flatten (S17): many small per-(storm,threshold,level)
      // CSVs → one long frame. The scale property under test: plan depth is
      // the number of DISTINCT HEADERS (3 here), not the number of files, so
      // a thousand-storm backfill stays a handful of multi-path scans.
      val nFiles = 300
      val rowsPerFile = 500
      val store = new graft.io.DataStore(
        java.nio.file.Files.createTempDirectory("graft_rt_scale").toString)
      // three header groups: full metrics, no-facilities, population-only
      val headers = Seq(
        "tile_id,E_population,E_built_surface_m2,E_num_schools,probability",
        "tile_id,E_population,E_built_surface_m2,probability",
        "tile_id,E_population,probability")
      (0 until nFiles).foreach { i =>
        val name = s"PHL_STORM${"%02d".format(i % 40)}_202601${"%02d".format((i % 28) + 1)}000000_" +
          s"${Seq(34, 50, 64)(i % 3)}_admin${(i % 3) + 1}.csv"
        val h = headers(i % headers.size)
        val nCols = h.count(_ == ',')
        val body = (0 until rowsPerFile).map { r =>
          (Seq(s"t$r") ++ (1 to nCols).map(c => ((r * c) % 1000).toString)).mkString(",")
        }.mkString("\n")
        store.writeText(s"admin_impact_views/$name", h + "\n" + body)
      }
      (spark, store, headers.size)
    } { case (spark, store, headerGroups) =>
      val discovered = graft.io.RelatedTable.discover(store)
      val nRows = graft.io.RelatedTable.rows(spark, store, discovered)
        .agg(count(lit(1))).head().getLong(0)
      store.remove("") // 300 small files: milliseconds beside the flatten
      out("files" -> discovered.size, "rows" -> nRows,
        "header_groups" -> headerGroups)("rows_per_sec" -> nRows)
    },

    ScaleCase("minhash_signature") { (spark, n, cpus) =>
      // minhash signature (dedup hot path): one narrow UDF pass computing all
      // 64 hash minima per ~200-char document — the per-row cost that
      // dominates corpus dedup; scales with cores, no shuffle
      spark.range(math.min(n, 500000L)).select(col("id"),
        concat_ws(" ", (0 until 30).map(j =>
          concat(lit(s"w$j"), ((col("id") * (j + 7)) % 1000).cast("string"))): _*).as("text"))
        .repartition(cpus * 4)
    } { docs =>
      val nSigs = docs
        .select(graft.llm.Dedup.minhashSignature(col("text"), 5, 64).as("sig"))
        .filter(size(col("sig")) === 64).count()
      out("docs" -> nSigs, "hashes" -> 64)("docs_per_sec" -> nSigs)
    },

    ScaleCase("asof_join") { (spark, n, cpus) =>
      // as-of join (union + one window pass): left = 8x the right side,
      // 100k keys — the shape that replaces a per-key cross product; cost
      // must stay linear in |left| + |right|
      val nEvents = math.min(n * 10, 10000000L)
      val lefts = spark.range(nEvents).select(
        (col("id") % 100000).as("k"), col("id").as("lid"),
        ((col("id") * 37L) % 1000000000L).as("lt"))
        .repartition(cpus * 4)
      val rights = spark.range(nEvents / 8).select(
        (col("id") % 100000).as("k"), col("id").as("rid"),
        ((col("id") * 293L) % 1000000000L).as("rt"))
      (nEvents, lefts, rights)
    } { case (nEvents, lefts, rights) =>
      val nAsof = graft.ops.Deltas.asofJoin(lefts, rights, Seq("k"),
          leftTime = "lt", rightTime = "rt", payload = Seq("rid"))
        .agg(count(col("asof_rid"))).head().getLong(0)
      out("left_rows" -> nEvents, "right_rows" -> nEvents / 8,
        "matched" -> nAsof)("rows_per_sec" -> nEvents)
    },

    ScaleCase("minhash_lsh_pairs") { (spark, n, cpus) =>
      // MinHash-LSH END TO END (signature + band explode + bucket join + pair
      // agg) with a 20% planted duplicate rate — the d04 shape at 100x the
      // bench corpus. The property under test: candidate pairs stay
      // output-bound (planted dup groups), so cost is dominated by the narrow
      // signature pass and stays linear in docs. A low-entropy generator —
      // few distinct words — would inflate candidate pairs quadratically
      // through noise buckets and benchmark the verify step's worst case
      // rather than a realistic corpus.
      val nLshDocs = math.min(n, 500000L)
      (nLshDocs, spark.range(nLshDocs).select(col("id"), (col("id") % (nLshDocs * 4 / 5)).as("b"))
        .select(col("id"), words30(col("b")).as("text"))
        .repartition(cpus * 4))
    } { case (nLshDocs, lshDocs) =>
      val nPairs = graft.llm.Dedup.minhashLsh(lshDocs, "id", minEstJaccard = 0.5)
        .agg(count(lit(1))).head().getLong(0)
      out("docs" -> nLshDocs, "pairs" -> nPairs)("docs_per_sec" -> nLshDocs)
    },

    ScaleCase("lsh_skew_cap") { (spark, n, cpus) =>
      // SKEW TRIGGER for the LSH bucket cap (Dedup.minhashLsh
      // maxBucketSize): 30% of the corpus is one byte-identical
      // boilerplate clique — the "empty page served 120k times" crawl
      // pathology. Every clique doc lands in the SAME bucket in every
      // band, so without the cap the clique alone would contribute
      // ~(0.3n)²/2 candidate pairs (7e9 at n=400k — the run would not
      // finish). The case proves three things: the planted bucket
      // actually exceeds the cap (the skew is real), the capped run
      // emits ZERO clique pairs (the cap engaged — dropped, by the
      // documented contract that mass-identical cliques belong to exact
      // dedup), and recall over planted HONEST near-dup twins in small
      // buckets stays ≥ 0.95 (no collateral damage).
      val docsN = math.min(n, 400000L)
      val clique = docsN * 3 / 10
      val boiler = (0 until 40).map(j => s"boiler$j").mkString(" ")
      // twins (2k, 2k+1): 40 shared salted words, the last word differs →
      // shingle jaccard ≈ 0.76, est ≥ 0.5 with ≥1 band collision w.p. ~0.998
      val docs = spark.range(docsN).select(col("id"),
        when(col("id") < clique, lit(boiler))
          .otherwise(concat(
            concat_ws(" ", (0 until 39).map(j =>
              concat(lit(s"w$j"), (((col("id") - clique) / 2).cast("long") * 31 + j)
                .cast("long").*(2654435761L).cast("string"))): _*),
            lit(" tail"), col("id").cast("string")))
          .as("text"))
        .repartition(cpus * 4)
      val maxBucket = graft.llm.Dedup.bandedSignatures(docs, "id")
        .groupBy("band", "bucket").agg(count(lit(1)).as("c"))
        .agg(max("c")).head().getLong(0)
      (docsN, clique, docs, maxBucket)
    } { case (docsN, clique, docs, maxBucket) =>
      val pairs = graft.llm.Dedup.minhashLsh(docs, "id", minEstJaccard = 0.5,
        maxBucketSize = 1000).localCheckpoint(false)
      val cliquePairs = pairs.filter(col("id_a") < clique).count()
      val planted = docs.sparkSession.range(clique, docsN, 2)
        .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
      val found = planted.join(pairs, Seq("id_a", "id_b"), "left_semi").count()
      val nPlanted = (docsN - clique) / 2
      val recall = found.toDouble / nPlanted
      out("docs" -> docsN, "clique" -> clique, "max_bucket" -> maxBucket,
        "clique_pairs" -> cliquePairs, "planted" -> nPlanted, "found" -> found,
        "recall" -> recall)().keeping((cliquePairs, recall))
    }.checked { case ((_, _, _, maxBucket), (cliquePairs, recall)) =>
      require(maxBucket > 1000, s"planted skew check failed: max bucket $maxBucket <= cap 1000")
      require(cliquePairs == 0,
        s"cap did not engage: $cliquePairs pairs from the pathological clique")
      require(recall >= 0.95, s"twin recall $recall below the 0.95 floor")
    },

    ScaleCase("fuzzy_decontam") { (spark, n, cpus) =>
      // fuzzy decontamination at scale: 500k training docs screened
      // against a 2k-doc eval set whose members are PARAPHRASED copies
      // (last word changed) of known training docs — the d59 shape at
      // 100x the bench corpus. The properties under test: the eval
      // signature side broadcasts (no corpus self-join anywhere), cost is
      // one narrow shingle pass over the corpus + an output-bound
      // (k, sig) join, and every planted leak is found (exact check).
      val nDocs = math.min(n, 500000L)
      val nEval = 2000L
      val train = spark.range(nDocs).select(col("id"),
        words30(col("id")).as("text")).repartition(cpus * 4)
      // eval doc e paraphrases train doc e*17 (never shares text verbatim:
      // the last word is replaced) — fuzzy must still flag it
      val eval_ = spark.range(nEval).select(
        (col("id") + nDocs).as("id"),
        concat(
          concat_ws(" ", (0 until 29).map(j =>
            concat(lit(s"w$j"), ((col("id") * 17) % nDocs * 31 + j) * 2654435761L cast "string")): _*),
          lit(" paraphrased")).as("text"))
      (nDocs, nEval, train, eval_)
    } { case (nDocs, nEval, train, eval_) =>
      val hits = graft.llm.Decontamination.fuzzyContamination(train, eval_, idCol = "id")
        .select(col("id"), ((col("eval_id") - nDocs) * 17 % nDocs).as("expect"))
        .localCheckpoint(false)
      val nFlagged = hits.count()
      val planted = hits.filter(col("id") === col("expect")).count()
      out("docs" -> nDocs, "eval" -> nEval, "flagged" -> nFlagged,
        "planted_found" -> planted)("docs_per_sec" -> nDocs).keeping(planted)
    }.checked { case ((_, nEval, _, _), planted) =>
      require(planted == nEval, s"fuzzy decontam missed planted leaks: $planted of $nEval found")
    },

    ScaleCase("connected_components") { (spark, n, cpus) =>
      // Connected components (d20's algorithm) on a graph engineered to be
      // hard both ways: a sparse random-ish graph (giant component — many
      // rounds of bulk work) PLUS a long path (the diameter case where naive
      // label propagation needs O(path) rounds but large/small-star stays
      // O(log²)). Cost per round is keyed shuffles over a SHRINKING edge set.
      val nVerts = math.min(n * 2, 2000000L)
      val nRandEdges = nVerts / 2
      val pathLen = math.min(n / 10, 100000L)
      val rand = spark.range(nRandEdges).select(
        ((col("id") * 2654435761L) % nVerts).as("src"),
        ((col("id") * 1099511628211L) % nVerts).as("dst"))
      val path = spark.range(pathLen).select(
        (col("id") + nVerts).as("src"), (col("id") + nVerts + 1).as("dst"))
      (nRandEdges + pathLen, rand.unionByName(path).repartition(cpus * 4))
    } { case (nEdges, edges) =>
      val cc = graft.ops.ConnectedComponents.labels(edges, "src", "dst")
        .agg(count(lit(1)).as("n"), countDistinct(col("component")).as("c")).head()
      out("edges" -> nEdges, "vertices" -> cc.getLong(0),
        "components" -> cc.getLong(1))("edges_per_sec" -> nEdges)
    },

    // The exact baseline scores |corpus| x |queries| primitive dots and
    // shuffles only narrow rows to its top-k window; the sign-LSH path
    // probes hash buckets, so its candidate count (and cost) is output-bound.
    ScaleCase("ann_bruteforce")(annVectors) { case (nVecs, vecs) =>
      val nExact = graft.llm.Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") < 10), k = 10)
        .agg(count(lit(1))).head().getLong(0)
      out("corpus" -> nVecs, "queries" -> 10, "dim" -> dimV,
        "rows" -> nExact)("scored_pairs_per_sec" -> nVecs * 10)
    },
    ScaleCase("ann_lsh")(annVectors) { case (nVecs, vecs) =>
      val nLsh = graft.llm.Similarity.lshBucketedTopK(vecs, vecs.filter(col("vec_id") < 100),
          k = 10, dim = dimV, bits = 16, tables = 4)
        .agg(count(lit(1))).head().getLong(0)
      out("corpus" -> nVecs, "queries" -> 100, "dim" -> dimV, "bits" -> 16, "tables" -> 4,
        "rows" -> nLsh)()
    },

    ScaleCase("nn_descent") { (spark, n, cpus) =>
      // k-NN GRAPH construction at corpus scale (v15's operator): 200k
      // 64-dim vectors in 2000 planted clusters of 100. Brute-force truth
      // is 4·10¹⁰ pairs — unattainable, which is the operator's reason to
      // exist — so quality is judged by construction: a point's true
      // neighbors are its cluster siblings, and we report the fraction of
      // graph edges that stay intra-cluster (purity) alongside wall time.
      // Cost shape: per round, candidates are degree-capped
      // neighbor-of-neighbor pairs + capped LSH buckets — linear in corpus,
      // never all-pairs.
      val nVecs = math.min(n / 5, 200000L)
      val clusters = 2000
      (nVecs, clusters, spark.range(nVecs).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dimV - 1)), j =>
          (sin((col("id") % clusters) * (j + 3) * 0.37) +
            sin(col("id") * (j + 1) * 0.0001) * 0.05).cast("float")).as("embedding"))
        .repartition(cpus * 4)
        .localCheckpoint(false))
    } { case (nVecs, clusters, vecs) =>
      val g = graft.llm.NnDescent.knnGraph(vecs, k = 5, iterations = 3)
        .localCheckpoint(false)
      val rows = g.count()
      val intra = () =>
        g.filter(col("vec_id") % clusters === col("neighbor_id") % clusters).count().toDouble / rows
      out("corpus" -> nVecs, "clusters" -> clusters, "k" -> 5, "iterations" -> 3, "rows" -> rows,
        "intra_cluster" -> intra)("edges_per_sec" -> rows)
    },

    ScaleCase("range_search") { (spark, n, cpus) =>
      // Radius search at corpus scale (v10's operator): 1M 64-dim vectors
      // with 1000 planted near-identical twins, tau = 0.99. Distinct
      // bases have cosine ~N(0, 1/64) — 8σ below the threshold — so the
      // exact answer set IS the planted mapping: recall AND precision are
      // asserted row-for-row, not sampled. The LSH candidate stage keeps
      // the cost bucket-keyed, never all-pairs.
      val nRs = math.min(n, 1000000L)
      val nRsBase = nRs - 1000
      (nRs, nRsBase, hashedVectors(spark.range(nRs).select(col("id"),
        when(col("id") >= nRsBase, col("id") - nRsBase).otherwise(col("id")).as("b")),
        nRsBase, cpus))
    } { case (nRs, nRsBase, rsVecs) =>
      val got = graft.llm.Similarity.rangeSearch(rsVecs, rsVecs.filter(col("vec_id") < 100),
          tau = 0.99, dim = dimV, bits = 24, tables = 8)
        .select(col("query_id"), col("neighbor_id")).collect()
      val exact = got.length == 100 && got.forall(r => r.getLong(1) == r.getLong(0) + nRsBase)
      out("corpus" -> nRs, "queries" -> 100, "tau" -> BigDecimal("0.99"), "rows" -> got.length,
        "planted_exact" -> exact)().keeping((exact, got))
    }.checked { case (_, (exact, got)) =>
      require(exact, s"range_search planted-set mismatch: ${got.length} rows, " +
        got.take(5).mkString(","))
    },

    ScaleCase("semantic_dedup") { (spark, n, cpus) =>
      // Semantic dedup at corpus scale (the d26/d27 semantics on 1M vectors,
      // 20% planted near-dups): sign-LSH candidates (no k-means training —
      // the celled path needs ~√n cells, impractical to train driver-side at
      // this size), exact cosine verify, adaptive CC, min-id keep. Cost is
      // bucket-keyed and output-bound; the planted dups are near-identical
      // (one dim perturbed), so drop-recall should be ~the planted count.
      // Two failed generators are cautionary tales: `b % 100000` collapsed
      // 1M rows onto 100k distinct vectors (10 identical copies each —
      // every LSH bucket quadratic), and sin(b·P + j·Q) made different
      // bases SHIFTED WINDOWS of one sequence (lag-m pairs have cosine ≈
      // cos(mQ) — ±1 for unlucky lags, flooding buckets again). Only real
      // hash mixing breaks the linear structure.
      val nSem = math.min(n, 1000000L)
      val nSemBase = nSem * 4 / 5
      (nSem, nSemBase, hashedVectors(
        spark.range(nSem).select(col("id"), (col("id") % nSemBase).as("b")), nSemBase, cpus))
    } { case (nSem, nSemBase, semVecs) =>
      val dropped = graft.llm.Dedup.semanticDedupLsh(semVecs, "vec_id",
          // bits = 24 per the operator's own self-join sizing (log2(n) + 4):
          // 16 bits at 1M rows means ~60M structural candidate pairs whose
          // vector payloads spill the sort join to disk death — under-
          // bucketing is THE failure mode this shape exists to demonstrate
          "embedding", dim = dimV, minCosine = 0.999, bits = 24, tables = 8)
        .filter(!col("keep")).agg(count(lit(1))).head().getLong(0)
      out("vectors" -> nSem, "planted_dups" -> (nSem - nSemBase),
        "dropped" -> dropped)("vectors_per_sec" -> nSem)
    },

    ScaleCase("pagerank") { (spark, n, cpus) =>
      // PageRank at graph scale (q50's operator, production unordered-sum
      // path): 2M vertices x 5 out-edges, 5 rounds. Per-round cost is two
      // src-keyed equi-joins + one dst-keyed map-side-combinable aggregate —
      // AQE-splittable shuffles, lineage truncated per round. Mass stays
      // <= 1 (dangling drop), reported as a sanity figure.
      val nPrVerts = math.min(n * 2, 2000000L)
      (nPrVerts, affineEdges(spark, nPrVerts).repartition(cpus * 4))
    } { case (nPrVerts, prEdges) =>
      val pr = graft.ops.Graph.pageRank(prEdges, iterations = 5)
        .agg(count(lit(1)).as("n"), sum(col("r")).as("mass")).head()
      out("edges" -> nPrVerts * 5, "vertices" -> pr.getLong(0), "mass" -> pr.getDouble(1),
        "rounds" -> 5)("edge_rounds_per_sec" -> nPrVerts * 5 * 5)
    },

    ScaleCase("sorted_neighborhood") { (spark, n, cpus) =>
      // Sorted-neighborhood blocking at corpus scale (d34's operator): 1M
      // rows, 20% planted dups sharing the blocking key so they sort
      // adjacent. The global position comes from the range-partitioned
      // zipWithIndex path (no single-task window); candidates are exactly
      // n*(w-1) before the Jaccard verify.
      val nSnm = math.min(n, 1000000L)
      val snmBase = nSnm * 4 / 5
      (nSnm, snmBase, spark.range(nSnm).select(col("id"), (col("id") % snmBase).as("b"))
        .select(col("id"),
          concat(lit("k"), lpad(col("b").cast("string"), 9, "0")).as("bkey"),
          transform(sequence(lit(0), lit(29)), j =>
            concat(lit("t"), (((col("b") * 31 + j) * 2654435761L) % 1000000L +
              when(col("id") >= snmBase && j === lit(0), lit(1L)).otherwise(lit(0L)))
              .cast("string"))).as("toks"))
        .repartition(cpus * 4))
    } { case (nSnm, snmBase, snmRows) =>
      val pairs = graft.llm.Dedup.sortedNeighborhoodPairs(snmRows, "id",
          col("bkey"), "toks", window = 4, minJaccard = 0.8)
        .agg(count(lit(1))).head().getLong(0)
      out("rows" -> nSnm, "planted_dups" -> (nSnm - snmBase),
        "pairs" -> pairs)("rows_per_sec" -> nSnm)
    },

    ScaleCase("skyline") { (spark, n, cpus) =>
      // 2-D skyline at scale (q54's operator): 10M correlated points — the
      // shape where bucketed local skylines prune hardest (anti-correlated
      // data keeps more of the frontier; both shapes stay one bucket-keyed
      // pass + broadcast merge). Deterministic congruential "noise".
      val nSky = math.min(n * 10, 10000000L)
      (nSky, spark.range(nSky).select(col("id"),
        ((col("id") * 2654435761L) % 1000000L).as("x"),
        ((col("id") * 40503L + 7L) % 1000000L).as("y"))
        .repartition(cpus * 4))
    } { case (nSky, skyRows) =>
      val frontier = graft.ops.Skyline.pareto2d(skyRows, "x", "y", buckets = 256)
        .agg(count(lit(1))).head().getLong(0)
      out("rows" -> nSky, "frontier" -> frontier, "buckets" -> 256)("rows_per_sec" -> nSky)
    },

    ScaleCase("kmv_overlap") { (spark, n, cpus) =>
      // KMV shard-overlap at scale (q53's operator): 10M values across 16
      // shards with engineered pairwise overlap; the only full-data pass is
      // ONE distinct on (shard, hash), min-k is two bounded keyed windows.
      val nKmv = math.min(n * 10, 10000000L)
      (nKmv, spark.range(nKmv).select(
        concat(lit("s"), (col("id") % 16).cast("string")).as("shard"),
        // consecutive shards share half their value range
        ((col("id") % 16) * 500000L + (expr("id div 16") % 1000000L)).as("v"))
        .repartition(cpus * 4))
    } { case (nKmv, kmvRows) =>
      val overlaps = graft.ops.Kmv.shardOverlap(kmvRows, "shard", "v", k = 256)
        .agg(count(lit(1)), sum(col("both_k"))).head()
      out("rows" -> nKmv, "shards" -> 16, "pairs" -> overlaps.getLong(0),
        "sum_both_k" -> overlaps.getLong(1), "k" -> 256)("rows_per_sec" -> nKmv)
    },

    ScaleCase("span_dedup") { (spark, n, cpus) =>
      // corpus span dedup at scale (d40's operator): 1M docs, 30 tokens
      // each, 20% exact-duplicate docs (so every chunk of a dup doc is a
      // later occurrence and gets removed). Cost model: one explode
      // (6 chunks/doc), one chunk-keyed min-agg, one join back, one
      // id-keyed rebuild — all linear in total chunks. The planted check:
      // removed chunks == exactly the duplicated docs' chunk count.
      val nSpanDocs = math.min(n, 1000000L)
      val nUnique = nSpanDocs * 4 / 5
      (nSpanDocs, nUnique, spark.range(nSpanDocs).select(col("id"), (col("id") % nUnique).as("b"))
        .select(col("id"), words30(col("b")).as("text"))
        .repartition(cpus * 4))
    } { case (nSpanDocs, nUnique, spanDocs) =>
      val got = graft.llm.Dedup.removeDuplicateSpans(spanDocs, "id", chunkTokens = 5)
        .agg(count(lit(1)), sum("n_removed"), sum("n_chunks")).head()
      val expectRemoved = (nSpanDocs - nUnique) * 6 // 30 tokens -> 6 chunks
      out("docs" -> got.getLong(0), "chunks" -> got.getLong(2), "removed" -> got.getLong(1),
        "expect_removed" -> expectRemoved)("docs_per_sec" -> nSpanDocs)
        .keeping((got.getLong(1), expectRemoved))
    }.checked { case (_, (removed, expectRemoved)) =>
      require(removed == expectRemoved,
        s"span_dedup planted check failed: removed $removed vs $expectRemoved")
    },

    ScaleCase("label_prop") { (spark, n, cpus) =>
      // label propagation at scale (q62's operator): 3 rounds on the same
      // 10M-edge affine multigraph as the pagerank case. Per round one
      // edge-wide neighbour join + two keyed aggs; the planted check is
      // community count <= vertex count and > 1.
      val nLpV = math.min(n * 2, 2000000L)
      (nLpV, affineEdges(spark, nLpV).repartition(cpus * 4))
    } { case (nLpV, lpEdges) =>
      val lp = graft.ops.Graph.labelPropagation(lpEdges, rounds = 3, localThreshold = 0)
        .agg(count(lit(1)), countDistinct(col("label"))).head()
      out("edges" -> nLpV * 5, "vertices" -> lp.getLong(0), "communities" -> lp.getLong(1),
        "rounds" -> 3)("edge_rounds_per_sec" -> nLpV * 15).keeping((lp.getLong(0), lp.getLong(1)))
    }.checked { case (_, (vertices, communities)) =>
      require(communities > 1 && communities <= vertices,
        s"label_prop planted check failed: $communities communities over $vertices vertices")
    },

    ScaleCase("stream_span_dedup")(spanStream) { case (spark, nStreamDocs, root) =>
      // measures the real streaming cost — per-batch index probe joins +
      // checkpoint commits — against the batch case's one-shot number
      spanStreamRun(spark, nStreamDocs, root, s"$root/plain", None)
    }.checked(spanStreamCheck),

    ScaleCase("span_stream_bucketed")(spanStream) { case (spark, nStreamDocs, root) =>
      // the SAME streaming workload with the chunk-bucketed index table:
      // the per-batch probe join keeps the growing index side co-located
      // (no re-shuffle) — the production layout's measured effect.
      val tbl = s"sb_span_idx_${System.nanoTime()}"
      try spanStreamRun(spark, nStreamDocs, root, s"$root/bucketed", Some(tbl))
      finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }.checked(spanStreamCheck),

    ScaleCase("scd2") { (spark, n, cpus) =>
      // SCD2 history rebuild at scale (q69's operator): 10M time-ordered
      // changes over 100k keys + a 100k-row current base — one lead window
      // per key builds the whole validity chain. Planted check: total
      // versions = base + changes - deletes. Below the default size the
      // key count shrinks with n, keeping 100 changes per key.
      val nCh = math.min(n * 10, 10000000L)
      val nKeys = math.min(n / 10, 100000L)
      val scdBase = spark.range(nKeys).select(col("id").as("k"),
        (col("id") * 3).as("v"), lit(0L).as("valid_from"),
        lit(null).cast("long").as("valid_to"))
      val scdCh = spark.range(nCh).select((col("id") % nKeys).as("k"),
          (col("id") * 7 % 1000000L).as("v"),
          (col("id") + 1000L).as("ts"),
          when(col("id") % 17 === 0, "D").otherwise("U").as("op"))
        .repartition(cpus * 4)
      (nCh, nKeys, scdBase, scdCh)
    } { case (nCh, nKeys, scdBase, scdCh) =>
      val hist = graft.ops.Cdc.applyChangesetScd2(scdBase, scdCh, Seq("k"), Seq("v"), "ts", "op")
        .agg(count(lit(1)), sum(when(col("is_current"), 1L).otherwise(0L))).head()
      val expectVersions = nKeys + nCh - (nCh + 16) / 17
      out("changes" -> nCh, "keys" -> nKeys, "versions" -> hist.getLong(0),
        "expect_versions" -> expectVersions, "current" -> hist.getLong(1))(
        "changes_per_sec" -> nCh).keeping((hist.getLong(0), expectVersions))
    }.checked { case (_, (versions, expectVersions)) =>
      require(versions == expectVersions,
        s"scd2 planted check failed: $versions versions vs $expectVersions")
    },

    ScaleCase("sssp") { (spark, n, cpus) =>
      // Bellman-Ford at scale (q63's operator): bounded 8-round relaxation
      // over the 10M-edge graph with integer weights; per round one edge
      // join + one min-agg + a 2-scalar convergence probe.
      val nSsV = math.min(n * 2, 2000000L)
      (nSsV, affineEdges(spark, nSsV)
        .select(col("src"), col("dst"), ((col("src") * 7 + col("dst") * 3) % 20 + 1).as("w"))
        .repartition(cpus * 4))
    } { case (nSsV, ssEdges) =>
      val ss = graft.ops.Graph.shortestPaths(ssEdges,
          ssEdges.sparkSession.range(3).select((col("id") + 1).as("v")), maxRounds = 8,
          localThreshold = 0)
        .agg(count(lit(1)), max(col("dist"))).head()
      out("edges" -> nSsV * 5, "reached" -> ss.getLong(0), "max_dist" -> ss.getLong(1),
        "rounds" -> 8)("edge_rounds_per_sec" -> nSsV * 40)
    },

    ScaleCase("stream_boilerplate") { (spark, n, _) =>
      // STREAMING boilerplate strip at scale (d42's operator): 3 ordered
      // microbatches fold per-chunk distinct-doc counts into the
      // versioned df map; the cleaned corpus is the VIEW over the final
      // map. Planted check: every doc carries one shared boilerplate
      // chunk (df = all docs, way past the threshold) plus two unique
      // chunks, so the view must strip exactly one chunk per doc.
      val nBpDocs = math.min(n, 300000L)
      val root = TempDirs.scratch("sb_bp")
      microbatches(s"$root/in") { b =>
        spark.range(b * nBpDocs, (b + 1) * nBpDocs)
          .select(col("id").as("doc_id"),
            concat(lit("bp1 bp2 ua"), col("id"), lit(" ub"), col("id"),
              lit(" wc"), col("id"), lit(" wd"), col("id")).as("text"))
      }
      (spark, 3 * nBpDocs, root)
    } { case (spark, totalBp, root) =>
      graft.streaming.Streaming.boilerplateStripStream(
          spark.readStream.schema(idText("doc_id"))
            .option("maxFilesPerTrigger", "1").parquet(s"$root/in"),
          s"$root/state", s"$root/ckpt", chunkTokens = 2)
        .awaitTermination()
      val agg = graft.streaming.Streaming.boilerplateStripView(
          spark, s"$root/state", minDocFrequency = 3)
        .agg(count(lit(1)), sum("n_removed"), sum("n_chunks")).head()
      out("docs" -> totalBp, "removed" -> agg.getLong(1), "batches" -> 3,
        "df_map_rows" -> (2 * totalBp + 1))("docs_per_sec" -> totalBp).keeping(agg)
    }.checked { case ((_, totalBp, _), agg) =>
      require(agg.getLong(0) == totalBp && agg.getLong(1) == totalBp &&
        agg.getLong(2) == 3 * totalBp,
        s"planted boilerplate check failed: $agg vs ($totalBp, $totalBp, ${3 * totalBp})")
    },

    ScaleCase("scc") { (spark, n, cpus) =>
      // coloring/FW-BW SCC at scale, distributed path forced: 8-cycles
      // (n/8 planted SCCs) with STAR bridges 0 -> blockStart, so the
      // condensation is depth-2 and the outer loop settles in ~2 rounds —
      // rounds track condensation depth (the documented coloring-SCC
      // characteristic), while within a round every color class resolves
      // in parallel.
      val nScc = math.min(n * 2, 2000000L)
      val sccV = spark.range(nScc).select(col("id").as("v"))
      val sccStart = expr("(v div 8) * 8")
      val sccEnd = least(sccStart + 7, lit(nScc - 1))
      (nScc, sccV.select(col("v").as("src"),
          when(col("v") === sccEnd, sccStart).otherwise(col("v") + 1).as("dst"))
        .union(sccV.filter(col("v") % 8 === 0 && col("v") > 0)
          .select(lit(0L).as("src"), col("v").as("dst")))
        .repartition(cpus * 4))
    } { case (nScc, sccEdges) =>
      val scc = graft.ops.Graph.stronglyConnectedComponents(sccEdges, localThreshold = 0)
      val bad = scc.filter(col("component") =!= expr("(v div 8) * 8")).count()
      val nv = scc.count()
      out("vertices" -> nv, "sccs" -> (nScc + 7) / 8, "mislabelled" -> bad)(
        "verts_per_sec" -> nv).keeping(bad)
    }.checked { case (_, bad) =>
      require(bad == 0, s"SCC planted check failed: $bad mislabelled vertices")
    },

    ScaleCase("kcore") { (spark, n, cpus) =>
      // k-core peeling at scale, planted q84 shape: per 8-vertex block an
      // m-clique (m = 3 + block%6) + a ≤5-vertex path hanging off it, so
      // the cascade depth per phase is bounded (the documented long-path
      // caveat does NOT apply to this shape) and coreness is known in
      // closed form for an exact planted check at 2M vertices.
      val full = (math.min(n * 2, 2000000L) / 8) * 8
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
      (full, cliqueE.unionByName(pathE))
    } { case (full, edges) =>
      val core = graft.ops.Graph.kCoreness(edges,
        localThreshold = 0) // always the distributed peel at scale
      val badK = core.filter(col("coreness") =!=
        expr("CASE WHEN v % 8 < 3 + (v div 8) % 6 THEN 2 + (v div 8) % 6 ELSE 1 END")).count()
      val nvK = core.count()
      out("vertices" -> full, "bad" -> badK)("vertices_per_sec" -> full).keeping((badK, nvK))
    }.checked { case ((full, _), (badK, nvK)) =>
      require(badK == 0, s"kcore planted check failed: $badK mislabelled vertices")
      require(nvK == full, s"kcore emitted $nvK of $full vertices")
    },

    ScaleCase("unigram") { (spark, n, cpus) =>
      // Unigram-LM Viterbi segmentation at 10M words (d77's operator):
      // the corpus cycles a 6-word working set through the d77-style
      // vocab, so the expected total cost and piece count are closed
      // form — the 10M-row distributed result must equal the driver's
      // 6-word segmentation times the multiplicities. Per-word DP is a
      // narrow map over a broadcast vocab: throughput scales with cores.
      val vocab: Map[String, Long] =
        (0 until 26).map(i => ('a' + i).toChar.toString -> (101L + i)).toMap ++
          Map("ta" -> 150L, "ble" -> 160L, "table" -> 340L, "str" -> 140L,
            "eam" -> 145L, "win" -> 130L, "dow" -> 135L, "er" -> 90L)
      val words = Seq("table", "stream", "window", "filter", "merge", "batch")
      val nU = math.min(n * 10, 10000000L)
      (nU, vocab, words, spark.range(nU)
        .select(element_at(array(words.map(lit): _*), (col("id") % words.size).cast("int") + 1)
          .as("word"))
        .repartition(cpus * 4))
    } { case (nU, vocab, _, df) =>
      val seg = graft.llm.Unigram.segmentWords(df, "word", vocab)
        .agg(sum(col("cost")), sum(col("n_pieces")), count(lit(1))).head()
      out("words" -> nU)("words_per_sec" -> nU).keeping(seg)
    }.checked { case ((nU, vocab, words, df), seg) =>
      // driver twin: segment the 6 distinct words once, scale by counts
      val spark = df.sparkSession
      import spark.implicits._
      val one = graft.llm.Unigram.segmentWords(words.toDF("word"), "word", vocab)
        .select("word", "cost", "n_pieces")
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val perWord = words.indices.map(i => nU / words.size + (if (i < nU % words.size) 1L else 0L))
      val expCost = words.zip(perWord).map { case (w, c) => one(w)._1 * c }.sum
      val expPieces = words.zip(perWord).map { case (w, c) => one(w)._2 * c }.sum
      require(seg.getLong(0) == expCost && seg.getLong(1) == expPieces,
        s"unigram planted check failed: (${seg.getLong(0)},${seg.getLong(1)}) " +
          s"vs ($expCost,$expPieces)")
    },

    ScaleCase("link_prediction") { (spark, n, cpus) =>
      // q95's operator at 2M vertices, planted star blocks with closed-form
      // scores: per 5-vertex block a center c and 4 leaves, edges c-leaf
      // only. Every leaf pair is a predicted non-edge with cn = 1 and
      // ra_e12 = 10^12 div 4 = 250000000000; there are C(4,2) = 6 per
      // block and nothing across blocks. Degrees are bounded (4), so the
      // wedge budget Σ deg² is linear in blocks — the shape that scales.
      val blocks = math.min(n * 2, 2000000L) / 5
      (blocks, spark.range(blocks * 5).select(col("id").as("v"),
          expr("id div 5").as("b"), (col("id") % 5).as("p"))
        .repartition(cpus * 4)
        .filter(col("p") > 0)
        .select((col("b") * 5).as("src"), col("v").as("dst")))
    } { case (blocks, starE) =>
      val agg = graft.ops.Graph.linkPrediction(starE).agg(count(lit(1)),
        sum(when(col("cn") === 1L && col("ra_e12") === 250000000000L, 0L)
          .otherwise(1L))).head()
      out("vertices" -> blocks * 5, "pairs" -> agg.getLong(0))(
        "vertices_per_sec" -> blocks * 5).keeping(agg)
    }.checked { case ((blocks, _), agg) =>
      require(agg.getLong(0) == blocks * 6,
        s"link_prediction planted check failed: ${agg.getLong(0)} pairs vs ${blocks * 6}")
      require(agg.getLong(1) == 0L,
        s"link_prediction planted check failed: ${agg.getLong(1)} rows with wrong scores")
    },

    ScaleCase("phrase_search") { (spark, n, cpus) =>
      // d74's positional intersection at 1M documents: every 97th doc
      // carries the planted phrase twice (once mid-doc, once at the end),
      // everything else is doc-unique filler the dictionary join discards
      // at the scan. Expected matches and occurrence counts are closed
      // form, and only planted-token postings survive the broadcast join —
      // the property that keeps the votes shuffle output-bound at 100 TB.
      val nPs = math.min(n, 1000000L)
      (nPs, spark.range(nPs).select(col("id").as("doc_id"),
          when(col("id") % 97 === 0, concat(lit("alpha beta gamma pad"),
            col("id").cast("string"), lit(" mid alpha beta gamma")))
            .otherwise(concat(lit("pad"), col("id").cast("string"),
              lit(" filler"), (col("id") % 13).cast("string"))).as("text"))
        .repartition(cpus * 4)
        .localCheckpoint(false))
    } { case (nPs, docs) =>
      val agg = graft.llm.PhraseSearch.search(docs, "doc_id", "text", Seq("alpha beta gamma"))
        .agg(count(lit(1)),
          sum(when(col("n_occ") === 2L && col("first_pos") === 1L, 0L).otherwise(1L))).head()
      out("docs" -> nPs, "matched" -> agg.getLong(0))("docs_per_sec" -> nPs).keeping(agg)
    }.checked { case ((nPs, _), agg) =>
      val expect = (nPs + 96) / 97
      require(agg.getLong(0) == expect,
        s"phrase_search planted check failed: ${agg.getLong(0)} docs vs $expect")
      require(agg.getLong(1) == 0L,
        s"phrase_search planted check failed: ${agg.getLong(1)} wrong rows")
    },

    ScaleCase("hierarchy") { (spark, n, cpus) =>
      // subtree rollup at scale (q79's operator): the parent(k) = k/2
      // forest over 2M nodes is ~21 levels deep, so the upward
      // accumulation runs ~21 bounded rounds with the moving set
      // shrinking geometrically. Planted check: total delivered mass =
      // Σ_v value(v)·(depth(v)+1), computable in closed form per node.
      val nH = math.min(n * 2, 2000000L)
      val nodes = spark.range(1, nH + 1).select(col("id").as("v"))
        .withColumn("value", col("v"))
        .repartition(cpus * 4)
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
      (nH, depth, expectTotal, nodes)
    } { case (nH, depth, _, nodes) =>
      val total = graft.ops.Hierarchy.subtreeSum(
          nodes.filter(col("v") >= 2).select(col("v").as("child"), expr("v div 2").as("parent")),
          nodes)
        .agg(sum(col("subtree_sum"))).head().getLong(0)
      out("nodes" -> nH, "depth" -> depth, "total_mass" -> total)(
        "nodes_per_sec" -> nH).keeping(total)
    }.checked { case ((_, _, expectTotal, _), total) =>
      require(total == expectTotal, s"hierarchy planted check failed: $total vs $expectTotal")
    },

    ScaleCase("entropy_vocab") { (spark, n, cpus) =>
      // unigramEntropy at a 10^7-distinct-token vocabulary — the workload
      // that OOM'd the pre-round-8 single whole-vocab collect_list fold.
      // The two-level md5-bucket fold caps every aggregation buffer at
      // ~|vocab per source|/4096 structs; the planted check is the
      // order-free closed form H = ln N - (sum c*ln c)/N, which the
      // ordered fold must match to ~1e-9 relative at this scale.
      val nVocab = n * 10
      (nVocab, spark.range(nVocab).select(
          concat(lit("s"), col("id") % 4).as("source"),
          concat(lit("w"), col("id")).as("w"),
          (col("id") % 7 + 1).as("c"))
        .repartition(cpus * 4)
        .localCheckpoint())
    } { case (nVocab, counts) =>
      val ent = graft.llm.TextAnalysis.unigramEntropy(counts)
        .select(col("source"), col("entropy")).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      // peak buffer bound: the largest (source, bucket) group, measured
      val maxBucket = () => counts
        .groupBy(col("source"), substring(md5(col("w").cast("binary")), 1, 3).as("bk"))
        .agg(count(lit(1)).as("n")).agg(max(col("n"))).head().getLong(0)
      out("vocab" -> nVocab, "sources" -> 4, "max_bucket_rows" -> maxBucket)(
        "tokens_per_sec" -> nVocab).keeping(ent)
    }.checked { case ((_, counts), ent) =>
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
    },

    ScaleCase("wordpiece") { (spark, n, cpus) =>
      // WordPiece at corpus scale: 10M tokens drawn (xxhash64-mixed) from
      // 400 two-piece words over a 40-piece vocab. The operator's claim
      // is corpus-size INDEPENDENCE of the string work — segmentation
      // runs once per DISTINCT word (400), never per token — so the cost
      // here is the token-count aggregate, not the greedy matcher. The
      // planted structure is exact: every word is exactly two vocab
      // pieces, so Σ piece counts = 2 · tokens, the piece vocabulary
      // closes at 40, and zero [UNK] may appear.
      val nTok = n * 10
      val first = (0 until 20).map(i => s"a${('a' + i).toChar}")
      val cont = (0 until 20).map(i => s"b${('a' + i).toChar}")
      val wordArr = for (f <- first; c <- cont) yield f + c
      (nTok, first ++ cont.map("##" + _), spark.range(nTok / 100).select(col("id").as("doc_id"),
          concat_ws(" ", (0 until 100).map(j =>
            element_at(lit(wordArr.toArray),
              (pmod(xxhash64(col("id"), lit(j)), lit(400)) + 1).cast("int"))): _*)
            .as("text"))
        .repartition(cpus * 4)
        .localCheckpoint(false))
    } { case (nTok, vocab, docs) =>
      val pieces = graft.llm.WordPiece.pieceCounts(docs, "text", vocab)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      out("tokens" -> nTok, "distinct_words" -> 400, "pieces" -> pieces.size)(
        "tokens_per_sec" -> nTok).keeping(pieces)
    }.checked { case ((nTok, _, _), pieces) =>
      require(!pieces.contains("[UNK]"), "planted words must all segment")
      require(pieces.size == 40, s"piece vocabulary must close at 40: ${pieces.size}")
      require(pieces.values.sum == 2L * nTok,
        s"piece mass ${pieces.values.sum} != 2 x $nTok tokens")
    },

    ScaleCase("blocklist") { (spark, n, cpus) =>
      // Aho-Corasick blocklist at corpus scale: n docs (~420 B each)
      // against a 1000-phrase list in ONE pass — the d67 operator's 100 TB
      // claim. K contains() scans would read the text 1000x; the automaton
      // reads it once, so throughput is bytes/sec independent of pattern
      // count. Planted structure is exact: every 5th doc carries exactly
      // one phrase, cycling through patterns 0..199 (each hit exactly
      // nDocs/1000 times when nDocs % 1000 == 0); patterns 200..999 never
      // occur (dead automaton states walked on every byte).
      val pats = (0 until 1000).map(i => s"blk$i phrase")
      val filler = Array.fill(20)("lorem filler tokens alpha beta").mkString(" ")
      (n, pats, n * (2L * filler.length + 14), spark.range(n).select(col("id"),
          when(col("id") % 5 === 0,
            concat(lit(filler + " "),
              element_at(lit(pats.toArray), ((col("id") / 5) % 200 + 1).cast("int")),
              lit(" " + filler)))
            .otherwise(lit(filler + " " + filler)).as("text"))
        .repartition(cpus * 4)
        .localCheckpoint(false))
    } { case (nDocs, pats, bytes, docs) =>
      val agg = docs.select(col("id"),
          graft.llm.TextAnalysis.blocklistFirstHit(col("text"), pats).as("hit"),
          graft.llm.TextAnalysis.blocklistHitCount(col("text"), pats).as("n"))
        .agg(
          sum(when(col("hit") >= 0, 1L).otherwise(0L)),
          sum(col("n").cast("long")),
          count_distinct(when(col("hit") >= 0, col("hit")))).head()
      out("docs" -> nDocs, "patterns" -> 1000, "flagged" -> agg.getLong(0))(
        "docs_per_sec" -> nDocs, "mb_per_sec" -> bytes / 1000000).keeping(agg)
    }.checked { case ((nDocs, _, _, _), agg) =>
      val expFlag = (nDocs + 4) / 5
      require(agg.getLong(0) == expFlag, s"flagged ${agg.getLong(0)} != planted $expFlag")
      require(agg.getLong(1) == expFlag,
        s"hit mass ${agg.getLong(1)} != $expFlag (each flagged doc plants exactly one)")
      require(agg.getLong(2) == 200L,
        s"distinct first-hit patterns ${agg.getLong(2)} != 200 planted")
    },

    ScaleCase("perplexity") { (spark, n, cpus) =>
      // d66's scale shape: a vocab-bounded KN model (broadcast) scoring
      // n/2 docs — explode -> broadcast-join -> per-doc fold, zero
      // wide shuffles of text. The planted corpus draws bigrams from a
      // closed 200-word vocabulary so the model covers everything:
      // n_oov must be exactly 0 and every doc must emit a score. The
      // model's 10% sample covers all 40k bigrams only from ~500k docs, so
      // the corpus never shrinks below that.
      val nDocs = math.max(n / 2, 500000L)
      val vocab = (0 until 200).map(i => s"v$i").toArray
      (nDocs, spark.range(nDocs)
        .select(col("id").as("doc_id"), concat_ws(" ", (0 until 30).map(j =>
          element_at(lit(vocab), (pmod(xxhash64(col("id"), lit(j)), lit(200)) + 1).cast("int"))): _*)
          .as("text"))
        .repartition(cpus * 4)
        .localCheckpoint(false))
    } { case (nDocs, docs) =>
      val model = graft.llm.TextAnalysis.kneserNeyBigram(
        docs.filter(col("doc_id") % 100 < 10), "text", minCount = 1)
      val agg = graft.llm.TextAnalysis.kneserNeyPerplexity(docs, model)
        .agg(count(lit(1)), sum(col("n_oov")), min(col("avg_nll")), max(col("avg_nll"))).head()
      out("docs" -> nDocs, "model_bigrams" -> "<=40k")("docs_per_sec" -> nDocs).keeping(agg)
    }.checked { case ((nDocs, _), agg) =>
      require(agg.getLong(0) == nDocs, s"scored ${agg.getLong(0)} != $nDocs docs")
      require(agg.getLong(1) == 0L,
        s"closed-vocab corpus must have zero OOV bigrams, got ${agg.getLong(1)}")
      require(agg.getDouble(2) > 0 && agg.getDouble(3) < 20,
        s"avg_nll out of sane range: ${agg.getDouble(2)}..${agg.getDouble(3)}")
    },

    ScaleCase("global_rank") { (spark, n, cpus) =>
      // the round-12 single-task-window replacement at vocabulary scale:
      // rank 10M distinct keys. The correctness gate is exact, checked
      // over every row, not a sample.
      val nKeys = math.min(n * 10, 10000000L)
      // a deterministic permutation of 0..n-1 as the unsorted input
      val perm = spark.range(nKeys)
        .select((col("id") * 2654435761L % nKeys).as("k0"), col("id"))
        .groupBy("k0").agg(min("id").as("key")) // dedup collisions of the mult hash
        .select(col("key"))
        .repartition(cpus * 4)
        .localCheckpoint(false)
      (perm.count(), perm)
    } { case (nDistinct, perm) =>
      val ranked = graft.ops.GlobalRank.withGlobalRank(perm, "rk", col("key"))
      // rank must be a bijection onto 1..nDistinct: row count, distinct
      // ranks, min/max rank and the rank sum in one agg
      val viol = ranked.select(col("key"), col("rk"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("rk")).as("nd"),
          min("rk").as("lo"), max("rk").as("hi"),
          sum(col("rk")).as("s")).head()
      out("keys" -> nDistinct)("keys_per_sec" -> nDistinct).keeping((ranked, viol))
    }.checked { case ((nDistinct, _), (ranked, viol)) =>
      require(viol.getLong(0) == nDistinct && viol.getLong(1) == nDistinct &&
        viol.getLong(2) == 1L && viol.getLong(3) == nDistinct &&
        viol.getLong(4) == nDistinct * (nDistinct + 1) / 2,
        s"globalRank fingerprint broken: $viol")
      // order correctness: rank must be monotone in key — ranking the
      // ranks by key must reproduce them (idempotence under a second
      // independent range partitioning). Full anti-join, zero rows.
      val bad = graft.ops.GlobalRank.withGlobalRank(
          ranked.select(col("key"), col("rk").as("rk1")), "rk2", col("key"))
        .filter(col("rk1") =!= col("rk2")).count()
      require(bad == 0L, s"globalRank not order-stable: $bad mismatches")
    })

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_TILES", "1000000").toLong
    val spark = EngineSession.start("graft-scalebench")
    val failed = run(spark, n, EngineSession.cores,
      cases.filter(c => args.isEmpty || args.exists(c.name.contains)))(println)
    spark.stop()
    if (failed.nonEmpty)
      throw new IllegalStateException(s"scale cases failed: ${failed.mkString("; ")}")
  }

  /** Runs `selected` in order and hands each line to `emit`. A case whose
    * build, run or check throws emits no line; the next case runs, and
    * `name: error` of each such case is returned. */
  def run(spark: SparkSession, n: Long, cpus: Int, selected: Seq[ScaleCase[_, _]])(
      emit: String => Unit): Seq[String] = {
    var shared: Option[(AnyRef, Any)] = None
    def line[I, R](c: ScaleCase[I, R]): String = {
      val in = shared match {
        case Some((build, in)) if build eq c.build => in.asInstanceOf[I]
        case _ =>
          shared = None
          val in = c.build(spark, n, cpus)
          shared = Some((c.build, in))
          in
      }
      val t0 = System.nanoTime()
      val out = c.run(in)
      val sec = (System.nanoTime() - t0) / 1e9
      c.check.foreach(_(in, out.result))
      (Seq("metric" -> json(s"scale_${c.name}")) ++
        out.fields.map { case (k, v) => k -> json(v) } ++
        Seq("sec" -> fmt("%.2f", sec)) ++
        out.rates.map { case (k, work) => k -> (work / sec).toLong.toString })
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    }
    selected.flatMap { c =>
      try { emit(line(c)); None }
      catch { case NonFatal(e) =>
        System.err.println(s"[scale] ${c.name} failed: $e")
        Some(s"${c.name}: $e")
      }
    }
  }

  /** `v` under `pattern` in `Locale.ROOT`, whatever the JVM's default
    * locale: under e.g. de_DE `%.2f` would print `1,23`, which is not JSON. */
  private[graft] def fmt(pattern: String, v: Double): String =
    String.format(Locale.ROOT, pattern, Double.box(v))

  private def json(v: Any): String = v match {
    case s: String => "\"" + s + "\""
    case d: Double => fmt("%.4f", d)
    case f: Function0[_] => json(f())
    case x => x.toString
  }
}
