package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Edge
import graft.ingest.{EdgeExtraction, RepoTable}
import graft.graph.GraphOps
import graft.algo.{ConnectedComponents, Hedonic, LabelPropagation, PageRank, TriangleCount}
import graft.eval.Metrics
import graft.text.TextOps
import graft.dedup.Dedup
import graft.sim.Similarity

/** Driver contract — the correctness gate (see SURVEY.md §7).
  *
  * Graph queries run on the supplier co-occurrence graph derived from
  * lineitem: vertices = suppliers (l_suppkey), two suppliers linked iff they
  * supply a shared part — the same co-occurrence shape as the repo/path
  * extraction mandated by BASELINE.json, over the driver's tables so DuckDB
  * can oracle it. The repo-file pipeline itself is exercised by `entry` and
  * the ScalaTest suites on synthetic repo tables.
  */
object SparkEntry {

  // -------------------------------------------------------------- helpers

  private def li(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/lineitem.parquet")
  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def embs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** Pin an edge table once per query: several queries consume the edges
    * through 2-4 separate actions (density scalar + gather + argmax ...) —
    * without the pin each action re-runs the full lineitem self-join
    * (round-1 BENCH showed 4x re-extraction in q_payoff/q_density). */
  private def pinEdges(e: org.apache.spark.sql.Dataset[Edge]): org.apache.spark.sql.Dataset[Edge] = {
    val spark = e.sparkSession
    import spark.implicits._
    graft.io.Iterate.pin(e.toDF()).as[Edge]
  }

  /** Supplier co-occurrence graph (vertex = l_suppkey, path = l_partkey) —
    * near-complete at driver SFs (every supplier pair shares a part). */
  private def graph(s: SparkSession, dir: String) =
    pinEdges(EdgeExtraction.cooccurrence(li(s, dir), "l_suppkey", "l_partkey", maxPathFanout = 1000))

  /** SPARSE supplier co-occurrence graph (path = l_orderkey): suppliers
    * linked iff they appear in a shared order — non-trivial components and
    * communities, the non-degenerate input for the game/partition ops. */
  private def graphSparse(s: SparkSession, dir: String) =
    pinEdges(EdgeExtraction.cooccurrence(li(s, dir), "l_suppkey", "l_orderkey", maxPathFanout = 1000))

  /** THIN supplier co-occurrence graph: only lineitems with l_quantity <= 1
    * participate (deterministic sparsifier, mirrored by the oracle). Both
    * the part and order graphs are COMPLETE at driver SFs (every supplier
    * pair shares a part and an order), which makes every partition of them
    * an instant hedonic equilibrium; the thin graph (~avg degree 7 at
    * sf0.01) has real multi-superstep dynamics, so the full iterative runs
    * (q_hedonic_full, q_lpa_full, ...) are exercised non-trivially. */
  private def graphThin(s: SparkSession, dir: String) =
    pinEdges(EdgeExtraction.cooccurrence(
      li(s, dir).filter(col("l_quantity") <= 1), "l_suppkey", "l_partkey", maxPathFanout = 1000))

  /** Initial membership id % 3 over the graph's vertices. */
  private def m0(edges: org.apache.spark.sql.Dataset[Edge]): DataFrame =
    GraphOps.vertices(edges).select(col("id"), (col("id") % 3).as("community"))

  /** PINNED m0 — for the one-shot gather/analytics queries whose plans
    * reference the membership 3-4x (gather's neighbor+union sides, the
    * size aggregate, the current-community join): un-pinned, each
    * reference re-runs the 2E-row vertex distinct; pinned, one distinct
    * job feeds a V-row cache every reference scans. Measured
    * (OPTIMIZATION_r06.md, "Pinned m0 for the multi-reference analytics
    * queries", sf0.1): q_payoff-shape 4.3-5.3 -> 2.8-2.9 s, spectrum
    * 3.6-3.9 -> 2.2 s, satisfaction 3.1-3.5 -> 2.0 s. Single-reference
    * sites (q_ari, q_induced) and the iterative runs (which collect or
    * pin their state internally) keep plain m0 — there the pin would be
    * a pure extra job. */
  private def m0p(edges: org.apache.spark.sql.Dataset[Edge]): DataFrame =
    graft.io.Iterate.pin(m0(edges))

  /** Flagship: full repo pipeline — synthesize a blocky repo-file table,
    * stamp sha256, extract co-occurrence edges, run hedonic to equilibrium,
    * report community sizes. Driver smoke-checks rows > 0 on sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val cfg = RepoTable.Config(nBlocks = 3, reposPerBlock = 15, pathsPerBlock = 12,
      pIn = 0.6, pOut = 0.04, seed = 42L)
    val files = RepoTable.withSha(RepoTable.generate(spark, cfg))
    val (_, edges) = EdgeExtraction.extract(files, dense = true)
    val init = GraphOps.vertices(edges).select(col("id"), col("id").as("community"))
    val (members, _) = Hedonic.run(edges, init, Hedonic.Config(maxSupersteps = 40))
    members.groupBy("community").agg(count(lit(1)).as("size")).orderBy(desc("size"))
  }

  // -------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ------------------------------------------------ graph core (oracled)
    "q_edges" -> ((s, dir) => graph(s, dir).toDF()),

    "q_degrees" -> ((s, dir) => GraphOps.degrees(graph(s, dir))),

    "q_density" -> ((s, dir) => {
      val e = graph(s, dir)
      val (vc, ec) = GraphOps.vertexEdgeCounts(e) // one job (was two counts)
      s.range(1).select(
        lit(vc).as("v"), lit(ec).as("e"),
        round(lit(2.0 * ec / (vc.toDouble * (vc - 1))), 6).as("density"))
    }),

    "q_gather" -> ((s, dir) => {
      val e = graph(s, dir)
      Hedonic.gather(GraphOps.symmetrize(e).select("src", "dst"), m0p(e))
    }),

    "q_payoff" -> ((s, dir) => {
      val e = graph(s, dir)
      val alpha = GraphOps.density(e)
      Hedonic.payoffs(GraphOps.symmetrize(e).select("src", "dst"), m0p(e), alpha)
        .select(col("id"), col("community"), col("friends"), col("strangers"),
          round(col("payoff"), 6).as("payoff"))
    }),

    // One ungated synchronous superstep — expressed through Hedonic.run
    // (maxSupersteps = 1, no parity gate) so the broadcast-state strategy
    // applies; decision-identical to the explicit Hedonic.step form
    // (StrategySpec pins the strategies, the oracle replays the step).
    "q_move1" -> ((s, dir) => {
      val e = graph(s, dir)
      val (next, _) = Hedonic.run(e, m0(e),
        Hedonic.Config(maxSupersteps = 1, parityGating = false))
      next
    }),

    "q_pagerank3" -> ((s, dir) => {
      PageRank.run(graph(s, dir), PageRank.Config(fixedIter = Some(3)))
        .select(col("id"), round(col("rank"), 6).as("rank"))
    }),

    "q_cc" -> ((s, dir) => ConnectedComponents.run(graph(s, dir))),

    "q_triangles" -> ((s, dir) => {
      val n = TriangleCount.count(graph(s, dir))
      s.range(1).select(lit(n).as("triangles"))
    }),

    // NOTE (round 6): routing this one-shot vote through the
    // broadcast-state LabelPropagation.run was tried and measured SLOWER
    // (3.9 -> 5.1 s): the pack build + dense-index remap never amortize
    // over one step. The MAP-state one-shot (bestLabels — broadcast label
    // map, no pack, no E-row join; the q_move1 trick) measured FASTER
    // (2.4-2.9 -> 1.6-2.0 s, OPTIMIZATION_r06.md "Map-state one-shot for
    // the single-step LPA queries") and is scale-gated with
    // step() as the over-budget fallback; value-identical (StrategySpec).
    "q_lpa1" -> ((s, dir) => {
      val e = graph(s, dir)
      val labels = GraphOps.vertices(e).select(col("id"), (col("id") % 3).as("label"))
      LabelPropagation.bestLabels(GraphOps.symmetrize(e).select("src", "dst"), labels)
        .select(col("id"), col("bestLabel").as("label"))
    }),

    "q_ari" -> ((s, dir) => {
      val e = graph(s, dir)
      val p1 = m0(e)
      val p2 = s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").as("id"), col("s_nationkey").cast("long").as("community"))
      val ari = Metrics.adjustedRandIndex(p1, p2)
      s.range(1).select(round(lit(ari), 6).as("ari"))
    }),

    "q_satisfaction" -> ((s, dir) => {
      val e = graph(s, dir)
      Metrics.satisfaction(e, m0p(e))
    }),

    "q_merge_gain" -> ((s, dir) => {
      val e = graph(s, dir)
      val alpha = GraphOps.density(e)
      graft.algo.Leiden.mergeGains(e, m0p(e), alpha)
        .select(col("ca"), col("cb"), col("between"),
          round(col("gain"), 6).as("gain"))
    }),

    "q_robustness" -> ((s, dir) => {
      val e = graph(s, dir)
      val rob = Metrics.robustness(e, m0p(e))
      s.range(1).select(round(lit(rob), 6).as("robustness"))
    }),

    "q_degree_hist" -> ((s, dir) =>
      GraphOps.degrees(graph(s, dir))
        .groupBy("degree").agg(count(lit(1)).as("n_vertices"))),

    "q_topk_pagerank" -> ((s, dir) => {
      val pr = PageRank.run(graph(s, dir), PageRank.Config(fixedIter = Some(3)))
        .select(col("id"), round(col("rank"), 6).as("rank"))
      pr.orderBy(desc("rank"), asc("id")).limit(10)
    }),

    "q_stats_ci" -> ((s, dir) =>
      li(s, dir).groupBy("l_returnflag").agg(
        round(avg("l_quantity"), 6).as("mean_qty"),
        round(stddev("l_quantity"), 6).as("sd_qty"),
        count(lit(1)).as("n"),
        round(lit(1.96) * stddev("l_quantity") / sqrt(count(lit(1))), 6).as("ci95"))),

    "q_pivot" -> ((s, dir) =>
      li(s, dir).groupBy("l_returnflag").pivot("l_linestatus", Seq("F", "O"))
        .agg(round(avg("l_quantity"), 6))),

    "q_distinct" -> ((s, dir) =>
      li(s, dir).agg(
        countDistinct("l_suppkey").as("n_suppliers"),
        countDistinct("l_partkey").as("n_parts"),
        countDistinct("l_orderkey").as("n_orders"))),

    // ---------------------- graph, iterative (thin graph: real dynamics)
    // Caps (30 supersteps / 10 merge rounds x 2 levels) match
    // Oracles.leidenFull(30, 10) EXACTLY: post-fixpoint levels/rounds are
    // identity, and equal caps make the replay exact even without
    // convergence.
    "q_leiden_full" -> ((s, dir) => {
      val e = graphThin(s, dir)
      graft.algo.Leiden.run(e, m0(e), levels = 2,
        hedonicCfg = Hedonic.Config(maxSupersteps = 30), mergeRounds = 10)
    }),

    // Leiden REFINEMENT phase standalone (M8's round-3 gap): split every
    // internally-disconnected community of m0 on the thin graph into its
    // connected parts (new label = component min id; intra-edge-free
    // members become singletons). Oracled via recursive min-label closure
    // restricted to intra-community edges.
    "q_leiden_refine" -> ((s, dir) => {
      val e = graphThin(s, dir)
      graft.algo.Leiden.refine(e, m0p(e))
    }),

    // Cap 40 matches Oracles.hedonicFrontier(40) level-for-level (the run
    // empties its frontier well before that at driver SFs).
    "q_hedonic_frontier" -> ((s, dir) => {
      val e = graphThin(s, dir)
      val (m, _) = graft.algo.HedonicFrontier.run(e, m0(e),
        Hedonic.Config(maxSupersteps = 40))
      m
    }),

    "q_sbm_recover" -> ((s, dir) => {
      // SBM planted-partition recovery: dir-independent determinism check.
      val e = graft.ingest.GraphGen.sbm(s, 3, 20, 0.5, 0.02, 11L)
      val gt = graft.ingest.GraphGen.groundTruth(s, 3, 20)
      val init = graft.ingest.GraphGen.noisyPartition(gt, 3, 0.3, 12L)
      val (m, _) = Hedonic.run(e, init, Hedonic.Config(maxSupersteps = 40))
      m
    }),

    // documents-derived media: decode features + frame plan (oracled —
    // the payload is the doc's UTF-8 bytes, the stub feature its sha256
    // bytes, both reproducible in DuckDB). Feature arrays EXPLODE to
    // (media_id, kind, dim, value) rows: hashable for the driver compare
    // (round-1 err: raw array<float> broke the pandas hash).
    "q_media_features" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      Multimodal.decodeBatch(Multimodal.fromDocuments(docs(s, dir))).toDF()
        .select(col("media_id"), col("kind"), posexplode(col("feature")))
        .select(col("media_id"), col("kind"), col("pos").as("dim"),
          col("col").cast("double").as("value"))
    }),

    "q_frame_plan" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      Multimodal.frameSamplePlan(Multimodal.fromDocuments(docs(s, dir)).toDF(), 60000L)
    }),

    // REAL image decode roundtrip: deterministic PNGs encoded AND decoded
    // with javax.imageio on executors; the pixel law is closed-form so the
    // oracle (Oracles.mediaReal) recomputes the channel means without any
    // codec — verifying the whole lossless encode->decode->aggregate path.
    "q_media_real" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      Multimodal.decodeImages(Multimodal.synthesizeImages(docs(s, dir))).toDF()
        .select(col("media_id"), col("codec"), col("width"), col("height"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"))
    }),

    // full gated hedonic run to equilibrium from the SINGLETON partition on
    // the thin graph (23 supersteps at sf0.01) — oracled end-to-end: the
    // portable md5 parity gate lets DuckDB replay every superstep
    // (Oracles.hedonicFull; levels past convergence are identity).
    "q_hedonic_full" -> ((s, dir) => {
      val e = graphThin(s, dir)
      val init = GraphOps.vertices(e).select(col("id"), col("id").as("community"))
      val (members, _) = Hedonic.run(e, init, Hedonic.Config(maxSupersteps = 60))
      members
    }),

    // full-depth iterative PageRank, oracled: 20 FIXED iterations (the
    // driver's tol-based stopping point is not SQL-expressible; 20 rounds
    // exercises the same loop machinery and pins every iteration's math
    // against a 20-CTE DuckDB chain).
    "q_pagerank_full" -> ((s, dir) =>
      PageRank.run(graph(s, dir), PageRank.Config(fixedIter = Some(20)))
        .select(col("id"), round(col("rank"), 6).as("rank"))),

    // full gated LPA on the thin graph (engine stops at maxIter=20 at
    // sf0.01) — oracled as exactly 20 replayed gated levels.
    "q_lpa_full" -> ((s, dir) => LabelPropagation.run(graphThin(s, dir), maxIter = 20)),

    // M9 spectral (leading-eigenvector) core: 20 fixed shifted power-
    // iteration steps of the modularity matrix on the thin graph, md5-seeded
    // start vector — oracled as 20 replayed DuckDB CTE levels. The full
    // recursive subdivision (data-dependent split acceptance) is covered by
    // SpectralSpec.
    "q_spectral1" -> ((s, dir) => {
      val e = graphThin(s, dir)
      graft.algo.Spectral.wholeGraphVector(e, iters = 20)
        .select(col("id"), round(col("x"), 5).as("x"))
    }),

    "q_spectrum" -> ((s, dir) => {
      val e = graph(s, dir)
      Metrics.resolutionSpectrum(e, m0p(e), (0 to 10).map(_ / 10.0))
        .select(col("alpha"), round(col("equilibrium_fraction"), 6).as("equilibrium_fraction"))
    }),

    // ------------------------------------------- documents (oracled)
    "q_sha" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), sha2(col("text"), 256).as("sha"))),

    "q_dedup_exact" -> ((s, dir) => Dedup.exact(docs(s, dir))),

    "q_text_stats" -> ((s, dir) => {
      TextOps.qualityStats(docs(s, dir))
        .select(col("doc_id"),
          col("n_tokens").cast("long").as("n_tokens"),
          col("n_distinct_tokens").cast("long").as("n_distinct_tokens"),
          round(col("stopword_ratio"), 6).as("stopword_ratio"),
          round(col("punct_ratio"), 6).as("punct_ratio"),
          round(col("mean_word_len"), 6).as("mean_word_len"),
          round(col("repetition_ratio"), 6).as("repetition_ratio"),
          col("quality_score"))
    }),

    "q_lang_id" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), TextOps.langId(col("text")).as("lang_guess"))),

    // quality keep/drop verdict (Gopher/C4-style) over organic docs plus
    // planted bad rows (each drop rule provably fires for its reason)
    "q_quality" -> ((s, dir) => {
      import s.implicits._
      val planted = TextOps.plantedBadDocs.toDF("doc_id", "text")
      val all = docs(s, dir).select(col("doc_id"), col("text")).unionAll(planted)
      TextOps.qualityVerdict(all)
        .select(col("doc_id"), col("lang_guess"), col("drop_reason"), col("keep"))
    }),

    // Gopher-style top-bigram repetition signal
    "q_top_bigram" -> ((s, dir) => TextOps.topBigramStats(docs(s, dir))),

    // C4-style line-level cleaning stats (docs UNION planted multiline
    // rows — organic testdata is single-line, the plants carry the rules)
    "q_c4_clean" -> ((s, dir) => {
      import s.implicits._
      val planted = TextOps.plantedMultilineDocs.toDF("doc_id", "text")
      val all = docs(s, dir).select(col("doc_id"), col("text")).unionAll(planted)
      TextOps.c4LineStats(all)
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          col("dup_line_frac"), col("cleaned_sha"))
    }),

    // real BPE token count with the shipped 64-merge tokenizer artifact
    // (trained deterministically on Bpe.seedCorpus); the columnar
    // replace-chain application is mirrored merge-for-merge by the oracle
    "q_bpe_count" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), TextOps.bpeCount(col("text")).as("bpe_tokens"))),

    // the actual subword stream (doc order), not just the count
    "q_bpe_encode" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), posexplode(graft.text.Bpe.bpeEncode(col("text"))))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
          col("col").as("piece"))),

    "q_jaccard_pairs" -> ((s, dir) => Dedup.jaccardPairs(docs(s, dir), 0.4)),

    // survivorship: CC clusters over the jaccard pair graph (docs UNION 5
    // planted exact dups), canonical min-id survivor per cluster
    "q_dup_survivors" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val planted = d.filter(col("doc_id") < 5)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val all = d.unionByName(planted)
      Dedup.dedupSurvivors(all, Dedup.jaccardPairs(all, 0.4))
    }),

    // asymmetric containment (boilerplate/subset dups Jaccard misses)
    "q_containment" -> ((s, dir) => Dedup.containmentPairs(docs(s, dir), 0.6)),

    // winnowing fingerprints (SWA substring-overlap sketch)
    "q_winnow_fp" -> ((s, dir) =>
      Dedup.winnowFingerprints(docs(s, dir)).select(col("id").as("doc_id"), col("fp"))),

    // near-verbatim reuse pairs over the winnowed sketch
    "q_winnow_pairs" -> ((s, dir) => Dedup.winnowOverlapPairs(docs(s, dir))),

    "q_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))),

    // ------------------------------------------- documents (rows-only)
    "q_minhash_pairs" -> ((s, dir) => Dedup.minhashPairs(docs(s, dir), threshold = 0.35)),
    "q_simhash_pairs" -> ((s, dir) => Dedup.simhashPairs(docs(s, dir), maxHamming = 3)),

    // ------------------------------------------- embeddings
    // exact all-pairs cosine is the VERIFICATION baseline only — oracled on
    // a deterministic 1/5 sample slice (a cartesian product over the full
    // corpus was round 1's slowest query and a non-starter at scale; the
    // production path is q_lsh_embed_pairs over the full corpus).
    "q_embed_pairs" -> ((s, dir) =>
      Similarity.cosinePairs(embs(s, dir).filter(col("vec_id") % 5 === 0), 0.4)),

    "q_ann_topk" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.topK(e, e.filter(col("vec_id") < 5), 3)
    }),

    // production near-dup path: 16-bit-band hyperplane LSH over the FULL
    // corpus PLUS three planted exact duplicates (vec_id + 1e6, same
    // vector — identical signatures collide in every band), so the oracle
    // row carries information at every sf (round-3 finding: the organic
    // corpus has no >=0.4 pair at sf0.01 and the green row was 0 == 0).
    // Recall on NEAR-duplicates stays pinned by the property tests.
    "q_lsh_embed_pairs" -> ((s, dir) => {
      val e = embs(s, dir).select("vec_id", "embedding")
      val planted = e.filter(col("vec_id") < 3)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      Similarity.lshPairs(e.unionByName(planted), 0.4)
    }),

    // IVF coarse-quantizer ANN (the second scale path besides LSH):
    // deterministic sampled centroids, 2-probe exact re-rank — oracled.
    "q_ivf_topk" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 5), k = 3,
        nCells = 8, nProbe = 2)
    }),

    // recall@k of the IVF path vs the exact baseline, as a reported
    // number (was previously pinned only inside property tests)
    "q_ann_recall" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.annRecall(e, e.filter(col("vec_id") < 5), k = 3,
        nCells = 8, nProbe = 2)
    }),

    // hashed-trick text embeddings: similarity surface from raw text,
    // bitwise-oracled in rows form (doc_id, dim, value)
    "q_text_embed" -> ((s, dir) =>
      graft.text.TextEmbed.embeddingRows(docs(s, dir), dim = 16)
        .select(col("doc_id"), col("dim"), round(col("value"), 6).as("value"))),

    // --------------------------- sparse order-graph ops (oracled)
    "q_cc_sparse" -> ((s, dir) => ConnectedComponents.run(graphSparse(s, dir))),

    "q_induced" -> ((s, dir) => {
      // P3: community 0 (of m0) ∪ its neighbors, induced subgraph.
      val e = graphSparse(s, dir)
      val vset = GraphOps.communityWithNeighbors(e, m0(e), 0L)
      GraphOps.inducedSubgraph(e, vset).toDF()
    }),

    "q_onepass" -> ((s, dir) => {
      // M4: one-pass hedonic improvement at alpha = 0.
      val e = graphSparse(s, dir)
      Hedonic.onePass(GraphOps.symmetrize(e).select("src", "dst"), m0p(e))
    }),

    "q_wanting" -> ((s, dir) => {
      // A11: per-community count of nodes preferring it (alpha = 0).
      val e = graphSparse(s, dir)
      Hedonic.wantingToMove(GraphOps.symmetrize(e).select("src", "dst"), m0p(e))
    }),

    "q_stability" -> ((s, dir) => {
      // A12: stability of community 0 under m0 (binary collapse).
      val e = graphSparse(s, dir)
      Hedonic.communityStability(GraphOps.symmetrize(e).select("src", "dst"), m0p(e), 0L)
    }),

    "q_cluster_degree_fp" -> ((s, dir) => {
      // A20: within-cluster degree-distribution fingerprint under m0.
      val e = graphSparse(s, dir)
      Metrics.clusterDegreeFingerprint(e, m0p(e))
    }),

    // --------------------------- weighted-graph ops (oracled) — the
    // engine's mandated co-occurrence graph is weighted (shared paths);
    // these pin the weighted gather/vote/rank math.
    // M11 one reciprocal-invitation round from singletons on the thin
    // graph: community pairs that mutually invite each other (weighted
    // invitations; oracled — the full fixpoint is covered by ReciprocitySpec).
    "q_reciprocity1" -> ((s, dir) => {
      val e = graphThin(s, dir)
      val sym = GraphOps.symmetrize(e).select("src", "dst", "weight")
      val singles = GraphOps.vertices(e).select(col("id"), col("id").as("community"))
      graft.algo.Reciprocity.mutualPairs(sym, singles, weighted = true)
    }),

    // F3 resolution thresholds per (node, candidate-community pair) under
    // m0 on the thin graph (null when the flip is size-independent).
    "q_res_threshold" -> ((s, dir) => {
      val e = graphThin(s, dir)
      val sym = GraphOps.symmetrize(e).select("src", "dst")
      graft.algo.Reciprocity.resolutionThresholds(sym, m0(e))
    }),

    "q_wdegrees" -> ((s, dir) => GraphOps.strengths(graph(s, dir))),

    // map-state one-shot like q_lpa1 (weighted votes)
    "q_wlpa1" -> ((s, dir) => {
      val e = graph(s, dir)
      val labels = GraphOps.vertices(e).select(col("id"), (col("id") % 3).as("label"))
      LabelPropagation.bestLabels(GraphOps.symmetrize(e), labels, weighted = true)
        .select(col("id"), col("bestLabel").as("label"))
    }),

    "q_wpagerank3" -> ((s, dir) =>
      PageRank.run(graph(s, dir), PageRank.Config(fixedIter = Some(3), weighted = true))
        .select(col("id"), round(col("rank"), 6).as("rank"))),

    // one WEIGHTED hedonic superstep on the thin graph (Config.weighted:
    // friendship mass = weight sum, strangers count-based) — pins the
    // weighted payoff/argmax math; the full weighted run is strategy-pinned
    // by StrategySpec.
    // same single-ungated-step-through-run() shape as q_move1
    "q_wmove1" -> ((s, dir) => {
      val e = graphThin(s, dir)
      val (next, _) = Hedonic.run(e, m0(e),
        Hedonic.Config(maxSupersteps = 1, parityGating = false, weighted = true))
      next
    }),

    // full gated WEIGHTED hedonic run from singletons on the thin graph —
    // the mandated co-occurrence graph is weighted, so the weighted path
    // gets the same end-to-end gated-fixpoint replay as q_hedonic_full
    // (Oracles.whedonicFull; levels past convergence are identity).
    "q_whedonic_full" -> ((s, dir) => {
      val e = graphThin(s, dir)
      val init = GraphOps.vertices(e).select(col("id"), col("id").as("community"))
      val (members, _) = Hedonic.run(e, init,
        Hedonic.Config(maxSupersteps = 60, weighted = true))
      members
    }),

    // triangle count on the THIN graph — tracks the degree-oriented
    // algorithm's throughput (q_triangles' near-complete part graph is the
    // degenerate ~1.7e8-triangle stress case, flat across rounds by design).
    "q_triangles_sparse" -> ((s, dir) => {
      val n = TriangleCount.count(graphThin(s, dir))
      s.range(1).select(lit(n).as("triangles"))
    }),

    // ------------------------------------------- events
    "q_events_window" -> ((s, dir) => {
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 6).as("total_value"))
        .select(unix_timestamp(col("w.start")).as("window_start"),
          col("event_type"), col("n"), col("total_value"))
    }),

    // Streaming exact dedup's batch-degenerate path (EventStream.dedupStream
    // — the streaming form is dropDuplicatesWithinWatermark, pinned by
    // MemoryStream specs): earliest-event-time row per sha256(text).
    // documents has no natural duplicates, so 5 repeats are planted
    // (doc_id + 1e6 → LATER synthetic ts, same text; mirrored in the
    // oracle) — the query must keep every original and drop all five
    // plants, so the row set carries information at every sf.
    "q_stream_dedup" -> ((s, dir) => {
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val planted = base.filter(col("doc_id") < 5)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val stamped = base.unionByName(planted)
        .withColumn("ts", timestamp_seconds(col("doc_id")))
      graft.streaming.EventStream.dedupStream(stamped)
        .select(col("doc_id"), col("content_sha"))
    })
  )

  // ------------------------------------------------------------- oracles

  /** Every oracle is post-processed by Oracles.materialize (forces DuckDB
    * CTE materialization — the inlined form re-evaluates the extraction
    * prologue per chained CTE and is quadratically slow on q_pagerank_full). */
  def oracleSql: Map[String, String] =
    oracleSqlRaw.map { case (k, v) => k -> Oracles.materialize(v) }

  private def oracleSqlRaw: Map[String, String] = Map(
    "q_edges" -> Oracles.edges,
    "q_degrees" -> Oracles.degrees,
    "q_density" -> Oracles.density,
    "q_gather" -> Oracles.gather,
    "q_payoff" -> Oracles.payoff,
    "q_move1" -> Oracles.move1,
    "q_pagerank3" -> Oracles.pagerank(3),
    "q_cc" -> Oracles.cc,
    "q_triangles" -> Oracles.triangles,
    "q_lpa1" -> Oracles.lpa1,
    "q_ari" -> Oracles.ari,
    "q_satisfaction" -> Oracles.satisfaction,
    "q_merge_gain" -> Oracles.mergeGain,
    "q_robustness" -> Oracles.robustness,
    "q_degree_hist" -> Oracles.degreeHist,
    "q_topk_pagerank" -> Oracles.topkPagerank,
    "q_stats_ci" -> Oracles.statsCi,
    "q_pivot" -> Oracles.pivot,
    "q_distinct" -> Oracles.distinctCounts,
    "q_sha" -> Oracles.sha,
    "q_dedup_exact" -> Oracles.dedupExact,
    "q_text_stats" -> Oracles.textStats,
    "q_lang_id" -> Oracles.langId,
    "q_bpe_count" -> Oracles.bpeCount(graft.text.Bpe.defaultMerges),
    "q_bpe_encode" -> Oracles.bpeEncode(graft.text.Bpe.defaultMerges),
    "q_quality" -> Oracles.quality(TextOps.plantedBadDocs),
    "q_dup_survivors" -> Oracles.dupSurvivors,
    "q_c4_clean" -> Oracles.c4Clean(TextOps.plantedMultilineDocs),
    "q_top_bigram" -> Oracles.topBigram,
    "q_jaccard_pairs" -> Oracles.jaccardPairs,
    "q_containment" -> Oracles.containmentPairs,
    "q_winnow_fp" -> Oracles.winnowFp,
    "q_winnow_pairs" -> Oracles.winnowOverlapPairs,
    "q_fingerprint" ->
      """WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '),
                           x -> x <> '') AS t
        FROM documents)
      SELECT doc_id,
             sha256(list_aggregate(list_sort(list_distinct(t)), 'string_agg', ' ')) AS fp
      FROM toks""",
    "q_embed_pairs" -> Oracles.embedPairs,
    "q_ann_topk" -> Oracles.annTopK,
    "q_ivf_topk" -> Oracles.ivfTopK,
    "q_ann_recall" -> Oracles.annRecall,
    "q_text_embed" -> Oracles.textEmbed,
    "q_events_window" -> Oracles.eventsWindow,
    "q_stream_dedup" -> Oracles.streamDedup,
    // round-2 additions
    "q_pagerank_full" -> Oracles.pagerank(20),
    "q_spectrum" -> Oracles.spectrum,
    "q_media_features" -> Oracles.mediaFeatures,
    "q_frame_plan" -> Oracles.framePlan,
    "q_media_real" -> Oracles.mediaReal,
    "q_cc_sparse" -> Oracles.ccSparse,
    "q_induced" -> Oracles.induced,
    "q_onepass" -> Oracles.onePass,
    "q_wanting" -> Oracles.wanting,
    "q_stability" -> Oracles.stability,
    "q_cluster_degree_fp" -> Oracles.clusterDegreeFp,
    "q_wdegrees" -> Oracles.wdegrees,
    "q_wlpa1" -> Oracles.wlpa1,
    "q_wpagerank3" -> Oracles.wpagerank(3),
    "q_wmove1" -> Oracles.wmove1,
    "q_triangles_sparse" -> Oracles.trianglesSparse,
    // round-3 additions: portable md5 hash family makes the randomized
    // scale paths and full gated iterative runs DuckDB-replicable
    "q_hedonic_full" -> Oracles.hedonicFull(32),
    // 48 levels: the weighted run converges in 33-40 supersteps at sf0.01
    // (vs 23 unweighted); post-convergence levels are identity, so the 8
    // extra levels are free correctness margin against data/SF drift
    // (engine cap is 60, so a run converging at 41+ would otherwise
    // hash-mismatch spuriously).
    "q_whedonic_full" -> Oracles.whedonicFull(48),
    "q_hedonic_frontier" -> Oracles.hedonicFrontier(40),
    "q_leiden_full" -> Oracles.leidenFull(30, 10),
    "q_leiden_refine" -> Oracles.leidenRefine,
    "q_sbm_recover" -> Oracles.sbmRecover(40),
    "q_lpa_full" -> Oracles.lpaFull(20),
    "q_minhash_pairs" -> Oracles.minhashPairs,
    "q_simhash_pairs" -> Oracles.simhashPairs,
    "q_lsh_embed_pairs" -> Oracles.lshEmbedPairs,
    "q_reciprocity1" -> Oracles.reciprocity1,
    "q_spectral1" -> Oracles.spectral1(20),
    "q_res_threshold" -> Oracles.resThreshold
  )
}
