package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Plan-evidence dump: `.explain("formatted")` for the load-bearing
  * queries, written to PLANS.md. What to look for (and what the round's
  * plan review checks):
  *  - parquet scans show ReadSchema restricted to referenced columns and
  *    PushedFilters for predicates (column pruning / predicate pushdown);
  *  - membership/community-size sides of gather joins are
  *    BroadcastHashJoin (small side), edge-side never broadcast;
  *  - aggregates are partial+final HashAggregate pairs (map-side combine);
  *  - WholeStageCodegen spans cover the hot path (no codegen breaks from
  *    UDFs — the engine has none);
  *  - triangle counting reuses the oriented-edge exchange (ReusedExchange).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val picks = Seq(
      "q_edges", "q_gather", "q_payoff", "q_pagerank3", "q_triangles",
      "q_dedup_exact", "q_jaccard_pairs", "q_ann_topk", "q_events_window",
      // round-2 additions: LSH production path, chunk-pair simhash, the
      // sparse-graph game ops, weighted rank, media decode plumbing
      "q_lsh_embed_pairs", "q_simhash_pairs", "q_induced", "q_onepass",
      "q_wpagerank3", "q_media_features",
      // round-4 additions: winnow sketch (rows + per-doc window frame,
      // codegen'd md5 projection) and the containment candidate plan
      "q_winnow_fp", "q_containment",
      // round-5 additions: real ImageIO decode (mapPartitions batch shape),
      // columnar BPE replace-chain, quality verdict projection, hashed
      // text embeddings, IVF recall instrumentation
      "q_media_real", "q_bpe_count", "q_quality", "q_text_embed", "q_ann_recall",
      "q_dup_survivors")
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan evidence for the load-bearing queries\n\n")
    sb.append(s"Generated by `graft.Explain` on `$sfDir`. Reviewed for: column\n")
    sb.append("pruning (`ReadSchema`), predicate pushdown (`PushedFilters`),\n")
    sb.append("broadcast of small join sides, partial+final HashAggregate, and\n")
    sb.append("WholeStageCodegen coverage (engine has zero UDFs on hot paths).\n")
    picks.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }

    // The dense-index broadcast-state per-round plans — one per algorithm,
    // the plans Hedonic/PageRank/LPA.run execute each round on hub-free
    // graphs: InMemoryTableScan -> Project(kernel) -> Filter -> Project
    // inside ONE WholeStageCodegen span — no aggregate, no exchange, no
    // join. Hedonic and LPA state enters as a DeltaState.Payload resolved
    // once per task, PageRank's as a bare primitive array.
    {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      import graft.util.{DeltaState, StateMap}
      val edges = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L))
        .map { case (a, b) => graft.model.Edge(a, b, 1.0) }.toDS()
      val symDf = graft.graph.GraphOps.symmetrize(edges).select("src", "dst")
      val ids = (0L to 3L).toArray
      val sc = spark.sparkContext
      val pidx = graft.graph.PackedAdjacency.indexed(
        graft.graph.PackedAdjacency.build(symDf, "src"), ids).get
      val qR = new StateMap.Ref(sc.broadcast(Array.fill(4)(0.125)))
      val dBase = sc.broadcast(new DeltaState.FullState(
        ids.clone(), ids.clone(), Array.fill(4)(1L)))
      val dState = new StateMap.Ref(sc.broadcast(new DeltaState.Payload(
        DeltaState.newRunId(), 0, 0, dBase,
        Array.empty[Int], Array.empty[Long], Array.empty[Long], Array.empty[Long])))
      val shapes = Seq(
        "delta_hedonic_superstep" ->
          graft.algo.Hedonic.stepPlanPackedIdxDelta(pidx, dState, 0.1,
            graft.util.Portable.parityGate(col("id"), 0)),
        "indexed_pagerank_iteration" ->
          graft.algo.PageRank.iterPlanPackedIdx(pidx, qR, None, 4.0,
            graft.algo.PageRank.Config()),
        "delta_lpa_step" ->
          graft.algo.LabelPropagation.stepPlanPackedIdxDelta(pidx, dState, lit(true)))
      shapes.foreach { case (name, df) =>
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        sb.append(s"\n## $name (dense-index strategy, per-round plan)\n\n```\n$plan```\n")
      }
      pidx.unpersist()
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
