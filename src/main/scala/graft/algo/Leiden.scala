package graft.algo

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model.Edge
import graft.graph.GraphOps

/** Community merge / aggregation phase — the reference's dormant merge path
  * (`worthy_merge` / `find_a_pair_of_communities_to_merge` /
  * `merge_two_communities`, hedonic/__init__.py:181-207) with the *intended*
  * semantics (the reference body is dormant-buggy: `total_possible_edges`
  * undefined, `worthy_merge` missing its alpha arg — SURVEY.md §7.5), plus
  * the full Leiden-style loop (M8 = local moving + aggregation, recursed).
  *
  * Math: community potential simplifies to
  *   pot(C) = e_in(C) - alpha * C(n,2)
  * (from e_in*(1-a) - (C(n,2)-e_in)*a), so the merge gain of A,B is
  *   gain(A,B) = e_between(A,B) - alpha * nA * nB
  * — a pure column expression over the contracted (meta) edge table.
  *
  * Distributed merge round: every community proposes its best partner
  * (max gain, gain > 0, tie-break smallest partner id); only MUTUAL best
  * pairs merge (a deterministic matching — no chains, so sizes used in the
  * gain stay valid within the round). Iterated to fixpoint, this realizes
  * the reference's one-pair-at-a-time greedy loop at scale.
  */
object Leiden {

  /** Contracted meta-graph: (cross-community meta-edges, per-community
    * (community, n, e_in)). */
  def contract(edges: Dataset[Edge], members: DataFrame): (DataFrame, DataFrame) = {
    val m1 = members.select(col("id").as("src"), col("community").as("c1"))
    val m2 = members.select(col("id").as("dst"), col("community").as("c2"))
    // NOTE (round 6, negative result — twice): the two slices below
    // reference the E-row membership joins twice. Folding the intra rows
    // into the ca == cb diagonal of one canonicalized count aggregate was
    // tried (a) with a pin — one eager job per merge round regressed
    // q_leiden_full ~1 s — and (b) via identical-subtree exchange reuse —
    // measured 0.43-0.54 -> 0.59-0.67 s per warm mergeGains call on the
    // sf0.1 thin graph (OPTIMIZATION_r06.md, "Measured and rejected this
    // session": single-aggregate community contraction): the heavier (ca, cb)
    // grouping costs more than the shared pass saves at driver SF, and
    // the merge loop multiplies it. Kept in the original two-slice form
    // deliberately.
    val lifted = edges.toDF().join(m1, Seq("src")).join(m2, Seq("dst"))
    val metaEdges = lifted.filter(col("c1") =!= col("c2"))
      .select(least(col("c1"), col("c2")).as("ca"),
        greatest(col("c1"), col("c2")).as("cb"))
      .groupBy("ca", "cb").agg(count(lit(1)).as("between"))
    val eIn = lifted.filter(col("c1") === col("c2"))
      .groupBy(col("c1").as("community")).agg(count(lit(1)).as("ein"))
    val stats = members.groupBy("community").agg(count(lit(1)).as("n"))
      .join(eIn, Seq("community"), "left")
      .select(col("community"), col("n"), coalesce(col("ein"), lit(0L)).as("ein"))
    (metaEdges, stats)
  }

  /** Merge-gain table over the contracted graph: one row per touching
    * community pair with gain = e_between - alpha*nA*nB (the closed form of
    * the reference's worthy_merge test, intended semantics). */
  def mergeGains(edges: Dataset[Edge], members: DataFrame, alpha: Double): DataFrame =
    contract(edges, members) match { case (metaEdges, stats) =>
      metaEdges
        .join(stats.select(col("community").as("ca"), col("n").as("na")), Seq("ca"))
        .join(stats.select(col("community").as("cb"), col("n").as("nb")), Seq("cb"))
        .withColumn("gain", col("between") - lit(alpha) * col("na") * col("nb"))
    }

  /** One merge round: mutual-best-partner matching over positive-gain
    * meta-edges. Returns (newMembers, mergesApplied). */
  def mergeRound(edges: Dataset[Edge], members: DataFrame, alpha: Double): (DataFrame, Long) = {
    val gains = mergeGains(edges, members, alpha)
      .filter(col("gain") > 0)
    // both directions so every community ranks all its partners
    val dirEdges = gains.select(col("ca").as("c"), col("cb").as("p"), col("gain"))
      .unionByName(gains.select(col("cb").as("c"), col("ca").as("p"), col("gain")))
    val best = dirEdges.groupBy("c").agg(
      max(struct(col("gain"), (-col("p")).as("negp"), col("p").as("partner"))).as("b"))
      .select(col("c"), col("b.partner").as("p"))
    // mutual: best(c)=p AND best(p)=c; canonical representative = min(c,p)
    val mutual = best.as("x").join(best.as("y"),
        col("x.p") === col("y.c") && col("y.p") === col("x.c"))
      .select(col("x.c").as("community"), least(col("x.c"), col("x.p")).as("newComm"))
      .filter(col("community") =!= col("newComm")) // keep only the absorbed side
    val nMerges = mutual.count()
    if (nMerges == 0) (members, 0L)
    else {
      val next = members.join(mutual, Seq("community"), "left")
        .select(col("id"), coalesce(col("newComm"), col("community")).as("community"))
        .transform(graft.io.Iterate.pin)
      (next, nMerges)
    }
  }

  /** Leiden REFINEMENT phase (the property genuine Leiden exists to
    * guarantee — Traag et al. 2019, "From Louvain to Leiden", and igraph's
    * community_leiden, the reference's "Leiden" baseline
    * scripts/config.py:42-55): every community must be INTERNALLY CONNECTED
    * before aggregation contracts it to one meta-node, else a disconnected
    * community is frozen forever. Split = connected components restricted
    * to intra-community edges; new label = the component's min vertex id
    * (distinct across communities for free since components partition the
    * vertex set). Members with no intra-community edge become singletons
    * labeled by their own id.
    *
    * Splitting a disconnected community strictly INCREASES the potential
    * pot(C) = e_in - alpha*C(n,2): the parts share no edges, so e_in is
    * preserved while C(n,2) shrinks. Refinement therefore never hurts and
    * is a fixpoint on partitions whose communities are already connected
    * (LeidenRefineSpec pins both properties). Plan shape: two V-scale
    * equi-joins + the large/small-star CC loop — no all-pairs, no windows. */
  def refine(edges: Dataset[Edge], members: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val m1 = members.select(col("id").as("src"), col("community").as("c1"))
    val m2 = members.select(col("id").as("dst"), col("community").as("c2"))
    val intra = edges.toDF().join(m1, Seq("src")).join(m2, Seq("dst"))
      .filter(col("c1") === col("c2"))
      .select("src", "dst", "weight").as[Edge]
    val comps = ConnectedComponents.run(intra) // (id, comp = min reachable id)
    members.join(comps, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("community"))
  }

  /** Merge phase to fixpoint. */
  def mergePhase(edges: Dataset[Edge], members: DataFrame, alpha: Double,
                 maxRounds: Int = 50): DataFrame = {
    var m = members
    var rounds = 0
    var merged = 1L
    while (merged > 0 && rounds < maxRounds) {
      val (next, n) = mergeRound(edges, m, alpha)
      m = next; merged = n; rounds += 1
    }
    m
  }

  /** Full Leiden-style loop: local moving (hedonic supersteps) then the
    * merge phase, alternated until neither changes the partition. The
    * reference's production "Hedonic" method is the local-moving phase only
    * (config.py:56-69, only_first_phase=True); `levels > 1` adds the full
    * Leiden aggregation the "Leiden" baseline uses (config.py:42-55). */
  /** `refine = true` inserts the connectivity refinement phase between
    * local moving and aggregation — genuine Leiden. Default false ONLY
    * because q_leiden_full's DuckDB replay pins the merge trajectory
    * level-for-level and CC-inside-the-pyramid is not fixed-cap-replayable;
    * the refinement operator itself is oracled standalone (q_leiden_refine)
    * and the connectivity property is pinned by LeidenRefineSpec. */
  def run(edges: Dataset[Edge], init: DataFrame,
          alpha: Option[Double] = None, levels: Int = 3,
          hedonicCfg: Hedonic.Config = Hedonic.Config(),
          mergeRounds: Int = 50, refine: Boolean = false): DataFrame = {
    val a = alpha.getOrElse(GraphOps.density(edges))
    var members = init.select("id", "community")
    var level = 0
    var changed = true
    while (changed && level < levels) {
      val (moved0, _) = Hedonic.run(edges, members, hedonicCfg.copy(alpha = Some(a)))
      val moved = if (refine) this.refine(edges, moved0) else moved0
      val before = Hedonic.potential(edges, moved, a)
      val mergedM = mergePhase(edges, moved, a, mergeRounds)
      val after = Hedonic.potential(edges, mergedM, a)
      changed = after > before + 1e-12
      members = mergedM
      level += 1
    }
    members
  }
}
