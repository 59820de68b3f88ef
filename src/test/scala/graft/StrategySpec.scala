package graft

import org.apache.spark.sql.functions._
import graft.algo.{Hedonic, LabelPropagation, PageRank}

/** The iterative algorithms carry two physical strategies — broadcast-state
  * (small V: state broadcast, edges partitioned on the grouping key, zero
  * edge-scale exchange per round) and co-partitioned shuffle (the 1e9-vertex
  * path). They must be the SAME decision function: identical results, not
  * merely equivalent-up-to-schedule. broadcastStateMaxRows = 0 forces the
  * shuffle path; the default covers the broadcast path.
  */
class StrategySpec extends SparkSpec {

  // Two planted triangles bridged by one edge + a pendant path — has real
  // gather asymmetry, multi-round convergence, and a node outside any
  // triangle.
  private val pairs = Seq[(Long, Long)](
    (0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3), (5, 6), (6, 7))

  test("hedonic: broadcast-state and shuffle supersteps decide identically") {
    val e = edgesOf(pairs)
    val init = membersOf((0L to 7L).map(i => (i, i)))
    val (mB, metB) = Hedonic.run(e, init, Hedonic.Config(maxSupersteps = 40))
    val (mS, metS) = Hedonic.run(e, init,
      Hedonic.Config(maxSupersteps = 40, broadcastStateMaxRows = 0L))
    assert(toMap(mB) == toMap(mS)) // bitwise-identical labels, not permutation
    assert(metB.map(m => (m.superstep, m.moved, m.frontier)) ==
      metS.map(m => (m.superstep, m.moved, m.frontier)))
  }

  test("hedonic: multi-label noisy init agrees across strategies") {
    val e = edgesOf(pairs)
    val init = membersOf(Seq((0L, 5L), (1L, 0L), (2L, 0L), (3L, 1L),
      (4L, 1L), (5L, 0L), (6L, 1L), (7L, 5L)))
    val (mB, _) = Hedonic.run(e, init, Hedonic.Config(maxSupersteps = 40))
    val (mS, _) = Hedonic.run(e, init,
      Hedonic.Config(maxSupersteps = 40, broadcastStateMaxRows = 0L))
    assert(toMap(mB) == toMap(mS))
  }

  test("hedonic: ONE-superstep run (map one-shot fast path) matches the shuffle step") {
    val e = edgesOf(pairs)
    // multi-label init so the single ungated step has real movers
    val init = membersOf(Seq((0L, 5L), (1L, 0L), (2L, 0L), (3L, 1L),
      (4L, 1L), (5L, 0L), (6L, 1L), (7L, 5L)))
    val cfg = Hedonic.Config(maxSupersteps = 1, parityGating = false)
    val (mB, metB) = Hedonic.run(e, init, cfg) // map one-shot fast path
    val (mS, metS) = Hedonic.run(e, init, cfg.copy(broadcastStateMaxRows = 0L))
    assert(toMap(mB) == toMap(mS))
    assert(metB.map(m => (m.superstep, m.moved, m.frontier)) ==
      metS.map(m => (m.superstep, m.moved, m.frontier)))
    // gated variant: the parity gate must key on the vertex id either way
    val cfgG = Hedonic.Config(maxSupersteps = 1)
    val (mBg, _) = Hedonic.run(e, init, cfgG)
    val (mSg, _) = Hedonic.run(e, init, cfgG.copy(broadcastStateMaxRows = 0L))
    assert(toMap(mBg) == toMap(mSg))
    // weighted variant through the same fast path
    import spark.implicits._
    val wedges = pairs.map { case (u, v) =>
      graft.model.Edge(u, v, ((u * 3 + v) % 4 + 1).toDouble)
    }.toDS()
    val cfgW = Hedonic.Config(maxSupersteps = 1, parityGating = false, weighted = true)
    val (mBw, _) = Hedonic.run(wedges, init, cfgW)
    val (mSw, _) = Hedonic.run(wedges, init, cfgW.copy(broadcastStateMaxRows = 0L))
    assert(toMap(mBw) == toMap(mSw))
  }

  test("lpa: bestLabels one-shot matches step() on both sides of the budget") {
    import spark.implicits._
    val e = edgesOf(pairs)
    val labels = graft.graph.GraphOps.vertices(e)
      .select(col("id"), (col("id") % 3).as("label"))
    val symP = graft.graph.GraphOps.symmetrize(e).select("src", "dst")
    val symW = graft.graph.GraphOps.symmetrize(e)
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaStep = m(LabelPropagation.step(symP, labels)
      .select(col("id"), col("bestLabel")))
    assert(m(LabelPropagation.bestLabels(symP, labels)) == viaStep)
    // over-budget fallback path
    assert(m(LabelPropagation.bestLabels(symP, labels,
      broadcastStateMaxRows = 0L)) == viaStep)
    // weighted votes
    val viaStepW = m(LabelPropagation.step(symW, labels, weighted = true)
      .select(col("id"), col("bestLabel")))
    assert(m(LabelPropagation.bestLabels(symW, labels, weighted = true)) == viaStepW)
  }

  test("hedonic: WEIGHTED runs agree across strategies") {
    import spark.implicits._
    // Varied integral weights (shared-path counts) so the weighted payoff
    // genuinely reorders candidates vs the unweighted count.
    val wedges = pairs.map { case (u, v) =>
      graft.model.Edge(u, v, ((u * 3 + v) % 4 + 1).toDouble)
    }.toDS()
    val init = membersOf((0L to 7L).map(i => (i, i % 3)))
    val cfg = Hedonic.Config(maxSupersteps = 40, weighted = true)
    val (mB, metB) = Hedonic.run(wedges, init, cfg)
    val (mS, metS) = Hedonic.run(wedges, init, cfg.copy(broadcastStateMaxRows = 0L))
    assert(toMap(mB) == toMap(mS))
    assert(metB.map(m => (m.superstep, m.moved, m.frontier)) ==
      metS.map(m => (m.superstep, m.moved, m.frontier)))
  }

  test("pagerank: broadcast-state and shuffle iterations match at 1e-12") {
    val e = edgesOf(Fixtures.zachary)
    val cfg = PageRank.Config(fixedIter = Some(20))
    def run(budget: Long) =
      PageRank.runTimed(e, cfg.copy(broadcastStateMaxRows = budget))._1
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val s = run(0L)
    // the default budget, and the budgets around the n degree rows the
    // gate counts (n - 1 takes the shuffle loop; n and n + 1 the driver
    // path). Same arithmetic, different summation order: agreement far
    // below the 1e-6 fixture-parity bar.
    val n = graft.graph.GraphOps.vertices(e).count()
    Seq(cfg.broadcastStateMaxRows, n - 1, n, n + 1).foreach { budget =>
      val b = run(budget)
      assert(b.keySet == s.keySet)
      b.foreach { case (id, r) => assert(math.abs(r - s(id)) < 1e-12, s"budget $budget id $id") }
    }
  }

  /** Shuffle exchanges on the plan SPINE — i.e. moving edge-scale rows.
    * Broadcast-build subtrees are skipped: a V-row aggregate inside a
    * BroadcastExchange (community sizes) is state-scale traffic and is the
    * point of the strategy. Cached relations are leaves, so the one-time
    * pinnedSym exchange doesn't count either. */
  private def spineShuffles(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    def walk(p: SparkPlan): Int = p match {
      case _: BroadcastExchangeLike => 0
      case s: ShuffleExchangeLike   => 1 + s.children.map(walk).sum
      case o                        => o.children.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  test("broadcast-state plans contain zero spine shuffle exchanges") {
    import graft.graph.GraphOps
    import graft.io.Iterate
    // AQE wraps the plan in AdaptiveSparkPlanExec (childless until
    // executed) — disable it while BUILDING these plans so the traversal
    // sees the real tree; EnsureRequirements runs either way.
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
    val e = edgesOf(pairs)
    val symSrc = GraphOps.pinnedSym(e, "src")
    // Hedonic superstep: driver state enters as broadcast primitive maps
    // read through codegen'd lookups over the cached layout (the shape
    // run() builds each superstep from its driver-resident arrays).
    import graft.util.StateMap
    val sc = spark.sparkContext
    val ids = (0L to 7L).toArray
    val commB = new StateMap.Ref(sc.broadcast(StateMap.longLong(ids, ids, ids.length)))
    val sizeB = new StateMap.Ref(sc.broadcast(StateMap.longLong(ids, Array.fill(8)(1L), ids.length)))
    val hplan = Hedonic.stepPlanMap(symSrc, commB, sizeB, 0.25, lit(true))
    assert(spineShuffles(hplan) == 0, hplan.queryExecution.executedPlan.toString)
    // PageRank driver-state iteration (broadcast rank/degree maps).
    val symDst = GraphOps.pinnedSym(e, "dst")
    val rankB = new StateMap.Ref(sc.broadcast(StateMap.longDouble(ids, Array.fill(8)(0.125), ids.length)))
    val degB = new StateMap.Ref(sc.broadcast(StateMap.longDouble(ids, Array.fill(8)(2.0), ids.length)))
    val pplan = PageRank.iterPlanMap(symDst, rankB, degB, 8.0, PageRank.Config())
    assert(spineShuffles(pplan) == 0, pplan.queryExecution.executedPlan.toString)
    // LPA driver-state step (broadcast label map).
    val lplan = LabelPropagation.stepPlanMap(symSrc, commB, weighted = false, lit(true))
    assert(spineShuffles(lplan) == 0, lplan.queryExecution.executedPlan.toString)
    // LPA public step() with a broadcast label RELATION (the non-driver-
    // state entry point callers use on materialized label frames).
    val labels = Iterate.pin(
      membersOf((0L to 7L).map(i => (i, i))).select(col("id"), col("community").as("label")))
    val lplan2 = LabelPropagation.step(symSrc, labels, bcastState = true)
    assert(spineShuffles(lplan2) == 0, lplan2.queryExecution.executedPlan.toString)
    symSrc.unpersist(); symDst.unpersist()
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("lpa: broadcast-state and shuffle runs produce identical labels") {
    val e = edgesOf(pairs)
    val b = toMap(LabelPropagation.run(e))
    val s = toMap(LabelPropagation.run(e, broadcastStateMaxRows = 0L))
    assert(b == s)
  }

  // --- budget gates: every gate compares the capped collect against the
  // CLAMPED cap (Int.MaxValue - 2), so an unbounded budget takes the
  // driver path on the full input, never on a truncated collect. Each case
  // also runs the budgets around the n rows its gate counts (n - 1 takes
  // the shuffle loop; n and n + 1 the driver path): every budget, the
  // default included, must give the budget-0 shuffle result.
  private val unbounded = Long.MaxValue
  private def budgets(n: Long, default: Long): Seq[Long] =
    Seq(default, n - 1, n, n + 1, unbounded)

  test("StateMap.withinBudget: n rows pass at budget n and Long.MaxValue, not at n - 1") {
    val df = edgesOf(pairs).toDF()
    val all = df.collect().toSet
    val n = all.size.toLong
    assert(graft.util.StateMap.withinBudget(df, n).map(_.toSet) == Some(all))
    assert(graft.util.StateMap.withinBudget(df, n - 1).isEmpty)
    assert(graft.util.StateMap.withinBudget(df, unbounded).map(_.toSet) == Some(all))
  }

  test("budget Long.MaxValue: Hedonic.run matches the default budget") {
    val e = edgesOf(pairs)
    val init = membersOf((0L to 7L).map(i => (i, i % 3)))
    val cfg = Hedonic.Config(maxSupersteps = 40)
    def run(budget: Long) = {
      val (m, met) = Hedonic.run(e, init, cfg.copy(broadcastStateMaxRows = budget))
      (toMap(m), met.map(x => (x.superstep, x.moved, x.frontier)))
    }
    val shuffle = run(0L)
    budgets(init.count(), cfg.broadcastStateMaxRows)
      .foreach(b => assert(run(b) == shuffle, s"budget $b"))
  }

  test("budget Long.MaxValue: HedonicFrontier.run matches the default budget") {
    val e = edgesOf(pairs)
    val init = membersOf((0L to 7L).map(i => (i, i % 3)))
    val cfg = Hedonic.Config(maxSupersteps = 40)
    def run(budget: Long) =
      toMap(graft.algo.HedonicFrontier.run(e, init, cfg.copy(broadcastStateMaxRows = budget))._1)
    val shuffle = run(0L)
    budgets(init.count(), cfg.broadcastStateMaxRows)
      .foreach(b => assert(run(b) == shuffle, s"budget $b"))
  }

  test("budget Long.MaxValue: LabelPropagation.run matches the default budget") {
    val e = edgesOf(pairs)
    def run(budget: Long) = toMap(LabelPropagation.run(e, broadcastStateMaxRows = budget))
    val shuffle = run(0L)
    budgets(graft.graph.GraphOps.vertices(e).count(), 4000000L)
      .foreach(b => assert(run(b) == shuffle, s"budget $b"))
  }

  test("budget Long.MaxValue: LabelPropagation.bestLabels matches the default budget") {
    val e = edgesOf(pairs)
    val labels = graft.graph.GraphOps.vertices(e)
      .select(col("id"), (col("id") % 3).as("label"))
    val symP = graft.graph.GraphOps.symmetrize(e).select("src", "dst")
    def run(budget: Long) =
      toMap(LabelPropagation.bestLabels(symP, labels, broadcastStateMaxRows = budget))
    val shuffle = run(0L)
    budgets(labels.count(), 4000000L).foreach(b => assert(run(b) == shuffle, s"budget $b"))
  }

  test("budget Long.MaxValue: ConnectedComponents.run matches the default budget") {
    val e = edgesOf(pairs ++ Seq[(Long, Long)]((10, 11), (11, 12)))
    def run(budget: Long) = toMap(graft.algo.ConnectedComponents.run(e, maxDriverEdges = budget))
    val shuffle = run(0L)
    budgets(e.count(), 4000000L).foreach(b => assert(run(b) == shuffle, s"budget $b"))
  }

  test("budget boundaries: Spectral.wholeGraphVector matches the shuffle loop at 5 dp") {
    // q_spectral1's rounding; n = the degree rows the gate counts
    val e = edgesOf(pairs)
    def run(budget: Long) = graft.algo.Spectral.wholeGraphVector(e, iters = 20, budget)
      .select(col("id"), round(col("x"), 5)).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val shuffle = run(0L)
    budgets(graft.graph.GraphOps.vertices(e).count(), 4000000L)
      .foreach(b => assert(run(b) == shuffle, s"budget $b"))
  }

  test("indexed superstep plans contain zero spine shuffle exchanges") {
    import graft.graph.{GraphOps, PackedAdjacency}
    import graft.util.{DeltaState, StateMap}
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val e = edgesOf(pairs)
      val sc = spark.sparkContext
      val ids = (0L to 7L).toArray
      val pidx = PackedAdjacency.indexed(PackedAdjacency.build(
        GraphOps.symmetrize(e).select("src", "dst"), "src"), ids).get
      val state = new DeltaState.DriverState(sc, ids.clone(), withSizes = true)
      state.publish(0)
      val hplan = Hedonic.stepPlanPackedIdxDelta(pidx, state.state, 0.25, lit(true))
      assert(spineShuffles(hplan) == 0, hplan.queryExecution.executedPlan.toString)
      val qB = new StateMap.Ref(sc.broadcast(Array.fill(8)(0.125)))
      val pplan = PageRank.iterPlanPackedIdx(pidx, qB, None, 8.0, PageRank.Config())
      assert(spineShuffles(pplan) == 0, pplan.queryExecution.executedPlan.toString)
      val lplan = LabelPropagation.stepPlanPackedIdxDelta(pidx, state.state, lit(true))
      assert(spineShuffles(lplan) == 0, lplan.queryExecution.executedPlan.toString)
      state.release(); state.close()
      pidx.unpersist()
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }
}
