package graft.algo

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model.Edge
import graft.graph.GraphOps
import graft.io.Iterate

/** Label propagation — north-rule addition N3. One synchronous step IS the
  * reference's `community_onepass_improvement` (hedonic/__init__.py:266-280,
  * operator M3/A18): each node adopts the majority label among its
  * neighbors; iterated to convergence here.
  *
  * Tie-break: the reference's is Python-set iteration order (unspecified,
  * hedonic/__init__.py:273); the engine canonicalizes to highest count, then
  * SMALLEST label — deterministic (documented divergence, SURVEY.md §7.4.2).
  *
  * Oscillation: synchronous LPA two-colors bipartite-ish graphs. Standard
  * fix applied: hash-parity gating — only nodes passing the portable md5
  * parity gate (graft.util.Portable.parityGate; DuckDB-replicable, so
  * q_lpa_full is oracled end to end) may change each round. Convergence = a
  * superstep where no node (gated or not) would change.
  *
  * Cost model: ONE job per iteration on both strategies. Broadcast-state
  * (small V, hub-free): labels live in DRIVER arrays between rounds and
  * re-enter the plan as a DeltaState payload read by the dense-index
  * packed kernel (stepPlanPackedIdxDelta); the single-stage job ends in a
  * changer-row collect and nothing is pinned (see Hedonic.runDriverState
  * for the rationale and the measured serial-cost motivation). Shuffle
  * path (over budget, or a hub graph): the
  * new labels are pinned while the would-change counter rides the
  * materialization pass as an accumulator (Iterate.pinSums); the previous
  * round's cache is released immediately.
  */
object LabelPropagation {

  /** One synchronous step from `labels(id, label)`; returns new labels with
    * a `wants` column (true when the majority label differs from current).
    * `weighted = true` weighs each neighbor vote by edge weight (`sym` must
    * carry a `weight` column). `bcastState = true` broadcasts the V-row
    * label side into the gather — with `sym` cached pre-partitioned on src
    * (the grouping key) the whole step then runs exchange-free on the
    * cached layout (see Hedonic.stepPlanMap for the strategy rationale). */
  def step(sym: DataFrame, labels: DataFrame, weighted: Boolean = false,
           bcastState: Boolean = false): DataFrame = {
    val labSide = labels.select(col("id").as("dst"), col("label").as("nbrLabel"))
    val nbrLabels = sym.join(
      if (bcastState) broadcast(labSide) else labSide, Seq("dst"))
    val vote = if (weighted) sum(col("weight").cast("double")) else count(lit(1)).cast("double")
    val counts = nbrLabels.groupBy(col("src").as("id"), col("nbrLabel"))
      .agg(vote.as("cnt"))
    val best = counts.groupBy("id").agg(
      max(struct(col("cnt"), (-col("nbrLabel")).as("neg"), col("nbrLabel").as("lab"))).as("b"))
    labels.join(if (bcastState) broadcast(best) else best, Seq("id"), "left")
      .select(col("id"), col("label"),
        coalesce(col("b.lab"), col("label")).as("bestLabel"))
      .withColumn("wants", col("bestLabel") =!= col("label"))
  }

  /** `packedOpt`: a caller-built CSR pack of the symmetrized edges (see
    * Hedonic.run — pack once, run hedonic + PageRank + LPA), honored on
    * the broadcast-state path; the caller persists it and owns its cache
    * lifetime, and the `weighted` flags must match. */
  def run(edges: Dataset[Edge], initOpt: Option[DataFrame] = None,
          maxIter: Int = 30, parityGating: Boolean = true,
          weighted: Boolean = false,
          broadcastStateMaxRows: Long = 4000000L,
          packedOpt: Option[graft.graph.PackedAdj] = None): DataFrame = {
    val init = initOpt
      .map(_.select(col("id"), col("label")))
      .getOrElse(GraphOps.vertices(edges).select(col("id"), col("id").as("label")))
    // one capped materialization = strategy decision + driver-state
    // collect (StateMap.withinBudget). Broadcast-state strategy iterates
    // over the dense-index CSR-packed adjacency (see PackedAdjacency /
    // stepPlanPackedIdxDelta); a hub graph falls through to the shuffle
    // loop.
    graft.util.StateMap.withinBudget(init, broadcastStateMaxRows) match {
      case Some(initRows) =>
        val (ids, labs) = graft.util.StateMap.columns(initRows)
        graft.graph.PackedAdjacency.indexedFor(edges, ids, weighted, packedOpt) match {
          case Some(pidx) =>
            return runDriverState(edges.sparkSession, pidx, ids, labs, maxIter, parityGating)
          case None => ()
        }
      case None => ()
    }
    // Shuffle path (over budget, or a hub graph): cached pre-partitioned on
    // dst (the join key); only the V-row label side re-exchanges per round.
    val sym = GraphOps.pinnedSym(edges, "dst", weighted, sorted = true)

    var labels = Iterate.pin(init)
    var prevPin: Option[Iterate.Pinned] = None
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      val stepped = step(sym, labels, weighted, bcastState = false)
      val gate =
        if (parityGating) graft.util.Portable.parityGate(col("id"), iter)
        else lit(true)
      val next = stepped
        .select(col("id"),
          when(col("wants") && gate, col("bestLabel")).otherwise(col("label")).as("label"),
          col("wants"))
      val pinned = Iterate.pinSums(next, Seq("wants"))
      done = pinned.sums(0) == 0.0
      labels = pinned.df.select("id", "label")
      prevPin.foreach(_.release())
      prevPin = Some(pinned)
      iter += 1
    }
    sym.unpersist()
    labels
  }

  /** One-shot majority vote (the q_lpa1 / q_wlpa1 shape) with the same
    * scale-gated strategy split as run(): a label state within the
    * broadcast budget executes stepPlanMap straight over the symmetrized
    * rows — state enters as a broadcast primitive map, so the E-row
    * gather JOIN of step() (and the pack build run() would pay — measured
    * a net loss for one step in the first round-6 session) both
    * disappear; only changer rows come back and the driver merge keeps
    * everyone else's label. Larger states fall back to the plan-side
    * step(). Output (id, bestLabel) per label row — value-identical to
    * step(sym, labels, weighted).select(id, bestLabel) (StrategySpec). */
  def bestLabels(sym: DataFrame, labels: DataFrame, weighted: Boolean = false,
                 broadcastStateMaxRows: Long = 4000000L): DataFrame = {
    val spark = labels.sparkSession
    import graft.util.StateMap
    val lab0 = StateMap.withinBudget(labels.select("id", "label"), broadcastStateMaxRows) match {
      case Some(rows) => rows
      case None       => return step(sym, labels, weighted).select(col("id"), col("bestLabel"))
    }
    val n = lab0.length
    val (ids, labs) = StateMap.columns(lab0)
    val idx = new scala.collection.mutable.LongMap[Int](n * 2)
    var i = 0
    while (i < n) { idx(ids(i)) = i; i += 1 }
    val sc = spark.sparkContext
    val labB = sc.broadcast(StateMap.longLong(ids, labs, n))
    val rows = stepPlanMap(sym, new StateMap.Ref(labB), weighted, lit(true)).collect()
    labB.destroy()
    var k = 0
    while (k < rows.length) {
      val r = rows(k)
      idx.get(r.getLong(0)).foreach(at => labs(at) = r.getLong(1))
      k += 1
    }
    StateMap.frame(spark, ids, "bestLabel", labs)
  }

  /** The driver-state iteration's plan over a broadcast id -> label map
    * (graft.util.StateMap lookup expressions — see Hedonic.stepPlanMap for
    * why this beats LocalRelation + broadcast join): gather votes over the
    * cached layout, per-node argmax, gate evaluated in-plan (portable md5
    * parity — DuckDB-replicable). One single-stage job, zero exchanges.
    * Only CHANGER rows (majority label differs from current) are returned
    * — non-changers change nothing and are counted nowhere, mirroring the
    * old driver merge's `best != labs(at)` guard; the isNotNull filters
    * mirror the inner join's drop of dst/id outside the label state. */
  private[graft] def stepPlanMap(sym: DataFrame,
      labOf: graft.util.StateMap.Ref[org.apache.spark.broadcast.Broadcast[graft.util.StateMap.LongLongMap]],
      weighted: Boolean, gate: org.apache.spark.sql.Column): DataFrame = {
    import graft.util.StateMap
    val vote = if (weighted) sum(col("weight").cast("double")) else count(lit(1)).cast("double")
    val votes = sym
      .select(col("src").as("id"), StateMap.lookup(labOf, col("dst")).as("nbrLabel"),
        (if (weighted) col("weight") else lit(1L)).as("weight"))
      .filter(col("nbrLabel").isNotNull)
      .groupBy("id", "nbrLabel")
      .agg(vote.as("cnt"))
    // canonical argmax (count desc, smallest label) + changed-only filter
    votes
      .groupBy("id").agg(
        max(struct(col("cnt"), (-col("nbrLabel")).as("neg"), col("nbrLabel").as("lab"))).as("b"))
      .withColumn("cur", StateMap.lookup(labOf, col("id")))
      .filter(col("cur").isNotNull && col("b.lab") =!= col("cur"))
      .select(col("id"), col("b.lab").as("bestLabel"), gate.as("g"))
  }

  /** Dense-index step plan (the broadcast-state loop's plan, hub-free
    * graphs; see Hedonic.stepPlanPackedIdxDelta): a codegen'd per-vertex
    * kernel (PackedKernels.kLabelIdx) tallies neighbor labels and argmaxes
    * in one pass; labels ride the DeltaState payload's comms lane. Rows
    * are keyed by state POSITION (myIdx) for DeltaState.moves.
    * Decision-identical to stepPlanMap (PackedSpec pins it). */
  private[graft] def stepPlanPackedIdxDelta(pidx: graft.graph.PackedIdxAdj,
      stateR: graft.util.StateMap.Ref[org.apache.spark.broadcast.Broadcast[graft.util.DeltaState.Payload]],
      gate: org.apache.spark.sql.Column): DataFrame = {
    val wcol = if (pidx.weighted) Some(col("wts")) else None
    pidx.df
      .select(col("id"), col("myIdx"),
        PackedKernels.labelDecideIdxDelta(col("myIdx"), col("nbrs"), wcol, stateR)
          .as("bestLabel"))
      .filter(col("bestLabel").isNotNull)
      .select(col("myIdx"), col("bestLabel"), gate.as("g"))
  }

  /** Broadcast-strategy loop with DRIVER-RESIDENT labels over the
    * dense-index pack `pidx` (positions of `ids`/`labs`); exactly one
    * Spark job (ending in a changer-row collect) per iteration. Decision
    * semantics identical to the shuffle loop: `wants` = majority label
    * differs (counted BEFORE gating, so convergence is gate-independent);
    * a node absent from the vote table keeps its label. */
  private def runDriverState(spark: org.apache.spark.sql.SparkSession,
      pidx: graft.graph.PackedIdxAdj, ids: Array[Long], labs: Array[Long],
      maxIter: Int, parityGating: Boolean): DataFrame = {
    import spark.implicits._
    import graft.util.StateMap
    // Plan built once; Refs carry per-round broadcast handles (see
    // StateMap.Ref and Hedonic.runDriverState). Labels ride the payload's
    // comms lane; the size lane stays empty.
    val state = new graft.util.DeltaState.DriverState(spark.sparkContext, labs, withSizes = false)
    val roundR = new StateMap.Ref[Integer](Integer.valueOf(0))
    val gate =
      if (parityGating) graft.util.Portable.parityGate(col("id"), StateMap.intRef(roundR))
      else lit(true)
    val moves = graft.util.DeltaState.moves(stepPlanPackedIdxDelta(pidx, state.state, gate))
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      state.publish(iter)
      roundR.value = Integer.valueOf(iter)
      val parts = moves.collect()
      state.release()
      // Every collected row is a changer (best != current, filtered
      // in-plan); the gate flag decides whether it applies.
      var wanted = 0L
      var p = 0
      while (p < parts.length) {
        val (pos, ls, mv) = parts(p)
        var k = 0
        while (k < pos.length) {
          val at = pos(k)
          if (at >= 0) {
            wanted += 1
            if (mv(k)) state.move(at, ls(k))
          }
          k += 1
        }
        p += 1
      }
      done = wanted == 0L
      iter += 1
    }
    state.close()
    pidx.unpersist()
    ids.indices.map(k => (ids(k), labs(k))).toDF("id", "label")
  }
}
