package graft.algo

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model.Edge
import graft.graph.GraphOps
import graft.io.Iterate

/** PageRank over the (undirected, symmetrized) co-occurrence graph —
  * north-rule addition N1 (SURVEY.md §2.9); no direct reference
  * implementation exists, so semantics follow the standard formulation:
  *
  *   r'(v) = (1-d)/V + d * sum_{u->v} r(u)/outdeg(u)
  *
  * The vertex set is edge-derived, so on the symmetrized graph every
  * vertex has degree >= 1: there are no dangling vertices, no dangling
  * mass to redistribute, and ranks sum to 1 at every iteration.
  *
  * `weighted = true` splits rank proportionally to edge weight
  * (contribution = r(u) * w(u,v) / strength(u), strength = sum of incident
  * weights) — the natural semantics for the engine's weighted co-occurrence
  * graph.
  *
  * Scale shape per iteration — two physical strategies, chosen by state
  * size (the same decision Spark itself makes between broadcast-hash and
  * sort-merge joins):
  *
  *  - broadcast-state (V <= broadcastStateMaxRows, hub-free graph): the
  *    rank vector lives in DRIVER arrays
  *    between iterations; each round it re-enters the plan as one bare
  *    primitive array broadcast read by a codegen'd per-vertex kernel
  *    over the dense-index CSR-packed in-neighbor lists
  *    (iterPlanPackedIdx), and the single job ends in a V-row collect. An
  *    iteration moves ZERO edge-scale rows through the shuffle and runs
  *    zero auxiliary jobs. This is what makes per-iteration cost scale
  *    with cores (the N->4N efficiency target): both the E-row exchange
  *    that saturates single-host shuffle bandwidth and the serial
  *    per-iteration driver cost (broadcast-build jobs, pins) are gone.
  *  - co-partitioned shuffle (large V, or a hub graph — PackedAdj.hub
  *    has no index plan): edges cached partitioned on src
  *    (the join key); only the V-row state shuffles into the join, and the
  *    E-row contribution aggregate exchanges on dst. This is the 1e9-vertex
  *    path where broadcasting the state would be worse than the shuffle
  *    (replicating V rows to every executor). ONE materializing job pins
  *    the new state and (in tol mode) accumulates sum|delta| in the same
  *    pass — no separate convergence job; the previous iteration's cache
  *    is released as soon as the new one is live.
  *
  * The edge table is persisted once across all iterations.
  */
object PageRank {

  final case class Config(
      damping: Double = 0.85,
      tol: Double = 1e-9, // on sum(|delta|); comfortably below 1e-6 fixture parity
      maxIter: Int = 100,
      fixedIter: Option[Int] = None, // exactly-n iterations (oracle parity mode)
      weighted: Boolean = false,
      // Max state rows to run the broadcast-state strategy. ~24 B/row:
      // the default ~100 MB broadcast trades against an E-row shuffle per
      // iteration; 0 forces the co-partitioned shuffle path (tests use
      // this to pin both strategies to the same fixtures).
      broadcastStateMaxRows: Long = 4000000L,
      // Pack-shuffle partition count (None = session shuffle partitions);
      // see Hedonic.Config.packPartitions.
      packPartitions: Option[Int] = None,
      // Iteration-cache partition count (see Hedonic.Config.cachePartitions).
      cachePartitions: Option[Int] = None)

  def run(edges: Dataset[Edge], cfg: Config = Config()): DataFrame =
    runTimed(edges, cfg)._1

  /** run() plus per-iteration wall-clock millis, so benchmarks can report
    * setup (vertex/degree/adjacency build) and iteration throughput as
    * separate phases — the build is one-time and amortizes over
    * iterations; lumping it into the rate hides what actually scales.
    *
    * `packedOpt`: a caller-built CSR pack of the SYMMETRIZED edges (see
    * Hedonic.run — src- and dst-packs are identical on a symmetric edge
    * set), honored on the broadcast-state path. Pack once, run hedonic +
    * PageRank + LPA: the degree table is then derived from the cached
    * V-row pack (size(nbrs) / sum(wts)) instead of a second E-row
    * aggregate. The caller persists the pack and owns its cache lifetime;
    * its `weighted` flag must match cfg.weighted. A hub pack has no index
    * plan, so such a run (like an over-budget one) takes the shuffle loop
    * and never reads the pack. */
  def runTimed(edges: Dataset[Edge], cfg: Config = Config(),
          packedOpt: Option[graft.graph.PackedAdj] = None): (DataFrame, Seq[Long]) = {
    graft.graph.PackedAdjacency.requireWeighted(packedOpt, cfg.weighted)
    val spark = edges.sparkSession
    // A hub-free shared pack: vertex count and degrees come off the cached
    // V-row pack (one row per vertex — size(nbrs) / sum(wts)) instead of
    // an E-row aggregate over the raw edges.
    packedOpt match {
      case Some(p) if !p.hub =>
        val v = p.df.count().toDouble
        if (v <= cfg.broadcastStateMaxRows) {
          val deg =
            if (cfg.weighted)
              p.df.select(col("id"), aggregate(col("wts"), lit(0.0), (acc, x) => acc + x).as("deg"))
            else p.df.select(col("id"), size(col("nbrs")).cast("double").as("deg"))
          return runDriverState(spark, p, deg, v, cfg).get
        }
      case _ => ()
    }
    // ONE E-row degree aggregate yields the vertex count (the strategy
    // decision), the pack build's degrees and the rank-degree table.
    val symDf = GraphOps.symPairs(edges, cfg.weighted)
    val degAgg =
      (if (cfg.weighted)
        symDf.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"),
          sum(col("weight").cast("double")).as("deg"))
      else
        symDf.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))).persist()
    val v = degAgg.count().toDouble
    val deg =
      if (cfg.weighted) degAgg.select(col("id"), col("deg"))
      else degAgg.select(col("id"), col("d").cast("double").as("deg"))
    // A shared pack lands here only over budget or as a hub: no own build.
    if (packedOpt.isEmpty && v <= cfg.broadcastStateMaxRows) {
      val packed = graft.graph.PackedAdjacency.build(symDf, "dst", cfg.weighted,
        partitions = cfg.packPartitions, cachePartitions = cfg.cachePartitions,
        degOpt = Some(degAgg.select(col("id").as("dst"), col("d"))))
      runDriverState(spark, packed, deg, v, cfg) match {
        case Some(out) => degAgg.unpersist(); return out
        case None      => () // hub graph: the shuffle loop below
      }
    }
    val out = runShuffle(edges, cfg, deg, v)
    degAgg.unpersist()
    out
  }

  /** Co-partitioned shuffle loop (over-budget V or a hub graph). `vdegIn`
    * is the (id, deg) table — precomputed by the caller so one degree
    * aggregate serves every setup consumer. */
  private def runShuffle(edges: Dataset[Edge], cfg: Config, vdegIn: DataFrame,
      v: Double): (DataFrame, Seq[Long]) = {
    val iterMs = scala.collection.mutable.ArrayBuffer.empty[Long]
    // Shuffle path: cached pre-partitioned on src (the join key); only the
    // V-row rank side re-exchanges per iteration.
    val sym = GraphOps.pinnedSym(edges, "src", cfg.weighted, sorted = true)
    val vdeg = vdegIn.persist()
    vdeg.count()

    var ranks = vdeg.select(col("id"), lit(1.0 / v).as("rank"), col("deg"))
      .transform(Iterate.pin)
    var prevPin: Option[Iterate.Pinned] = None
    var iter = 0
    var done = false
    val nIter = cfg.fixedIter.getOrElse(cfg.maxIter)
    while (!done && iter < nIter) {
      val t0 = System.nanoTime()
      val plan = iterPlan(sym, ranks, vdeg, v, withDelta = cfg.fixedIter.isEmpty, cfg)
      if (cfg.fixedIter.isEmpty) {
        // tol mode: |delta| vs the previous ranks rides the SAME plan; the
        // pin job below both materializes and sums it (zero extra jobs).
        val pinned = Iterate.pinSums(plan, Seq("delta"))
        done = pinned.sums(0) < cfg.tol
        ranks = pinned.df.select("id", "rank", "deg")
        prevPin.foreach(_.release())
        prevPin = Some(pinned)
      } else {
        val pinned = Iterate.pinSums(plan, Seq.empty)
        ranks = pinned.df
        prevPin.foreach(_.release())
        prevPin = Some(pinned)
      }
      iterMs += (System.nanoTime() - t0) / 1000000
      iter += 1
    }
    sym.unpersist(); vdeg.unpersist()
    (ranks.select("id", "rank"), iterMs.toSeq)
  }

  /** Broadcast-strategy loop with DRIVER-RESIDENT ranks (V fits the
    * broadcast budget, hence the driver) over the dense-index remap of
    * `packed` (PackedAdjacency.indexed; None for a hub graph, whose caller
    * then runs the shuffle loop). The iteration plan is built ONCE over
    * mutable Ref cells and re-collected every round (StateMap.Ref): no
    * per-round planning, codegen, or broadcast churn. An iteration is
    * exactly ONE single-stage job: packed-adjacency scan, per-vertex
    * contribution kernel, V-row collect; nothing is pinned. Per round ONE
    * bare double[] is broadcast — the PRE-DIVIDED rank/deg when unweighted
    * (kernel: one read per edge), the rank alone when weighted (strength
    * array broadcast once; degrees never change). The rank update stays
    * IN-PLAN, same arithmetic shape as the shuffle path's expression;
    * only the tol-mode |delta| sum moves to the driver (same values,
    * different summation order — a stopping heuristic, not a result). */
  private def runDriverState(spark: org.apache.spark.sql.SparkSession,
      packed: graft.graph.PackedAdj, deg: DataFrame, v: Double,
      cfg: Config): Option[(DataFrame, Seq[Long])] = {
    import spark.implicits._
    lazy val vd = deg.collect() // only for a hub-free pack
    lazy val ids = vd.map(_.getLong(0))
    val pidxOpt = graft.graph.PackedAdjacency.indexed(packed, ids)
    if (pidxOpt.isEmpty) return None
    val pidx = pidxOpt.get
    val iterMs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val n = vd.length
    val degs = vd.map(_.getDouble(1))
    import graft.util.StateMap
    val sc = spark.sparkContext
    val qR = new StateMap.Ref[org.apache.spark.broadcast.Broadcast[Array[Double]]](null)
    val degArrROpt =
      if (cfg.weighted) Some(new StateMap.Ref(sc.broadcast(degs.clone()))) else None
    // V rows come back per iteration as per-partition PRIMITIVE
    // (position, rank) arrays (DeltaState.values). Built once; each
    // collect() re-serializes the closure so the Ref-carried broadcast
    // handles are fresh per round.
    val rankRdd = graft.util.DeltaState.values(iterPlanPackedIdx(pidx, qR, degArrROpt, v, cfg))
    var ranks = Array.fill(n)(1.0 / v)
    val nIter = cfg.fixedIter.getOrElse(cfg.maxIter)
    val timing = sys.env.get("SPARK_GRAFT_STEP_TIMING").exists(_.toBoolean)
    var iter = 0
    var done = false
    while (!done && iter < nIter) {
      val t0 = System.nanoTime()
      val q =
        if (cfg.weighted) ranks.clone()
        else {
          // one IEEE division per vertex, not per edge — the same
          // contribution value every in-neighbor reads.
          val a = new Array[Double](n)
          var z = 0
          while (z < n) { a(z) = ranks(z) / degs(z); z += 1 }
          a
        }
      qR.value = sc.broadcast(q)
      val tLocal = System.nanoTime()
      val next = ranks.clone() // min-degree-1: every vertex receives a row
      var delta = 0.0
      var nRows = 0L
      val parts = rankRdd.collect()
      qR.value.destroy()
      val tJob = System.nanoTime()
      var p = 0
      while (p < parts.length) {
        val (pos, rs) = parts(p)
        nRows += pos.length
        var k = 0
        while (k < pos.length) {
          val at = pos(k)
          delta += math.abs(rs(k) - ranks(at))
          next(at) = rs(k)
          k += 1
        }
        p += 1
      }
      ranks = next
      if (timing) System.err.println(
        f"prIterTiming it=$iter local=${(tLocal - t0) / 1e6}%.0f " +
        f"job=${(tJob - tLocal) / 1e6}%.0f " +
        f"merge=${(System.nanoTime() - tJob) / 1e6}%.0f rows=$nRows")
      if (cfg.fixedIter.isEmpty) done = delta < cfg.tol
      iterMs += (System.nanoTime() - t0) / 1000000
      iter += 1
    }
    degArrROpt.foreach(_.value.destroy())
    pidx.unpersist()
    Some(((0 until n).map(k => (ids(k), ranks(k))).toDF("id", "rank"), iterMs.toSeq))
  }

  /** One co-partitioned-shuffle iteration's (unpinned) next-state plan —
    * exposed so StrategySpec can inspect the physical shape. The `+ 0.0`
    * term keeps the rank expression's shape identical to iterPlanMap's and
    * iterPlanPackedIdx's, so the strategies agree to summation order. */
  private[graft] def iterPlan(sym: DataFrame, ranks: DataFrame, vdeg: DataFrame,
      v: Double, withDelta: Boolean, cfg: Config): DataFrame = {
    val contribCol =
      if (cfg.weighted) col("rank") * col("weight") / col("deg")
      else col("rank") / col("deg")
    val rankSide = ranks.filter(col("deg") > 0.0)
      .select(col("id").as("src"), col("rank"), col("deg"))
    val contribs = sym
      .join(rankSide, Seq("src"))
      .select(col("dst"), contribCol.as("c"))
      .groupBy(col("dst").as("id")).agg(sum("c").as("s"))
    val newRank =
      lit((1.0 - cfg.damping) / v) +
        lit(cfg.damping) * (coalesce(col("s"), lit(0.0)) + lit(0.0))
    val base = vdeg.join(contribs, Seq("id"), "left")
    if (withDelta) {
      val oldSide = ranks.select(col("id"), col("rank").as("old"))
      base.join(oldSide, Seq("id"))
        .select(col("id"), newRank.as("rank"), col("deg"),
          abs(newRank - col("old")).as("delta"))
    } else base.select(col("id"), newRank.as("rank"), col("deg"))
  }

  /** The driver-state iteration's plan over broadcast rank/degree maps —
    * exposed so StrategySpec can assert it stays free of shuffle
    * exchanges. Same per-row arithmetic shape as iterPlan (rank/deg, or
    * rank*weight/deg when weighted) so results agree with the shuffle path
    * to summation order. The isNotNull filter mirrors the inner join's
    * drop of src outside the rank state (never hit for edge-derived
    * vertex sets, where deg covers every src). */
  private[graft] def iterPlanMap(sym: DataFrame,
      rankOf: graft.util.StateMap.Ref[org.apache.spark.broadcast.Broadcast[graft.util.StateMap.LongDoubleMap]],
      degOf: graft.util.StateMap.Ref[org.apache.spark.broadcast.Broadcast[graft.util.StateMap.LongDoubleMap]],
      v: Double, cfg: Config): DataFrame = {
    import graft.util.StateMap
    val rank = StateMap.lookup(rankOf, col("src"))
    val dg = StateMap.lookup(degOf, col("src"))
    val contribCol =
      if (cfg.weighted) rank * col("weight") / dg
      else rank / dg
    val newRank =
      lit((1.0 - cfg.damping) / v) +
        lit(cfg.damping) * (coalesce(col("s"), lit(0.0)) + lit(0.0))
    sym
      .select(col("dst"), contribCol.as("c"))
      .filter(col("c").isNotNull)
      .groupBy(col("dst").as("id")).agg(sum("c").as("s"))
      .select(col("id"), newRank.as("rank"))
  }

  /** Dense-index iteration plan (the broadcast-state loop's plan, hub-free
    * graphs): a V-row scan of the reindexed in-neighbor lists where a
    * codegen'd kernel (PackedKernels.kContribIdx) sums each vertex's
    * contributions in one pass — no aggregate operator. Same
    * per-contribution arithmetic as iterPlan/iterPlanMap; per-vertex
    * accumulation order is the sorted neighbor array (deterministic across
    * runs). Rows are keyed by the dense state POSITION (myIdx): the driver
    * merge needs no id -> index probe. */
  private[graft] def iterPlanPackedIdx(pidx: graft.graph.PackedIdxAdj,
      qR: graft.util.StateMap.Ref[org.apache.spark.broadcast.Broadcast[Array[Double]]],
      degArrR: Option[graft.util.StateMap.Ref[org.apache.spark.broadcast.Broadcast[Array[Double]]]],
      v: Double, cfg: Config): DataFrame = {
    val newRank =
      lit((1.0 - cfg.damping) / v) +
        lit(cfg.damping) * (coalesce(col("s"), lit(0.0)) + lit(0.0))
    val wcol = if (pidx.weighted) Some(col("wts")) else None
    pidx.df
      .select(col("id"), col("myIdx"),
        PackedKernels.prContribIdx(col("nbrs"), wcol, qR, degArrR).as("s"))
      .filter(col("s").isNotNull)
      .select(col("myIdx"), newRank.as("rank"))
  }

  /** Top-k vertices by rank (SURVEY.md §2.6 addition). */
  def topK(ranks: DataFrame, k: Int): DataFrame =
    ranks.orderBy(desc("rank"), asc("id")).limit(k)
}
