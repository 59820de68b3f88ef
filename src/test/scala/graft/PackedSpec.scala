package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.algo.{Hedonic, LabelPropagation, PageRank}
import graft.graph.{GraphOps, PackedAdjacency, PackedIdxAdj}
import graft.util.{DeltaState, StateMap}

/** Pins the index superstep plans (PackedAdjacency.indexed +
  * PackedKernels, state through the DeltaState transport) decision-
  * identical to the row-map plans, and the hub branch too: a hub pack
  * (hubCap = 2) has no index plan, so the run takes its shuffle loop,
  * whose first superstep must apply exactly the row-map plan's gated
  * moves. The row-map plans are themselves pinned to the shuffle strategy
  * and the serial oracle by StrategySpec/AlgoSpec, so this closes the
  * identity chain serial -> shuffle -> row-map -> index. */
class PackedSpec extends SparkSpec {

  private def sc = spark.sparkContext

  // Zachary with a deliberately messy 5-label state over every vertex.
  private val fullState: Seq[(Long, Long)] = (0L to 33L).map(i => (i, i % 5))
  // The same state with vertex 33 OUTSIDE the table, to pin the join-drop
  // semantics.
  private val stateSeq: Seq[(Long, Long)] = fullState.take(33)
  private def sizesOf(st: Seq[(Long, Long)]): Seq[(Long, Long)] =
    st.groupBy(_._2).map { case (c, xs) => (c, xs.size.toLong) }.toSeq

  private def llMap(pairs: Seq[(Long, Long)]) =
    StateMap.longLong(pairs.map(_._1).toArray, pairs.map(_._2).toArray, pairs.size)
  private def ldMap(pairs: Seq[(Long, Double)]) =
    StateMap.longDouble(pairs.map(_._1).toArray, pairs.map(_._2).toArray, pairs.size)

  private def rows3(df: DataFrame): Set[(Long, Long, Boolean)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
  /** An index plan's (position, value, flag) rows, keyed back to ids. */
  private def byId(df: DataFrame, ids: Array[Long]): Set[(Long, Long, Boolean)] =
    df.collect().map(r => (ids(r.getInt(0)), r.getLong(1), r.getBoolean(2))).toSet

  /** `st` after the gated moves of a (id, value, doMove) row set. */
  private def applied(st: Seq[(Long, Long)], rows: Set[(Long, Long, Boolean)]): Map[Long, Long] =
    st.toMap ++ rows.collect { case (id, v, true) => id -> v }

  /** A pack with every vertex of degree > 2 over the cap: a hub pack. */
  private def hubPack(symDf: DataFrame, weighted: Boolean) = {
    val p = PackedAdjacency.build(symDf, "src", weighted, hubCap = 2)
    assert(p.hub)
    p
  }

  /** The dense-index pack over `ids` positions, as the driver loops get it. */
  private def indexed(symDf: DataFrame, key: String, weighted: Boolean,
                      ids: Array[Long]): PackedIdxAdj =
    PackedAdjacency.indexed(PackedAdjacency.build(symDf, key, weighted), ids).get

  /** Round-0 driver state of `st` (a full base, no overrides). */
  private def driverState(st: Seq[(Long, Long)], withSizes: Boolean) = {
    val d = new DeltaState.DriverState(sc, st.map(_._2).toArray, withSizes)
    d.publish(0)
    d
  }

  private def hedonicParity(edges: Dataset[graft.model.Edge], weighted: Boolean): Unit = {
    val cols = if (weighted) Seq("src", "dst", "weight") else Seq("src", "dst")
    val symDf = GraphOps.symmetrize(edges).select(cols.map(col): _*)
    val commB = new StateMap.Ref(sc.broadcast(llMap(fullState)))
    val sizeB = new StateMap.Ref(sc.broadcast(llMap(sizesOf(fullState))))
    val alpha = 0.12
    val gate = graft.util.Portable.parityGate(col("id"), 3)
    val expect = rows3(Hedonic.stepPlanMap(symDf, commB, sizeB, alpha, gate, weighted))
    assert(expect.nonEmpty) // the fixture must actually exercise movers
    val ids = fullState.map(_._1).toArray
    val pidx = indexed(symDf, "src", weighted, ids)
    val st = driverState(fullState, withSizes = true)
    assert(byId(Hedonic.stepPlanPackedIdxDelta(pidx, st.state, alpha, gate), ids) == expect)
    st.release(); st.close(); pidx.unpersist()
    // hub branch: one superstep of the shuffle loop (gate round 0)
    val (m, _) = Hedonic.run(edges, membersOf(fullState),
      Hedonic.Config(alpha = Some(alpha), maxSupersteps = 1, weighted = weighted),
      packedOpt = Some(hubPack(symDf, weighted)))
    val gate0 = graft.util.Portable.parityGate(col("id"), 0)
    assert(toMap(m) ==
      applied(fullState, rows3(Hedonic.stepPlanMap(symDf, commB, sizeB, alpha, gate0, weighted))))
  }

  test("hedonic: packed kernel and hub branch match the row-based plan") {
    hedonicParity(edgesOf(Fixtures.zachary), weighted = false)
  }

  test("hedonic: WEIGHTED packed kernel and hub branch match the weighted row plan") {
    import spark.implicits._
    val wedges = Fixtures.zachary.map { case (u, v) =>
      graft.model.Edge(u, v, (((u + 2 * v) % 5) * 10 + 1).toDouble)
    }.toDS()
    val symDf = GraphOps.symmetrize(wedges).select("src", "dst", "weight")
    // flag sanity: 1..41 weights must flip at least one decision vs counts
    val commB = new StateMap.Ref(sc.broadcast(llMap(fullState)))
    val sizeB = new StateMap.Ref(sc.broadcast(llMap(sizesOf(fullState))))
    val gate = graft.util.Portable.parityGate(col("id"), 3)
    assert(rows3(Hedonic.stepPlanMap(symDf, commB, sizeB, 0.12, gate, weighted = true)) !=
      rows3(Hedonic.stepPlanMap(symDf.select("src", "dst"), commB, sizeB, 0.12, gate)))
    hedonicParity(wedges, weighted = true)
  }

  test("lpa: packed kernel and hub branch match the row-based plan (w + uw)") {
    import spark.implicits._
    // Varied weights so the weighted vote actually differs from the count.
    val wedges = Fixtures.zachary.map { case (u, v) =>
      graft.model.Edge(u, v, ((u + 2 * v) % 3 + 1).toDouble)
    }.toDS()
    val labB = new StateMap.Ref(sc.broadcast(llMap(fullState)))
    val gate = graft.util.Portable.parityGate(col("id"), 1)
    val ids = fullState.map(_._1).toArray
    for (weighted <- Seq(false, true)) {
      val cols = if (weighted) Seq("src", "dst", "weight") else Seq("src", "dst")
      val symDf = GraphOps.symmetrize(wedges).select(cols.map(col): _*)
      val expect = rows3(LabelPropagation.stepPlanMap(symDf, labB, weighted, gate))
      assert(expect.nonEmpty)
      val pidx = indexed(symDf, "src", weighted, ids)
      val st = driverState(fullState, withSizes = false)
      val got = byId(LabelPropagation.stepPlanPackedIdxDelta(pidx, st.state, gate), ids)
      assert(got == expect, s"weighted=$weighted")
      st.release(); st.close(); pidx.unpersist()
      // hub branch: one iteration of the shuffle loop (gate round 0)
      val labels = membersOf(fullState).select(col("id"), col("community").as("label"))
      val hub = toMap(LabelPropagation.run(wedges, Some(labels), maxIter = 1,
        weighted = weighted, packedOpt = Some(hubPack(symDf, weighted))))
      val gate0 = graft.util.Portable.parityGate(col("id"), 0)
      assert(hub == applied(fullState,
        rows3(LabelPropagation.stepPlanMap(symDf, labB, weighted, gate0))), s"weighted=$weighted")
    }
  }

  test("pagerank: packed iteration matches the row-based plan at 1e-15") {
    import spark.implicits._
    val wedges = Fixtures.zachary.map { case (u, v) =>
      graft.model.Edge(u, v, ((u + v) % 4 + 1).toDouble)
    }.toDS()
    val v = 34.0
    for (weighted <- Seq(false, true)) {
      val cols = if (weighted) Seq("src", "dst", "weight") else Seq("src", "dst")
      val symDf = GraphOps.symmetrize(wedges).select(cols.map(col): _*)
      val cfg = PageRank.Config(weighted = weighted)
      val degSeq = (if (weighted)
        symDf.groupBy(col("src").as("id")).agg(sum(col("weight").cast("double")).as("deg"))
      else
        symDf.groupBy(col("src").as("id")).agg(count(lit(1)).cast("double").as("deg")))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val rankSeq = degSeq.map { case (id, _) => (id, (id + 1).toDouble / 700.0) }
      val degB = new StateMap.Ref(sc.broadcast(ldMap(degSeq)))
      val rankB = new StateMap.Ref(sc.broadcast(ldMap(rankSeq)))
      val expect = PageRank.iterPlanMap(symDf, rankB, degB, v, cfg)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // the driver loop's state: rank/deg pre-divided when unweighted,
      // rank against a strength array when weighted
      val ids = degSeq.map(_._1).toArray
      val ranks = rankSeq.map(_._2).toArray
      val degs = degSeq.map(_._2).toArray
      val qB = new StateMap.Ref(sc.broadcast(
        if (weighted) ranks else ranks.indices.map(i => ranks(i) / degs(i)).toArray))
      val degArrB = if (weighted) Some(new StateMap.Ref(sc.broadcast(degs))) else None
      val pidx = indexed(symDf, "dst", weighted, ids)
      val got = PageRank.iterPlanPackedIdx(pidx, qB, degArrB, v, cfg)
        .collect().map(r => ids(r.getInt(0)) -> r.getDouble(1)).toMap
      assert(got.keySet == expect.keySet, s"weighted=$weighted")
      // Same arithmetic, summation order differs (sorted array vs row
      // order) — agreement to accumulation rounding only.
      got.foreach { case (id, r) =>
        assert(math.abs(r - expect(id)) < 1e-15, s"weighted=$weighted id=$id")
      }
      pidx.unpersist()
    }
  }

  test("indexed kernels: outside-state vertices (-1 positions) match the row plan") {
    // Vertex 33 is OUTSIDE stateSeq: the remap maps it (as row and as
    // neighbor) to -1, and the index kernels must reproduce the row
    // plan's inner-join-drop semantics exactly — NULLV for the row, skip
    // for the neighbor.
    val e = edgesOf(Fixtures.zachary)
    val symDf = GraphOps.symmetrize(e).select("src", "dst")
    val ids = stateSeq.map(_._1).toArray
    val commB = new StateMap.Ref(sc.broadcast(llMap(stateSeq)))
    val sizeB = new StateMap.Ref(sc.broadcast(llMap(sizesOf(stateSeq))))
    val alpha = 0.12
    val gate = graft.util.Portable.parityGate(col("id"), 3)
    val pidx = indexed(symDf, "src", weighted = false, ids)
    // myIdx = -1 exactly for vertex 33; its id appears in neighbor arrays
    // as -1 (covered implicitly by the decision parity below).
    val mi = pidx.df.select("id", "myIdx").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(mi(33L) == -1 && mi.count(_._2 == -1) == 1)
    val stH = driverState(stateSeq, withSizes = true)
    val expectH = rows3(Hedonic.stepPlanMap(symDf, commB, sizeB, alpha, gate))
    assert(byId(Hedonic.stepPlanPackedIdxDelta(pidx, stH.state, alpha, gate), ids) == expectH)
    val stL = driverState(stateSeq, withSizes = false)
    val expectL = rows3(LabelPropagation.stepPlanMap(symDf, commB, false, gate))
    assert(byId(LabelPropagation.stepPlanPackedIdxDelta(pidx, stL.state, gate), ids) == expectL)
    Seq(stH, stL).foreach { st => st.release(); st.close() }
    pidx.unpersist()
  }

  test("delta-transport plan ≡ bare-array indexed plan (full base + in-place delta epochs)") {
    // The bare-array side is a fresh full base with no overrides (a
    // Payload with no overrides IS the full state); the delta side moves
    // one vertex through DriverState's absolute overrides on top of an
    // epoch-0 reconstruction already cached in this JVM, which exercises
    // the executor-side in-place application.
    val e = edgesOf(Fixtures.zachary)
    val symDf = GraphOps.symmetrize(e).select("src", "dst")
    val ids = stateSeq.map(_._1).toArray
    val comms = stateSeq.map(_._2).toArray
    val alpha = 0.12
    val gate = graft.util.Portable.parityGate(col("id"), 3)
    val pidx = indexed(symDf, "src", weighted = false, ids)
    assert(comms(1) != comms(0)) // a real move: both sizes change
    val moved = stateSeq.updated(0, (ids(0), comms(1)))
    for (withSizes <- Seq(true, false)) {
      def plan(st: DeltaState.DriverState) =
        if (withSizes) Hedonic.stepPlanPackedIdxDelta(pidx, st.state, alpha, gate)
        else LabelPropagation.stepPlanPackedIdxDelta(pidx, st.state, gate)
      val st = driverState(stateSeq, withSizes)
      val base0 = driverState(stateSeq, withSizes)
      assert(byId(plan(st), ids) == byId(plan(base0), ids))
      st.release()
      st.move(0, comms(1))
      st.publish(1)
      val base1 = driverState(moved, withSizes)
      val expect1 = byId(plan(base1), ids)
      assert(byId(plan(st), ids) == expect1, s"withSizes=$withSizes")
      if (withSizes) {
        val commB = new StateMap.Ref(sc.broadcast(llMap(moved)))
        val sizeB = new StateMap.Ref(sc.broadcast(llMap(sizesOf(moved))))
        assert(expect1 == rows3(Hedonic.stepPlanMap(symDf, commB, sizeB, alpha, gate)))
      }
      Seq(st, base0, base1).foreach { d => d.release(); d.close() }
    }
    pidx.unpersist()
  }

  test("packed single-segment superstep plans have zero shuffle exchanges") {
    // The loops' per-round plans scan the cached position table; the
    // build's exchanges — including the cachePartitions re-exchange the
    // scaling runs use — stay below that cache.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    def spine(df: DataFrame): Int = {
      def walk(p: SparkPlan): Int = p match {
        case _: BroadcastExchangeLike => 0
        case s: ShuffleExchangeLike   => 1 + s.children.map(walk).sum
        case o                        => o.children.map(walk).sum
      }
      walk(df.queryExecution.executedPlan)
    }
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val e = edgesOf(Fixtures.zachary)
      val symDf = GraphOps.symmetrize(e).select("src", "dst")
      val ids = fullState.map(_._1).toArray
      val pidx = PackedAdjacency.indexed(
        PackedAdjacency.build(symDf, "src", cachePartitions = Some(3)), ids).get
      val st = driverState(fullState, withSizes = true)
      val qB = new StateMap.Ref(sc.broadcast(Array.fill(34)(1.0 / 34)))
      val h = Hedonic.stepPlanPackedIdxDelta(pidx, st.state, 0.1, lit(true))
      assert(spine(h) == 0, h.queryExecution.executedPlan.toString)
      val l = LabelPropagation.stepPlanPackedIdxDelta(pidx, st.state, lit(true))
      assert(spine(l) == 0, l.queryExecution.executedPlan.toString)
      val pr = PageRank.iterPlanPackedIdx(pidx, qB, None, 34.0, PageRank.Config())
      assert(spine(pr) == 0, pr.queryExecution.executedPlan.toString)
      st.release(); st.close()
      pidx.unpersist()
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }
}
