package graft

import graft.algo.{Hedonic, LabelPropagation, PageRank}
import graft.graph.{GraphOps, PackedAdjacency}

/** Pack-once, run-many: a caller-built CSR pack of the symmetrized edges is
  * honored by Hedonic.run, PageRank.runTimed and LabelPropagation.run on
  * the broadcast-state path (src- and dst-packs of a symmetric edge set
  * are identical), with results bitwise equal to each algorithm building
  * its own pack, and the CACHE LIFETIME owned by the caller, who persists
  * the pack (PackedAdj.cached) — the runs must neither unpersist the
  * shared pack mid-pipeline nor leak their own reindexed caches. A hub
  * pack has no index plan: its runs take the shuffle loop. */
class SharedPackSpec extends SparkSpec {

  private val pairs = Seq[(Long, Long)](
    (0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3), (5, 6), (6, 7))

  test("hedonic + pagerank on one shared pack match own-pack runs bitwise") {
    val e = edgesOf(pairs)
    val init = membersOf((0L to 7L).map(i => (i, i)))
    val cfgH = Hedonic.Config(maxSupersteps = 40)
    val cfgP = PageRank.Config(fixedIter = Some(20))
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet

    val (ownH, ownMet) = Hedonic.run(e, init, cfgH)
    val ownHM = toMap(ownH)
    val ownP = PageRank.run(e, cfgP)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ownL = toMap(LabelPropagation.run(e)) // toMap is positional (id, label)

    // The own-pack runs above must precede the shared build: Spark's
    // CacheManager keys entries by canonicalized plan, so an own-pack run
    // over the identical plan would evict the shared entry on ITS
    // unpersist. (Real pipelines share the PackedAdj instance instead of
    // rebuilding an identical plan, so this aliasing is test-only.)
    val pack = PackedAdjacency.build(
      GraphOps.symmetrize(e).select("src", "dst"), "src").cached()
    val (shH, shMet) = Hedonic.run(e, init, cfgH, packedOpt = Some(pack))
    // the pipeline contract: hedonic must NOT have released the shared pack
    assert(pack.df.storageLevel.useMemory,
      "shared pack was unpersisted by Hedonic.run")
    val (shPdf, _) = PageRank.runTimed(e, cfgP, packedOpt = Some(pack))
    val shP = shPdf.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pack.df.storageLevel.useMemory,
      "shared pack was unpersisted by PageRank.runTimed")
    val shL = toMap(LabelPropagation.run(e, packedOpt = Some(pack)))
    assert(pack.df.storageLevel.useMemory,
      "shared pack was unpersisted by LabelPropagation.run")
    assert(shL == ownL)

    assert(toMap(shH) == ownHM)
    assert(shMet.map(m => (m.superstep, m.moved, m.frontier)) ==
      ownMet.map(m => (m.superstep, m.moved, m.frontier)))
    assert(shP.keySet == ownP.keySet)
    // same kernels, same per-vertex sorted accumulation order -> bitwise
    shP.foreach { case (id, r) => assert(r == ownP(id), s"rank mismatch at $id") }

    pack.unpersist()
    // no leaked reindexed caches from either run (delta vs suite entry —
    // the session is shared across suites)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
    assert(leaked.isEmpty, s"persistent RDDs leaked: $leaked")
  }

  test("weighted hedonic honors a weighted shared pack") {
    import spark.implicits._
    val wedges = pairs.map { case (u, v) =>
      graft.model.Edge(u, v, ((u * 3 + v) % 4 + 1).toDouble)
    }.toDS()
    val init = membersOf((0L to 7L).map(i => (i, i % 3)))
    val cfg = Hedonic.Config(maxSupersteps = 40, weighted = true)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val (own, _) = Hedonic.run(wedges, init, cfg)
    val pack = PackedAdjacency.build(
      GraphOps.symmetrize(wedges).select("src", "dst", "weight"), "src",
      weighted = true).cached()
    val (sh, _) = Hedonic.run(wedges, init, cfg, packedOpt = Some(pack))
    assert(toMap(sh) == toMap(own))
    pack.unpersist()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
    assert(leaked.isEmpty, s"persistent RDDs leaked: $leaked")
  }

  test("a shared hub pack sends every algorithm to its shuffle loop") {
    // hubCap = 2 puts every vertex of degree > 2 over the cap: a hub pack,
    // which has no index plan. Each run must then equal its
    // broadcastStateMaxRows = 0 run, and neither the pack nor a remap of it
    // may stay cached (cached() leaves a hub pack alone): all the
    // runs may leave persisted is the shuffle loops' state pins (local
    // checkpoints the caller owns).
    val e = edgesOf(pairs)
    val init = membersOf((0L to 7L).map(i => (i, i)))
    val cfgH = Hedonic.Config(maxSupersteps = 40)
    val cfgP = PageRank.Config(fixedIter = Some(20))
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (shufH, shufMet) = Hedonic.run(e, init, cfgH.copy(broadcastStateMaxRows = 0L))
    val shufP = ranks(PageRank.run(e, cfgP.copy(broadcastStateMaxRows = 0L)))
    val shufL = toMap(LabelPropagation.run(e, broadcastStateMaxRows = 0L))

    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pack = PackedAdjacency.build(
      GraphOps.symmetrize(e).select("src", "dst"), "src", hubCap = 2).cached()
    assert(pack.hub)
    assert(!pack.df.storageLevel.useMemory, "a hub pack must not be cached")
    val (hubH, hubMet) = Hedonic.run(e, init, cfgH, packedOpt = Some(pack))
    val (hubPdf, _) = PageRank.runTimed(e, cfgP, packedOpt = Some(pack))
    val hubL = toMap(LabelPropagation.run(e, packedOpt = Some(pack)))
    assert(toMap(hubH) == toMap(shufH))
    assert(hubMet.map(m => (m.superstep, m.moved, m.frontier)) ==
      shufMet.map(m => (m.superstep, m.moved, m.frontier)))
    assert(ranks(hubPdf) == shufP)
    assert(hubL == shufL)
    val caches = spark.sparkContext.getPersistentRDDs
      .filter { case (id, rdd) => !before(id) && !rdd.isCheckpointed }
    assert(caches.isEmpty, s"hub runs left caches behind: ${caches.values}")
  }

  test("mismatched weighted flag on a prebuilt pack is rejected") {
    val e = edgesOf(pairs)
    val init = membersOf((0L to 7L).map(i => (i, i)))
    val pack = PackedAdjacency.build(
      GraphOps.symmetrize(e).select("src", "dst"), "src").cached()
    intercept[IllegalArgumentException] {
      Hedonic.run(e, init, Hedonic.Config(weighted = true), Some(pack))
    }
    intercept[IllegalArgumentException] {
      PageRank.runTimed(e, PageRank.Config(weighted = true), Some(pack))
    }
    pack.unpersist()
  }
}
