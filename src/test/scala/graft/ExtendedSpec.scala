package graft

import org.apache.spark.sql.functions._
import graft.algo.{Hedonic, HedonicFrontier, Leiden}
import graft.graph.GraphOps
import graft.ingest.GraphGen
import graft.sources.GraphSources
import graft.multimodal.Multimodal
import graft.eval.Metrics

class LeidenSpec extends SparkSpec {

  test("merge gain math: two cliques with one bridge merge iff alpha small") {
    // Two triangles {0,1,2}, {3,4,5} bridged by (2,3); members = the two cliques.
    val e = edgesOf(Seq((0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)))
    val m = membersOf(Seq(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
    // gain = e_between - alpha*nA*nB = 1 - 9*alpha: merge iff alpha < 1/9.
    val (mLow, nLow) = Leiden.mergeRound(e, m, alpha = 0.05)
    assert(nLow == 1L)
    assert(toMap(mLow).values.toSet.size == 1)
    val (_, nHigh) = Leiden.mergeRound(e, m, alpha = 0.2)
    assert(nHigh == 0L)
  }

  test("merge phase never decreases potential; full run lands in equilibrium") {
    val e = edgesOf(Fixtures.zachary)
    val alpha = GraphOps.density(e)
    val init = GraphOps.vertices(e).select(col("id"), col("id").as("community"))
    val (local, _) = Hedonic.run(e, init, Hedonic.Config(maxSupersteps = 60))
    val before = Hedonic.potential(e, local, alpha)
    val merged = Leiden.mergePhase(e, local, alpha)
    val after = Hedonic.potential(e, merged, alpha)
    assert(after >= before - 1e-9)
    val full = Leiden.run(e, init, levels = 2,
      hedonicCfg = Hedonic.Config(maxSupersteps = 40))
    val k = full.select("community").distinct().count()
    assert(k >= 1 && k < 34)
  }

  test("contract produces the meta-graph with correct between/ein counts") {
    val e = edgesOf(Seq((0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)))
    val m = membersOf(Seq(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
    val (metaE, stats) = Leiden.contract(e, m)
    val me = metaE.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(me == Map((0L, 1L) -> 1L))
    val st = stats.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(st == Map(0L -> ((3L, 3L)), 1L -> ((3L, 3L))))
  }
}

class HedonicFrontierSpec extends SparkSpec {

  test("frontier executor converges on Zachary; work shrinks with the frontier") {
    val e = edgesOf(Fixtures.zachary)
    val alpha = GraphOps.density(e)
    val init = GraphOps.vertices(e).select(col("id"), (col("id") % 4).as("community"))
    val (mF, metF) = HedonicFrontier.run(e, init, Hedonic.Config(maxSupersteps = 40))
    assert(metF.last.frontier == 0, s"frontier not empty after ${metF.size} supersteps")
    // near-equilibrium (neighbor-based reactivation approximation)
    val fracF = Hedonic.equilibriumFraction(e, mF, alpha)
    assert(fracF >= 0.9, s"frontier equilibrium fraction $fracF")
  }

  test("frontier executor: broadcast-state run equals the shuffle run") {
    // guards the broadcast-state loop's DeltaState transport: members AND
    // the per-superstep (moved, frontier) trace must match the DataFrame
    // loop exactly
    val e = edgesOf(Fixtures.zachary)
    val init = GraphOps.vertices(e).select(col("id"), (col("id") % 4).as("community"))
    val cfg = Hedonic.Config(maxSupersteps = 40)
    val (mB, metB) = HedonicFrontier.run(e, init, cfg)
    val (mS, metS) = HedonicFrontier.run(e, init, cfg.copy(broadcastStateMaxRows = 0L))
    assert(toMap(mB) == toMap(mS))
    assert(metB.map(m => (m.superstep, m.moved, m.frontier)) ==
      metS.map(m => (m.superstep, m.moved, m.frontier)))
  }

  test("frontier executor rejects a weighted config") {
    // both frontier loops count friends unweighted: a weighted run would
    // silently return the unweighted game
    val e = edgesOf(Fixtures.kite)
    val init = GraphOps.vertices(e).select(col("id"), col("id").as("community"))
    intercept[IllegalArgumentException] {
      HedonicFrontier.run(e, init, Hedonic.Config(weighted = true))
    }
  }

  test("frontier executor is deterministic (kite)") {
    val e = edgesOf(Fixtures.kite)
    val init = GraphOps.vertices(e).select(col("id"), (col("id") % 3).as("community"))
    val (mF, _) = HedonicFrontier.run(e, init, Hedonic.Config(maxSupersteps = 30))
    val (mF2, _) = HedonicFrontier.run(e, init, Hedonic.Config(maxSupersteps = 30))
    assert(toMap(mF) == toMap(mF2))
  }
}

class GraphSourcesSpec extends SparkSpec {

  test("SNAP edge list round-trip with comments and duplicate/reversed edges") {
    val dir = java.nio.file.Files.createTempDirectory("graft-src")
    val f = dir.resolve("g.txt")
    java.nio.file.Files.writeString(f,
      "# comment line\n0\t1\n1\t0\n1 2\n\n2\t3\n")
    val e = GraphSources.readEdgeList(spark, f.toString).collect()
      .map(x => (x.src, x.dst)).sorted.toSeq
    assert(e == Seq((0L, 1L), (1L, 2L), (2L, 3L)))
  }

  test("community files: per-line and pair modes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-src2")
    val perLine = dir.resolve("c1.txt")
    java.nio.file.Files.writeString(perLine, "0 1 2\n3 4\n")
    val m1 = toMap(GraphSources.readCommunitiesPerLine(spark, perLine.toString))
    assert(m1(0L) == m1(1L) && m1(1L) == m1(2L) && m1(3L) == m1(4L) && m1(0L) != m1(3L))
    val pairs = dir.resolve("c2.txt")
    java.nio.file.Files.writeString(pairs, "0 10\n1 10\n2 20\n")
    assert(toMap(GraphSources.readCommunitiesPairs(spark, pairs.toString)) ==
      Map(0L -> 10L, 1L -> 10L, 2L -> 20L))
    val csv = dir.resolve("m.csv")
    java.nio.file.Files.writeString(csv, "5,5,7\n")
    assert(toMap(GraphSources.readCsvMembership(spark, csv.toString)) ==
      Map(0L -> 5L, 1L -> 5L, 2L -> 7L))
  }

  test("parquet edge round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("graft-src3")
    val e = edgesOf(Fixtures.kite)
    GraphSources.writeEdges(e, dir.resolve("edges").toString)
    val back = GraphSources.readEdges(spark, dir.resolve("edges").toString)
    assert(back.collect().toSet == e.collect().toSet)
  }
}

class GraphGenSpec extends SparkSpec {

  test("SBM: deterministic, planted blocks denser than cross-block") {
    val e1 = GraphGen.sbm(spark, 2, 20, pIn = 0.5, pOut = 0.05, seed = 9L)
    val e2 = GraphGen.sbm(spark, 2, 20, pIn = 0.5, pOut = 0.05, seed = 9L)
    assert(e1.collect().toSet == e2.collect().toSet)
    val within = e1.filter((col("src") < 20 && col("dst") < 20) ||
      (col("src") >= 20 && col("dst") >= 20)).count()
    val across = e1.count() - within
    assert(within > 3 * across)
  }

  test("hedonic recovers planted SBM communities (ARI vs ground truth)") {
    val e = GraphGen.sbm(spark, 3, 15, pIn = 0.6, pOut = 0.02, seed = 4L)
    val gt = GraphGen.groundTruth(spark, 3, 15)
    val noisy = GraphGen.noisyPartition(gt, 3, noise = 0.4, seed = 5L)
    val (m, _) = Hedonic.run(e, noisy, Hedonic.Config(maxSupersteps = 60))
    // vertex set of m is edge-derived; restrict gt accordingly
    val ari = Metrics.adjustedRandIndex(
      m, gt.join(m.select("id"), Seq("id"), "left_semi"))
    assert(ari > 0.8, s"ARI $ari")
  }

  test("noisy partition: noise=0 is ground truth; noise>1 is singleton") {
    val gt = GraphGen.groundTruth(spark, 2, 10)
    assert(toMap(GraphGen.noisyPartition(gt, 2, 0.0, 1L)) == toMap(gt))
    val single = toMap(GraphGen.noisyPartition(gt, 2, 1.5, 1L))
    assert(single.forall { case (k, v) => k == v })
  }
}

class MultimodalSpec extends SparkSpec {

  test("synthetic media table: typed schema, deterministic payloads") {
    val m = Multimodal.synthesize(spark, 20)
    val rows = m.collect()
    assert(rows.length == 20)
    assert(rows.map(_.kind).toSet.subsetOf(Set("image", "audio", "video")))
    assert(rows.forall(_.bytes.length == 64))
    val again = Multimodal.synthesize(spark, 20).collect()
    assert(rows.map(_.bytes.toSeq).toSeq == again.map(_.bytes.toSeq).toSeq)
  }

  test("batched decode emits fixed-width features per row") {
    val feats = Multimodal.decodeBatch(Multimodal.synthesize(spark, 10)).collect()
    assert(feats.length == 10)
    assert(feats.forall(_.feature.length == 8))
    // deterministic: same bytes -> same feature
    val again = Multimodal.decodeBatch(Multimodal.synthesize(spark, 10)).collect()
    assert(feats.map(_.feature.toSeq).toSeq == again.map(_.feature.toSeq).toSeq)
  }

  test("resize metadata preserves aspect ratio and caps max dim") {
    val df = Multimodal.resizeMeta(Multimodal.synthesize(spark, 50).toDF(), 256)
    val bad = df.filter(col("resized_width") > 256 || col("resized_height") > 256).count()
    assert(bad == 0)
    // no upscaling
    assert(df.filter(col("resized_width") > col("meta.width")).count() == 0)
  }

  private def expectedRgb(id: Long, x: Int, y: Int): (Int, Int, Int) = (
    ((x * 31L + y * 17L + id * 7L) % 256L).toInt,
    ((x * 13L + y * 29L + id * 3L) % 256L).toInt,
    ((x * 11L + y * 23L + id * 5L) % 256L).toInt)

  test("real decode: checked-in PNG fixture decodes pixel-for-pixel to the closed-form law") {
    // media_id17.png was written by an INDEPENDENT encoder (hand-built
    // zlib/PNG, not ImageIO) from the same pixel law — so this pins the
    // law, the fixture, and javax.imageio's decode against each other.
    val in = getClass.getResourceAsStream("/fixtures/media_id17.png")
    val img = javax.imageio.ImageIO.read(in)
    assert(img.getWidth == Multimodal.imgWidth(17) && img.getHeight == Multimodal.imgHeight(17))
    for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
      val p = img.getRGB(x, y)
      val (r, g, b) = expectedRgb(17, x, y)
      assert(((p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff) == ((r, g, b)), s"pixel ($x,$y)")
    }
    // and the engine's own encoder produces the identical pixel matrix
    val own = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Multimodal.encodePng(17)))
    for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
      assert(own.getRGB(x, y) == img.getRGB(x, y))
  }

  test("real decode: distributed ImageIO features match closed-form means; garbage falls back to stub") {
    import spark.implicits._
    val docs = spark.range(12).select(col("id").as("doc_id"))
    val feats = Multimodal.decodeImages(Multimodal.synthesizeImages(docs))
      .collect().map(f => f.media_id -> f).toMap
    assert(feats.size == 12)
    for (id <- 0L until 12L) {
      val f = feats(id)
      assert(f.codec == "png")
      val w = Multimodal.imgWidth(id); val h = Multimodal.imgHeight(id)
      assert(f.width == w && f.height == h)
      val px = for (y <- 0 until h; x <- 0 until w) yield expectedRgb(id, x, y)
      assert(f.mean_r == px.map(_._1.toLong).sum.toDouble / (w * h))
      assert(f.mean_g == px.map(_._2.toLong).sum.toDouble / (w * h))
      assert(f.mean_b == px.map(_._3.toLong).sum.toDouble / (w * h))
    }
    // non-image bytes: one bad row costs one stub row, not the batch
    val junk = Seq(Multimodal.ImageRow(99L, Array[Byte](1, 2, 3, 4))).toDS()
    val fb = Multimodal.decodeImages(junk).collect()
    assert(fb.length == 1 && fb.head.codec == "stub" && fb.head.width == 0)
  }

  test("frame-sample plan explodes video timestamps at the stride") {
    val df = Multimodal.synthesize(spark, 30).toDF()
    val frames = Multimodal.frameSamplePlan(df, everyMs = 60000)
    val perVideo = frames.groupBy("media_id").count()
      .join(df.filter(col("kind") === "video"), Seq("media_id"))
      .select(col("count"), col("meta.durationMs"))
      .collect()
    perVideo.foreach { r =>
      assert(r.getLong(0) == r.getLong(1) / 60000 + 1)
    }
  }
}
