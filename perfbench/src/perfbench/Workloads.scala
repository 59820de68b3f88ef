package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.algo.{ConnectedComponents, Hedonic, LabelPropagation, PageRank, TriangleCount}
import graft.ingest.{EdgeExtraction, RepoTable}
import graft.model.Edge

/** What a workload sees of the run: the session, the op runner, a scratch
  * directory, and a per-pass table of work counts. */
final class Ctx(val spark: SparkSession, val ops: OpRunner, val workDir: String) {
  val values = mutable.LinkedHashMap.empty[String, Double]
  private var fresh = 0

  /** A directory no earlier op has used: checkpoint and output locations
    * must never be reused, or a resumed run would clock fake-fast. */
  def freshDir(tag: String): String = { fresh += 1; s"$workDir/out/$tag-$fresh" }

  def put(key: String, v: Double): Unit = values(key) = v
}

trait Workload {
  /** Write the workload's inputs under `dir`. Called several times during
    * set-up; the last directory is the one the passes read. */
  def generate(spark: SparkSession, dir: String, seed: Long): Unit
  /** Set-up work after generation, before the first timed pass. */
  def prepare(ctx: Ctx, input: String): Unit = ()
  /** One timed pass: every op of the workload, once, in order. The first
    * pass of a run executes each plan for the first time in the session,
    * as a one-shot job does. */
  def pass(ctx: Ctx, input: String): Unit
  /** Input sizes, for the report. */
  def sizes: Map[String, Double]
}

object Workload {
  def apply(name: String): Workload = name match {
    case "repo-pipeline" => new RepoPipeline
    case "shuffle-state" => new ShuffleState
    case "query-mix"     => new QueryMix
    case other           => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def readEdges(spark: SparkSession, dir: String): Dataset[Edge] = {
    import spark.implicits._
    spark.read.parquet(dir).as[Edge]
  }

  def collectEdges(e: Dataset[Edge]): Checks.Edges = {
    val rows = e.select("src", "dst").collect()
    Checks.Edges(rows.map(_.getLong(0)), rows.map(_.getLong(1)))
  }

  /** Singleton start partition, derived here rather than by engine code. */
  def singletons(e: Dataset[Edge]): DataFrame =
    e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct()
      .select(col("id"), col("id").as("community"))

  def longMap(rows: Array[org.apache.spark.sql.Row]): Map[Long, Long] =
    rows.iterator.map(r => r.getLong(0) -> r.getLong(1)).toMap

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  /** Hedonic run plus its checks and work counts, shared by both graph
    * workloads. A run to convergence must end in an equilibrium. Returns
    * the final partition. */
  def hedonic(ctx: Ctx, edges: Dataset[Edge], e: Checks.Edges, cfg: Hedonic.Config,
              converges: Boolean = true): (OpResult, Option[Map[Long, Long]]) = {
    val init = singletons(edges)
    val (r, out) = ctx.ops.op("algo.hedonic") {
      val (members, metrics) = Hedonic.run(edges, init, cfg)
      (members.select("id", "community").collect(), metrics)
    }
    (r, out.map { case (rows, metrics) =>
      val members = longMap(rows)
      if (converges) {
        val (unstable, missing) = Checks.hedonicViolations(e, members)
        ctx.ops.check(r, "equilibrium", unstable == 0 && missing == 0,
          s"$unstable vertices can improve, $missing unassigned")
      }
      val iterS = metrics.map(_.wallMs).sum / 1000.0
      ctx.put("algo.hedonic.supersteps", metrics.size)
      ctx.put("algo.hedonic.iter_s", iterS)
      ctx.put("algo.hedonic.build_s", r.span.wallS - iterS)
      ctx.put("algo.hedonic.moved_per_edge",
        metrics.map(_.moved).sum.toDouble / math.max(1L, metrics.map(_.edgesProcessed).sum))
      ctx.put("hedonic_edges_per_s", 2.0 * e.size * metrics.size / r.span.wallS)
      members
    })
  }

  def pagerank(ctx: Ctx, edges: Dataset[Edge], e: Checks.Edges, cfg: PageRank.Config): Unit = {
    val (r, out) = ctx.ops.op("algo.pagerank") {
      val (ranks, iterMs) = PageRank.runTimed(edges, cfg)
      (ranks.select("id", "rank").collect(), iterMs)
    }
    out.foreach { case (rows, iterMs) =>
      val mass = rows.map(_.getDouble(1)).sum
      ctx.ops.check(r, "mass", math.abs(mass - 1.0) <= 1e-9, f"sum of ranks $mass%.15f")
      ctx.ops.check(r, "vertices", rows.length == Checks.vertices(e).length,
        s"${rows.length} ranks for ${Checks.vertices(e).length} vertices")
      val iterS = iterMs.sum / 1000.0
      ctx.put("algo.pagerank.iter_s", iterS)
      ctx.put("algo.pagerank.build_s", r.span.wallS - iterS)
      ctx.put("pagerank_edges_per_s", 2.0 * e.size * iterMs.size / r.span.wallS)
    }
  }

  def components(ctx: Ctx, edges: Dataset[Edge], e: Checks.Edges, maxDriverEdges: Long): Unit = {
    val (r, out) = ctx.ops.op("algo.cc") {
      ConnectedComponents.run(edges, maxDriverEdges = maxDriverEdges).select("id", "comp").collect()
    }
    out.foreach { rows =>
      val (split, missing) = Checks.componentViolations(e, longMap(rows))
      ctx.ops.check(r, "endpoints", split == 0 && missing == 0,
        s"$split edges span two components, $missing unlabelled")
    }
  }

  def labels(ctx: Ctx, edges: Dataset[Edge], e: Checks.Edges, maxIter: Int, budget: Long): Unit = {
    val (r, out) = ctx.ops.op("algo.lpa") {
      LabelPropagation.run(edges, maxIter = maxIter, broadcastStateMaxRows = budget)
        .select("id", "label").collect()
    }
    out.foreach { rows =>
      val verts = Checks.vertices(e)
      val labelled = longMap(rows)
      ctx.ops.check(r, "vertices", verts.forall(labelled.contains) && rows.length == verts.length,
        s"${rows.length} labels for ${verts.length} vertices")
    }
  }
}

/** The repo-file pipeline: sha stamp, edge extraction, then every graph
  * algorithm on the extracted edges, on the broadcast-state path. */
final class RepoPipeline extends Workload {
  private def cfg(blocks: Int, seed: Long) = RepoTable.Config(nBlocks = blocks,
    reposPerBlock = 100, pathsPerBlock = 200, pIn = 0.2, pOut = 5e-4, seed = seed)
  private val blocks = 20
  private val files = mutable.HashMap.empty[String, Long]
  private var inputFiles = 0L

  def sizes: Map[String, Double] = Map("repos" -> blocks * 100.0, "files" -> inputFiles.toDouble)

  def generate(spark: SparkSession, dir: String, seed: Long): Unit = {
    write(spark, dir, blocks, seed)
    inputFiles = files(dir)
  }

  def write(spark: SparkSession, dir: String, nBlocks: Int, seed: Long): Unit = {
    RepoTable.generateSparse(spark, cfg(nBlocks, seed)).write.mode("overwrite").parquet(s"$dir/files")
    files(dir) = spark.read.parquet(s"$dir/files").count()
  }

  def pass(ctx: Ctx, input: String): Unit = {
    val spark = ctx.spark
    val table = spark.read.parquet(s"$input/files")
    val (rs, sha) = ctx.ops.op("ingest.sha") {
      RepoTable.withSha(table)
        .agg(count(lit(1)), sum((col("sha") =!= sha2(col("content"), 256)).cast("long")))
        .head()
    }
    sha.foreach { row =>
      ctx.ops.check(rs, "sha256", row.getLong(1) == 0L, s"${row.getLong(1)} mismatches")
      ctx.ops.check(rs, "rows", row.getLong(0) == files(input),
        s"${row.getLong(0)} rows, expected ${files(input)}")
    }
    val edgeDir = ctx.freshDir("edges")
    val (rx, verts) = ctx.ops.op("ingest.extract") {
      val (v, e) = EdgeExtraction.extract(RepoTable.withSha(table))
      e.toDF().write.parquet(edgeDir)
      v
    }
    if (verts.isEmpty) return
    val edges = Workload.readEdges(spark, edgeDir)
    val e = Workload.collectEdges(edges)
    val (bad, dups) = Checks.canonical(e)
    ctx.ops.check(rx, "canonical", bad == 0 && dups == 0 && e.size > 0,
      s"$bad rows with src >= dst, $dups duplicates, ${e.size} edges")
    ctx.put("edges", e.size)
    ctx.put("extract_files_per_s", files(input) / (rs.span.wallS + rx.span.wallS))

    Workload.hedonic(ctx, edges, e, Hedonic.Config())._2.foreach { members =>
      // Planted block of each repo, read back from its name "org<block>/repo<i>".
      val block = verts.get.select("id", "repo").collect().iterator.map { r =>
        r.getLong(0) -> r.getString(1).stripPrefix("org").takeWhile(_ != '/').toLong
      }.toMap
      ctx.put("community_ari", Checks.ari(members, block))
    }
    Workload.pagerank(ctx, edges, e, PageRank.Config(fixedIter = Some(20)))
    Workload.components(ctx, edges, e, maxDriverEdges = 4000000L)
    Workload.labels(ctx, edges, e, maxIter = 30, budget = 4000000L)
    val (rt, tri) = ctx.ops.op("algo.triangles")(TriangleCount.count(edges))
    tri.foreach { n =>
      val expected = Checks.triangles(e)
      ctx.ops.check(rt, "count", n == expected, s"$n triangles, expected $expected")
    }
  }
}

/** The graph algorithms with state budgets at half the graph's size, so
  * each takes the co-partitioned shuffle path a graph beyond the driver
  * budget takes. The input is a planted-partition edge table generated
  * directly: `blocks` groups of `blockSize` vertices, a pair linked with
  * probability pIn inside a group and pOut across, by seeded hash.
  *
  * Hedonic runs a fixed `supersteps` (these graphs converge after 12 to
  * 25, depending on the seed), so every seed does the same per-superstep
  * work, with a durable checkpoint every `checkpointEvery`; its check is
  * equality with the broadcast-state path under the same cap. */
final class ShuffleState extends Workload {
  private val blocks = 10
  private val blockSize = 50
  private val pIn = 0.3
  private val pOut = 0.005
  private val supersteps = 8
  private val checkpointEvery = 4
  private val pageRankIters = 5
  private val lpaIters = 4
  private val reference = mutable.HashMap.empty[String, Map[Long, Long]]
  private var edgeCount = 0L

  def sizes: Map[String, Double] = Map("vertices" -> blocks * blockSize.toDouble, "edges" -> edgeCount.toDouble)

  def generate(spark: SparkSession, dir: String, seed: Long): Unit =
    edgeCount = write(spark, dir, blocks, seed)

  private def write(spark: SparkSession, dir: String, nBlocks: Int, seed: Long): Long = {
    val n = nBlocks.toLong * blockSize
    val million = 1000000L
    val draw = pmod(xxhash64(col("src"), col("dst"), lit(seed)), lit(million))
    val sameBlock = (col("src") / blockSize).cast("long") === (col("dst") / blockSize).cast("long")
    spark.range(n).select(col("id").as("src"))
      .crossJoin(spark.range(n).select(col("id").as("dst")))
      .filter(col("src") < col("dst"))
      .filter(draw < when(sameBlock, lit((pIn * million).toLong)).otherwise(lit((pOut * million).toLong)))
      .select(col("src"), col("dst"), lit(1.0).as("weight"))
      .write.mode("overwrite").parquet(s"$dir/edges")
    spark.read.parquet(s"$dir/edges").count()
  }

  /** The broadcast-state partition of `input`, which every shuffle-path
    * partition of the same graph must equal. */
  override def prepare(ctx: Ctx, input: String): Unit = {
    val edges = Workload.readEdges(ctx.spark, s"$input/edges")
    reference(input) = Workload.hedonic(ctx, edges, Workload.collectEdges(edges),
      Hedonic.Config(maxSupersteps = supersteps), converges = false)._2
      .map(Checks.canonicalPartition).getOrElse(Map.empty)
  }

  def pass(ctx: Ctx, input: String): Unit = {
    val edges = Workload.readEdges(ctx.spark, s"$input/edges")
    val e = Workload.collectEdges(edges)
    val stateBudget = Checks.vertices(e).length / 2L
    val ckpt = ctx.freshDir("checkpoint")
    val (r, members) = Workload.hedonic(ctx, edges, e, Hedonic.Config(maxSupersteps = supersteps,
      checkpointDir = Some(ckpt), checkpointEvery = checkpointEvery,
      broadcastStateMaxRows = stateBudget), converges = false)
    members.foreach { m =>
      ctx.ops.check(r, "broadcast-equal",
        reference.get(input).exists(ref => ref.nonEmpty && Checks.canonicalPartition(m) == ref),
        "shuffle-path communities differ from the broadcast-state path")
      ctx.put("algo.hedonic.checkpoint_mb", Workload.dirBytes(ckpt) / 1e6)
    }
    Workload.labels(ctx, edges, e, maxIter = lpaIters, budget = stateBudget)
    Workload.pagerank(ctx, edges, e,
      PageRank.Config(fixedIter = Some(pageRankIters), broadcastStateMaxRows = stateBudget))
    Workload.components(ctx, edges, e, maxDriverEdges = e.size / 2L)
  }
}

/** Ten one-shot queries in one long-lived session, with nothing purged
  * between them. Each result is forced with collect(): like the `noop`
  * sink it computes every column of every row (a count() would let
  * Catalyst prune them), and it hands the rows (a few thousand at most) to
  * the DuckDB oracle comparison, written as JSON outside the op's span. */
final class QueryMix extends Workload {
  val queries = Seq("q_density", "q_degree_hist", "q_lpa1", "q_move1", "q_payoff",
    "q_spectrum", "q_ari", "q_topk_pagerank", "q_containment", "q_dup_survivors")

  def sizes: Map[String, Double] = Map(
    "lineitems" -> QueryData.lineitems.toDouble, "suppliers" -> QueryData.suppliers.toDouble,
    "documents" -> QueryData.documents.toDouble)

  def generate(spark: SparkSession, dir: String, seed: Long): Unit =
    QueryData.write(spark, dir, seed)

  override def prepare(ctx: Ctx, input: String): Unit = {
    val out = Files.createDirectories(Paths.get(ctx.workDir, "query-results"))
    val oracle = SparkEntry.oracleSql.filter { case (q, _) => queries.contains(q) }
    Files.writeString(out.resolve("oracle_sql.json"), Json.write(oracle))
  }

  def pass(ctx: Ctx, input: String): Unit =
    for (q <- queries) {
      val (r, out) = ctx.ops.op(s"query.$q") {
        val df = SparkEntry.queries(q)(ctx.spark, input)
        (df.columns.toSeq, df.collect())
      }
      out.foreach { case (cols, rows) =>
        val file = Paths.get(ctx.workDir, "query-results", s"$q.${r.span.id}.json")
        Files.writeString(file, Json.write(Map("columns" -> cols, "rows" -> rows.map(_.toSeq))))
      }
    }
}
