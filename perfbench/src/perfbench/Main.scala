package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}

/** One benchmark run inside one JVM: start the session, set the workload
  * up, run timed passes for the requested seconds, then write a JSON
  * report (passes, ops, checks, spans, Spark work per op, probe) for
  * `run.py` to turn into metrics. Every op of every pass is checked.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <workDir> <reportFile> <cpus>
  *        Main train <workDir> <cpus>
  *
  * `train` runs a small repo-pipeline pass and four queries and exits; the
  * build runs it once to record the JVM class-data archive that shortens
  * start-up.
  */
object Main {
  private val setups = 3
  private val opTimeoutS = 90L

  private def session(workDir: String, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.executor.heartbeatInterval", "30s")
      .config("spark.network.timeout", "900s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def train(workDir: String, cpus: Int): Unit = {
    val spark = session(workDir, cpus)
    val ctx = new Ctx(spark, new OpRunner(spark.sparkContext, new SpanRecorder("train"), opTimeoutS),
      workDir)
    val repo = new RepoPipeline
    repo.write(spark, s"$workDir/repo", 2, 1L)
    repo.pass(ctx, s"$workDir/repo")
    QueryData.write(spark, s"$workDir/query", 1L)
    for (q <- Seq("q_density", "q_lpa1", "q_containment", "q_dup_survivors"))
      graft.SparkEntry.queries(q)(spark, s"$workDir/query").collect()
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args(0) == "train") return train(args(1), args(2).toInt)
    val Array(workloadName, seedS, secondsS, traceS, workDir, reportFile, cpusS) = args
    val (seed, seconds, trace, cpus) = (seedS.toLong, secondsS.toDouble, traceS == "1", cpusS.toInt)
    val workload = Workload(workloadName)

    val rec = new SpanRecorder(s"$workloadName-s$seed-t${if (trace) 1 else 0}")
    val tSession = rec.nowMs
    val spark = session(workDir, cpus)
    val sc = spark.sparkContext
    val storage = new StorageListener
    sc.addSparkListener(storage)
    val sessionS = (rec.nowMs - tSession) / 1000.0

    val genS = (1 to setups).map { i =>
      val t0 = rec.nowMs
      workload.generate(spark, s"$workDir/input-$i", seed)
      (rec.nowMs - t0) / 1000.0
    }
    val input = s"$workDir/input-$setups"

    val ops = new OpRunner(sc, rec, opTimeoutS)
    val ctx = new Ctx(spark, ops, workDir)
    val tPrepare = rec.nowMs
    workload.prepare(ctx, input)
    val prepareS = (rec.nowMs - tPrepare) / 1000.0

    // Timed passes until `seconds` have passed; the first one is the
    // measurement (see Workload.pass), and the one a traced run traces.
    val tracer = new JobTracer
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val tMeasure = rec.nowMs
    var n = 0
    while (n == 0 || (rec.nowMs - tMeasure) / 1000.0 < seconds) {
      n += 1
      val traced = trace && n == 1
      if (traced) sc.addSparkListener(tracer)
      ctx.values.clear()
      val firstOp = ops.results.size
      val base = storage.currentBytes
      storage.resetPeak()
      val id = rec.open()
      ops.beginPass(n, id)
      val t0 = rec.nowMs
      workload.pass(ctx, input)
      val span = rec.close(id, "pass", 0, n, t0)
      Thread.sleep(300) // let asynchronous unpersists and listener events arrive
      if (traced) { tracer.awaitIdle(5000); sc.removeSparkListener(tracer) }
      val passOps = ops.results.drop(firstOp)
      passes += Map(
        "pass" -> n, "traced" -> traced, "span" -> span.id,
        "wall_s" -> passOps.map(_.span.wallS).sum,
        "peak_cached_mb" -> (storage.peakBytes - base) / 1e6,
        "retained_cached_mb" -> (storage.currentBytes - base) / 1e6,
        "values" -> ctx.values.toMap)
    }
    val probe = Probe.run(cpus)
    spark.stop()

    val groups = tracer.snapshot
    val report = Map(
      "workload" -> workloadName, "seed" -> seed, "input" -> input, "trace" -> trace, "cpus" -> cpus,
      "sizes" -> workload.sizes,
      "setup" -> Map("session_s" -> sessionS, "generate_s" -> genS, "prepare_s" -> prepareS),
      "passes" -> passes,
      "ops" -> ops.results.map { r =>
        Map("name" -> r.span.name, "span" -> r.span.id, "pass" -> r.span.pass,
          "wall_s" -> r.span.wallS, "ok" -> r.ok, "error" -> r.error.orNull,
          "failed_checks" -> r.failedChecks.toSeq, "group" -> r.group)
      },
      "spans" -> rec.spans.map { s =>
        Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
          "pass" -> s.pass, "start_ms" -> s.startMs, "end_ms" -> s.endMs)
      },
      "groups" -> groups.map { case (g, v) =>
        g -> Map("jobs" -> v.jobs.map { case (j, s, e) => Seq(j, s, e) }, "stages" -> v.stages,
          "exec_cpu_s" -> v.execCpuNs / 1e9, "gc_s" -> v.gcMs / 1e3,
          "shuffle_write_mb" -> v.shuffleWriteBytes / 1e6,
          "shuffle_write_records" -> v.shuffleWriteRecords)
      },
      "probe" -> probe)
    Files.writeString(Paths.get(reportFile), Json.write(report))
  }
}
