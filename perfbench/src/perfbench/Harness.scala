package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval: an op (`algo.hedonic`, `query.q_lpa1`, ...) or the
  * pass that contains it. Times are epoch milliseconds with sub-ms digits,
  * the clock Spark's listener events use, so spans and jobs can be
  * intersected directly. */
final case class Span(id: Int, name: String, parent: Int, run: String,
                      pass: Int, startMs: Double, endMs: Double) {
  def wallS: Double = (endMs - startMs) / 1000.0
}

/** Outcome of one op: failed when it threw, timed out or failed a check. */
final class OpResult(val span: Span, val group: String) {
  var error: Option[String] = None
  val failedChecks = mutable.ArrayBuffer.empty[String]
  def ok: Boolean = error.isEmpty && failedChecks.isEmpty
}

/** In-memory span recorder. The clock is anchored once, so every span
  * shares one monotonic time base expressed in epoch milliseconds. */
final class SpanRecorder(val runId: String) {
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private var nextId = 0
  val spans = mutable.ArrayBuffer.empty[Span]

  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  def record(name: String, parent: Int, pass: Int, startMs: Double, endMs: Double): Span = {
    nextId += 1
    val s = Span(nextId, name, parent, runId, pass, startMs, endMs)
    spans += s
    s
  }

  /** Reserve an id for a span whose end is not known yet (a pass). */
  def open(): Int = { nextId += 1; nextId }
  def close(id: Int, name: String, parent: Int, pass: Int, startMs: Double): Span = {
    val s = Span(id, name, parent, runId, pass, startMs, nowMs)
    spans += s
    s
  }
}

/** Block-manager storage held by cached RDD blocks, tracked from block
  * update events: the current total, and the peak since the last reset. */
final class StorageListener extends SparkListener {
  private val sizes = mutable.HashMap.empty[String, Long]
  private var total = 0L
  private var peak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockManagerId.toString + "/" + info.blockId.name
      val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      total += now - sizes.getOrElse(key, 0L)
      if (now == 0L) sizes.remove(key) else sizes(key) = now
      if (total > peak) peak = total
    }
  }

  def currentBytes: Long = synchronized(total)
  def resetPeak(): Unit = synchronized { peak = total }
  def peakBytes: Long = synchronized(peak)
}

/** Spark work per job group: jobs with their intervals, stages run, and
  * task metrics. Registered only for the traced pass. */
final class JobTracer extends SparkListener {
  final class Group {
    val jobs = mutable.ArrayBuffer.empty[(Int, Double, Double)] // (jobId, startMs, endMs)
    var stages = 0
    var execCpuNs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var shuffleWriteRecords = 0L
  }
  private val groups = mutable.HashMap.empty[String, Group]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, Double]
  private val stageGroup = mutable.HashMap.empty[Int, String]

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    groupOf(e.properties).foreach { g =>
      jobGroup(e.jobId) = g
      jobStart(e.jobId) = e.time.toDouble
      e.stageIds.foreach(s => if (!stageGroup.contains(s)) stageGroup(s) = g)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { g =>
      groups.getOrElseUpdate(g, new Group).jobs +=
        ((e.jobId, jobStart.remove(e.jobId).getOrElse(e.time.toDouble), e.time.toDouble))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(g => groups.getOrElseUpdate(g, new Group).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageGroup.get(e.stageId).foreach { g =>
      val grp = groups.getOrElseUpdate(g, new Group)
      grp.execCpuNs += m.executorCpuTime
      grp.gcMs += m.jvmGCTime
      grp.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      grp.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
    }
  }

  /** Wait, at most `maxMs`, until every job seen starting has ended: the
    * listener bus delivers events after the jobs themselves return. */
  def awaitIdle(maxMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    while (synchronized(jobStart.nonEmpty) && System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  def snapshot: Map[String, Group] = synchronized(groups.toMap)
}

/** Runs ops one at a time, each on its own thread in its own job group,
  * under a watchdog: a timeout or exception becomes a failed op instead of
  * ending the run. */
final class OpRunner(sc: SparkContext, rec: SpanRecorder, opTimeoutS: Long) {
  val results = mutable.ArrayBuffer.empty[OpResult]
  private var passId = 0
  private var passNo = 0

  def beginPass(n: Int, id: Int): Unit = { passNo = n; passId = id }

  def op[A](name: String)(body: => A): (OpResult, Option[A]) = {
    val group = s"${rec.runId}-op${results.size + 1}"
    @volatile var out: Option[A] = None
    @volatile var err: Option[String] = None
    val runner = new Thread(() => {
      sc.setJobGroup(group, name, interruptOnCancel = true)
      try out = Some(body)
      catch { case t: Throwable => err = Some(t.toString.take(400)) }
      finally sc.clearJobGroup()
    }, s"perfbench-$name")
    runner.setDaemon(true)
    val t0 = rec.nowMs
    runner.start()
    runner.join(opTimeoutS * 1000)
    var timedOut = false
    if (runner.isAlive) {
      timedOut = true
      sc.cancelJobGroup(group)
      runner.join(20000)
      if (runner.isAlive) { runner.interrupt(); runner.join(20000) }
    }
    val span = rec.record(name, passId, passNo, t0, rec.nowMs)
    val r = new OpResult(span, group)
    r.error = if (timedOut) Some(s"timeout after ${opTimeoutS}s") else err
    results += r
    (r, if (r.error.isEmpty) out else None)
  }

  /** Record a correctness check against an op; a failed check fails it. */
  def check(r: OpResult, name: String, ok: Boolean, detail: => String = ""): Unit =
    if (!ok) {
      r.failedChecks += s"$name: $detail"
      System.err.println(s"[perfbench] CHECK FAILED ${r.span.name} $name $detail")
    }
}
