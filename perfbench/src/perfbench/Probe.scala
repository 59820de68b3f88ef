package perfbench

/** Host calibration probe, stored beside each run's metrics so that two
  * runs can be told apart by host speed rather than by code: a STREAM-style
  * triad `a = b + s*c` over arrays larger than the last-level cache, at one
  * thread and at `threads` threads (GB/s, best of three), and a fixed
  * integer-hash loop (ns per iteration). It is context only, not a metric. */
object Probe {
  private val n = 1 << 22 // 4M doubles = 32 MiB per array

  def run(threads: Int): Map[String, Double] = {
    val a = new Array[Double](n)
    val b = Array.fill(n)(1.0)
    val c = Array.fill(n)(2.0)
    Map(
      "triad_1t_gbps" -> triad(a, b, c, 1),
      s"triad_${threads}t_gbps" -> triad(a, b, c, threads),
      "cpu_loop_ns" -> cpuLoop())
  }

  private def triad(a: Array[Double], b: Array[Double], c: Array[Double], threads: Int): Double = {
    def slice(t: Int): Unit = {
      val lo = (n.toLong * t / threads).toInt
      val hi = (n.toLong * (t + 1) / threads).toInt
      var i = lo
      while (i < hi) { a(i) = b(i) + 3.0 * c(i); i += 1 }
    }
    var best = Double.MaxValue
    for (_ <- 0 until 3) {
      val t0 = System.nanoTime()
      val ts = (0 until threads).map(t => new Thread(() => slice(t)))
      ts.foreach(_.start()); ts.foreach(_.join())
      best = math.min(best, (System.nanoTime() - t0).toDouble)
    }
    24.0 * n / best // bytes per ns = GB/s
  }

  private def cpuLoop(): Double = {
    val iters = 20000000
    var x = 0x9E3779B97F4A7C15L
    val t0 = System.nanoTime()
    var i = 0
    while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val ns = (System.nanoTime() - t0).toDouble / iters
    if (x == 0) -ns else ns // keep the loop live
  }
}
