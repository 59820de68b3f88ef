package perfbench

import scala.collection.mutable

/** Output checks computed by the benchmark itself, on collected results.
  * None of them call engine code, so a bug in the engine cannot also hide
  * itself from its check. */
object Checks {

  /** Undirected edge list as parallel arrays. */
  final case class Edges(src: Array[Long], dst: Array[Long]) {
    def size: Int = src.length
  }

  /** Canonical: every edge has src < dst and no pair occurs twice.
    * Returns (non-canonical rows, duplicate rows). */
  def canonical(e: Edges): (Int, Int) = {
    var bad = 0
    var dups = 0
    val seen = new mutable.HashSet[(Long, Long)]()
    var i = 0
    while (i < e.size) {
      if (e.src(i) >= e.dst(i)) bad += 1
      if (!seen.add((e.src(i), e.dst(i)))) dups += 1
      i += 1
    }
    (bad, dups)
  }

  /** Vertex ids of the graph, sorted. */
  def vertices(e: Edges): Array[Long] = (e.src ++ e.dst).distinct.sorted

  /** Hedonic Nash-equilibrium check on an unweighted graph with
    * alpha = density = 2E / (V (V - 1)). A vertex in community C gets
    * payoff f*(1-a) - s*a in any community D, with f its neighbours in D
    * and s the other members of D that are not neighbours. It is stable
    * when no community holding one of its neighbours pays strictly more
    * than staying. Returns the number of vertices that could improve by
    * more than `tol`, and the number of graph vertices without a
    * membership row. */
  def hedonicViolations(e: Edges, members: Map[Long, Long], tol: Double = 1e-9): (Int, Int) = {
    val verts = vertices(e)
    val v = verts.length.toDouble
    val alpha = if (v < 2) 0.0 else 2.0 * e.size / (v * (v - 1))
    val missing = verts.count(x => !members.contains(x))
    val size = mutable.HashMap.empty[Long, Long]
    members.values.foreach(c => size(c) = size.getOrElse(c, 0L) + 1)
    val adj = adjacency(e)
    var unstable = 0
    adj.foreach { case (u, nbrs) =>
      members.get(u).foreach { cu =>
        val friends = mutable.HashMap.empty[Long, Long]
        nbrs.foreach(w => members.get(w).foreach(c => friends(c) = friends.getOrElse(c, 0L) + 1))
        def payoff(c: Long): Double = {
          val f = friends.getOrElse(c, 0L)
          val others = size(c) - (if (c == cu) 1 else 0)
          f * (1.0 - alpha) - (others - f) * alpha
        }
        val stay = payoff(cu)
        if (friends.keysIterator.exists(c => c != cu && payoff(c) > stay + tol)) unstable += 1
      }
    }
    (unstable, missing)
  }

  /** Edges whose endpoints carry different component labels, and graph
    * vertices without a label. */
  def componentViolations(e: Edges, label: Map[Long, Long]): (Int, Int) = {
    var split = 0
    var i = 0
    while (i < e.size) {
      if (label.get(e.src(i)) != label.get(e.dst(i))) split += 1
      i += 1
    }
    (split, vertices(e).count(x => !label.contains(x)))
  }

  /** Triangle count by the forward algorithm: orient every edge from the
    * lower to the higher (degree, id) endpoint and intersect the sorted
    * out-lists of each edge's endpoints. */
  def triangles(e: Edges): Long = {
    val deg = new mutable.LongMap[Int]()
    var i = 0
    while (i < e.size) {
      deg(e.src(i)) = deg.getOrElse(e.src(i), 0) + 1
      deg(e.dst(i)) = deg.getOrElse(e.dst(i), 0) + 1
      i += 1
    }
    def before(a: Long, b: Long): Boolean = deg(a) < deg(b) || (deg(a) == deg(b) && a < b)
    val out = new mutable.LongMap[mutable.ArrayBuilder.ofLong]()
    i = 0
    while (i < e.size) {
      val (a, b) = if (before(e.src(i), e.dst(i))) (e.src(i), e.dst(i)) else (e.dst(i), e.src(i))
      out.getOrElseUpdate(a, new mutable.ArrayBuilder.ofLong) += b
      i += 1
    }
    val sorted = out.mapValuesNow { b => val a = b.result(); java.util.Arrays.sort(a); a }
    var n = 0L
    sorted.foreachEntry { (_, bs) =>
      bs.foreach(b => sorted.get(b).foreach(cs => n += intersectionSize(bs, cs)))
    }
    n
  }

  private def intersectionSize(x: Array[Long], y: Array[Long]): Int = {
    var (i, j, n) = (0, 0, 0)
    while (i < x.length && j < y.length) {
      if (x(i) < y(j)) i += 1
      else if (x(i) > y(j)) j += 1
      else { n += 1; i += 1; j += 1 }
    }
    n
  }

  /** The partition a labelling induces, with each community named by its
    * smallest member, so two labellings compare equal exactly when they
    * group the vertices the same way. */
  def canonicalPartition(label: Map[Long, Long]): Map[Long, Long] = {
    val minOf = mutable.HashMap.empty[Long, Long]
    label.foreach { case (v, c) => minOf(c) = math.min(minOf.getOrElse(c, Long.MaxValue), v) }
    label.map { case (v, c) => v -> minOf(c) }
  }

  /** Adjusted Rand index between two labellings over their common ids. */
  def ari(a: Map[Long, Long], b: Map[Long, Long]): Double = {
    val ids = a.keySet.intersect(b.keySet).toSeq
    def c2(n: Long): Double = n * (n - 1) / 2.0
    val nij = ids.groupBy(i => (a(i), b(i))).values.map(s => c2(s.size.toLong)).sum
    val ai = ids.groupBy(a).values.map(s => c2(s.size.toLong)).sum
    val bj = ids.groupBy(b).values.map(s => c2(s.size.toLong)).sum
    val expected = ai * bj / c2(ids.size.toLong)
    val maxIdx = (ai + bj) / 2.0
    if (maxIdx == expected) 1.0 else (nij - expected) / (maxIdx - expected)
  }

  private def adjacency(e: Edges): mutable.HashMap[Long, mutable.ArrayBuffer[Long]] = {
    val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    var i = 0
    while (i < e.size) {
      adj.getOrElseUpdate(e.src(i), mutable.ArrayBuffer.empty) += e.dst(i)
      adj.getOrElseUpdate(e.dst(i), mutable.ArrayBuffer.empty) += e.src(i)
      i += 1
    }
    adj
  }
}
