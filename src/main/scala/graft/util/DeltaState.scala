package graft.util

import org.apache.spark.broadcast.Broadcast
import java.util.concurrent.ConcurrentHashMap

/** Delta transport for the broadcast-state superstep loops (hedonic, its
  * frontier variant, LPA): [[DeltaState.DriverState]] on the driver,
  * [[DeltaState.comms]]/[[DeltaState.sizes]] in the kernels, and
  * [[DeltaState.moves]] for the collected decisions coming back.
  *
  * The per-superstep driver envelope (BASELINE.md Legs B: ~0.9 s at the
  * 1-core legs) is dominated by O(V) per-round costs that do not shrink
  * with cluster size: publishing a fresh V-long community array + a
  * C-entry size map to the block manager every round, each executor
  * fetching and deserializing them, and the driver rebuilding the size
  * map by scanning all V vertices. But a superstep changes only the MOVED
  * vertices — late rounds move a few hundred of 10^6+.
  *
  * So the per-round broadcast becomes a [[DeltaState.Payload]]: a handle
  * to a FULL base snapshot (republished only when the accumulated delta
  * grows past `V/4`) plus the cumulative ABSOLUTE overrides since that
  * base (position -> community, community -> size). Absolute overrides
  * make application idempotent: an executor holding any reconstruction of
  * an earlier epoch against the same base can be brought to the current
  * epoch by just (re)applying the override list in place — O(delta), no
  * clone. A fresh executor (or a straggler/retry task for an older epoch)
  * falls back to clone-base-and-apply — always correct, never dependent
  * on cache state.
  *
  * Cache safety: rounds execute sequentially (job r completes before the
  * driver publishes round r+1), so when the in-place fast path mutates
  * the cached arrays no running task can still be reading the older
  * epoch; a re-submitted task for an older epoch takes the clone path
  * (epoch mismatch) and leaves the cache alone. Size-map keys can only
  * disappear over a run (a community emptied by hedonic moves can never
  * be re-entered: it has no members, hence no neighbors, hence is never a
  * candidate), so every override key exists in any base snapshot — the
  * resolver still guards the slot lookup and falls back to a rebuild if
  * that invariant ever broke.
  */
object DeltaState {

  /** Full state snapshot (the delta base). Sizes ship as parallel arrays
    * and are hashed executor-side once per base — shipping the map's
    * internal 2x-capacity arrays would double the payload. */
  final class FullState(
      val comms: Array[Long],
      val sizeKeys: Array[Long],
      val sizeVals: Array[Long]) extends Serializable

  /** Per-round broadcast payload: base handle + cumulative absolute
    * overrides since the base epoch. */
  final class Payload(
      val runId: Long,
      val epoch: Int,
      val baseEpoch: Int,
      val base: Broadcast[FullState],
      val pos: Array[Int],
      val comms: Array[Long],
      val sizeKeys: Array[Long],
      val sizeVals: Array[Long]) extends Serializable

  // epoch is written LAST by the in-place writer (applyOverrides) and read
  // FIRST by the lock-free fast path in resolve(): @volatile makes that a
  // release/acquire pair, so a reader that observes the new epoch also
  // observes every preceding comms/sizes write. Without it the JMM permits
  // a torn read (new epoch, stale array contents) on a multi-core executor.
  private final class Entry(
      val baseEpoch: Int,
      @volatile var epoch: Int,
      val comms: Array[Long],
      val sizes: StateMap.LongLongMap)

  // executor-global reconstruction cache, one entry per live run; bounded
  // by evicting the oldest runs past MAX_RUNS (an executor outliving many
  // runs would otherwise pin V-long arrays forever).
  private val MAX_RUNS = 4
  private val cache = new ConcurrentHashMap[Long, Entry]()
  private val order = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()

  private def applyOverrides(e: Entry, p: Payload): Boolean = {
    // Publish "in transition" BEFORE mutating (ADVICE r5): in-place
    // mutation of a cached entry happens only under cache.synchronized,
    // but the resolve() fast path reads lock-free — a late task for the
    // PREVIOUS epoch must not match this entry while its arrays are
    // mid-mutation. Int.MinValue equals no real epoch, so any reader
    // arriving after this volatile write falls through to the
    // synchronized path and waits the writer out. (The residual window —
    // a reader that validated the old epoch in the instant before this
    // write — is closable only by clone-and-swap, which would reintroduce
    // the O(V)-per-round cost this transport exists to remove; it
    // requires a zombie task from a SUPERSEDED attempt, whose results the
    // driver discards, and speculative execution stays off in every
    // deployment profile this engine ships.)
    e.epoch = Int.MinValue
    val n = p.pos.length
    var i = 0
    while (i < n) { e.comms(p.pos(i)) = p.comms(i); i += 1 }
    val m = p.sizeKeys.length
    var j = 0
    while (j < m) {
      val s = e.sizes.slot(p.sizeKeys(j))
      if (s < 0) return false // key absent from base: invariant broke, rebuild
      e.sizes.vals(s) = p.sizeVals(j)
      j += 1
    }
    e.epoch = p.epoch
    true
  }

  private def rebuild(p: Payload): Entry = {
    val full = p.base.value
    val comms = full.comms.clone()
    val sizes = StateMap.longLong(full.sizeKeys, full.sizeVals, full.sizeKeys.length)
    val e = new Entry(p.baseEpoch, p.baseEpoch, comms, sizes)
    if (!applyOverrides(e, p))
      throw new IllegalStateException(
        s"DeltaState: size override key missing from base epoch ${p.baseEpoch}")
    e
  }

  private def resolve(p: Payload): Entry = {
    val cached = cache.get(p.runId)
    if (cached != null && cached.epoch == p.epoch && cached.baseEpoch == p.baseEpoch)
      return cached
    cache.synchronized {
      val e = cache.get(p.runId)
      if (e != null && e.epoch == p.epoch && e.baseEpoch == p.baseEpoch) return e
      if (e != null && e.baseEpoch == p.baseEpoch && e.epoch < p.epoch &&
          applyOverrides(e, p)) return e
      if (e != null && e.baseEpoch == p.baseEpoch && e.epoch > p.epoch)
        return rebuild(p) // stale retry: serve fresh, keep the newer cache
      val fresh = rebuild(p)
      if (cache.put(p.runId, fresh) == null) {
        order.add(java.lang.Long.valueOf(p.runId))
        while (cache.size() > MAX_RUNS) {
          val old = order.poll()
          if (old != null) cache.remove(old.longValue()) else return fresh
        }
      }
      fresh
    }
  }

  /** Kernel entry points (called from generated code / interpreted eval —
    * the payload arrives as the broadcast's value, untyped). */
  def comms(payload: AnyRef): Array[Long] = resolve(payload.asInstanceOf[Payload]).comms
  def sizes(payload: AnyRef): StateMap.LongLongMap =
    resolve(payload.asInstanceOf[Payload]).sizes

  /** Driver side of the transport: the driver-resident values (community
    * or label per state position — the caller's array, updated in place
    * by move()), the community sizes when `withSizes`, and the delta
    * bookkeeping: a full base snapshot republished once the cumulative
    * overrides pass V/4, cumulative ABSOLUTE position and size overrides
    * since that base, and the per-round Payload broadcast the plan reads
    * through `state`. Rounds run one after another: publish(), run the
    * job, release(), then move() each collected decision. */
  final class DriverState(sc: org.apache.spark.SparkContext,
      values: Array[Long], withSizes: Boolean) {
    private val n = values.length
    // value -> member count, maintained INCREMENTALLY (O(moved) per round):
    // a per-round O(V) rebuild is cluster-invariant envelope the N->4N
    // efficiency target punishes.
    private val sizes = new scala.collection.mutable.LongMap[Long](if (withSizes) n * 2 else 16)
    if (withSizes) values.foreach(c => sizes(c) = sizes.getOrElse(c, 0L) + 1L)
    private val runId = newRunId()
    private var base: Broadcast[FullState] = null
    private var baseEpoch = 0
    private val cumPos = new scala.collection.mutable.LongMap[Long]()
    private val cumSizes = new scala.collection.mutable.LongMap[Long]()
    /** The plan's state cell: this round's Payload broadcast. */
    val state = new StateMap.Ref[Broadcast[Payload]](null)

    private def arrays(m: scala.collection.mutable.LongMap[Long]): (Array[Long], Array[Long]) = {
      val ks = new Array[Long](m.size)
      val vs = new Array[Long](m.size)
      var j = 0
      m.foreachEntry { (k, v) => ks(j) = k; vs(j) = v; j += 1 }
      (ks, vs)
    }

    /** Broadcast the state for round `epoch` into `state`. No job is in
      * flight here, so destroying a superseded base is safe. */
    def publish(epoch: Int): Unit = {
      if (base == null || cumPos.size > n / 4) {
        val (ks, vs) = arrays(sizes)
        val nb = sc.broadcast(new FullState(values.clone(), ks, vs))
        if (base != null) base.destroy()
        base = nb
        baseEpoch = epoch
        cumPos.clear(); cumSizes.clear()
      }
      val dp = new Array[Int](cumPos.size)
      val dc = new Array[Long](cumPos.size)
      var j = 0
      cumPos.foreachEntry { (p, c) => dp(j) = p.toInt; dc(j) = c; j += 1 }
      val (sk, sv) = arrays(cumSizes)
      state.value = sc.broadcast(new Payload(runId, epoch, baseEpoch, base, dp, dc, sk, sv))
    }

    /** Destroy this round's Payload once its job has been collected. */
    def release(): Unit = state.value.destroy()

    /** Position `at` takes value `v`: the values, the sizes and the
      * overrides in one place. The absolute size entries make the
      * executor-side application idempotent. */
    def move(at: Int, v: Long): Unit = {
      val old = values(at)
      if (old != v) {
        values(at) = v
        cumPos(at.toLong) = v
        if (withSizes) {
          val so = sizes(old) - 1L
          if (so == 0L) sizes.remove(old) else sizes(old) = so
          sizes(v) = sizes.getOrElse(v, 0L) + 1L
          cumSizes(old) = so
          cumSizes(v) = sizes(v)
        }
      }
    }

    /** Drop the base snapshot at the end of the run. */
    def close(): Unit = if (base != null) base.destroy()
  }

  /** The return leg: an index plan's (myIdx, value, doMove) rows collected
    * as per-partition PRIMITIVE arrays straight off the codegen'd
    * InternalRow iterator — DataFrame.collect deserializes and boxes every
    * row serially on the driver, a per-superstep cost that does not shrink
    * with cluster size. Build it ONCE per run: each collect() re-serializes
    * the task closure, so the Ref-carried broadcast handles are picked up
    * per round exactly as with DataFrame.collect. */
  def moves(plan: org.apache.spark.sql.DataFrame)
      : org.apache.spark.rdd.RDD[(Array[Int], Array[Long], Array[Boolean])] =
    plan.queryExecution.toRdd.mapPartitions { it =>
      val pb = new scala.collection.mutable.ArrayBuilder.ofInt
      val cb = new scala.collection.mutable.ArrayBuilder.ofLong
      val mb = new scala.collection.mutable.ArrayBuilder.ofBoolean
      while (it.hasNext) {
        val r = it.next()
        pb += r.getInt(0); cb += r.getLong(1); mb += r.getBoolean(2)
      }
      Iterator.single((pb.result(), cb.result(), mb.result()))
    }

  /** moves() for a (myIdx, value: double) plan — PageRank's and the
    * spectral power step's V-row return leg. */
  def values(plan: org.apache.spark.sql.DataFrame)
      : org.apache.spark.rdd.RDD[(Array[Int], Array[Double])] =
    plan.queryExecution.toRdd.mapPartitions { it =>
      val pb = new scala.collection.mutable.ArrayBuilder.ofInt
      val vb = new scala.collection.mutable.ArrayBuilder.ofDouble
      while (it.hasNext) {
        val r = it.next()
        pb += r.getInt(0); vb += r.getDouble(1)
      }
      Iterator.single((pb.result(), vb.result()))
    }

  // Seeded from the JVM start time (VERDICT r5 hardening): a plain
  // counter restarts at 1 in every driver JVM, so an executor outliving a
  // driver restart (not possible in standalone/local deployments, where
  // executors are per-application — but cheap to rule out everywhere)
  // could see a colliding runId with matching epochs and serve stale
  // cached state. The start-time upper bits make ids from different
  // driver JVMs disjoint; the low 20 bits leave room for 1M runs per
  // driver.
  private val runIds = new java.util.concurrent.atomic.AtomicLong(
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime << 20)
  /** Fresh run id, unique within the driver JVM AND across driver
    * restarts (executors only ever see ids minted here). */
  def newRunId(): Long = runIds.incrementAndGet()
}
