package graft.streaming

import scala.collection.mutable.ArrayBuffer

/** Minimal point-op view of a Long → Long map: the RocksDB-backed
  * `MapState` in the streaming processor, a plain mutable map
  * (optionally with simulated eviction) in specs. Absence is part of
  * the contract — a TTL store can evict ANY key between calls, and
  * [[RollupCore]] must stay safe when it does. */
trait LongKV {
  def get(k: Long): Option[Long]
  def put(k: Long, v: Long): Unit
  def remove(k: Long): Unit
}

object RollupCore {

  /** Partition-local spanning-forest reduction over one micro-batch
    * slice — the distributed half of a classic two-level connected-
    * components: each partition unions its own edges in memory and
    * forwards ONLY the edges that connected two previously-unconnected
    * components, bounding the serial rollup stage's input by
    * (distinct docs per slice − local components) instead of raw edge
    * count. On the LSH reps feed an edge is re-emitted once per
    * matching band and clusters are dense, so most edges are
    * transitively redundant; they are dropped here, in parallel,
    * before the single-key shuffle.
    *
    * EXACTNESS, not just connectivity-equivalence: the slice is sorted
    * with the SAME tuple ordering the serial [[RollupCore]] applies to
    * the whole batch. A dropped edge is connected by kept edges that
    * precede it in its slice's sorted order — and slice order is
    * consistent with global order, so by the time the serial stage
    * would reach that edge its endpoints are already connected (prior-
    * batch state can only add connectivity) and it would be a no-op.
    * Dropping no-ops changes no merge, so the serial stage emits the
    * EXACT same delta sequence as it would for the full batch
    * (RollupCoreSpec pins this; StreamingSpec pins the wired path). */
  def localForest(edges: Array[(Long, Long)]): Iterator[(Long, Long)] = {
    java.util.Arrays.sort(edges, Ordering.Tuple2[Long, Long])
    val idx = new scala.collection.mutable.LongMap[Int](
      math.max(16, math.min(edges.length * 2, 1 << 20)))
    val parent = scala.collection.mutable.ArrayBuffer.empty[Int]
    val size = scala.collection.mutable.ArrayBuffer.empty[Int]
    def node(d: Long): Int = idx.getOrElseUpdate(d, {
      parent += parent.length; size += 1; parent.length - 1
    })
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    val keep = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var prevA = Long.MinValue
    var prevB = Long.MinValue
    edges.foreach { case e @ (a, b) =>
      if (a != b && (a != prevA || b != prevB)) {
        prevA = a; prevB = b
        val ra = find(node(a))
        val rb = find(node(b))
        if (ra != rb) {
          if (size(ra) >= size(rb)) { parent(rb) = ra; size(ra) += size(rb) }
          else { parent(ra) = rb; size(rb) += size(ra) }
          keep += e
        }
      }
    }
    keep.iterator
  }
}

/** A doc's three union-find fields packed into ONE store entry.
  * Individual fields may be logically absent inside a present entry —
  * [[PackedBatchedKV.Absent]] is the in-entry sentinel (doc ids are
  * nonnegative in every feed; writes of the sentinel value are
  * rejected loudly). Case class so `Encoders.product` gives it the
  * fast unsafe-row codec as a RocksDB MapState value. */
case class UFEntry(parent: Long, next: Long, tail: Long)

/** Point-op view of the packed doc → [[UFEntry]] store (the RocksDB
  * MapState in the processor, a plain map in specs). As with
  * [[LongKV]], absence is part of the contract — TTL can evict any
  * entry between batches. Eviction granularity is the WHOLE entry:
  * a doc's parent/next/tail now live or die together, which
  * eliminates the split-eviction hazards (stale surviving next links)
  * in production — [[RollupCore]] still tolerates them because specs
  * can produce per-field absence through the [[LongKV]] seam. */
trait TripleKV {
  def get(k: Long): Option[UFEntry]
  def put(k: Long, v: UFEntry): Unit
  def remove(k: Long): Unit
}

/** Per-micro-batch read-through / write-behind overlay on a
  * [[TripleKV]], exposing the three per-field [[LongKV]] views
  * [[RollupCore]] consumes. Two levers in one (point-op serde is the
  * serial rollup stage's floor once the edge feed is pre-reduced):
  * every key is read from the backing store at most ONCE per batch and
  * written at most once (the LAST value wins — walk chains re-point
  * the same parent entries repeatedly while a batch's merges cascade,
  * and only the final value needs to reach RocksDB), and the three
  * fields share that single read/write instead of paying one each —
  * ≤ 1 get + ≤ 1 put/remove per touched doc per batch, down from ≤ 3
  * of each with per-field maps (round 18 A/B, OPTIMIZATION_r18.md).
  *
  * Semantics are identical to direct per-field ops: the overlay serves
  * its own pending writes, `flush()` runs before the processor returns
  * the batch's rows, and Spark commits state strictly after that —
  * crash recovery replays the batch against the same committed prior
  * state either way. Memory is O(distinct keys touched per batch), the
  * same bound as the edge array the processor already materializes.
  * TTL notes: idle-based eviction acts BETWEEN batches (flush
  * refreshes at batch end rather than mid-batch — an entry's idle
  * clock only ever restarts later than with direct writes, so nothing
  * expires sooner), and a write to ANY field refreshes the whole
  * entry, so fields only ever outlive their old per-field horizons —
  * the active-horizon contract is unchanged. */
final class PackedBatchedKV(store: TripleKV) {
  import PackedBatchedKV.Absent
  // mutable length-3 field arrays; null marks a known-absent entry
  private val mem = new scala.collection.mutable.LongMap[Array[Long]]()
  private val dirty = new scala.collection.mutable.LongMap[Boolean]()

  private def entry(k: Long): Array[Long] =
    mem.get(k) match {
      case Some(e) => e
      case None =>
        val e = store.get(k)
          .map(v => Array(v.parent, v.next, v.tail)).orNull
        mem(k) = e
        e
    }

  private final class FieldView(i: Int) extends LongKV {
    def get(k: Long): Option[Long] = {
      val e = entry(k)
      if (e == null || e(i) == Absent) None else Some(e(i))
    }
    def put(k: Long, v: Long): Unit = {
      require(v != Absent, s"UF field value collides with the Absent sentinel: $v")
      var e = entry(k)
      if (e == null) { e = Array(Absent, Absent, Absent); mem(k) = e }
      e(i) = v
      dirty(k) = true
    }
    def remove(k: Long): Unit = {
      val e = entry(k)
      if (e != null && e(i) != Absent) { e(i) = Absent; dirty(k) = true }
    }
  }

  val parent: LongKV = new FieldView(0)
  val next: LongKV = new FieldView(1)
  val tail: LongKV = new FieldView(2)

  /** Push the batch's net writes to the store and reset (the cache is
    * dropped too: between batches the store may evict under TTL, and
    * holding clean reads across batches would both mask that and grow
    * without bound). An entry whose three fields are all absent is
    * removed outright, so field-wise removes never strand empty
    * entries in RocksDB. */
  def flush(): Unit = {
    dirty.foreachKey { k =>
      val e = mem(k)
      if (e == null || (e(0) == Absent && e(1) == Absent && e(2) == Absent))
        store.remove(k)
      else store.put(k, UFEntry(e(0), e(1), e(2)))
    }
    mem.clear()
    dirty.clear()
  }
}

object PackedBatchedKV {
  /** In-entry absence sentinel. Doc ids are nonnegative in every feed
    * (minhash reps, spec harnesses); [[FieldView.put]] rejects it. */
  val Absent: Long = Long.MinValue
}

/** The incremental union-find heart of
  * [[DedupStream.RepsRollupProcessor]], pulled out behind [[LongKV]] so
  * the TTL-eviction corner cases are unit-testable without a streaming
  * harness (RollupCoreSpec) while the processor stays a thin state-
  * plumbing shell.
  *
  * Structure (unchanged from the in-processor original): `parent` maps
  * every seen doc DIRECTLY to its set's root (depth ≤ 1 — the losing
  * side of every merge is fully re-pointed), `next`/`tail` thread each
  * set's members into an intrusive list headed at the root so that
  * losing walk is exactly the deltas owed, and roots are set minima so
  * the emitted rep_id per doc is monotonically non-increasing — the
  * contract [[DedupStream.assignmentsFromDeltas]] folds with `min`.
  *
  * TTL mode (`repairOrphans = true`): eviction can break both
  * invariants — a missing `next` link truncates a losing walk, leaving
  * the un-walked suffix pointed at the demoted root (depth 2), and a
  * walk launched FROM such a stale root would re-point live docs to a
  * LARGER root, violating monotonicity. So under TTL, [[resolve]]
  * verifies the stored parent is a live root, following the demotion
  * chain (parent values strictly decrease — a root is only ever
  * re-pointed at a smaller winner — so the chain is acyclic and short)
  * and repairing the touched doc on the spot: re-point it directly at
  * the live root, emit the owed delta, sever its stale list link (the
  * rest of the orphaned fragment repairs member-by-member on touch;
  * re-threading it wholesale could splice into a live list and create
  * a walk cycle), and append it to the live root's list so future
  * walks reach it. A chain ending at an evicted entry revives that doc
  * as a fresh root — the same fresh-singleton re-entry the TTL
  * contract already documents for aged-out docs. Net: docs an eviction
  * orphaned and no edge ever touches again stay stale (they are
  * outside the active horizon by definition); any doc a new edge DOES
  * reference is exact again from that touch, and no emission ever
  * re-points a live doc to a larger root. `ttl = None` never takes the
  * verify path: without eviction, depth ≤ 1 provably holds and the
  * per-resolve cost stays one point read. */
final class RollupCore(parent: LongKV, next: LongKV, tail: LongKV,
                       repairOrphans: Boolean) {

  /** Root of `d`, creating (and emitting) a fresh singleton if the doc
    * is unseen — or expired, which re-enters identically. In TTL mode
    * the result is verified to be a live root (see class doc). */
  private def resolve(d: Long, out: ArrayBuffer[(Long, Long)]): Long =
    parent.get(d) match {
      case None =>
        // TTL: the doc's parent entry can expire while its `next` link
        // survives (parent is rewritten on every re-point, next is not).
        // A fresh re-entry must sever that stale link, or a losing walk
        // later launched from this root would traverse it into a live
        // list and re-point live docs to a larger root — the same
        // hazard the revival branch below handles with next.remove(r).
        if (repairOrphans) next.remove(d)
        parent.put(d, d); tail.put(d, d); out += ((d, d)); d
      case Some(p) if p == d           => d
      case Some(p) if !repairOrphans   => p
      case Some(p) =>
        // follow the demotion chain to its live end
        var r = p
        var hop = parent.get(r)
        while (hop.exists(_ != r)) { r = hop.get; hop = parent.get(r) }
        val revived = hop.isEmpty
        if (revived) {
          // the chain end itself was evicted: revive as a fresh root
          // with a fresh singleton list (its old fragment, if any,
          // stays unreachable until touched — best-effort under TTL)
          parent.put(r, r); tail.put(r, r); next.remove(r)
          out += ((r, r))
        }
        if (r != p || revived) {
          // d was orphaned (stale parent, or parent pointing at a just-
          // revived root whose list no longer threads to d): re-attach.
          // The severed `next` is NOT followed or re-linked wholesale —
          // d's old fragment can thread into a live list, and splicing
          // it could create a walk cycle; members repair on touch.
          parent.put(d, r)
          next.remove(d)
          tail.get(r) match {
            case Some(t) if t != d && next.get(t).isEmpty =>
              next.put(t, d); tail.put(r, d)
            case Some(_) => () // tail already d, or stale (its next is
            // occupied): d keeps the correct parent but joins no
            // walkable list until its next touch — best-effort
            case None => tail.put(r, d) // tail evicted: adopt d so
            // future appends chain after it
          }
          if (r != p) out += ((d, r))
        }
        r
    }

  /** Process one micro-batch slice of reps edges; returns the (doc_id,
    * rep_id) deltas in emission order. Sorting makes the union order —
    * hence the delta sequence — deterministic regardless of shuffle
    * iterator order, and puts duplicate pairs adjacent so the ≤-Bands-
    * fold re-emissions of the same pair skip before costing state
    * point-ops (sf10 bench feed: ~16× duplication). */
  def processEdges(edges: Array[(Long, Long)]): ArrayBuffer[(Long, Long)] = {
    java.util.Arrays.sort(edges, Ordering.Tuple2[Long, Long])
    val out = ArrayBuffer.empty[(Long, Long)]
    var prevA = Long.MinValue
    var prevB = Long.MinValue
    edges.foreach { case (a, b) =>
      if (a != b && (a != prevA || b != prevB)) {
        prevA = a; prevB = b
        val ra = resolve(a, out)
        val rb = resolve(b, out)
        if (ra != rb) {
          val win = math.min(ra, rb)
          val lose = math.max(ra, rb)
          // walk the losing set (root = list head): re-point every
          // member DIRECTLY at the winner and emit its delta. In TTL
          // mode the walk carries a visited guard: stale links left by
          // eviction-era concats can, in principle, thread fragments
          // into a next-cycle, and an unguarded walk would spin — on a
          // revisit the walk stops and severs the closing link so the
          // cycle cannot re-form (without TTL, next links are provably
          // acyclic and the guard is never allocated)
          val visited =
            if (repairOrphans) new java.util.HashSet[java.lang.Long]() else null
          var d = lose
          var more = true
          while (more) {
            if (visited != null) visited.add(d)
            parent.put(d, win)
            out += ((d, win))
            next.get(d) match {
              case Some(nd) if visited != null && visited.contains(nd) =>
                next.remove(d); more = false
              case Some(nd) => d = nd
              case None     => more = false
            }
          }
          // concat lists: winner's tail links to the losing head. The
          // new tail is `d` — the last member the walk REACHED, which
          // without eviction is exactly tail(lose) (the walk traverses
          // the whole list), and under a TTL-truncated walk keeps the
          // tail pointing at the last reachable member instead of into
          // the severed fragment, so later appends heal the list
          // rather than extend the unreachable part
          val winTail = tail.get(win).getOrElse(win)
          next.put(winTail, lose)
          tail.put(win, d)
          tail.remove(lose)
        }
      }
    }
    out
  }
}
