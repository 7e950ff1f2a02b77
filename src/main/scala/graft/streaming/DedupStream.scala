package graft.streaming

import graft.functions.TextKernels
import graft.ops.Dedup.{Bands, NumPerms}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming MinHash-LSH near-duplicate detection — the continuous-
  * ingestion counterpart of the batch LSH family (`Dedup.minhashPairs`):
  * a corpus feed is checked for NEAR-duplicates (not just exact content
  * matches, which [[EventStream.streamingContentDedup]] already handles)
  * against everything previously ingested, on arrival, without ever
  * re-running a full-corpus batch dedup.
  *
  * Same sketch as batch: md5-based 32-permutation MinHash signatures
  * (map-side codegen kernels), 16 × 2 banding. The state layer replaces
  * the batch band-bucket self-join: each (band, k0, k1) bucket is a
  * `transformWithState` key (packed to one xxhash64 long — fixed-width
  * shuffle/state keys; a collision merging two buckets is a ~2⁻⁴⁷ event
  * that could only ADD candidates, never lose one) holding the bucket's
  * registered signatures, capped at [[BucketCap]] entries — the same
  * skew guard as the batch 2..1000 bucket filter, bounding both state
  * size and per-arrival compare work no matter how degenerate a bucket
  * gets (boilerplate-heavy feeds). An arriving document compares its
  * signature against its bucket's registry (≤ BucketCap × 16 signature
  * compares per doc) and emits a candidate for every estimate ≥
  * [[EstThreshold]] — a superset of the batch pipeline's verified pairs
  * FOR CORPORA WHOSE BUCKETS STAY WITHIN [[BucketCap]] (streaming emits
  * sketch candidates; exact-Jaccard confirmation joins the stored corpus
  * downstream, exactly as batch verification does). The caps diverge on
  * 65..1000-member buckets: batch emits all pairs up to its 1000-member
  * gate, while the stream stops REGISTERING after BucketCap arrivals, so
  * a pair of two post-cap arrivals in the same hot bucket is found only
  * if another band buckets them below cap — the deliberate price of
  * bounding per-arrival work on a skewed endless feed (a batch job can
  * afford one 1000² bucket; an ingest path compounding that every
  * micro-batch cannot). StreamingSpec's superset check runs on a corpus
  * whose buckets sit far below the cap, where the contract is exact.
  *
  * Scale shape: one shuffle (groupByKey on the bucket key), and ONE
  * state row per bucket — a single packed long array laid out
  * [[RegStride]] longs per entry (doc_id, insert-time ms, 16 packed
  * signature words; two 31-bit minhash values per word, never text) —
  * so a bucket visit costs ONE RocksDB get + ONE primitive-array decode
  * instead of [[BucketCap]] per-element row decodes (the former
  * ListState layout; the decode fan-out, not the signature compares,
  * dominated the adversarial sf10 wall — see docs/BENCH_NOTES.md round
  * 13). At 100 TB-feed scale the TTL knob (`ttl` arg) bounds the
  * horizon like dropDuplicatesWithinWatermark does for exact dedup —
  * per-ENTRY insert timestamps filter aged entries on read (an expired
  * base doc stops matching at exactly its own age, the ListState-TTL
  * contract, pinned by StreamingSpec's TTL variant) and the state
  * store's value-level TTL physically evicts idle buckets — so state is
  * O(active horizon), not O(corpus). The batch-parity spec runs
  * unbounded (no TTL). */
object DedupStream {

  /** Packed signature length: [[NumPerms]] 31-bit values, 2 per long.
    * Equal to [[Bands]] because Rows == 2 — the banding below leans on
    * that identity (packed element b IS band b's (k0, k1) key). */
  val PackedLen: Int = NumPerms / 2

  /** Longs per registry entry: doc_id, insert-time millis, packed sig. */
  val RegStride: Int = 2 + PackedLen

  /** A near-dup candidate discovered on arrival (docA < docB). */
  case class StreamCandidate(docA: Long, docB: Long, band: Int, estSim: Double)

  /** ValueState wrapper (Encoders.product needs a Product; the payload
    * is the flat entries array, [[RegStride]] longs each, insertion
    * order). */
  case class PackedRegistry(v: Array[Long])

  /** Per-bucket registry cap — the streaming analog of the batch
    * pipeline's 1000-member bucket filter (skew guard). */
  val BucketCap = 64
  /** Minimum signature-agreement estimate to emit a candidate — shared
    * with the batch pipeline's estimate gate. */
  val EstThreshold = 0.25
  /** EstThreshold expressed in matching-perm count (est = m/NumPerms ≥
    * 0.25 ⇔ m ≥ 8) — the loop compares integers, emission math on the
    * double is unchanged. */
  val MinMatches: Int = math.ceil(EstThreshold * NumPerms).toInt

  /** Stateful core: key = the packed 64-bit (band, k0, k1) bucket id,
    * value rows = (bucket, band, doc_id, sig). The key's VALUE is never
    * read (band rides in the row) — it only partitions state — which is
    * why a fixed-width long beats the former "band:k0:k1" string: the
    * typed groupByKey sort-shuffle orders 8-byte longs instead of ~25-char
    * strings and RocksDB keys shrink ~3×. Arrivals within a micro-batch
    * are processed in doc_id order so output is deterministic regardless
    * of shuffle iterator order; same-batch pairs are found because each
    * arrival registers before the next is compared. Generic in K so the
    * key representation can evolve without touching the compare logic.
    *
    * `ttl`: None = unbounded registry (batch parity). Some(d) = per-entry
    * horizon d, enforced by filtering aged entries on read (their insert
    * timestamps ride in the packed layout) with the store's value TTL as
    * the physical-eviction backstop for buckets no arrival ever revisits.
    *
    * `repEmission`: the streaming analog of the batch cluster-reps
    * lesson ([[graft.ops.Dedup.minhashClusterReps]] — k mutual near-dups
    * emit C(k,2) pairs where ONE linkage edge per arrival carries the
    * same connectivity). false = pair mode: an arrival emits a candidate
    * for EVERY matching registered entry (the exhaustive report — output
    * quadratic in cluster size). true = reps mode: an arrival emits ONE
    * edge per bucket visit, to the MINIMUM-doc_id matching entry — the
    * union-find linkage a downstream cluster rollup consumes, keeping
    * output LINEAR on replica-heavy feeds. The edge targets the min
    * MATCHING entry (est-gated), not a blind per-bucket rep pointer: two
    * docs can share a bucket without being similar, and a blind pointer
    * would weld their clusters together. Registration, state layout,
    * caps, and TTL are identical in both modes — only emission differs
    * (same registry_v3 state; a checkpoint can switch modes). */
  class LshBucketProcessor[K](ttl: Option[java.time.Duration] = None,
                              repEmission: Boolean = false)
      extends StatefulProcessor[K, (K, Int, Long, Array[Long]), StreamCandidate] {

    private val ttlMs: Long = ttl.map(_.toMillis).getOrElse(0L)

    @transient private var registry: ValueState[PackedRegistry] = _

    // State variable is VERSIONED ("registry_v3"; v1 = 32 unpacked longs
    // per ListState entry, v2 = 16 packed): each layout change renames
    // the variable so a restart from a stale checkpoint fails state
    // validation loudly instead of silently mis-comparing against the
    // old byte layout; the stride guard below backstops any path that
    // slips through.
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      registry = getHandle.getValueState[PackedRegistry](
        "registry_v3", Encoders.product[PackedRegistry],
        ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE))

    override def handleInputRows(key: K,
                                 rows: Iterator[(K, Int, Long, Array[Long])],
                                 timers: TimerValues): Iterator[StreamCandidate] = {
      val arrivals = rows.toArray
      java.util.Arrays.sort(arrivals, Ordering.by((r: (K, Int, Long, Array[Long])) => r._3))
      val stored = registry.get() match {
        case null => Array.emptyLongArray
        case r    => r.v
      }
      // incompatible-layout guard: stride divisibility AND the cap — a
      // checkpoint written by a build with a larger BucketCap is a clean
      // multiple of the stride but would overflow the working buffer
      // (raw AIOOBE instead of this message) if only divisibility were
      // checked
      if (stored.length % RegStride != 0 || stored.length > BucketCap * RegStride)
        throw new IllegalStateException(
          s"graft.DedupStream: registry_v3 length ${stored.length} is not a " +
            s"multiple of stride $RegStride within cap $BucketCap — state " +
            "written by an incompatible layout; clear the checkpoint")
      // one working buffer, sized to what THIS visit can actually hold
      // (live entries + at most one append per arrival, cap-bounded):
      // most buckets hold 1-3 entries, and tens of millions of bucket
      // visits each allocating the full 1152-long worst case would be
      // hundreds of GB of young-gen churn in the hot path
      val cap = math.min(BucketCap * RegStride,
        stored.length + arrivals.length * RegStride)
      val reg = new Array[Long](cap)
      var n = 0
      if (ttlMs > 0) {
        val cutoff = timers.getCurrentProcessingTimeInMs() - ttlMs
        var off = 0
        while (off < stored.length) {
          if (stored(off + 1) >= cutoff) {
            System.arraycopy(stored, off, reg, n * RegStride, RegStride)
            n += 1
          }
          off += RegStride
        }
      } else {
        System.arraycopy(stored, 0, reg, 0, stored.length)
        n = stored.length / RegStride
      }
      val dropped = n * RegStride != stored.length
      // insert timestamps are stamped in EVERY mode (processing time when
      // the state layer provides it, wall clock otherwise): a registry
      // written under ttl=None and later restarted with a TTL must
      // expire by true entry age, not silently drop everything because
      // no-TTL writes stamped 0. The stamp never reaches output rows, so
      // batch-parity determinism is unaffected.
      val nowMs = {
        val t = if (ttlMs > 0) timers.getCurrentProcessingTimeInMs() else -1L
        if (t > 0) t else System.currentTimeMillis()
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[StreamCandidate]
      var appended = false
      arrivals.foreach { case (_, band, docId, sig) =>
        // membership scan (stride walk over ≤64 doc ids)
        var seen = false
        var off = 0
        val live = n * RegStride
        while (off < live && !seen) { seen = reg(off) == docId; off += RegStride }
        if (!seen) {
          // reps mode: the single linkage edge goes to the MIN-doc_id
          // matching entry (registry holds insertion order, not id order,
          // so track the min across the walk)
          var repOther = Long.MaxValue
          var repMatches = 0
          off = 0
          while (off < live) {
            // matching perms = matching 32-bit halves of the packed sig
            var m = 0
            var i = 0
            val base = off + 2
            while (i < PackedLen) {
              val x = reg(base + i) ^ sig(i)
              if ((x >>> 32) == 0L) m += 1
              if ((x & 0xFFFFFFFFL) == 0L) m += 1
              i += 1
            }
            if (m >= MinMatches) {
              val other = reg(off)
              if (repEmission) {
                if (other < repOther) { repOther = other; repMatches = m }
              } else {
                out += StreamCandidate(math.min(other, docId),
                  math.max(other, docId), band, m.toDouble / NumPerms)
              }
            }
            off += RegStride
          }
          if (repEmission && repOther != Long.MaxValue)
            out += StreamCandidate(math.min(repOther, docId),
              math.max(repOther, docId), band, repMatches.toDouble / NumPerms)
          if (n < BucketCap) {
            val base = n * RegStride
            reg(base) = docId
            reg(base + 1) = nowMs
            System.arraycopy(sig, 0, reg, base + 2, PackedLen)
            n += 1
            appended = true
          }
        }
      }
      // one state write per (bucket, micro-batch), not per arrival; also
      // rewritten when TTL dropped entries so state physically shrinks
      if (appended || dropped)
        registry.update(PackedRegistry(java.util.Arrays.copyOf(reg, n * RegStride)))
      out.iterator
    }
  }

  /** The streaming query: docs (doc_id, text) → banded signatures →
    * per-bucket stateful compare. Candidates may repeat across bands —
    * downstream consumers (or the verification join) dedupe on
    * (docA, docB), as the batch pipeline's `distinct()` does.
    *
    * `ttl` bounds the dedup horizon: registry entries older than the
    * duration expire (per-entry read filter + store-level eviction), so
    * an endless feed holds O(horizon) state instead of O(corpus). None
    * (default) keeps the registry forever — full batch parity. */
  def streamingNearDup(spark: SparkSession, docs: DataFrame,
                       ttl: Option[java.time.Duration] = None): DataFrame =
    streamingLsh(spark, docs, ttl, repEmission = false)

  /** Cluster-linkage variant of [[streamingNearDup]] — the streaming
    * side of the batch reps lesson (BENCH_NOTES round 13: a 99-replica
    * cluster pays C(k,2) pair rows where k−1 linkage edges carry the
    * decision). Emits ONE (rep, member) union-find edge per (arrival,
    * matching bucket) — rep = the minimum-doc_id est-matching registered
    * entry — so output stays LINEAR in arrivals on replica-heavy feeds
    * while connecting exactly the clusters the pair mode connects on
    * corpora whose co-bucket members mutually match (true replica
    * clusters; the same transitivity trade, measured and documented, as
    * batch chain emission — StreamingSpec pins stream-reps clusters ≡
    * batch [[graft.ops.Dedup.minhashClusterReps]] on a replayed planted
    * corpus). Downstream a consumer folds the edge stream through
    * union-find (or [[graft.ops.Dedup.connectedComponents]] on the
    * collected edges) for the cluster rollup; edges may repeat across
    * bands/batches — duplicates are harmless to union-find, exactly as
    * in the batch reps pipelines.
    *
    * Verification contract (same as pair mode, sharper consequence):
    * edges are ESTIMATE-gated only — batch [[graft.ops.Dedup
    * .minhashClusterReps]] additionally exact-Jaccard-verifies each
    * chain link. A sketch false-positive (est ≥ 0.25, true Jaccard
    * < 0.2) therefore welds two clusters a downstream union-find cannot
    * un-weld, and a consumer that instead exact-verifies edges (est_sim
    * rides on every row for exactly this) drops that visit's only
    * linkage edge — the same lost-link trade batch chain emission
    * documents. Pair mode has the identical est-only contract but emits
    * ALL matches, so post-hoc verification loses nothing; choosing reps
    * mode is choosing linear output over that recoverability, which is
    * the right trade exactly when replicas dominate (feeds where the
    * estimate is near 1 and false welds are vanishing). */
  def streamingNearDupReps(spark: SparkSession, docs: DataFrame,
                           ttl: Option[java.time.Duration] = None): DataFrame =
    streamingLsh(spark, docs, ttl, repEmission = true)
      .toDF("rep", "member", "band", "est_sim")

  /** The worked batch consumer of the [[streamingNearDupReps]] edge
    * stream — closes the reps story from linkage edges to a usable
    * (doc → cluster rep) table: fold the COLLECTED edges (a parquet sink,
    * an in-memory table, any DataFrame carrying rep/member/est_sim)
    * through the shared [[graft.ops.Dedup.connectedComponents]] and emit
    * one (doc_id, rep_id) assignment per LINKED document — rep_id = the
    * minimum doc_id in its cluster, the identical rep contract as batch
    * [[graft.ops.Dedup.minhashClusterReps]]. Cluster reps map to
    * themselves (doc_id == rep_id), so `filter(doc_id =!= rep_id)` is
    * the drop-list and `filter(doc_id === rep_id)` the keep-list;
    * singletons (docs that never linked) carry no row — recover them
    * with a left_anti join of the corpus against `member`, exactly like
    * the batch keep-best pipelines (worked end-to-end in OPERATORS.md).
    *
    * Duplicate edges across bands / micro-batches collapse inside CC's
    * first neighbor aggregate — re-running on a grown edge sink is
    * idempotent over the prefix. `minEst` optionally drops edges below
    * an estimate floor first (est_sim rides on every edge for exactly
    * this) — the documented weld-resistance trade: a dropped edge was
    * that visit's ONLY linkage, so raising the floor can split a true
    * cluster, while est-only edges can weld sketch false-positives. */
  def repsAssignments(edges: DataFrame, minEst: Double = 0.0): DataFrame =
    graft.ops.Dedup.connectedComponents(
      edges.filter(col("est_sim") >= minEst)
        .select(col("rep"), col("member")),
      "rep", "member")
      .select(col("id").as("doc_id"), col("label").as("rep_id"))

  /** In-stream cluster rollup over the [[streamingNearDupReps]] edge
    * stream — the stage that removes [[repsAssignments]]' batch
    * side-trip: linkage edges go IN, `(doc_id, rep_id)` assignment
    * DELTAS come out, continuously.
    *
    * Core: an incremental union-find kept FLAT in keyed state. Three
    * maps — `parent` (doc → its current root, always direct: depth-1
    * forest), `next` (doc → next member of its set, an intrusive
    * linked list per set headed by the root), `tail` (root → list
    * tail, for O(1) concat). When edge (a, b) merges two roots the
    * MINIMUM root wins (the batch min-label rep contract); the losing
    * set's list is walked once, each member re-pointed directly at the
    * winner (this IS the path compression — no chains ever form) and
    * re-emitted. The walk's cost equals the number of re-assignments
    * the delta contract owes anyway, so the processor does no work the
    * output doesn't show. First sight of a doc emits its singleton row
    * (doc, doc), matching repsAssignments' reps-map-to-themselves rows.
    *
    * THE consumption contract: a doc's emitted rep_id only ever
    * DECREASES (a set's root changes only by losing to a smaller
    * root), so the live assignment table is `min(rep_id) GROUP BY
    * doc_id` over the delta sink — a plain aggregation (batch view or
    * update-mode streaming agg), never a connected-components job.
    * StreamingSpec pins min-rollup(deltas) ≡ [[repsAssignments]] on a
    * replayed corpus, including across a checkpointed restart.
    *
    * Scale shape, stated honestly: union-find is inherently serial, so
    * the stage runs on ONE state key — a deliberate funnel, not an
    * oversight. It is fed not by the corpus but by the reps edge
    * stream, which [[streamingNearDupReps]] already bounds to ≤ Bands
    * edges per matched arrival (and 0 for the non-duplicate bulk of a
    * real feed); each edge costs O(1) amortized RocksDB point ops
    * (duplicate edges across bands/batches land on equal roots and
    * no-op), and state is disk-backed, one packed entry
    * (parent/next/tail — [[UFEntry]]) per linked doc.
    * A late SMALL-id doc joining a size-k cluster re-labels k docs —
    * that cost is the delta CONTRACT's (any rollup would re-emit k
    * rows), not the structure's. At a throughput where one serial
    * reducer cannot keep up, the documented fallback is the batch
    * [[repsAssignments]] rollup over the edge sink, which this stage
    * composes with (same edge schema, same output contract).
    *
    * `ttl` = the same horizon knob as the registry: map entries idle
    * past the duration are evicted by the store, so state tracks the
    * active horizon, not the corpus. Entries REFRESH on write, so sets
    * that keep merging stay exact; eviction at the horizon boundary is
    * best-effort by design, and every read is defensive against it —
    * a missing parent re-enters as a singleton, a broken list link
    * ends the walk, and (the subtle case) a STALE parent left behind
    * by an eviction-truncated walk is detected and repaired on touch
    * by [[RollupCore.resolve]], so no emission ever re-points a live
    * doc at a LARGER root; see [[RollupCore]] for the full TTL-mode
    * contract. (Since the round-18 packing, production eviction is
    * whole-entry — a doc's three fields live and die together — so the
    * split-field corners can no longer arise from the store itself;
    * the core keeps tolerating them because the [[LongKV]] seam still
    * permits them and the specs still exercise them.)
    * The union-find itself lives in [[RollupCore]] behind
    * the [[LongKV]] point-op view, which is what makes those eviction
    * corners unit-testable (RollupCoreSpec) — this class is only the
    * MapState plumbing. The parity spec runs unbounded (ttl = None),
    * where depth ≤ 1 holds and the verify path is never taken. */
  class RepsRollupProcessor(ttl: Option[java.time.Duration] = None)
      extends StatefulProcessor[Long, (Long, Long), (Long, Long)] {

    @transient private var core: RollupCore = _
    @transient private var overlay: PackedBatchedKV = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      val cfg = ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE)
      // ONE packed map, not three: the stage's floor is RocksDB
      // point-op serde (round-18 trace: addBatch ≈ the whole wall, and
      // 32→1 state partitions moved it ~5%), so parent/next/tail share
      // an entry and the PackedBatchedKV overlay issues ≤ 1 get + ≤ 1
      // put per touched doc per batch. Versioned like registry_v3: a
      // layout change renames the var so a stale checkpoint fails
      // loudly. Reads use a single getValue (null on a missing key —
      // the value is a case class, so no boxed-zero ambiguity), NOT
      // containsKey + getValue: the overlay pays exactly one store
      // read per touched doc per batch, and halving its JNI reads is
      // measurable at the 495 k-edge sf10 feed.
      val packed = getHandle.getMapState[Long, UFEntry](
        "uf_packed_v1", Encoders.scalaLong, Encoders.product[UFEntry], cfg)
      overlay = new PackedBatchedKV(new TripleKV {
        def get(k: Long): Option[UFEntry] = Option(packed.getValue(k))
        def put(k: Long, v: UFEntry): Unit = packed.updateValue(k, v)
        def remove(k: Long): Unit = packed.removeKey(k)
      })
      core = new RollupCore(overlay.parent, overlay.next, overlay.tail,
        repairOrphans = ttl.isDefined)
    }

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
                                 timers: TimerValues): Iterator[(Long, Long)] = {
      val out = core.processEdges(rows.toArray)
      overlay.flush() // net writes reach MapState BEFORE the
      // batch's rows are returned; Spark commits state after that
      out.iterator
    }
  }

  /** Run the rollup stage over a (streaming or replayed) reps edge
    * DataFrame — any frame carrying `rep`/`member` columns, e.g. the
    * live [[streamingNearDupReps]] output or its parquet edge sink
    * re-read as a stream. Output: `(doc_id, rep_id)` deltas; the live
    * table is `min(rep_id) GROUP BY doc_id` (see
    * [[RepsRollupProcessor]]). Single state key by design — see the
    * processor's scale note — but its INPUT is first cut down in
    * parallel by [[RollupCore.localForest]], a stateless per-partition
    * per-micro-batch spanning forest (two-level connected components):
    * each partition forwards only the edges that connected two locally
    * new components, so the serial funnel receives O(distinct docs per
    * slice) edges instead of the raw feed (which re-emits a pair once
    * per matching band and is transitively dense inside clusters). The
    * reduction is EXACT — the emitted delta sequence is identical with
    * it on or off (see localForest's doc for the argument; StreamingSpec
    * pins it against a forest-less reference on a redundancy-heavy
    * corpus).
    *
    * Operational note: with `ttl` set the query runs in processing-time
    * mode and the TTL'd state schedules maintenance work, so replay
    * drivers should use `Trigger.AvailableNow()` + `awaitTermination`
    * rather than the default trigger + `processAllAvailable` (which may
    * never observe the no-new-data quiescent point). The unbounded path
    * (`ttl = None`) has no clock machinery and settles under either. */
  def repsRollupStream(spark: SparkSession, edges: DataFrame,
                       ttl: Option[java.time.Duration] = None): DataFrame = {
    // The stateful stage below has exactly ONE non-empty key (the 0L
    // group), and transformWithState opens/commits a state-store instance
    // per shuffle partition per micro-batch — at a 32-wide conf that is
    // 31 pure-overhead RocksDB open/commit cycles per trigger (round-17
    // A/B: 0.61 s vs 14.13 s stage floor). The width is THIS operator's
    // semantics, so the operator pins it instead of relying on every
    // harness/consumer to know the magic conf (r18 verdict item). Spark
    // reads the stateful width from the session conf when the query
    // STARTS, so no plan-level repartition can pin it: the returned frame
    // is bound to a clone of the caller's session (runtime conf such as
    // the state-store provider carried over) whose shuffle width is 1,
    // and the caller's own conf is left untouched. NOTE a query started
    // from the returned frame runs in that clone, so a memory sink's
    // table registers there: read it through the frame's
    // `sparkSession`. The width is also pinned into the checkpoint at
    // first run, like any streaming shuffle width.
    val session = org.apache.spark.sql.graft.bridge.cloneSession(spark)
    session.conf.set("spark.sql.shuffle.partitions", "1")
    import session.implicits._
    val timeMode = ttl match {
      case Some(_) => TimeMode.ProcessingTime()
      case None    => TimeMode.None()
    }
    val base = org.apache.spark.sql.graft.bridge.rebind(session, edges)
      .select(col("rep").cast("long"), col("member").cast("long"))
      .as[(Long, Long)]
    // hash-distribute by rep BEFORE the local forest: a pair's ≤-Bands
    // copies (and the per-band parallel trees of a dense cluster) are
    // emitted under DIFFERENT bucket keys, so on source partitioning
    // they never meet and the local pass cuts only ~19% (sf10 probe);
    // co-located by rep it removes the band fold wholesale. The extra
    // exchange is parallel and replaces byte movement that otherwise
    // all flows through the single-key shuffle below. Exactness is
    // partitioning-independent (see localForest doc), so this only
    // changes WHICH redundant edges drop, never the emitted deltas.
    // Heap bound (advisor r17): `it.toArray` materializes one
    // partition's micro-batch slice (plus the forest's LongMap/parent/
    // size arrays, ~24 B/edge total) on the executor heap, and
    // repartition(rep) can concentrate a hot rep key in one task. The
    // slice is bounded by edges-per-trigger / shuffle-partitions times
    // skew — at the sf10 feed's worst (7.5 M edges, one trigger, 32
    // partitions) a fully-skewed slice is ~180 MB, fine; if an
    // sf100-class feed shows a hotter key, salt the key (e.g.
    // `repartition(col("rep"), pmod(col("member"), lit(16)))`) —
    // exactness is partitioning-independent, so salting is safe and
    // only changes WHICH redundant edges drop.
    // Width is pinned to defaultParallelism (total cores), NOT the
    // session's shuffle-partition conf: the session runs at width 1 for
    // the single-key stateful stage (above), while the forest pass wants
    // full parallelism.
    base
      .repartition(spark.sparkContext.defaultParallelism, col("rep"))
      .mapPartitions(it => RollupCore.localForest(it.toArray))
      .groupByKey(_ => 0L)
      .transformWithState(new RepsRollupProcessor(ttl), timeMode,
        OutputMode.Append())
      .toDF("doc_id", "rep_id")
  }

  /** The no-CC consumer view: fold rollup deltas to the live
    * assignment table. Works as a batch read of the delta sink or as
    * an update-mode streaming aggregation — rep_id is monotonically
    * non-increasing per doc, so `min` IS last-write-wins. (Under a TTL
    * horizon an aged-out doc re-enters as a fresh singleton, which can
    * raise its rep again — there, fold only the deltas within the
    * horizon, the same windowing the TTL already imposes upstream.) */
  def assignmentsFromDeltas(deltas: DataFrame): DataFrame =
    deltas.groupBy(col("doc_id")).agg(min(col("rep_id")).as("rep_id"))

  private def streamingLsh(spark: SparkSession, docs: DataFrame,
                           ttl: Option[java.time.Duration],
                           repEmission: Boolean): DataFrame = {
    import spark.implicits._
    val sigs = docs.select(col("doc_id"),
      TextKernels.minhashSigKernel(
        TextKernels.shinglesKernel(col("text"), 3), NumPerms).as("sig"))
    // pack ONCE per doc (2 × 31-bit minhash values per long), then band:
    // with Rows == 2, band b's (k0, k1) key IS packed element b, so the
    // bucket hash and the registry share the same 16-long array — the
    // explode duplicates half the bytes the unpacked form shuffled
    val packed = sigs.select(col("doc_id"),
      transform(sequence(lit(0), lit(PackedLen - 1)),
        j => shiftleft(col("sig")(j * 2), 32)
          .bitwiseOR(col("sig")(j * 2 + 1))).as("psig"))
    val banded = packed
      .select(col("doc_id"), col("psig"),
        explode(sequence(lit(0), lit(Bands - 1))).as("band"))
      .select(
        xxhash64(col("band"), col("psig")(col("band"))).as("bucket"),
        col("band"), col("doc_id"), col("psig"))
      .as[(Long, Int, Long, Array[Long])]
    // TTL states require processing-time mode; without TTL stay in
    // TimeMode.None so the unbounded path carries no clock machinery
    val timeMode = ttl match {
      case Some(_) => TimeMode.ProcessingTime()
      case None    => TimeMode.None()
    }
    banded
      .groupByKey(_._1)
      .transformWithState(new LshBucketProcessor[Long](ttl, repEmission),
        timeMode, OutputMode.Append())
      .toDF()
  }
}
