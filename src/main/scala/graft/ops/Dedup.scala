package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline (beyond-reference;
  * BASELINE.json north star): exact, MinHash+LSH near-dup, SimHash, and
  * exact n-gram Jaccard verification.
  *
  * Scale design (the part that matters at 100 TB):
  *   - exact dedup is one hash-aggregate on a 128-bit fingerprint — never
  *     groupBy the raw text (shuffling full documents); shuffle 16-byte keys.
  *   - MinHash signatures are pure map-side expression work (no UDFs, stays
  *     in WholeStageCodegen); the only shuffle is the band-bucket self-join,
  *     which is an equi-join on (band, bucket_hash) — skew-prone buckets
  *     (boilerplate docs) are capped with a per-bucket size limit before the
  *     pair explosion, the standard guard against O(n²) bucket blowup.
  *   - candidate verification (exact Jaccard) runs only on LSH candidates,
  *     never all pairs.
  */
object Dedup {

  // ---- shingling ------------------------------------------------------

  /** Word k-shingles of normalized text, distinct — the composable
    * higher-order-function form (interpreted lambdas; kept as the reference
    * implementation for the kernel-equivalence spec). Hot paths use
    * [[graft.functions.TextKernels.shinglesKernel]] instead. */
  def shinglesCol(text: Column, k: Int): Column = {
    // drop empty tokens so any-whitespace edges (tabs, newlines) can't
    // produce phantom "" tokens — matches the kernel's split semantics
    val toks = filter(split(lower(text), "\\s+"), t => t =!= "")
    array_distinct(
      transform(
        sequence(lit(1), greatest(size(toks) - (k - 1), lit(1))),
        i => array_join(slice(toks, i, lit(k)), " ")))
  }

  val NumPerms = 32
  val Bands = 16   // 16 bands x 2 rows: candidate threshold ~ (1/16)^(1/2) = 0.25 Jaccard
  val Rows = NumPerms / Bands
  /** The est_sim ≥ 0.25 gate counted in equal signature components
    * (est_sim = matches / NumPerms), as the map-side emission's kernel
    * and the verify stage's gated count take it. */
  private val EstMinMatches = NumPerms / 4

  /** Shared MinHash bucket-size gates: a bucket is a candidate source only
    * when its membership lands in [BucketLo, BucketCap]. ONE definition —
    * [[minbandPairs]]' exactly-once emission invariant couples the
    * capped-away hot-key filter (`n > BucketCap`) to the cap passed to
    * [[cappedBuckets]]; if the two constants drifted apart, pairs would be
    * silently lost or duplicated (r18 advice item). The SQL-form queries
    * (dedup_minhash_sql, dedup_chunks) keep their literal `BETWEEN 2 AND
    * 1000` text — those strings replay verbatim in the DuckDB oracle. */
  private[graft] val BucketLo = 2
  private[graft] val BucketCap = 1000

  // ---- operators ------------------------------------------------------

  /** Exact dedup: group by md5 fingerprint of normalized text, keep the
    * smallest doc_id per group. The aggregation shuffles only (hash, id)
    * pairs, not document bodies. */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_id")

  /** MinHash LSH candidate pairs with exact-Jaccard verification.
    * Pipeline: shingle → signature → band → bucket → pair explosion →
    * signature re-check → exact-Jaccard verify.
    *
    * Plan shape chosen for scale: the banding/bucketing stage carries ONLY
    * (band, bucket, doc_id) — signatures and shingle sets stay out of the
    * wide shuffle. Buckets are aggregated to id lists (capped: an
    * over-full bucket is boilerplate, not dedup signal), pairs explode from
    * the lists as 16-byte rows, and the heavy arrays are joined back per
    * unique candidate pair only. Estimated similarity gates the exact
    * verify so most false candidates never touch shingle sets.
    */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    minhashPairsDf(Tables.documents(spark, dir))

  /** Core over any (doc_id, text) DataFrame — lets the recall specs run
    * the identical pipeline on synthetic corpora with planted near-dups
    * (driver data has none). */
  def minhashPairsDf(documents: DataFrame): DataFrame = {
    val (docs, sigs, docStats) = minhashDocsSigs(documents)
    val gate = minhashGate(docs.sparkSession, docStats.getLong(0))
    // all-pairs emission: every C(k,2) pair of each capped bucket. In the
    // map-side window the first-surviving-collision rule ([[minbandPairs]])
    // emits each pair exactly once, already carrying est_sim — no distinct
    // exchange and no sig re-attach joins; elsewhere explode + distinct()
    // (see the gate keys for why both ends keep that shape).
    val verified =
      if (gate.mapSide)
        minhashVerifiedPreEst(minbandPairs(sigs, EstMinMatches), docs, bcastAttach = true)
      else minhashVerified(distinctCandidates(sigs, chain = false, packableIds(docStats)),
        docs, sigs, bcastAttach = gate.bcastAttach)
    verified
      .select(col("doc_a"), col("doc_b"),
        round(col("est_sim"), 4).as("est_sim"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Session conf key: corpus-size ceiling (in documents) under which the
    * MinHash verify stages force-BROADCAST their sig/shingle attach
    * tables instead of shuffle-joining them against the candidate-pair
    * stream. The attach tables are O(corpus) — ~256 B/doc of signature
    * and ~0.5 KB/doc of xxhash64 shingle set on the bench corpora — while
    * the pair stream is the family's dominant row count, so below the
    * ceiling the broadcast form deletes three SortMergeJoins' worth of
    * pair-stream exchanges AND sorts (sf10 measured: 45.8M distinct
    * candidates; isolated session-min 111.9 → 82.6 s, shuffle write
    * 11.8 → 3.2 GB, spill 60 → 31 GB). Default 2·10⁶ docs ≈ 0.5-1 GB per broadcast
    * relation at bench-like doc sizes — comfortable executor headroom;
    * above it the sort-merge shape is the correct scale plan and is kept
    * automatically (the data chooses, like [[DenseMaxNodesKey]]). */
  val BcastAttachMaxDocsKey = "spark.graft.dedup.bcastAttachMaxDocs"

  /** Session conf key: corpus-size FLOOR (in documents) above which the
    * broadcast-gated all-pairs emission switches from explode+distinct to
    * the map-side min-band rule ([[minbandPairs]]), and
    * [[minhashSqlPairs]]' pair-count aggregate to the same map-side
    * emission. Min-band pays one
    * extra small job (the capped-away-key aggregate + collect) per query
    * — pure fixed cost while the candidate distinct is small (sf0.1,
    * 5k docs: +0.7 s on a 1.5 s line), the whole win once it is the wall
    * (sf10, 500k docs: the distinct is ~29 s and 31 GB of spill). Default
    * 10⁵ docs — the measured crossover sits between 5·10⁴ (wash) and
    * 5·10⁵ (clear win). */
  val MinbandMinDocsKey = "spark.graft.dedup.minbandMinDocs"

  /** The MinHash family's one size-gate decision: `bcastAttach` iff the
    * corpus is within [[BcastAttachMaxDocsKey]] (sig/shingle attaches
    * broadcast); `mapSide` iff it is also at or above
    * [[MinbandMinDocsKey]] (candidates emitted once map-side by the
    * first-surviving-collision kernel instead of aggregated). */
  private final case class MinhashGate(bcastAttach: Boolean, mapSide: Boolean)

  /** [[MinhashGate]] for a corpus of `n` documents — the count observed
    * on the docs (or SQL-form signature) materialization, so the gate
    * runs no job of its own. Used by all three MinHash queries. */
  private def minhashGate(spark: SparkSession, n: Long): MinhashGate = {
    val conf = spark.conf
    val bcast = n <= conf.getOption(BcastAttachMaxDocsKey).map(_.toLong).getOrElse(2000000L)
    MinhashGate(bcast, bcast && n >= conf.getOption(MinbandMinDocsKey).map(_.toLong).getOrElse(100000L))
  }

  /** The figures [[minhashDocsSigs]] observes on its docs
    * materialization: (count, min doc_id, max doc_id) — [[minhashGate]]'s
    * corpus size and [[packableIds]]' id range. */
  private val DocStats = Seq(count(lit(1)), min(col("doc_id")), max(col("doc_id")))

  /** True iff every doc id fits unsigned 32 bits, so a sorted candidate
    * pair (a < b) packs injectively into ONE long (a·2³² | b) and the
    * candidate distinct shuffles 8-byte keys instead of 16-byte structs
    * (§2.3 narrower shuffle keys). Corpora past 2³² docs (or with
    * negative ids) keep the struct form automatically — the data chooses,
    * like every other gate here. Reads the observed [[DocStats]] row; an
    * empty corpus's null min/max read as 0 (packable). */
  private[graft] def packableIds(docStats: Row): Boolean =
    longStat(docStats, 1) >= 0L && longStat(docStats, 2) <= 4294967295L

  // ---- shared MinHash pipeline stages -----------------------------------
  // minhashPairsDf and minhashClusterRepsDf differ ONLY in how a bucket's
  // member list becomes candidate pairs (all C(k,2) vs the k−1 chain).
  // Every other stage — shingling, signatures, banding, the 2..1000 skew
  // cap, the est ≥ 0.25 gate, the exact-Jaccard ≥ 0.2 verify — must stay
  // bit-identical between the two (RecallSpec + tools/RepsParity pin the
  // chain ≡ all-pairs cluster property, which holds only while the gates
  // agree), so they live here ONCE.

  /** Shingle sets and signatures, each materialized ONCE via the shared
    * truncate helper (reliable checkpoint when configured, localCheckpoint
    * otherwise) — they feed 2-3 downstream joins and the expensive
    * per-document kernel passes must not re-run per consumer. Unlike a
    * bare .persist() the blocks are released by ContextCleaner as soon as
    * the result is unreferenced (CacheHygieneSpec pins it). The third
    * value is the [[DocStats]] row observed on the docs materialization —
    * what [[minhashGate]] and [[packableIds]] read. */
  private[graft] def minhashDocsSigs(documents: DataFrame): (DataFrame, DataFrame, Row) = {
    import graft.functions.TextKernels
    val (docs, docStats) = truncateObserved(documents
      .select(col("doc_id"), TextKernels.shinglesKernel(col("text"), 3).as("shingles")),
      DocStats: _*)
    val sigs = truncate(docs.select(col("doc_id"),
      TextKernels.minhashSigKernel(col("shingles"), NumPerms).as("sig")))
    (docs, sigs, docStats)
  }

  /** Banded bucket membership → capped member lists (band, k0, k1, ids).
    * Band keys are the RAW signature components (band, sig[2b], sig[2b+1])
    * — directly replayable in the DuckDB oracle, unlike a re-hash of the
    * slice; the grouping key is 20 bytes instead of 8, on a per-doc-
    * per-band row count that the banding keeps linear. The 2..1000 size
    * cap is the skew gate (an over-full bucket is boilerplate, not
    * dedup signal) — enforced INSIDE the aggregation via
    * [[cappedBuckets]], so a mega-bucket never materializes its full
    * membership in one buffer before being dropped. */
  private[graft] def minhashBuckets(sigs: DataFrame): DataFrame =
    cappedBuckets(minhashBandRows(sigs),
      Seq("band", "k0", "k1"), "doc_id", lo = BucketLo, hi = BucketCap)

  /** The per-doc-per-band (doc_id, band, k0, k1) bucket-membership rows
    * feeding [[minhashBuckets]] — split out so [[minbandPairs]] can run
    * its capped-away-key aggregate over the identical row set.
    *
    * All-sentinel signatures (every component Long.MaxValue — an EMPTY
    * shingle set, which [[graft.functions.TextKernels.shingles]] cannot
    * produce for non-null text but a custom shingle feed could) are
    * excluded from banding: they carry no dedup signal. A sentinel doc
    * can only ever bucket with other sentinel docs (real components are
    * CW residues < 2³¹−1 < MaxValue), and every sentinel∕sentinel pair
    * is empty∕empty in shingle space — jaccard 0.0, dropped by the ≥ 0.2
    * verify gate on all paths — so excluding them changes NO operator
    * output. What it buys: [[minbandPairs]]' packed hot-key argument
    * (k0·prime + k1 injective on components < prime) now holds
    * UNCONDITIONALLY — sentinel components would wrap the pack, and a
    * wrapped key colliding with a real bucket's key could falsely mark a
    * surviving lower band as capped-away and double-emit a real pair
    * (r18 advice item). */
  private[graft] def minhashBandRows(sigs: DataFrame): DataFrame =
    sigs.filter(col("sig")(0) =!= Long.MaxValue)
      .select(
        col("doc_id"),
        explode(array((0 until Bands).map(b => struct(lit(b).as("band"),
          col("sig")(b * Rows).as("k0"), col("sig")(b * Rows + 1).as("k1"))): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.k0").as("k0"), col("bk.k1").as("k1"))

  /** Duplicate-free all-pairs candidate emission WITHOUT the distinct
    * exchange — the broadcast-path companion to `minhashBuckets → explode
    * → distinct()`. A candidate pair surfaces once per band whose bucket
    * contains both docs (sf10: 410M raw rows collapsing to 45.8M — the
    * family's largest remaining shuffle after the attach joins went
    * broadcast); but which bands collide is fully determined by the two
    * SIGNATURES, so with sigs broadcastable (the caller's
    * [[minhashGate]]) each candidate can decide MAP-SIDE
    * whether its own band is the pair's FIRST surviving collision and
    * drop itself otherwise — no exchange, no aggregate.
    *
    * The one correctness wrinkle is the 2..1000 bucket cap: a pair whose
    * first-colliding band sat in a capped-away (>1000) bucket is never
    * emitted there, so the rule must not suppress its later emissions.
    * Capped-away keys are RARE by the same skew argument that justifies
    * the cap (boilerplate hot buckets), so they are aggregated once over
    * the identical [[minhashBandRows]] set (count > hi — sub-`lo` groups
    * cannot contain a pair), collected, and folded into the predicate as
    * per-band packed-literal sets: emit at `band` iff for every lower
    * band either the signatures disagree or that band's key is in the
    * capped-away set. Output ≡ the distinct() form row-for-row
    * (CappedBucketsSpec pins parity on a corpus WITH capped buckets;
    * count+checksum parity also probe-pinned at sf1/sf10).
    *
    * Packing: components are CW residues in [0, 2³¹−1), so
    * k0·SqlPrime + k1 < 2⁶² is an injective long key.
    *
    * `minMatches` > 0 also drops pairs whose signatures agree in fewer
    * components ([[firstCollisionPairs]]); [[minhashPairsDf]] passes
    * [[EstMinMatches]], its est_sim gate. */
  private[graft] def minbandPairs(sigs: DataFrame, minMatches: Int = 0): DataFrame = {
    import graft.functions.GraftFunctions.sortedLongPairsKernel
    val bandRows = minhashBandRows(sigs)
    val hotByBand: Map[Int, Array[Long]] = bandRows
      .groupBy(col("band"), col("k0"), col("k1"))
      .agg(count(lit(1)).as("n")).filter(col("n") > BucketCap)
      .select(col("band"), col("k0"), col("k1"))
      .collect()
      .groupBy(_.getInt(0))
      .map { case (b, rows) =>
        b -> rows.map(r => r.getLong(1) * SqlPrime + r.getLong(2)).sorted
      }
    val cands = cappedBuckets(bandRows, Seq("band", "k0", "k1"), "doc_id",
        lo = BucketLo, hi = BucketCap)
      .select(col("band"), explode(sortedLongPairsKernel(col("ids"))).as("p"))
      .select(col("band"), col("p.a").as("doc_a"), col("p.b").as("doc_b"))
    firstCollisionPairs(cands, sigs, hotByBand, minMatches)
      .select(col("doc_a"), col("doc_b"), col("est_sim"))
  }

  /** The one map-side emitter of the MinHash family ([[minbandPairs]] and
    * [[minhashSqlPairs]]): broadcast-attaches `sig_a`/`sig_b` (from a
    * (doc_id, sig) frame) to a (band, doc_a, doc_b) candidate stream and
    * keeps the rows where `band` is the pair's first surviving collision
    * ([[graft.functions.GraftFunctions.sharedBandsIfFirst]]; `hotByBand`
    * = per-band sorted capped-away keys, empty for cap-less callers;
    * `minMatches` = the est_sim gate in equal signature components, 0
    * for none). Emits (doc_a, doc_b, n_shared_bands, est_sim): survivors
    * still hold both signatures, so est_sim is a 32-compare kernel loop
    * away and the verify stage skips its sig re-attach joins
    * ([[minhashVerifiedPreEst]]). Column pruning drops whichever score a
    * caller does not select.
    *
    * The filter is the gate kernel alone and the projection holds only
    * the count half and [[graft.functions.GraftFunctions.sigMatchCount]]:
    * Catalyst pushes the filter into the sig_b join's condition, and a
    * filter on a projected column would be pushed there as a second
    * copy of that column's kernel call. */
  private def firstCollisionPairs(cands: DataFrame, sigs: DataFrame,
                                  hotByBand: Map[Int, Array[Long]],
                                  minMatches: Int): DataFrame = {
    import graft.functions.GraftFunctions.{sharedBandsFromKernel, sharedBandsIfFirstKernel,
      sigMatchCountKernel}
    val hotCol = array((0 until Bands).map(b =>
      lit(hotByBand.getOrElse(b, Array.empty[Long]))): _*)
    cands
      .join(broadcast(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))), Seq("doc_a"))
      .join(broadcast(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"))), Seq("doc_b"))
      .filter(sharedBandsIfFirstKernel(col("sig_a"), col("sig_b"), col("band"), lit(Rows),
        hotCol, lit(minMatches)))
      .select(col("doc_a"), col("doc_b"),
        sharedBandsFromKernel(col("sig_a"), col("sig_b"), col("band"), lit(Rows))
          .as("n_shared_bands"),
        (sigMatchCountKernel(col("sig_a"), col("sig_b")).cast("double") / NumPerms).as("est_sim"))
  }

  /** Distinct (doc_a < doc_b) candidates from the capped buckets: every
    * C(k,2) pair of a bucket, or with `chain` only the k−1 consecutive
    * pairs of its sorted member list ([[minhashClusterReps]]). When
    * `packed` ([[packableIds]]) holds, each pair packs into one long
    * (a·2³² | b, injective since a < b < 2³²) so the distinct exchange
    * carries 8-byte keys instead of 16-byte structs — on the above-gate
    * scale path the distinct is the family's largest remaining shuffle —
    * and unpacks after; past the unsigned-32 id range the struct form is
    * kept. */
  private def distinctCandidates(sigs: DataFrame, chain: Boolean,
                                 packed: Boolean): DataFrame = {
    import graft.functions.GraftFunctions.{sortedLongPairsKernel, sortedLongPairsPackedKernel}
    // `pair` over consecutive members i, i+1 of the sorted list
    def chainOf(pair: String): Column =
      expr(s"transform(sequence(1, size(ids) - 1), i -> $pair)")
    val pairs = (chain, packed) match {
      case (false, true)  => sortedLongPairsPackedKernel(col("ids"))
      case (false, false) => sortedLongPairsKernel(col("ids"))
      case (true, true)   => chainOf("shiftleft(element_at(ids, i), 32) | element_at(ids, i + 1)")
      case (true, false)  => chainOf("named_struct('a', element_at(ids, i), 'b', element_at(ids, i + 1))")
    }
    val buckets = minhashBuckets(sigs)
    val lists = if (chain) buckets.select(sort_array(col("ids")).as("ids")) else buckets
    if (packed)
      lists.select(explode(pairs).as("uv"))
        .distinct()
        .select(shiftrightunsigned(col("uv"), 32).as("doc_a"),
          col("uv").bitwiseAND(lit(4294967295L)).as("doc_b"))
    else
      lists.select(explode(pairs).as("p"))
        .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
        .distinct()
  }

  /** Shared capped bucket-membership builder for every LSH family
    * (MinHash bands here, SimHash chunks, the n-gram posting index,
    * [[Vectors]]' embedding LSH codes): groups duplicate-free (key, id)
    * rows and returns (keys..., ids) ONLY for groups whose size lands in
    * [lo, hi]. Same single-shuffle ObjectHashAggregate plan and same
    * output as `collect_set` + a post-hoc size filter, but the cap lives
    * INSIDE the aggregate ([[graft.functions.CappedCollect]]): partial
    * buffers are bounded at `hi` ids and a hot bucket ships at most `hi`
    * ids per map partition through the exchange instead of its full
    * membership — the two-phase-membership fix without a second pass
    * over the rows (CappedBucketsSpec pins parity, the bounded-shuffle
    * property, and the plan shape). */
  private[graft] def cappedBuckets(rows: DataFrame, keys: Seq[String],
                                   idCol: String, lo: Int, hi: Int): DataFrame =
    rows.groupBy(keys.map(col): _*)
      .agg(graft.functions.CappedCollect.cappedIdSet(lo, hi, col(idCol)).as("ids"))
      .filter(size(col("ids")) > 0)

  /** Candidate (doc_a, doc_b) pairs → signature-estimate gate (≥ 0.25) →
    * exact set-space Jaccard verify (≥ 0.2). Emits (doc_a, doc_b,
    * est_sim, jaccard) unrounded; callers round/order or drop the scores.
    *
    * The Jaccard runs over xxhash64-HASHED shingle sets, not the strings:
    * the verify joins replicate each doc's shingle set once per candidate
    * partner (~10² partners/doc on replica corpora), so at sf10 the
    * string form shipped ~300 × ~20-byte strings per pair row where the
    * hashed form ships 8-byte longs — ~5× fewer exchange bytes on the
    * family's dominant stage, and array_intersect/union hash longs
    * instead of strings. Same identical-unless-xxhash64-collides
    * (~n²/2⁶⁴ per pair) trade the repo already documents for
    * dedup_ngram_jaccard's int64-hashed shingle space; the DuckDB oracle
    * stays in string space and has hash-matched every round. */
  private[graft] def minhashVerified(pairs: DataFrame, docs: DataFrame,
                                     sigs: DataFrame,
                                     bcastAttach: Boolean = false): DataFrame = {
    // `bcastAttach` forces every attach side into a broadcast relation:
    // sigs (~256 B/doc) and hashed shingle sets (~0.5 KB/doc) are
    // O(corpus) while the candidate-pair stream they decorate is the
    // family's dominant volume — at sf10 the shuffle-join form exchanges
    // and SORTS the pair stream four times (3 SortMergeJoins), with the
    // ~0.5 KB sh_a arrays riding the doc_b exchange. Callers gate on
    // corpus size ([[minhashGate]]); past the ceiling the
    // sort-merge shape below is the correct scale plan and stays as-is.
    def attach(df: DataFrame): DataFrame = if (bcastAttach) broadcast(df) else df
    val withEst = pairs
      .join(attach(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))), Seq("doc_a"))
      .join(attach(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"))), Seq("doc_b"))
      // est numerator as one kernel loop — identical count to the
      // zip_with/filter/size HOF chain it replaces, without the
      // per-element interpreted lambdas or the two intermediate arrays;
      // the est_sim >= 0.25 gate (m >= NumPerms / 4, exact) rides in the
      // same call, exploded so it runs once per pair
      .select(col("doc_a"), col("doc_b"),
        explode(graft.functions.GraftFunctions.sigMatchCountAtLeastKernel(
          col("sig_a"), col("sig_b"), EstMinMatches)).as("m"))
      .select(col("doc_a"), col("doc_b"), (col("m").cast("double") / NumPerms).as("est_sim"))
    minhashVerifiedPreEst(withEst, docs, bcastAttach)
  }

  /** The exact-Jaccard tail of [[minhashVerified]], for callers whose
    * candidate stream ALREADY carries est_sim and has passed the
    * est ≥ 0.25 gate (the min-band emission computes both from the
    * signatures it attached for the first-band test), so the two sig
    * re-attach joins and the interpreted zip_with HOF never run over the
    * pair stream. */
  private[graft] def minhashVerifiedPreEst(pairsEst: DataFrame, docs: DataFrame,
                                           bcastAttach: Boolean): DataFrame = {
    val hashed = docs.select(col("doc_id"),
      transform(col("shingles"), s => xxhash64(s)).as("sh"))
    def attach(df: DataFrame): DataFrame = if (bcastAttach) broadcast(df) else df
    pairsEst
      .join(attach(hashed.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))), Seq("doc_a"))
      .join(attach(hashed.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))), Seq("doc_b"))
      // one-pass set-space Jaccard kernel == size(array_intersect)/
      // size(array_union) (four hash-set builds + two materialized result
      // arrays per pair in expression form — the measured sf10 wall of
      // this stage); its >= 0.2 gate rides in the same call, exploded so
      // the kernel runs once per pair, and is load-bearing for the
      // empty/empty edge (the kernel's 0.0 fails it as Divide's null did)
      .select(col("doc_a"), col("doc_b"), col("est_sim"),
        explode(graft.functions.GraftFunctions.jaccardLongSetsAtLeastKernel(
          col("sh_a"), col("sh_b"), 0.2)).as("jaccard"))
  }

  /** MinHash near-dup CLUSTER REPRESENTATIVES — the emission shape a
    * pipeline consumer actually wants at corpus scale: one row per
    * near-dup cluster (representative = min doc_id, member count, id sum/
    * max for audit), never the all-pairs list. [[minhashPairs]] is
    * output-bound on dense corpora — k mutual near-dups produce C(k,2)
    * true pairs, so a 100-replica cluster emits 4 950 rows where ONE
    * cluster row carries the decision a dedup pass needs (sf10 measured:
    * 2.5×10⁷ pairs, and every pair pays the signature+shingle verify).
    *
    * Candidate generation is CHAIN-emission, the O(k)-per-bucket LSH
    * shape: per (band, k0, k1) bucket the sorted member list contributes
    * only its k−1 CONSECUTIVE pairs, not all C(k,2) — enough to keep any
    * bucket's members connectable while the verified-pair volume stays
    * linear in bucket size. Chains then take the SAME gates as
    * [[minhashPairs]] (signature-estimate ≥ 0.25, exact Jaccard ≥ 0.2
    * over xxhash64-HASHED shingle sets — the ~5×-fewer-exchange-bytes
    * trade and its ~n²/2⁶⁴ collision caveat are documented on
    * [[minhashVerified]]), and the verified chain graph feeds
    * [[connectedComponents]] (dense union-find; |V|-auto-gated). The
    * semantics is deliberately chain-based — deterministic and replayable
    * end-to-end in the DuckDB oracle ([[minhashRepsOracle]], recursive-CTE
    * closure) — and coincides with all-pairs clustering whenever bucket
    * co-members verify transitively (true replica clusters; RecallSpec
    * pins the agreement on planted near-dups). A failed interior chain
    * link with a passing non-adjacent link can split a cluster that
    * all-pairs would join — the documented trade for O(k) verify volume.
    *
    * Scale shape: bucket rows carry (band, sig-pair, doc_id) only; the
    * chain explode is linear; sig/shingle attach joins touch O(corpus +
    * chains) rows instead of O(pairs); the union-find consumes edges
    * without materializing membership lists. At 100 TB this is the
    * variant to run — `dedup_minhash` stays frozen as the exhaustive
    * pair report. */
  def minhashClusterReps(spark: SparkSession, dir: String): DataFrame =
    minhashClusterRepsDf(Tables.documents(spark, dir))

  /** Core over any (doc_id, text) DataFrame (spec entry point). */
  def minhashClusterRepsDf(documents: DataFrame): DataFrame =
    clusterReps(connectedComponents(minhashChainVerified(documents), "doc_a", "doc_b"))

  /** The verified chain graph (doc_a, doc_b) that [[minhashClusterRepsDf]]
    * hands to [[connectedComponents]] — whose eager materialization hides
    * this plan from the query's explain, so `graft.Explain` dumps it as
    * `dedup_minhash_reps!verified`. */
  private[graft] def minhashChainVerified(documents: DataFrame): DataFrame = {
    val (docs, sigs, docStats) = minhashDocsSigs(documents)
    // chain candidates: consecutive pairs of the bucket's SORTED member
    // list (k−1 rows, not C(k,2)); bucketing + caps + gates are the
    // SHARED stages (see minhashBuckets/minhashVerified)
    val chains = distinctCandidates(sigs, chain = true, packableIds(docStats))
    minhashVerified(chains, docs, sigs,
      bcastAttach = minhashGate(docs.sparkSession, docStats.getLong(0)).bcastAttach)
      .select(col("doc_a"), col("doc_b"))
  }

  /** One row per cluster of an (id, label) assignment — rep = the label
    * (min id), member count, id sum/max for audit — ordered by rep: the
    * shared rollup of the three reps queries and [[graft.tools.RepsParity]]. */
  private[graft] def clusterReps(labels: DataFrame): DataFrame =
    labels.groupBy(col("label").as("rep_id"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("id")).as("id_sum"),
        max(col("id")).as("max_id"))
      .orderBy("rep_id")

  /** DuckDB oracle for [[minhashClusterReps]] — the [[minhashOracle]]
    * pipeline with chain-emission candidates and a recursive-CTE
    * transitive closure over the verified chain graph. */
  def minhashRepsOracle: String = {
    val values = SqlPerms.map { case (i, a, b) => s"($i, ${a}, ${b})" }.mkString(", ")
    s"""WITH RECURSIVE toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS tk
       |  FROM documents),
       |sh0 AS (SELECT doc_id, tk, unnest(range(1, greatest(len(tk) - 1, 2))) AS i FROM toks),
       |shingles AS (SELECT DISTINCT doc_id,
       |    concat_ws(' ', tk[CAST(i AS INT)], tk[CAST(i AS INT) + 1], tk[CAST(i AS INT) + 2]) AS s
       |  FROM sh0),
       |hs AS (SELECT doc_id, s,
       |    ((x & 255) << 24) | (((x >> 8) & 255) << 16) | (((x >> 16) & 255) << 8) | ((x >> 24) & 255) AS h
       |  FROM (SELECT doc_id, s, CAST(md5_number_upper(s) & 4294967295 AS BIGINT) AS x FROM shingles)),
       |perms(i, a, b) AS (VALUES $values),
       |sigs AS (SELECT doc_id, i, min((a * h + b) % ${SqlPrime}) AS m FROM hs, perms GROUP BY 1, 2),
       |bands AS (SELECT doc_id, i // ${Rows} AS band,
       |    max(CASE WHEN i % 2 = 0 THEN m END) AS k0,
       |    max(CASE WHEN i % 2 = 1 THEN m END) AS k1
       |  FROM sigs GROUP BY 1, 2),
       |g AS (SELECT band, k0, k1 FROM bands GROUP BY 1, 2, 3 HAVING count(*) BETWEEN 2 AND 1000),
       |lists AS (SELECT b.band, b.k0, b.k1, list_sort(list(b.doc_id)) AS ids
       |          FROM bands b JOIN g USING (band, k0, k1) GROUP BY 1, 2, 3),
       |chains AS (SELECT DISTINCT ids[CAST(i AS INT)] AS doc_a, ids[CAST(i AS INT) + 1] AS doc_b
       |           FROM (SELECT ids, unnest(range(1, len(ids))) AS i FROM lists)),
       |est AS (SELECT doc_a, doc_b,
       |    CAST(count(*) FILTER (WHERE sa.m = sb.m) AS DOUBLE) / ${NumPerms} AS est_sim
       |  FROM chains JOIN sigs sa ON sa.doc_id = doc_a
       |              JOIN sigs sb ON sb.doc_id = doc_b AND sb.i = sa.i
       |  GROUP BY 1, 2),
       |cand AS (SELECT doc_a, doc_b FROM est WHERE est_sim >= 0.25),
       |szs AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY 1),
       |common AS (SELECT c.doc_a, c.doc_b, count(*) AS cmn
       |  FROM cand c JOIN shingles x ON x.doc_id = c.doc_a
       |              JOIN shingles y ON y.doc_id = c.doc_b AND y.s = x.s
       |  GROUP BY 1, 2),
       |ver AS (SELECT c.doc_a, c.doc_b
       |  FROM common c JOIN szs sa ON sa.doc_id = c.doc_a
       |                JOIN szs sb ON sb.doc_id = c.doc_b
       |  WHERE CAST(cmn AS DOUBLE) / (sa.sz + sb.sz - cmn) >= 0.2),
       |und AS (SELECT doc_a AS src, doc_b AS dst FROM ver
       |        UNION ALL SELECT doc_b AS src, doc_a AS dst FROM ver),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM und
       |  UNION
       |  SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src),
       |labels AS (SELECT src AS id, least(src, min(dst)) AS label
       |           FROM reach GROUP BY src)
       |SELECT label AS rep_id, count(*) AS n_members,
       |       CAST(sum(id) AS BIGINT) AS id_sum, max(id) AS max_id
       |FROM labels GROUP BY 1 ORDER BY rep_id""".stripMargin
  }

  /** 64-bit SimHash per document: explode tokens → per-token md5-derived
    * 32-bit word pair (same base hash as the kernel) →
    * per-doc two-phase aggregation where each of the 64 bits sums +1/-1
    * votes → reassemble the sign bits into a long. The explode + partial
    * aggregation shape means a document's vote accumulation can span
    * partitions — the variant for PATHOLOGICALLY large single documents
    * (no single task ever holds a whole document). For realistic corpora
    * the one-pass map-side kernel
    * ([[graft.functions.TextKernels.simhashKernel]]) is cheaper — no
    * explode, no 64-aggregate shuffle — and the simhash queries use it;
    * this form stays as the giant-doc escape hatch and the independent
    * implementation the property tests cross-check against. */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // tokenization mirrors the kernel (lowercase, \s+-split, empties
    // dropped); NOTE the explode drops zero-token documents entirely —
    // the kernel fingerprints them as 0 (this form is the giant-doc
    // escape hatch, not the driver path)
    val tokens = df.select(col(idCol),
      explode(filter(split(lower(col(textCol)), "\\s+"), t => t =!= "")).as("tok"))
      .withColumn("ha", conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"))
      .withColumn("hb", conv(substring(md5(col("tok")), 9, 8), 16, 10).cast("long"))
    val votes = (0 until 64).map { j =>
      val word = if (j < 32) col("ha") else col("hb")
      sum(when(shiftright(word, j % 32).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)).as(s"v$j")
    }
    val bits = (0 until 64).map { j =>
      when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }
    tokens.groupBy(col(idCol))
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol), bits.reduce(_ bitwiseOR _).as("simhash"))
  }

  /** SimHash fingerprints + collision groups: documents sharing a simhash
    * (hamming distance 0) cluster together; [[simhashNearPairs]] extends
    * this to hamming ≤ 3 via 4×16-bit pigeonhole banding. Fingerprints
    * come from the one-pass codegen kernel — pure map-side work; the only
    * shuffle carries (8-byte fp, doc_id). */
  def simhashGroups(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.TextKernels.simhashKernel(col("text")).as("simhash"))
      .groupBy(col("simhash"))
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keep_id"))
      .orderBy("keep_id")

  /** SimHash near-dup pairs at hamming distance ≤ 3 via the 4×16-bit
    * pigeonhole banding that [[simhashGroups]]' scaladoc describes: two
    * 64-bit fingerprints within hamming 3 must agree on at least one of
    * the four 16-bit chunks, so candidates come from per-chunk equality
    * buckets (4 narrow explode+groupBy passes — never an all-pairs join),
    * and `bit_count(xor)` verifies the exact distance per candidate.
    * The bucket shuffle carries (chunk, key, doc_id) triples; bucket size
    * is capped like every other LSH path. SimHashBandingSpec proves the
    * banding is EXACT for ≤3 (set-equal to brute-force all-pairs) on a
    * planted corpus. */
  def simhashNearPairs(spark: SparkSession, dir: String): DataFrame =
    simhashNearPairsDf(Tables.documents(spark, dir))

  def simhashNearPairsDf(documents: DataFrame): DataFrame =
    simhashVerifiedPairs(documents, uniquePairs = true)
      .orderBy("doc_a", "doc_b")

  // ---- shared SimHash-banding stages -------------------------------------
  // simhashNearPairsDf and simhashClusterRepsDf consume the SAME verified
  // hamming-≤3 pair graph (both use all-pairs candidate emission — see
  // simhashClusterReps' scaladoc for why chains were measured wrong here)
  // and differ only in post-processing: the ordered pair report vs the
  // union-find cluster rollup. The whole pipeline up to verified pairs
  // lives in simhashVerifiedPairs so the two cannot drift apart (same
  // discipline as the MinHash family's minhashBuckets/minhashVerified).

  /** Fingerprint → chunk buckets → all-pairs candidates → hamming ≤ 3
    * verify. `uniquePairs` dedups candidate pairs before the verify — a
    * pair can co-occur in up to 4 chunk buckets, so the pair REPORT needs
    * distinct output rows; the cluster-reps consumer skips it (duplicate
    * edges are harmless to union-find, and re-verifying a duplicate costs
    * two binary-search probes + one XOR — cheaper than a full distinct
    * shuffle over the candidate set). */
  private[graft] def simhashVerifiedPairs(documents: DataFrame,
                                          uniquePairs: Boolean): DataFrame = {
    import graft.functions.GraftFunctions.sortedLongPairsKernel
    // fingerprints feed the banding explode AND the scoring dictionary —
    // truncate-materialize once (checkpoint blocks, ContextCleaner-
    // reclaimed; no leaked cache in library sessions)
    val fp = truncate(documents
      .select(col("doc_id"),
        graft.functions.TextKernels.simhashKernel(col("text")).as("fp")))
    val exploded = simhashBuckets(fp)
      .select(explode(sortedLongPairsKernel(col("ids"))).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
    // VERIFY FIRST, distinct after (round 18): the hamming attach+filter
    // is map-side and deterministic, so `distinct → verify ≡ verify →
    // distinct` row-for-row — but the left order shuffles every raw
    // candidate where the right order shuffles only survivors, and the
    // ≤3 verify is brutally selective while chunk-bucket duplication is
    // not (sf10 measured: 195M raw candidates, 183.6M distinct, 15.8M
    // verified — the old distinct exchange spilled 47 GB; swapping the
    // order took the isolated line 49.1 → 12.8 s with zero spill, and
    // duplicate candidates only re-pay two O(log n) dictionary probes +
    // one XOR each). RecallSpec's banded-vs-brute-force set-equality pin
    // covers the swap (planted near-dup pairs collide in 3-4 chunks).
    val verified = simhashHamming(exploded, fp)
      .filter(col("hamming") <= 3)
    if (uniquePairs) verified.distinct() else verified
  }

  /** 4×16-bit pigeonhole chunk buckets → capped member lists
    * (c, key, ids): two 64-bit fingerprints within hamming 3 must agree
    * on at least one of the four 16-bit chunks, so per-chunk equality
    * buckets are a complete candidate generator for ≤3 (SimHash banding
    * exactness spec-pinned). The 2..1000 cap is enforced inside the
    * aggregation ([[cappedBuckets]]) so hot chunks never materialize
    * full membership. */
  private[graft] def simhashBuckets(fp: DataFrame): DataFrame =
    cappedBuckets(
      fp.select(col("doc_id"),
          explode(array((0 until 4).map(c => struct(lit(c).as("c"),
            shiftrightunsigned(col("fp"), c * 16).bitwiseAND(lit(0xFFFFL)).as("key"))): _*)).as("ck"))
        .select(col("doc_id"), col("ck.c").as("c"), col("ck.key").as("key")),
      Seq("c", "key"), "doc_id", lo = 2, hi = 1000)

  /** Hamming distance attach for candidate pairs: the broadcast-
    * dictionary idiom (one row of parallel sorted arrays, two O(log n)
    * binary-search kernel probes per pair, map-side) — two whole
    * shuffle-join stages disappear vs an equi-join attach. 16 B/doc keeps
    * the dictionary broadcastable to ~10⁸ docs. TextDedupSpec checks every
    * output hamming against the driver-side XOR of the two fingerprints. */
  private[graft] def simhashHamming(cands: DataFrame, fp: DataFrame): DataFrame = {
    import graft.functions.GraftFunctions.sortedLongLookupKernel
    val fpRow = fp
      .agg(array_sort(collect_list(struct(col("doc_id"), col("fp")))).as("kv"))
      .select(transform(col("kv"), x => x.getField("doc_id")).as("ks"),
        transform(col("kv"), x => x.getField("fp")).as("vs"))
    cands.crossJoin(broadcast(fpRow))
      .select(col("doc_a"), col("doc_b"),
        bit_count(sortedLongLookupKernel(col("ks"), col("vs"), col("doc_a"))
          .bitwiseXOR(sortedLongLookupKernel(col("ks"), col("vs"), col("doc_b"))))
          .as("hamming"))
  }

  /** SimHash near-dup CLUSTER REPRESENTATIVES — the simhash sibling of
    * [[minhashClusterReps]], closing the representative-emission story
    * across both sketch families: one row per hamming-≤3 cluster
    * (rep = min doc_id, member count, id sum/max for audit) instead of
    * the all-pairs report.
    *
    * Unlike the minhash variant this one keeps ALL-PAIRS candidate
    * emission, and the choice is load-bearing: emission strategy follows
    * VERIFY COST. MinHash verification attaches shingle sets and pays an
    * exact-Jaccard per pair (the 200-300 s sf10 wall), so linear chain
    * candidates are worth a documented connectivity trade; simhash
    * verification is two O(log n) broadcast-dictionary probes + one XOR
    * per pair — map-side, codegen'd, ~free — so C(k,2) candidates under
    * the 1000 bucket cap cost little, and chains would be WRONG here in
    * practice, not just in theory: sibling replicas sit at hamming 4-6
    * from each other while each is ≤3 from their base, so consecutive-
    * pair links fail verification and split real clusters (measured at
    * sf1: 6 199 chain clusters vs 4 418 true ones — the experiment that
    * chose this design). With all-pairs candidates the output is exactly
    * the connected components of the [[simhashNearPairs]] graph — a
    * STRONGER contract than the minhash variant's, with only the linear
    * cluster report materialized. */
  def simhashClusterReps(spark: SparkSession, dir: String): DataFrame =
    simhashClusterRepsDf(Tables.documents(spark, dir))

  /** Core over any (doc_id, text) DataFrame (spec entry point). */
  def simhashClusterRepsDf(documents: DataFrame): DataFrame = {
    // uniquePairs = false: duplicate edges (a pair co-occurring in up to
    // 4 chunk buckets) are harmless to union-find, so the reps path skips
    // the distinct's full candidate shuffle
    val verified = simhashVerifiedPairs(documents, uniquePairs = false)
      .select(col("doc_a"), col("doc_b"))
    clusterReps(connectedComponents(verified, "doc_a", "doc_b"))
  }

  /** Posting-list cap of the n-gram inverted index
    * ([[ngramJaccardPairs]]): a shingle shared by more than MaxDf docs is
    * boilerplate and is dropped from the candidate self-join. */
  val MaxDf = 100

  /** Session conf key: when set to a durable directory (HDFS / object
    * store), iterative operators use RELIABLE `checkpoint()` instead of
    * `localCheckpoint()`. localCheckpoint stores blocks in executor
    * memory/disk only — on a real cluster an executor loss mid-iteration
    * kills the job; the reliable path survives it at the cost of a
    * checkpoint write per round. Local benches leave it unset. */
  val CheckpointDirKey = "spark.graft.checkpointDir"

  /** Session conf key: distinct-node ceiling for the dense/dictionary
    * driver-side fast paths (dense CC, dense PageRank, the nbr-Jaccard
    * degree dictionary). Above it the operators take their
    * partition-scaling fallbacks AUTOMATICALLY — the scale-safe path is
    * chosen by the data, not by a caller who must know the ceiling
    * (exactly how `autoBroadcastJoinThreshold` gates Spark's own
    * driver-side materialization). Default 5·10⁷ (~800 MB of long/double
    * vectors per broadcast at 16 B/node — comfortably inside a typical
    * driver while leaving headroom for 2-3 live copies). */
  val DenseMaxNodesKey = "spark.graft.denseMaxNodes"

  private[graft] def denseMaxNodes(spark: SparkSession): Long =
    spark.conf.getOption(DenseMaxNodesKey).map(_.toLong).getOrElse(50000000L)

  /** Eager materialization + lineage truncation at operator exit points
    * (and inside iterative loops): RELIABLE `checkpoint()` when
    * [[CheckpointDirKey]] names a durable dir — localCheckpoint blocks
    * live only in executor storage, so an executor loss on a real cluster
    * would otherwise make the materialized result unrecoverable —
    * `localCheckpoint()` when unset (local benches). The persist/unpersist
    * bracket makes the reliable write replay from cache instead of
    * recomputing the whole upstream plan a second time.
    *
    * NOTE for callers: this is EAGER — the returned DataFrame's job has
    * already run at construction time. Operators that return through this
    * helper (dedupClusters' pair list, containmentPairs, the graph family,
    * embDupClusters) trade lazy construction for releasable upstream
    * caches and O(1) downstream plan depth. */
  private[graft] def truncate(df: DataFrame): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val spark = df.sparkSession
    spark.conf.getOption(CheckpointDirKey) match {
      case Some(dirPath) =>
        spark.sparkContext.setCheckpointDir(dirPath)
        df.persist(StorageLevel.MEMORY_AND_DISK)
        val chk = df.checkpoint()
        df.unpersist(blocking = false)
        chk
      case None => df.localCheckpoint()
    }
  }

  /** [[truncate]] with `stats` (aggregate columns) observed on the
    * materialization job itself (`Dataset.observe`): still ONE job, and
    * the Row holds the figures in `stats` order — how the size gates read
    * the frames they gate without a pre-count job of their own. The
    * reliable path's persist before the checkpoint write keeps each
    * figure single-counted. No `stats`: plain [[truncate]], empty Row. */
  private[graft] def truncateObserved(df: DataFrame, stats: Column*): (DataFrame, Row) =
    if (stats.isEmpty) (truncate(df), Row.empty)
    else {
      val obs = org.apache.spark.sql.Observation()
      val chk = truncate(df.observe(obs, stats.head, stats.tail: _*))
      (chk, org.apache.spark.sql.graft.bridge.observedRow(obs))
    }

  /** Long figure `i` of an observed or aggregated stats Row; null (a
    * sum/min/max over no rows) reads as 0. */
  private[graft] def longStat(r: Row, i: Int): Long =
    if (r.isNullAt(i)) 0L else r.getLong(i)

  /** Connected components; output = one (id, label) row per node in the
    * edge list, label = MIN id in the component — the operator that turns
    * pairwise dedup output into "keep one representative per duplicate
    * cluster".
    *
    * Takes [[connectedComponentsDense]] when both key columns are
    * LongType — one pass over the edges (per-partition
    * union-find → 2·|V|-long star forests → treeAggregate merge), no
    * iteration, no checkpoints. Right while |V| fits driver memory
    * (16 B/node — gated by [[DenseMaxNodesKey]], the same ceiling class
    * as the PageRank dense path and the nbr-Jaccard degree dictionary).
    * The gate is FAIL-FAST, not a pre-count: the edge list is usually a
    * live derived plan (graph_components' pair aggregate, minhash's
    * verified pairs), so counting |V| up front would re-run the whole
    * derivation — instead the fold throws [[DenseCeilingExceeded]] the
    * moment any partial/merged union-find passes the ceiling, and the
    * dispatcher falls back to the loop. Common case (fits): zero extra
    * cost. Rare case (exceeds): at most one partial pass wasted in local
    * mode; on a cluster the scheduler retries a failed task
    * `spark.task.maxFailures` times (default 4) before aborting the
    * stage, so the wasted work is multiplied by the retry count — a
    * deployment that expects to trip the ceiling should lower
    * `spark.task.maxFailures` for the job. Beyond the ceiling, or for
    * non-long keys (string doc ids), the fallback is the declarative
    * min-label pointer-jumping loop [[connectedComponentsLoop]], which scales with partitions, not memory: every doc
    * starts labeled with its own id; each round a doc adopts the smallest
    * label among itself and its neighbors, then additionally its current
    * label's label (label(u) ← label(label(u))). The jump doubles the hop
    * distance a label travels per round, so convergence is O(log
    * diameter) instead of O(diameter) — a pathological chain-shaped
    * cluster of length 1000 converges in ~10 rounds, not 1000
    * (PropertySpec proves a 60-chain in ≤12). Fixpoint correctness is
    * unchanged: at convergence the label function is stable under
    * neighbor-min, hence equal across every edge, hence constant
    * (= minimum id) per component. PropertySpec
    * pins the two paths label-identical (the labels are an exact integer
    * fixpoint, so equality is bitwise, not approximate), including on
    * null-bearing edge lists: an edge with ONE null endpoint registers
    * its non-null side as a node (a singleton unless connected
    * elsewhere); null itself is never a node. */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 20): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val longKeys = edges.schema(aCol).dataType == LongType &&
      edges.schema(bCol).dataType == LongType
    if (longKeys) {
      try connectedComponentsDense(edges, aCol, bCol)
      catch {
        case t: Throwable if hasDenseCeiling(t) =>
          connectedComponentsLoop(edges, aCol, bCol, maxIter)
      }
    } else connectedComponentsLoop(edges, aCol, bCol, maxIter)
  }

  /** Thrown inside the dense fold/merge the moment the distinct-node
    * count passes [[DenseMaxNodesKey]] — the runtime half of the dense
    * auto-gate. The message carries a stable marker because Spark may
    * rewrap task failures with flattened messages between executor and
    * driver. */
  private[graft] final class DenseCeilingExceeded(maxNodes: Long)
    extends RuntimeException(
      s"graft.DenseCeilingExceeded: distinct-node count passed $maxNodes " +
        s"($DenseMaxNodesKey) — taking the partition-scaling fallback")

  private def hasDenseCeiling(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(16).exists { c =>
      c.isInstanceOf[DenseCeilingExceeded] || (c.getMessage != null &&
        (c.getMessage.contains("graft.DenseCeilingExceeded") ||
          // LongUnionFind's own structural require (2^29 keys) can fire
          // mid-merge before the configured cap is checked when the conf
          // is set near/above the structural limit — it is the same
          // "dense path over capacity" condition, so it takes the same
          // fallback instead of hard-failing.
          c.getMessage.contains("LongUnionFind supports at most")))
    }

  /** One-pass dense CC: each edge partition folds into a [[LongUnionFind]]
    * and emits its star spanning forest (2·|V_part| longs — bounded by
    * nodes, not edges); a depth-2 treeAggregate unions the forests; the
    * driver labels each node with its component's min id and re-distributes
    * (id, label) via broadcast arrays. Edges never leave their input
    * partitions — zero shuffles, zero iteration, one job. */
  private def connectedComponentsDense(edges: DataFrame, aCol: String,
                                       bCol: String): DataFrame = {
    val spark = edges.sparkSession
    val sc = spark.sparkContext
    // structural backstop: the union-find table itself tops out at 2^29
    // keys, so the conf can never promise more than the structure holds
    val cap = math.min(denseMaxNodes(spark), LongUnionFind.MaxNodes.toLong - 2)
    val rdd = org.apache.spark.sql.graft.bridge.toInternalRdd(
      edges.select(col(aCol), col(bCol)))
    val merge = (x: Array[Long], y: Array[Long]) =>
      if (x.isEmpty) y
      else if (y.isEmpty) x
      else {
        val uf = new LongUnionFind((x.length + y.length) / 2)
        // cap checked INSIDE the loops (uf.size is a field read): with a
        // conf near the 2^29 structural limit, a check only after both
        // forests are unioned would let LongUnionFind's own require fire
        // first mid-merge — hasDenseCeiling now also recognizes that
        // message, but the in-loop check keeps the marker exception the
        // normal path and bounds wasted merge work.
        var i = 0
        while (i < x.length) {
          uf.union(x(i), x(i + 1)); i += 2
          if (uf.size > cap) throw new DenseCeilingExceeded(cap)
        }
        i = 0
        while (i < y.length) {
          uf.union(y(i), y(i + 1)); i += 2
          if (uf.size > cap) throw new DenseCeilingExceeded(cap)
        }
        uf.starEdges
      }
    val forest = rdd.mapPartitions { it =>
      val uf = new LongUnionFind()
      while (it.hasNext) {
        val r = it.next()
        val aNull = r.isNullAt(0)
        val bNull = r.isNullAt(1)
        if (!aNull && !bNull) uf.union(r.getLong(0), r.getLong(1))
        // one-null edges register the non-null side as a node (singleton
        // unless connected elsewhere) — parity with the loop path's
        // coalesce-to-self-edge normalization
        else if (!aNull) uf.indexOf(r.getLong(0))
        else if (!bNull) uf.indexOf(r.getLong(1))
        if (uf.size > cap) throw new DenseCeilingExceeded(cap)
      }
      Iterator.single(uf.starEdges)
    }.treeAggregate(Array.emptyLongArray)(merge, merge, depth = 2)
    val uf = new LongUnionFind(math.max(16, forest.length / 2))
    var i = 0
    while (i < forest.length) { uf.union(forest(i), forest(i + 1)); i += 2 }
    val nV = uf.size
    val ids = new Array[Long](nV)
    var j = 0
    while (j < nV) { ids(j) = uf.nodeAt(j); j += 1 }
    val labels = uf.minLabels
    val idsB = sc.broadcast(ids)
    val labelsB = sc.broadcast(labels)
    val nPart = math.min(
      spark.conf.get("spark.sql.shuffle.partitions").toInt, math.max(1, nV))
    spark.createDataFrame(
      sc.parallelize(0 until nV, nPart)
        .map(j => (idsB.value(j), labelsB.value(j))))
      .toDF("id", "label")
  }

  private[graft] def connectedComponentsLoop(edges: DataFrame, aCol: String,
                                             bCol: String, maxIter: Int = 20): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // undirected edge list, both directions, PRE-PARTITIONED on dst: the
    // per-round label join below is an equi-join on dst, so hash-placing
    // the (static, reused-every-round) edge side once means Catalyst
    // re-shuffles only the tiny label side each round, never the edges.
    // null-endpoint normalization (parity with the dense fold): an edge
    // with ONE null endpoint becomes a self-edge on its non-null side —
    // the node enters the output as a singleton unless connected
    // elsewhere — and both-null rows vanish; null is never a node. A
    // map-side projection, no extra scan.
    val fwd = edges.select(col(aCol).as("a0"), col(bCol).as("b0"))
      .filter(col("a0").isNotNull || col("b0").isNotNull)
      .select(coalesce(col("a0"), col("b0")).as("src"),
        coalesce(col("b0"), col("a0")).as("dst"))
    val und = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // Each round ends in ONE job: the round's (id, prev, label) plan is
    // materialized through [[truncateObserved]] with a metric that counts
    // label changes — the convergence probe rides the materialization for
    // free instead of being a second driver job per round (job-scheduling
    // overhead is what dominates iterative loops on a busy cluster/JVM).
    // Checkpointing (local or reliable) truncates lineage, so every round
    // plans against a flat scan — O(1) plan depth regardless of iteration
    // count. Unlike an `rdd.map` hop, observe+checkpoint never
    // deserializes rows out of Tungsten.
    def materializeRound(round: DataFrame): (DataFrame, Long) = {
      val (chk, stats) = truncateObserved(round,
        sum(when(col("prev") =!= col("label"), 1L)).as("changed"))
      // sum(when) over zero matches is null: 0 changes
      (chk.select(col("id"), col("label")), longStat(stats, 0))
    }

    // The first propagation round is folded into initialization: with
    // identity labels, round 1's neighbor-min is just min(id, min nbr) —
    // one groupBy over the edge list, no join, one fewer loop round.
    var (labels, _) = materializeRound(
      und.groupBy(col("src"))
        .agg(least(col("src"), min(col("dst"))).as("label"))
        .select(col("src").as("id"), col("src").as("prev"), col("label")))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val neighborMin = und
        .join(labels.withColumnRenamed("id", "dst")
          .withColumnRenamed("label", "dst_label"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("dst_label")).as("nbr_label"))
      val prop = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("label").as("prev"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("l1"))
      // pointer jump: adopt the label of the node you're labeled with
      // (labels are node ids, so this is a self-join of the tiny label
      // table — cheap next to the edge join, and it turns O(diameter)
      // rounds into O(log diameter))
      val mapping = prop.select(col("id").as("lid"), col("l1").as("l2"))
      val next = prop.join(mapping, col("l1") === col("lid"), "left")
        .select(col("id"), col("prev"),
          least(col("l1"), coalesce(col("l2"), col("l1"))).as("label"))
      // the fold-in above means even the first loop round can already be
      // at the fixpoint (all pair clusters converge at init), so every
      // round probes via the accumulator folded into the checkpoint job
      val (nextLabels, changed) = materializeRound(next)
      labels = nextLabels
      converged = changed == 0
      iter += 1
    }
    // labels are checkpointed (every round materializes through one), so
    // the static edge cache is no longer reachable from the result —
    // release it instead of leaking one cached DataFrame per call
    und.unpersist(blocking = false)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter rounds — " +
          "a component's diameter exceeds the cap; raise maxIter " +
          "(unconverged labels would silently split true clusters)")
    labels
  }

  /** Near-dup clusters: component label = smallest doc_id in the cluster
    * (the keeper); singletons excluded. The pair graph here is the exact
    * n-gram Jaccard one — deterministic, so the whole query (pairs +
    * closure) is DuckDB-oracle-able (recursive-CTE transitive closure on
    * the oracle side). At 100 TB the MinHash pair graph
    * ([[minhashPairs]]) plugs into the same [[connectedComponents]]
    * unchanged — the clustering operator is agnostic to the pair source
    * (RecallSpec covers that composition on planted duplicates). */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    clusterLabels(spark, dir)
      .groupBy(col("label").as("keep_id"))
      .agg(count(lit(1)).as("cluster_size"),
        sort_array(collect_list(col("id"))).as("members"))
      .select(col("keep_id"), col("cluster_size"),
        concat_ws(",", col("members")).as("members"))
      .orderBy("keep_id")

  /** N-gram near-dup CLUSTER REPRESENTATIVES — completes the reps story
    * across all three sketch families ([[minhashClusterReps]],
    * [[simhashClusterReps]]): one FIXED-WIDTH row per verified
    * ngram-Jaccard cluster (rep = min doc_id, member count, id sum/max
    * for audit). [[dedupClusters]] reports the same components but
    * renders each cluster's full membership as a CSV string — a row
    * whose width is unbounded in cluster size (a 10⁵-member boilerplate
    * cluster serializes a 10⁵-id string through one row); this is the
    * emission a 100 TB dedup pass consumes instead. Candidate generation
    * needs no chain trade here: the MaxDf-capped inverted index already
    * emits only colliding pairs, and the closure runs over the MEMOIZED
    * [[clusterLabels]] table, so this op shares every expensive stage
    * with dedup_clusters / keep-best — the rollup itself is one bounded
    * aggregate. */
  def ngramClusterReps(spark: SparkSession, dir: String): DataFrame =
    clusterReps(clusterLabels(spark, dir))

  /** Memoized (id, label) near-dup cluster assignment: the pair graph
    * derives from the MEMOIZED [[pairStats]] (so the ngram pipeline runs
    * at most once per (session, dir) across the whole family), and the
    * connected-components closure itself also runs once — [[dedupClusters]]
    * (the cluster report) and [[keepBestPerCluster]] (canonical-document
    * selection) are both rollups over THIS one materialized label table. */
  private def clusterLabels(spark: SparkSession, dir: String): DataFrame =
    PlanMemo.getOrBuild(spark, dir, "dedup.clusterLabels") {
      val pairs = jaccardFromStats(pairStats(spark, dir))
        .select(col("doc_a"), col("doc_b"))
      connectedComponents(pairs, "doc_a", "doc_b")
    }

  /** Canonical-document selection — the step a dedup pipeline runs AFTER
    * clustering: per near-dup cluster, keep the LONGEST member (n_chars
    * desc, doc_id asc tiebreak — "keep the most complete copy" is the
    * standard C4/RefinedWeb keeper heuristic, and an integer sort key is
    * cross-engine exact where a float quality score could tie-break
    * differently at the last ulp). Output: one row per cluster with the
    * kept doc and what was dropped. Scale shape: the label table is
    * memoized ([[clusterLabels]]); the doc-length attach is an equi-join
    * on doc_id (broadcast-sized here, shuffle-partitioned at corpus
    * scale); the per-cluster argmax is a WindowGroupLimit top-1, no
    * self-join. */
  def keepBestPerCluster(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labeled = clusterLabels(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("n_chars")),
        col("id") === col("doc_id"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    labeled.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("label").as("cluster_id"), col("doc_id").as("keep_doc"),
        col("n_chars").as("keep_chars"))
      .join(clusterLabels(spark, dir).groupBy(col("label").as("cluster_id"))
        .agg(count(lit(1)).as("cluster_size"), sum(col("id")).as("id_sum")),
        Seq("cluster_id"))
      .select(col("cluster_id"), col("cluster_size"), col("keep_doc"),
        col("keep_chars"), (col("id_sum") - col("keep_doc")).as("dropped_id_sum"))
      .orderBy("cluster_id")
  }

  /** Exact n-gram Jaccard via shingle inverted index — the scalable exact
    * algorithm: explode distinct shingles to postings, cap posting-list
    * length (shingles shared by >[[MaxDf]] docs carry no dedup signal and
    * would blow the self-join up quadratically), self-join postings on the
    * shingle to count common shingles per pair, then Jaccard from
    * |A∩B| / (|A|+|B|-|A∩B|). Only pairs sharing ≥1 rare shingle are ever
    * materialized — no all-pairs stage anywhere. */
  def ngramJaccardPairs(spark: SparkSession, dir: String): DataFrame =
    jaccardFromStats(pairStats(spark, dir)).orderBy("doc_a", "doc_b")

  /** Memoized candidate-pair statistics (doc_a < doc_b, common, sz_a,
    * sz_b) over the MaxDf-capped int64-hashed shingle space — the shared
    * subplan of the whole set-overlap dedup family. [[ngramJaccardPairs]]
    * (symmetric near-dup), [[containmentPairs]] (asymmetric
    * doc-inside-doc) and [[dedupClusters]] (transitive closure) each
    * derive their score from THIS one materialized stats table, so the
    * posting-list build — the dominant cost — runs once per (session,
    * dir), not once per query. At 100 TB this is the "materialize the
    * candidate pairs once, score them many ways" layout a production
    * dedup pass would use. */
  def pairStats(spark: SparkSession, dir: String): DataFrame =
    PlanMemo.getOrBuildReleasable(spark, dir, "dedup.pairStats") {
      ngramPairStatsReleasable(Tables.documents(spark, dir))
    }

  /** Jaccard score + threshold over [[pairStats]]-shaped stats. */
  private def jaccardFromStats(stats: DataFrame): DataFrame =
    stats.select(col("doc_a"), col("doc_b"),
        round(col("common").cast("double") /
          (col("sz_a") + col("sz_b") - col("common")), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.5)

  /** Containment score + threshold over [[pairStats]]-shaped stats. */
  private def containmentFromStats(stats: DataFrame): DataFrame =
    stats.select(col("doc_a"), col("doc_b"), col("sz_a"), col("sz_b"),
        round(col("common").cast("double") /
          least(col("sz_a"), col("sz_b")).cast("double"), 4).as("containment"))
      .filter(col("containment") >= 0.8)

  /** Core over any (doc_id, text) DataFrame — unsorted; the recall/
    * equivalence specs run it on planted corpora against an independent
    * in-test reimplementation. */
  def ngramJaccardPairsDf(documents: DataFrame): DataFrame =
    ngramJaccardPairsReleasable(documents)._1

  /** [[ngramJaccardPairsDf]] plus a release thunk that unpersists the
    * internal posting-list cache — for callers (dedupClusters) that
    * materialize the pairs eagerly and can free the cache immediately.
    * Lazy callers keep the plain variant: the cache must outlive their
    * first action, so releasing is the caller's session's job there. */
  private[graft] def ngramJaccardPairsReleasable(
      documents: DataFrame): (DataFrame, () => Unit) = {
    val (stats, release) = ngramPairStatsReleasable(documents)
    (jaccardFromStats(stats), release)
  }

  /** Shared candidate-pair statistics for the set-overlap dedup family:
    * (doc_a < doc_b, common, sz_a, sz_b) over the MaxDf-capped int64-hashed
    * shingle space. [[ngramJaccardPairsReleasable]] derives Jaccard
    * (symmetric near-dup) and [[containmentPairs]] derives containment
    * (asymmetric doc-inside-doc) from the same stats — one inverted-index
    * pipeline, two similarity semantics. */
  private def ngramPairStatsReleasable(
      documents: DataFrame): (DataFrame, () => Unit) = {
    import graft.functions.GraftFunctions.sortedLongPairsKernel
    import graft.functions.TextKernels
    // Jaccard over the CAPPED feature space: shingles with document
    // frequency > MaxDf (boilerplate) are excluded from BOTH the
    // intersection and the per-doc sizes, so the reported similarity is
    // exact over the retained features (counting capped shingles only in
    // the denominator would systematically understate similarity of
    // boilerplate-heavy near-dups).
    // docs has a single consumer (postings) since sizes moved to the
    // capped posting lists — no persist needed
    val docs = documents
      .select(col("doc_id"), TextKernels.shinglesKernel(col("text"), 3).as("sh"))
    // hash each shingle to an int64 BEFORE the groupBy: the posting
    // shuffle then carries 8-byte keys instead of ~20-40-byte strings
    // (~5-10× fewer shuffle bytes — the dominant cost of this query).
    // An xxhash64 collision (~n_shingles²/2⁶⁴) would merge two posting
    // lists; negligible, and the DuckDB oracle computes the same answer
    // in string space, so a collision would surface as a hash mismatch.
    val postings = docs
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("shingle"))
    // lo = 1: singleton postings stay — `sizes` below needs every doc's
    // retained-feature count, including docs whose shingles are unique.
    // MaxDf enforced inside the aggregation (cappedBuckets): a
    // boilerplate shingle's posting list never materializes past the cap.
    val kept = cappedBuckets(postings, Seq("shingle"), "doc_id",
        lo = 1, hi = MaxDf)
      .persist()
    val sizes = kept.select(explode(col("ids")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val common = kept
      .filter(size(col("ids")) >= 2)
      .select(explode(sortedLongPairsKernel(col("ids"))).as("p"))
      .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    val stats = common
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), Seq("doc_b"))
    (stats, () => { kept.unpersist(blocking = false); () })
  }

  /** N-gram CONTAINMENT pairs — the asymmetric overlap measure
    * C(A,B) = |A∩B| / min(|A|,|B|): a short document embedded verbatim in
    * a longer one scores ~1.0 here while its Jaccard stays low (the union
    * is dominated by the long side), so this is the operator that catches
    * quote-expansion / doc-inside-doc duplication that [[ngramJaccardPairs]]
    * misses. Same capped inverted-index candidate generation (pairs only
    * exist where shingles collide — never all-pairs), same int64-hashed
    * posting shuffle; only the final score/threshold differ. */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame =
    containmentFromStats(pairStats(spark, dir)).orderBy("doc_a", "doc_b")

  /** Core of [[containmentPairs]] over any (doc_id, text) DataFrame.
    * Materializes EAGERLY (via [[truncate]] — reliable checkpoint when
    * configured) so the pair generator's internal posting cache can be
    * released before returning — repeated library calls accumulate no
    * cache (CacheHygieneSpec pins it). */
  def containmentPairsDf(documents: DataFrame): DataFrame = {
    val (plan, releasePostings) = containmentPlanReleasable(documents)
    val out = truncate(plan)
    releasePostings()
    out
  }

  /** The un-truncated [[containmentPairsDf]] plan plus its posting-cache
    * release thunk — for plan-shape assertions; operator callers get the
    * eager form above. */
  private[graft] def containmentPlanReleasable(
      documents: DataFrame): (DataFrame, () => Unit) = {
    val (stats, releasePostings) = ngramPairStatsReleasable(documents)
    (containmentFromStats(stats).orderBy("doc_a", "doc_b"), releasePostings)
  }

  // ---- SQL-parity MinHash (cross-engine reproducible) -----------------

  /** Deterministic Carter-Wegman permutation constants for the MinHash
    * family — sourced from [[graft.functions.TextKernels.permA]]/`permB`
    * (the kernel, the HOF form, and the SQL-parity pipeline all share
    * them). Rendered verbatim into the DuckDB oracles' VALUES lists. */
  val SqlPerms: Seq[(Int, Long, Long)] = (0 until NumPerms).map { i =>
    (i, graft.functions.TextKernels.permA(i), graft.functions.TextKernels.permB(i))
  }
  val SqlPrime: Long = graft.functions.TextKernels.SqlPrime

  /** The wide (doc_id, m0..m31) signature table of the SQL-parity
    * pipeline, truncate-materialized: it feeds the band explode (twice,
    * via the self-join) and — under the broadcast gate — the two sig
    * attaches of [[minhashSqlPairs]]' map-side emission, so the expensive
    * shingle+md5+32-permutation pass must run once, not once per
    * consumer. Also returns its row count (one row per ≥3-token doc),
    * observed on that materialization for [[minhashGate]]. */
  private[graft] def minhashSqlSigs(spark: SparkSession, dir: String): (DataFrame, Long) = {
    val toksExpr = "split(regexp_replace(lower(trim(text)), '\\\\s+', ' '), ' ')"
    val base = Tables.documents(spark, dir)
      .selectExpr("doc_id", s"$toksExpr AS toks")
      .filter(size(col("toks")) >= 3)
    val shingles = base.select(col("doc_id"),
        explode(array_distinct(expr(
          "transform(sequence(1, size(toks) - 2), i -> concat_ws(' ', " +
            "element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2)))")))
          .as("s"))
    val hashed = shingles.select(col("doc_id"),
      conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long").as("h"))
    // all 32 permutation minima as aggregate EXPRESSIONS over one pass —
    // constants folded into codegen, map-side partial agg, the shuffle
    // carries one 32-column row per doc. (A perms crossJoin would push
    // |shingles|×32 rows through the exchange — 6× slower measured.)
    val sigCols = SqlPerms.map { case (i, a, b) =>
      min((lit(a) * col("h") + lit(b)) % SqlPrime).as(s"m$i")
    }
    val (sigs, stats) = truncateObserved(
      hashed.groupBy("doc_id").agg(sigCols.head, sigCols.drop(1): _*), count(lit(1)))
    (sigs, stats.getLong(0))
  }

  /** The (doc_id, band, key) band table of [[minhashSqlPairs]]. */
  private def minhashSqlBands(sigs: DataFrame): DataFrame = {
    val bandCols = (0 until Bands).map { bd =>
      struct(lit(bd).as("band"),
        concat_ws("_", col(s"m${Rows * bd}"), col(s"m${Rows * bd + 1}")).as("key"))
    }
    sigs
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** MinHash banding with EVERY step expressible in ANSI-ish SQL, so the
    * whole sketch pipeline — shingling, hashing, 32 permutations, 16×2
    * banding, bucket join — hash-checks against DuckDB (the production
    * [[minhashPairs]] uses the codegen xxhash64 kernel + bucket caps,
    * which no second engine can replay; THIS variant trades those for
    * cross-engine reproducibility). The shingle hash is the top 32 bits
    * of md5 — `conv(substring(md5, 1, 8), 16, 10)` here, a byte-swap of
    * `md5_number_upper` on the DuckDB side (verified bit-identical).
    * Plan shape matches the production variant: the band join carries
    * only (band, bucket-key, doc_id); signatures stay narrow. The
    * cap-less band self-join is deliberate at scale too: it streams
    * C(k,2) pairs through a spillable sort without materializing any
    * bucket's membership — the robust shape for cap-less semantics
    * (round-14 A/B, docs/BENCH_NOTES). */
  def minhashSqlPairs(spark: SparkSession, dir: String): DataFrame = {
    val (sigs, nSigs) = minhashSqlSigs(spark, dir)
    val bands = minhashSqlBands(sigs)
    val joined = bands.as("x").join(bands.as("y"),
      col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
        col("x.doc_id") < col("y.doc_id"))
    // Cap-less banding duplicates every pair once per shared band (sf10:
    // ~10⁸ join rows → 48.5M pairs), and the pair-count hash aggregate
    // over that stream was the family's measured spill (~35 GB at sf10 —
    // r14 A/B, docs/minhash_sql_ab_sf10.jsonl). But n_shared_bands is
    // fully determined by the two SIGNATURES (band keys are injective
    // renderings of the signature component pairs), so in the
    // [[minhashGate]] map-side window each join row decides whether its
    // own band is the pair's FIRST collision — keeping exactly one row per
    // pair with the count already attached ([[firstCollisionPairs]] with
    // no hot keys: this pipeline is cap-less): no exchange, no aggregate,
    // output row-for-row identical (the DuckDB oracle replays the
    // join+groupBy shape unchanged). Outside the window the aggregate form
    // runs (the floor cost −11% at sf0.1 in r18 when this query lacked
    // it). The gate reads the sigs count observed on their own
    // materialization (one row per ≥3-token doc) — no job of its own,
    // and no re-scan of the raw documents table with its text column.
    if (minhashGate(spark, nSigs).mapSide) {
      val sigArr = sigs.select(col("doc_id"),
        array((0 until NumPerms).map(i => col(s"m$i")): _*).as("sig"))
      val cands = joined.select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.band").as("band"))
      firstCollisionPairs(cands, sigArr, Map.empty, minMatches = 0)
        .select(col("doc_a"), col("doc_b"), col("n_shared_bands"))
        .orderBy("doc_a", "doc_b")
    } else {
      joined
        .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_shared_bands"))
        .orderBy("doc_a", "doc_b")
    }
  }

  /** DuckDB oracle for [[minhashPairs]] — the FULL kernel pipeline
    * replayed: shingling (inc. the ≤k-token single-shingle edge, via
    * concat_ws's NULL-skip), md5-top-32 base hashes (byte-swap of
    * md5_number_upper's low word — the repo's verified cross-engine md5
    * idiom), all 32 CW permutations, (band, sig-component) buckets with
    * the 2..1000 cap, signature-estimate gate, and exact Jaccard
    * verification. The oracle verifies in STRING space where the Spark
    * side uses xxhash64-hashed shingle sets (see [[minhashVerified]]) —
    * equality holds modulo xxhash64 collisions (~n²/2⁶⁴ per pair), the
    * same accepted probabilistic-parity trade as dedup_ngram_jaccard.
    * Every constant renders from [[SqlPerms]], so oracle and kernel
    * cannot drift. */
  def minhashOracle: String = {
    val values = SqlPerms.map { case (i, a, b) => s"($i, ${a}, ${b})" }.mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS tk
       |  FROM documents),
       |sh0 AS (SELECT doc_id, tk, unnest(range(1, greatest(len(tk) - 1, 2))) AS i FROM toks),
       |shingles AS (SELECT DISTINCT doc_id,
       |    concat_ws(' ', tk[CAST(i AS INT)], tk[CAST(i AS INT) + 1], tk[CAST(i AS INT) + 2]) AS s
       |  FROM sh0),
       |hs AS (SELECT doc_id, s,
       |    ((x & 255) << 24) | (((x >> 8) & 255) << 16) | (((x >> 16) & 255) << 8) | ((x >> 24) & 255) AS h
       |  FROM (SELECT doc_id, s, CAST(md5_number_upper(s) & 4294967295 AS BIGINT) AS x FROM shingles)),
       |perms(i, a, b) AS (VALUES $values),
       |sigs AS (SELECT doc_id, i, min((a * h + b) % ${SqlPrime}) AS m FROM hs, perms GROUP BY 1, 2),
       |bands AS (SELECT doc_id, i // ${Rows} AS band,
       |    max(CASE WHEN i % 2 = 0 THEN m END) AS k0,
       |    max(CASE WHEN i % 2 = 1 THEN m END) AS k1
       |  FROM sigs GROUP BY 1, 2),
       |g AS (SELECT band, k0, k1 FROM bands GROUP BY 1, 2, 3 HAVING count(*) BETWEEN 2 AND 1000),
       |kb AS (SELECT b.doc_id, b.band, b.k0, b.k1 FROM bands b JOIN g USING (band, k0, k1)),
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |          FROM kb a JOIN kb b ON a.band = b.band AND a.k0 = b.k0 AND a.k1 = b.k1
       |                             AND a.doc_id < b.doc_id),
       |est AS (SELECT doc_a, doc_b,
       |    CAST(count(*) FILTER (WHERE sa.m = sb.m) AS DOUBLE) / ${NumPerms} AS est_sim
       |  FROM pairs JOIN sigs sa ON sa.doc_id = doc_a
       |             JOIN sigs sb ON sb.doc_id = doc_b AND sb.i = sa.i
       |  GROUP BY 1, 2),
       |cand AS (SELECT doc_a, doc_b, est_sim FROM est WHERE est_sim >= 0.25),
       |szs AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY 1),
       |common AS (SELECT c.doc_a, c.doc_b, c.est_sim, count(*) AS cmn
       |  FROM cand c JOIN shingles x ON x.doc_id = c.doc_a
       |              JOIN shingles y ON y.doc_id = c.doc_b AND y.s = x.s
       |  GROUP BY 1, 2, 3)
       |SELECT doc_a, doc_b, round(est_sim, 4) AS est_sim, round(jaccard, 4) AS jaccard
       |FROM (SELECT c.doc_a, c.doc_b, c.est_sim,
       |        CAST(cmn AS DOUBLE) / (sa.sz + sb.sz - cmn) AS jaccard
       |      FROM common c JOIN szs sa ON sa.doc_id = c.doc_a
       |                    JOIN szs sb ON sb.doc_id = c.doc_b)
       |WHERE jaccard >= 0.2
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Shared DuckDB fingerprint CTE for the SimHash oracles: per-token md5
    * word pair (byte-swapped halves of md5_number_upper), 64 bit votes,
    * sign-bit assembly into a SIGNED int64 (bit 63 contributes −2⁶³, so
    * the value equals the kernel's long bit pattern), zero-token docs
    * fingerprint to 0 via the LEFT JOIN + coalesce. */
  private def simhashFpCte: String =
    """toks AS (
      |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS tok
      |  FROM documents),
      |hw AS (SELECT doc_id,
      |    ((xl & 255) << 24) | (((xl >> 8) & 255) << 16) | (((xl >> 16) & 255) << 8) | ((xl >> 24) & 255) AS ha,
      |    ((xh & 255) << 24) | (((xh >> 8) & 255) << 16) | (((xh >> 16) & 255) << 8) | ((xh >> 24) & 255) AS hb
      |  FROM (SELECT doc_id,
      |          CAST(md5_number_upper(tok) & 4294967295 AS BIGINT) AS xl,
      |          CAST((md5_number_upper(tok) >> 32) & 4294967295 AS BIGINT) AS xh
      |        FROM toks)),
      |votes AS (SELECT doc_id, j,
      |    sum(CASE WHEN ((CASE WHEN j < 32 THEN ha ELSE hb END) >> (j % 32)) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM hw, (SELECT unnest(range(64)) AS j) GROUP BY 1, 2),
      |fp0 AS (SELECT doc_id,
      |    CAST(sum(CASE WHEN v > 0 THEN
      |      (CASE WHEN j = 63 THEN -9223372036854775807 - 1 ELSE CAST(1 AS BIGINT) << CAST(j AS INT) END)
      |      ELSE 0 END) AS BIGINT) AS fp
      |  FROM votes GROUP BY 1),
      |fps AS (SELECT d.doc_id, coalesce(f.fp, 0) AS fp
      |        FROM documents d LEFT JOIN fp0 f ON d.doc_id = f.doc_id)""".stripMargin

  /** DuckDB oracle for [[simhashGroups]]. */
  def simhashGroupsOracle: String =
    s"""WITH ${simhashFpCte}
       |SELECT fp AS simhash, count(*) AS n_docs, min(doc_id) AS keep_id
       |FROM fps GROUP BY 1 ORDER BY keep_id""".stripMargin

  /** Shared DuckDB CTE block: the 4×16-bit pigeonhole banding INCLUDING
    * the bucket cap (arithmetic >> plus the 0xFFFF mask equals the
    * kernel's unsigned shift on every chunk) → distinct candidate pairs.
    * Used by BOTH [[simhashNearOracle]] and [[simhashRepsOracle]] so a
    * cap/banding change can never make the two oracles verify different
    * graphs (same rationale as [[simhashFpCte]]). */
  private def simhashCandsCte: String =
    """chunks AS (SELECT doc_id, c, (fp >> (c * 16)) & 65535 AS key
      |           FROM fps, (SELECT unnest(range(4)) AS c)),
      |g AS (SELECT c, key FROM chunks GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND 1000),
      |kc AS (SELECT ch.doc_id, ch.c, ch.key FROM chunks ch JOIN g USING (c, key)),
      |cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |          FROM kc a JOIN kc b ON a.c = b.c AND a.key = b.key AND a.doc_id < b.doc_id)""".stripMargin

  /** DuckDB oracle for [[simhashNearPairs]]. */
  def simhashNearOracle: String =
    s"""WITH ${simhashFpCte},
       |${simhashCandsCte}
       |SELECT doc_a, doc_b, CAST(bit_count(xor(fa.fp, fb.fp)) AS INT) AS hamming
       |FROM cands JOIN fps fa ON fa.doc_id = doc_a JOIN fps fb ON fb.doc_id = doc_b
       |WHERE bit_count(xor(fa.fp, fb.fp)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin

  /** DuckDB oracle for [[simhashClusterReps]] — [[simhashNearOracle]]'s
    * full all-pairs pipeline plus a recursive-CTE transitive closure
    * over the hamming-verified pair graph. */
  def simhashRepsOracle: String =
    s"""WITH RECURSIVE ${simhashFpCte},
       |${simhashCandsCte},
       |ver AS (SELECT doc_a, doc_b
       |        FROM cands JOIN fps fa ON fa.doc_id = doc_a
       |                   JOIN fps fb ON fb.doc_id = doc_b
       |        WHERE bit_count(xor(fa.fp, fb.fp)) <= 3),
       |und AS (SELECT doc_a AS src, doc_b AS dst FROM ver
       |        UNION ALL SELECT doc_b AS src, doc_a AS dst FROM ver),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM und
       |  UNION
       |  SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src),
       |labels AS (SELECT src AS id, least(src, min(dst)) AS label
       |           FROM reach GROUP BY src)
       |SELECT label AS rep_id, count(*) AS n_members,
       |       CAST(sum(id) AS BIGINT) AS id_sum, max(id) AS max_id
       |FROM labels GROUP BY 1 ORDER BY rep_id""".stripMargin

  /** Sub-document EXACT dedup (chunk granularity): tile each document
    * into fixed non-overlapping character windows, fingerprint each tile
    * (md5 — 16 bytes shuffle, never text), and mark every tile whose
    * fingerprint already appeared earlier in the corpus (first occurrence
    * by (doc_id, idx) is the keeper). Per-document output: tile count,
    * duplicated-tile count, duplication ratio. This is the "exact
    * substring dedup" pass training-data pipelines run BELOW document
    * granularity — a doc that quotes half of another doc slips past
    * whole-document fingerprints ([[exactDedup]]) but lights up here.
    *
    * Scale shape: tiling is a map-side explode (sequence + substring —
    * no UDF, stays in codegen); the ONLY shuffle carries (16-byte fp,
    * packed int64 position) — at 100 TB that is the same
    * fingerprint-shuffle discipline as exact dedup, with fan-out
    * n_chars/window per doc. The keeper rule is one window min over the
    * fingerprint partition (no self-join), and the per-doc rollup
    * reshuffles only (doc_id, flag) pairs. */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame =
    chunkDedupDf(Tables.documents(spark, dir))

  /** Core of [[chunkDedup]] over any (doc_id, text, n_chars) frame (spec
    * entry point: synthetic corpora with planted shared tiles). */
  def chunkDedupDf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = 200 // tile width (chars); non-overlapping, so idx*win tiles
    val nTiles = greatest(
      ceil(col("n_chars").cast("double") / win).cast("long"), lit(1L))
    // packed position key: doc_id * 2^20 + idx — total order over
    // (doc_id, idx) in ONE int64, so the keeper rule is a single min().
    // idx < 2^20 ⇔ docs under ~209 MB at win=200; enforced per-doc below
    // (assert_true), because a silent overflow corrupts keeper selection
    // in a way the oracle CANNOT catch (it packs the same way)
    val pos = col("doc_id") * lit(1048576L) + col("idx")
    val nTilesChecked = nTiles + coalesce(
      assert_true(nTiles <= lit(1048576L),
        lit(s"chunkDedup: document over ~${209}MB overflows the 2^20 idx packing " +
          "(widen the shift or split the doc)")).cast("long"),
      lit(0L))
    val tiles = docs
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0L), nTilesChecked - 1)).as("idx"))
      .select(col("doc_id"), col("idx"),
        md5(substring(col("text"), (col("idx") * win + 1).cast("int"), lit(win)))
          .as("fp"))
    tiles
      .withColumn("keeper", min(pos).over(Window.partitionBy(col("fp"))))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tiles"),
        sum(when(pos =!= col("keeper"), 1L).otherwise(0L)).as("n_dup_tiles"))
      // half-up floor idiom, not round(): tile ratios are small-integer
      // fractions (1/32 = .03125, …) that land EXACTLY on the half-way
      // boundary where Spark/DuckDB round() conventions diverge
      .withColumn("dup_ratio",
        floor(col("n_dup_tiles").cast("double") / col("n_tiles") * 10000d + 0.5d) / 10000d)
      .orderBy("doc_id")
  }

  /** The DuckDB oracle for [[minhashSqlPairs]], with the permutation
    * constants rendered as a VALUES list — same trick as the rendered
    * LSH hyperplanes (`Vectors.lshOracleCodes`). */
  def minhashSqlOracle: String = {
    val values = SqlPerms.map { case (i, a, b) => s"($i, ${a}, ${b})" }.mkString(", ")
    s"""WITH base AS (
       |  SELECT doc_id,
       |         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       |  FROM documents WHERE len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) >= 3),
       |sh0 AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM base),
       |shingles AS (SELECT DISTINCT doc_id,
       |    concat_ws(' ', toks[CAST(i AS INT)], toks[CAST(i AS INT) + 1], toks[CAST(i AS INT) + 2]) AS s
       |  FROM sh0),
       |hs AS (SELECT doc_id,
       |    ((x & 255) << 24) | (((x >> 8) & 255) << 16) | (((x >> 16) & 255) << 8) | ((x >> 24) & 255) AS h
       |  FROM (SELECT doc_id, CAST(md5_number_upper(s) & 4294967295 AS BIGINT) AS x FROM shingles)),
       |perms(i, a, b) AS (VALUES $values),
       |sigs AS (SELECT doc_id, i, min((a * h + b) % ${SqlPrime}) AS m FROM hs, perms GROUP BY 1, 2),
       |bands AS (SELECT doc_id, i // ${Rows} AS band,
       |    concat_ws('_', CAST(max(CASE WHEN i % 2 = 0 THEN m END) AS VARCHAR),
       |                   CAST(max(CASE WHEN i % 2 = 1 THEN m END) AS VARCHAR)) AS key
       |  FROM sigs GROUP BY 1, 2)
       |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_shared_bands
       |FROM bands x JOIN bands y
       |  ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
       |GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---- bloom-gated incremental dedup ----------------------------------

  /** Bloom parameters: m = 2^22 bits, k = 7 probes — sized so the SET-BIT
    * table stays broadcastable (≤ 4M ints ≈ 32 MB) at ANY corpus size
    * (distinct() caps it at m rows no matter how many documents feed it),
    * while the false-positive rate stays < 1% up to ~400k ingested docs. */
  val BloomBits: Long = 1L << 22
  val BloomHashes: Int = 7

  /** The k md5-derived bit positions of one fingerprint — position i is
    * the verified cross-engine md5-top-32 word of `fp || ":" || i`,
    * reduced mod [[BloomBits]]. Deterministic, so a second engine can
    * rebuild the identical filter (unlike Spark's built-in
    * BloomFilterAggregate, whose serialized bitset is impl-defined). */
  private def bloomPositions(fp: Column): Column =
    transform(sequence(lit(0), lit(BloomHashes - 1)),
      i => pmod(conv(substring(md5(concat(fp, lit(":"), i.cast("string"))), 1, 8), 16, 10)
        .cast("long"), lit(BloomBits)))

  /** Incremental (cross-snapshot) dedup with a Bloom prefilter — the
    * continuous-ingestion shape of [[exactDedup]]: an already-ingested
    * corpus snapshot (even doc_ids here) guards a new batch (odd doc_ids)
    * so definite-new documents skip the exact comparison entirely.
    *
    * Scale design: the "bitset" is rendered relationally as the DISTINCT
    * set-bit table of the snapshot — bounded at [[BloomBits]] rows by
    * construction, hence ALWAYS broadcastable regardless of corpus size —
    * and probing is a broadcast left join. The batch side is
    * range-partitioned on doc_id once; the membership test, the
    * 7-per-doc probe count and the final ORDER BY all run inside those
    * partitions, with no per-doc shuffle and no verdict/exact re-join.
    * The exact confirmation is an equi-join on 16-byte fingerprints —
    * never text — and in a production deployment runs only on the
    * `maybe_seen` survivors; here it runs on the full batch because the
    * oracle audits the no-false-negative contract (`bloom_ok`) on every
    * row. Emits one row per batch doc: the Bloom verdict, the exact
    * verdict, and `bloom_ok = maybe_seen OR NOT is_dup` (a Bloom filter
    * may false-positive, NEVER false-negative — any FALSE here is a
    * broken filter and flips the oracle hash red). */
  def bloomDedup(spark: SparkSession, dir: String): DataFrame =
    // the fingerprint frame feeds THREE subplans (bit build, the exact
    // confirm's distinct snapshot fps, the probed batch) — materialize
    // the normalize+md5 corpus scan ONCE instead of replaying it per
    // consumer (at 100 TB this is one corpus pass instead of three)
    bloomDedupFromFps(docFps(spark, dir))

  /** The memoized (doc_id, fp, n_chars) fingerprint frame — ONE
    * normalize+md5 corpus pass shared by every fingerprint consumer in
    * the session ([[bloomDedup]]'s three subplans, [[leakSafeSplit]]). */
  private def docFps(spark: SparkSession, dir: String): DataFrame =
    PlanMemo.getOrBuild(spark, dir, "doc_fps") {
      Tables.documents(spark, dir)
        .select(col("doc_id"), normalizedFp, col("n_chars"))
    }

  private def normalizedFp: Column =
    md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("fp")

  /** Testable core of [[bloomDedup]]: input needs (doc_id, text). */
  private[graft] def bloomDedupFromDocs(docs: DataFrame): DataFrame =
    bloomDedupFromFps(docs.select(col("doc_id"), normalizedFp))

  private def bloomDedupFromFps(fps: DataFrame): DataFrame = {
    val snapshot = fps.filter(col("doc_id") % 2 === 0)
    val batch = fps.filter(col("doc_id") % 2 === 1).select(col("doc_id"), col("fp"))
      .repartitionByRange(fps.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
        col("doc_id"))
    val bits = snapshot
      .select(explode(bloomPositions(col("fp"))).as("bit"))
      .distinct()
      .withColumn("hit", lit(1))
    val seen = snapshot.select(col("fp")).distinct().withColumn("dup", lit(1))
    // everything below runs inside the batch's doc_id range partitions:
    // the exact attach (join left to the planner — the distinct snapshot
    // fps grow with the corpus), the probe explode, the bit join (a
    // broadcast: bounded by BloomBits) and the per-doc count, which the
    // range partitioning already clusters; the ORDER BY is a local sort
    batch
      .join(seen, Seq("fp"), "left")
      .select(col("doc_id"), col("dup").isNotNull.as("is_dup"),
        explode(bloomPositions(col("fp"))).as("bit"))
      .join(broadcast(bits), Seq("bit"), "left")
      .groupBy(col("doc_id"), col("is_dup"))
      .agg((count(col("hit")) === BloomHashes).as("maybe_seen"))
      .select(col("doc_id"), col("maybe_seen"), col("is_dup"),
        (col("maybe_seen") || !col("is_dup")).as("bloom_ok"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[bloomDedup]] — the filter rebuilt bit-for-bit
    * via the md5_number_upper byte-swap idiom, so Bloom verdicts (not
    * just the exact ones) hash-compare across engines. */
  def bloomOracle: String =
    s"""WITH fps AS (
       |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
       |  FROM documents),
       |snapshot AS (SELECT * FROM fps WHERE doc_id % 2 = 0),
       |batch    AS (SELECT * FROM fps WHERE doc_id % 2 = 1),
       |ks AS (SELECT unnest(range(0, ${BloomHashes})) AS i),
       |bits AS (SELECT DISTINCT
       |    (((x & 255) << 24) | (((x >> 8) & 255) << 16) | (((x >> 16) & 255) << 8) | ((x >> 24) & 255)) % ${BloomBits} AS bit
       |  FROM (SELECT CAST(md5_number_upper(fp || ':' || CAST(i AS VARCHAR)) & 4294967295 AS BIGINT) AS x
       |        FROM snapshot, ks)),
       |probes AS (SELECT doc_id,
       |    (((x & 255) << 24) | (((x >> 8) & 255) << 16) | (((x >> 16) & 255) << 8) | ((x >> 24) & 255)) % ${BloomBits} AS bit
       |  FROM (SELECT doc_id, CAST(md5_number_upper(fp || ':' || CAST(i AS VARCHAR)) & 4294967295 AS BIGINT) AS x
       |        FROM batch, ks)),
       |verdict AS (SELECT doc_id, count(b.bit) = ${BloomHashes} AS maybe_seen
       |  FROM probes p LEFT JOIN bits b ON p.bit = b.bit GROUP BY 1),
       |exact AS (SELECT doc_id, s.fp IS NOT NULL AS is_dup
       |  FROM batch LEFT JOIN (SELECT DISTINCT fp FROM snapshot) s ON batch.fp = s.fp)
       |SELECT doc_id, maybe_seen, is_dup,
       |       (maybe_seen OR NOT is_dup) AS bloom_ok
       |FROM verdict JOIN exact USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---- leakage-safe train/val/test split ------------------------------

  /** Leakage-safe corpus split — train/val/test assignment keyed on the
    * CONTENT fingerprint, not the row id: two byte-identical documents
    * hash to the same bucket by construction, so an exact duplicate can
    * never straddle train and test (the eval-contamination failure mode
    * an id-keyed split invites; cf. [[graft.ops.Text.contaminationCheck]]
    * for the n-gram variant of the same concern). 80/10/10 by the top-32
    * md5 word mod 100 — deterministic, reproducible across runs and
    * engines, and pure map-side until the 3-row rollup.
    *
    * Emits one row per split with doc/char/distinct-fp counts plus
    * `max_splits_per_fp` — a corpus-wide audit (computed, not assumed:
    * the number of splits each fingerprint's documents fall in) that
    * MUST be 1; a 2 means some fingerprint crossed splits and flips every
    * row's hash red. The rows exchange ONCE, on fp (per-fp conditional
    * counts per split); one global aggregate over those groups yields
    * every split's figures and the audit together, so there is no
    * countDistinct Expand, no second fp aggregate and no audit join. */
  def leakSafeSplit(spark: SparkSession, dir: String): DataFrame =
    leakSafeSplitFromFps(docFps(spark, dir))

  /** Testable core of [[leakSafeSplit]]: input needs (doc_id, text, n_chars). */
  private[graft] def leakSafeSplitFromDocs(docs: DataFrame): DataFrame =
    leakSafeSplitFromFps(docs.select(col("doc_id"), normalizedFp, col("n_chars")))

  private def leakSafeSplitFromFps(fps: DataFrame): DataFrame = {
    val splits = Seq("train", "val", "test")
    val split = when(bucketCol < 80, "train").when(bucketCol < 90, "val").otherwise("test")
    // ONE exchange, on fp: per fingerprint, its documents and chars in
    // each split
    val perSplit = splits.flatMap(s => Seq(
      count(when(split === s, lit(1))).as(s"d_$s"),
      sum(when(split === s, col("n_chars"))).as(s"c_$s")))
    val perFp = fps.groupBy(col("fp")).agg(perSplit.head, perSplit.tail: _*)
    // then one global (single-partition) aggregate: per split the doc
    // count, char sum and distinct-fp count (non-null fp groups with a
    // document there — countDistinct's null rule), plus the audit
    val inSplits = splits.map(s => when(col(s"d_$s") > 0, 1).otherwise(0)).reduce(_ + _)
    val totals = perFp.agg(
      max(inSplits).cast("long").as("max_splits_per_fp"),
      splits.flatMap(s => Seq(
        sum(col(s"d_$s")).as(s"n_docs_$s"),
        count(when(col("fp").isNotNull && col(s"d_$s") > 0, lit(1))).as(s"n_fps_$s"),
        sum(col(s"c_$s")).as(s"n_chars_$s"))): _*)
    // three split rows off one partition, empty splits dropped: the
    // ORDER BY is a local sort
    totals
      .select(explode(array(splits.map(s => struct(lit(s).as("split"),
        col(s"n_docs_$s").as("n_docs"), col(s"n_fps_$s").as("n_fps"),
        col(s"n_chars_$s").as("n_chars"))): _*)).as("r"), col("max_splits_per_fp"))
      .filter(col("r.n_docs") > 0)
      .select(col("r.split"), col("r.n_docs"), col("r.n_fps"), col("r.n_chars"),
        col("max_splits_per_fp"))
      .orderBy("split")
  }

  /** Split bucket in [0, 100): the fingerprint's top-32 word mod 100. */
  private def bucketCol: Column =
    pmod(conv(substring(col("fp"), 1, 8), 16, 10).cast("long"), lit(100L))

  /** DuckDB oracle for [[leakSafeSplit]] — bucket derived from the SAME
    * md5 hex string the Spark side buckets on (and that the green
    * `text_fingerprint` oracle proves byte-equal cross-engine), parsed
    * as a hex literal: `CAST('0x' || substr(fp,1,8) AS UBIGINT) % 100`.
    * Round 8 re-derived the word from `md5_number_upper(nt)` via a
    * byte-swap instead and hash-FAILed on the driver; anchoring both
    * engines to the one shared hex string removes that derivation
    * surface entirely. Same computed audit. */
  def splitOracle: String =
    """WITH norm AS (
      |  SELECT doc_id, n_chars,
      |         regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt
      |  FROM documents),
      |assigned AS (SELECT doc_id, n_chars, fp,
      |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
      |  FROM (SELECT doc_id, n_chars, fp,
      |          CAST(CAST('0x' || substr(fp, 1, 8) AS UBIGINT) % 100 AS BIGINT) AS b
      |        FROM (SELECT doc_id, n_chars, md5(nt) AS fp FROM norm))),
      |audit AS (SELECT max(ns) AS max_splits_per_fp FROM (
      |    SELECT fp, count(DISTINCT split) AS ns FROM assigned GROUP BY 1))
      |SELECT split, count(*) AS n_docs, count(DISTINCT fp) AS n_fps,
      |       CAST(sum(n_chars) AS BIGINT) AS n_chars, max_splits_per_fp
      |FROM assigned, audit
      |GROUP BY split, max_splits_per_fp
      |ORDER BY split""".stripMargin
}
