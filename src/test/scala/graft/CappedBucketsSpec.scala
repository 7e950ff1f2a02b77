package graft

import graft.ops.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** Pins for [[graft.functions.CappedCollect]] / [[Dedup.cappedBuckets]] —
  * the in-aggregate skew cap shared by all four LSH bucket builders
  * (MinHash bands, SimHash chunks, n-gram postings, embedding codes).
  *
  * Three properties: (1) output parity with the old
  * `collect_set` + size-filter shape on duplicate-free inputs, including
  * under the sort-based aggregation fallback (buffer serialization
  * round-trips); (2) the mega-bucket boundedness the rewrite exists for —
  * a hot bucket ships at most `hi` ids per map partition through the
  * exchange instead of its full membership; (3) the plan shape: one
  * partial/final ObjectHashAggregate pair, cap inside the aggregate. */
class CappedBucketsSpec extends SparkSpec {

  /** Duplicate-free (key, id) rows: `sizes(k)` ids per key k, ids made
    * incompressible (odd-prime multiply) so shuffle byte counts reflect
    * payload, not run-length luck. `parts` input partitions. */
  private def bucketRows(sizes: Seq[(Long, Int)], parts: Int): DataFrame = {
    val rows = for { (k, n) <- sizes; i <- 0 until n }
      yield (k, (k * 1000000L + i) * 0x9E3779B97F4A7C15L)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, parts)).toDF("key", "doc_id")
  }

  private def oldShape(rows: DataFrame, lo: Int, hi: Int): DataFrame =
    rows.groupBy(col("key"))
      .agg(collect_set(col("doc_id")).as("ids"))
      .filter(size(col("ids")).between(lo, hi))

  private def canon(df: DataFrame): Set[(Long, Seq[Long])] =
    df.select(col("key"), sort_array(col("ids")).as("ids"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
      .toSet

  test("cappedBuckets ≡ collect_set + size filter on duplicate-free rows") {
    // deterministic pseudo-random sizes straddling lo and hi
    val sizes = (0L until 400L).map(k => (k, ((k * 7919) % 31).toInt + 1))
    val rows = bucketRows(sizes, parts = 6)
    for ((lo, hi) <- Seq((1, 25), (2, 20), (3, 10))) {
      val got = canon(Dedup.cappedBuckets(rows, Seq("key"), "doc_id", lo, hi))
      val want = canon(oldShape(rows, lo, hi))
      assert(got == want, s"parity failed at [$lo, $hi]")
      assert(want.nonEmpty && want.size < sizes.size,
        s"bounds [$lo, $hi] must both keep and drop buckets for the test to bite")
    }
  }

  test("parity holds under the sort-based aggregation fallback (buffer serde)") {
    // force ObjectHashAggregate to spill to the sort-based path after 2
    // in-memory keys, so partial CapBuf buffers serialize/deserialize
    spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "2")
    try {
      val sizes = (0L until 200L).map(k => (k, ((k * 31) % 17).toInt + 1))
      val rows = bucketRows(sizes, parts = 5)
      val got = canon(Dedup.cappedBuckets(rows, Seq("key"), "doc_id", 2, 12))
      val want = canon(oldShape(rows, 2, 12))
      assert(got == want)
    } finally spark.conf.unset("spark.sql.objectHashAggregate.sortBased.fallbackThreshold")
  }

  /** Pre-compression bytes shipped through the plan's single exchange
    * (AQE off so the plan is a plain tree; the only shuffle is the
    * aggregation's partial→final exchange). */
  private def aggExchangeDataSize(build: => DataFrame): Long = {
    // restore whatever value the shared session had, not a hardcoded one
    val saved = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = build
      df.collect()
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(exchanges.size == 1, s"expected 1 exchange, got ${exchanges.size}")
      exchanges.head.metrics("dataSize").value
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
      case None    => spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("mega-bucket: membership never materializes or ships past the cap") {
    // one boilerplate mega-bucket (200k members) + 50 real buckets of 3,
    // cap 100: the old shape accumulates and ships all 200k ids before
    // its filter can drop them; the capped aggregate ships ≤ cap ids per
    // map partition and frees the hot buffer the moment it exceeds cap.
    val sizes = (1L to 50L).map(k => (k, 3)) :+ (999L, 200000)
    val rows = bucketRows(sizes, parts = 8)

    val capped = canon(Dedup.cappedBuckets(rows, Seq("key"), "doc_id", 2, 100))
    assert(capped.size == 50 && !capped.exists(_._1 == 999L),
      "mega-bucket must drop; the 50 real buckets must survive intact")
    assert(capped.forall(_._2.length == 3))

    val cappedBytes = aggExchangeDataSize(
      Dedup.cappedBuckets(rows, Seq("key"), "doc_id", 2, 100))
    val setBytes = aggExchangeDataSize(oldShape(rows, 2, 100))
    // 200k × 8 B of mega-bucket ids dominate the old exchange; the capped
    // one carries ≤ 8 parts × 100 ids for the hot key + the 50 real
    // buckets. Assert an order of magnitude, not an exact byte count.
    assert(cappedBytes * 10 < setBytes,
      s"capped exchange $cappedBytes B not ≪ collect_set exchange $setBytes B")
  }

  test("end-to-end: 100k identical docs (boilerplate mega-bucket) cannot stall minhash") {
    // the adversarial corpus the cap exists for: 100k IDENTICAL documents
    // put 100k ids into every one of their 16 band buckets — far past the
    // 1000 cap, so the whole cluster must be DROPPED by the skew gate
    // without ever materializing a 100k-member list; two planted textual
    // near-dups ride along to prove normal buckets still pair up
    import org.apache.spark.sql.functions.{col, lit, concat}
    val spark2 = spark
    import spark2.implicits._
    val boiler = spark.range(0, 100000)
      .select(col("id").as("doc_id"),
        lit("the same boilerplate footer text repeated on every page of the crawl " +
          "with enough tokens to shingle").as("text"))
    val pairDocs = Seq(
      (200000L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (200001L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"))
      .toDF("doc_id", "text")
    val out = graft.ops.Dedup.minhashPairsDf(boiler.union(pairDocs)).collect()
    // every boiler bucket is over-cap: no boiler doc may appear in ANY pair
    assert(out.forall(r => r.getAs[Long]("doc_a") >= 200000L &&
      r.getAs[Long]("doc_b") >= 200000L),
      s"mega-bucket members leaked into pairs: ${out.take(3).mkString}")
    // the planted near-dup pair survives (normal buckets unaffected)
    assert(out.exists(r => r.getAs[Long]("doc_a") == 200000L &&
      r.getAs[Long]("doc_b") == 200001L), "planted near-dup pair lost")
  }

  test("plan shape: partial/final ObjectHashAggregate with the cap inside") {
    val rows = bucketRows(Seq((1L, 3), (2L, 5)), parts = 2)
    val df = Dedup.cappedBuckets(rows, Seq("key"), "doc_id", 2, 100)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.contains("ObjectHashAggregate"), plan.take(2000))
    assert(plan.contains("partial_capped_id_set"), plan.take(2000))
    assert(plan.contains("capped_id_set"), plan.take(2000))
    // no post-aggregation size-BETWEEN filter shape: the only residual
    // filter is the empty-array drop
    assert(!plan.contains("collect_set"), plan.take(2000))
  }

  test("minbandPairs ≡ explode+distinct, incl. a pair whose FIRST collision is capped away") {
    // Synthetic signatures drive the exact hazard the hot-key fold
    // exists for: docs 0..1200 share band-0 components (bucket size 1201
    // > 1000 → capped away), and docs 0,1 additionally share band-1
    // components in a 2-member surviving bucket. A signature-only
    // min-band rule would suppress (0,1) at band 1 (band 0 collides);
    // the capped-away fold must rescue it. Docs 5000/5001 collide at
    // bands 0 AND 3 in small buckets — emitted exactly once.
    import org.apache.spark.sql.functions.{col, explode}
    import graft.functions.GraftFunctions.sortedLongPairsKernel
    val spark2 = spark
    import spark2.implicits._
    def sig(vals: (Int, Long)*): Array[Long] = {
      val a = Array.tabulate(32)(i => 1000000L + i) // unique filler per position
      vals.foreach { case (i, v) => a(i) = v }
      a
    }
    val rows =
      // 1201 docs: band 0 (positions 0,1) identical → capped bucket;
      // filler positions made unique PER DOC so nothing else collides
      (0L until 1201L).map(d =>
        (d, Array.tabulate(32)(i =>
          if (i < 2) 7L + i else d * 100 + i + 2000000L))) ++ Seq(
        // docs 0 and 1 also share band 1 (positions 2,3): overwrite
        5000L -> sig((0, 77L), (1, 78L), (6, 991L), (7, 992L)),
        5001L -> sig((0, 77L), (1, 78L), (6, 991L), (7, 992L)))
    // rebuild docs 0,1 with the band-1 collision on top of the band-0 one
    val fixed = rows.toMap ++ Map(
      0L -> { val a = rows.toMap.apply(0L).clone(); a(2) = 55L; a(3) = 56L; a },
      1L -> { val a = rows.toMap.apply(1L).clone(); a(2) = 55L; a(3) = 56L; a })
    val sigs = Dedup.truncate(
      fixed.toSeq.sortBy(_._1).toDF("doc_id", "sig"))
    val viaDistinct = Dedup.minhashBuckets(sigs)
      .select(explode(sortedLongPairsKernel(col("ids"))).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val viaMinband = Dedup.minbandPairs(sigs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(viaMinband.toSeq == viaDistinct.toSeq,
      s"minband ${viaMinband.take(5).mkString(",")} (${viaMinband.length}) != " +
        s"distinct ${viaDistinct.take(5).mkString(",")} (${viaDistinct.length})")
    // the rescued pair is present exactly once, and no boiler pair leaked
    assert(viaMinband.count(_ == (0L, 1L)) == 1, "capped-first-band pair lost or duplicated")
    assert(viaMinband.count(_ == (5000L, 5001L)) == 1, "two-band pair not deduplicated")
    assert(viaMinband.forall { case (a, b) => Set(a, b).subsetOf(Set(0L, 1L, 5000L, 5001L)) },
      "capped-away bucket members leaked")
  }

  test("all-sentinel signatures are excluded from banding and change no pair output") {
    // Empty-shingle docs keep minhashSig's Long.MaxValue fill in every
    // component; their packed band key would WRAP k0·prime+k1 and could
    // alias a real hot key in minbandPairs' capped-away fold (r18 advice).
    // minhashBandRows drops them; output parity is provable (a sentinel
    // only ever buckets with sentinels, and empty∕empty jaccard is 0.0 <
    // the 0.2 gate) and pinned here on a mixed corpus.
    val spark2 = spark
    import spark2.implicits._
    val real = (0L until 10L).map(d =>
      (d, Array.tabulate(32)(i => if (i < 2) 7L + i else d * 100 + i + 2000000L)))
    val sentinels = (100L until 103L).map(d => (d, Array.fill(32)(Long.MaxValue)))
    val sigs = Dedup.truncate((real ++ sentinels).toDF("doc_id", "sig"))
    val bandDocs = Dedup.minhashBandRows(sigs)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(bandDocs == (0L until 10L).toSet,
      s"sentinel docs must not band: $bandDocs")
    val pairs = Dedup.minbandPairs(sigs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // the 10 real docs all share band 0 (small bucket) → all C(10,2) pairs
    val want = (for (a <- 0L until 10L; b <- (a + 1) until 10L) yield (a, b)).sorted
    assert(pairs == want, s"real pairs disturbed: ${pairs.length} vs ${want.length}")
  }

  test("minhashSqlPairs map-side emission ≡ groupBy-count aggregate form") {
    // The broadcast-gated form (first-colliding-band filter + shared-band
    // count from the signatures) must be row-for-row identical to the
    // cap-less join + groupBy(doc_a, doc_b).count() shape it replaces —
    // pinned on the real sf0.001 corpus by flipping the gates: a zero
    // floor forces the map-side kernel path (the 500-doc corpus sits
    // below the default floor), a zero ceiling the aggregate fallback.
    def run(key: String, value: String): (Seq[(Long, Long, Long)], String) = {
      spark.conf.set(key, value)
      try {
        val df = Dedup.minhashSqlPairs(spark, sfDir)
        (df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq,
          df.queryExecution.sparkPlan.toString)
      } finally spark.conf.unset(key)
    }
    val (viaMapSide, mapSidePlan) = run(Dedup.MinbandMinDocsKey, "0")
    val (viaAggregate, aggregatePlan) = run(Dedup.BcastAttachMaxDocsKey, "0")
    assert(mapSidePlan.contains("sharedBandsIfFirst"), "zero floor must take the map-side kernel")
    assert(!aggregatePlan.contains("sharedBandsIfFirst"), "zero ceiling must take the aggregate")
    assert(viaMapSide.nonEmpty, "sf0.001 sql-parity pair set unexpectedly empty")
    assert(viaMapSide == viaAggregate,
      s"map-side ${viaMapSide.take(3)} (${viaMapSide.length}) != " +
        s"aggregate ${viaAggregate.take(3)} (${viaAggregate.length})")
  }
}
