package graft

import graft.ops._

/** Plan-shape assertions — the "would this survive 100×" checks made
  * executable. The r1 verdict asked for the forced `broadcast()` hints to
  * be dropped in favor of AQE size-based selection, with a test that AQE
  * still picks broadcast at test scale (so dropping the hints cost
  * nothing) — that's what the executed-plan assertions here pin. The
  * others pin scan pushdown, top-k, and the as-of join's no-join shape.
  */
class PlanShapeSpec extends SparkSpec {

  /** Final adaptive plan string: collect() materializes the query, after
    * which the AQE root prints the runtime-selected physical plan. */
  private def executedPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("j1_join_inner: AQE selects broadcast join with no hint in the code") {
    val plan = executedPlan(Relational.joinInner(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("q14_promo: AQE broadcasts the part side without a hint") {
    val plan = executedPlan(Aggregates.promoRevenue(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("q19_disjunctive: plans as an equi-join, never a nested loop") {
    val plan = executedPlan(Aggregates.disjunctivePredicateJoin(spark, sfDir))
    assert(plan.contains("HashJoin"), plan.take(2000)) // broadcast or shuffle hash
    assert(!plan.contains("NestedLoop"))
  }

  test("sql_tpch_q6: filters pushed into the parquet scan, schema pruned") {
    val df = graft.api.GraftSql.tpchQ6(spark, sfDir)
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains("PushedFilters:"))
    assert(formatted.contains("GreaterThanOrEqual(l_shipdate"), formatted.take(3000))
    // column pruning: the scan reads only the 4 referenced columns
    val readSchema = formatted.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_tax"))
  }

  test("p3_topk plans as TakeOrderedAndProject (per-partition k-heap)") {
    val plan = Relational.topK(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("agg_approx_distinct: explicit two-stage distinct, NO Expand node") {
    // the round-13 rewrite exists to kill the Expand plan (2 projections
    // per input row + 3-phase distinct machinery) that made this the
    // worst non-dedup sf10 ratio (32.7 s, 17x); a regression back to a
    // mixed countDistinct plan re-introduces Expand
    val plan = executedPlan(Aggregates.approxDistinct(spark, sfDir))
    assert(!plan.contains("Expand"), plan.take(2000))
    assert(plan.contains("HashAggregate"), plan.take(2000))
  }

  test("q1 aggregation executes inside WholeStageCodegen") {
    val df = Aggregates.pricingSummary(spark, sfDir)
    df.collect()
    // codegen'd operators print with a "*(stageId)" prefix in the plan
    // tree (WholeStageCodegenExec.generateTreeString)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), plan.take(2000))
    assert(plan.contains("HashAggregate"))
  }

  test("w1 rank filter plans as WindowGroupLimit (per-partition top-k heap)") {
    // rk <= 3 pushes into the window operator: each partition keeps a
    // 3-heap per key instead of ranking every row then filtering
    val plan = Windows.topOrdersPerCustomer(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
  }

  test("q2-style correlated min-subquery decorrelates: hash joins only, no NLJ") {
    val plan = executedPlan(graft.api.GraftSql.minCostSupplier(spark, sfDir))
    assert(plan.contains("HashJoin"), plan.take(2000))
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("q21-style EXISTS/NOT EXISTS plan as semi + anti hash joins") {
    val plan = executedPlan(graft.api.GraftSql.waitingSuppliers(spark, sfDir))
    assert(plan.contains("LeftSemi"), plan.take(3000))
    assert(plan.contains("LeftAnti"), plan.take(3000))
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"), plan.take(2000))
  }

  /** Count distinct shuffle nodes in the static physical plan (AQE off so
    * the plan is a plain tree; reused exchanges are a different node type
    * and deliberately not counted). Each ShuffleExchange is a full
    * re-materialization of its subtree's output — the unit of cost that
    * kills at 100 TB; these caps stop future edits silently doubling
    * them. */
  private def shuffleCount(build: => org.apache.spark.sql.DataFrame): Int = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try build.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.size
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("dedup_ngram_jaccard shuffle budget: at most one exchange per stage") {
    // stages: per-doc shingle sizes, postings groupBy(shingle), pair
    // groupBy(a,b), two size-joins, final sort — one shuffle each
    val n = shuffleCount(Dedup.ngramJaccardPairs(spark, sfDir))
    assert(n <= 6, s"ngram-jaccard plan now has $n shuffles (cap 6) — a stage double-shuffles")
  }

  test("dedup_minhash shuffle budget: at most one exchange per stage") {
    // stages: band-bucket groupBy, candidate distinct, two signature
    // re-joins, estimate stage, final sort — one shuffle each
    val n = shuffleCount(Dedup.minhashPairs(spark, sfDir))
    assert(n <= 6, s"minhash plan now has $n shuffles (cap 6) — a stage double-shuffles")
  }

  test("dedup_containment shuffle budget: shared pair-stats core stays flat") {
    // same inverted-index core as ngram-jaccard (postings groupBy, pair
    // groupBy, two size joins, final sort) — only the score differs, so
    // the same one-exchange-per-stage cap applies
    var release: () => Unit = () => ()
    try {
      val n = shuffleCount {
        val (p, r) = Dedup.containmentPlanReleasable(Tables.documents(spark, sfDir))
        release = r; p
      }
      assert(n <= 6, s"containment plan now has $n shuffles (cap 6) — a stage double-shuffles")
    } finally release()
  }

  test("graph memos: distinct-edge build is ONE exchange + ONE sort; the " +
    "capped adjacency carries the cap inside its aggregate") {
    // the window-lag dedup must reuse the repartition's partitioning and
    // the sortWithinPartitions' ordering — a second exchange or sort here
    // means Catalyst stopped recognizing them and the memo build doubled
    val eb = Graph.distinctEdgesDf(Graph.edges(spark, sfDir))
    assert(shuffleCount(eb) == 1, eb.queryExecution.executedPlan.toString.take(3000))
    val ep = eb.queryExecution.executedPlan.toString
    assert("Sort \\[".r.findAllIn(ep).size == 1, ep.take(3000))
    assert(ep.contains("Window"), ep.take(3000))

    // quadratic-consumer adjacency: the skew cap lives INSIDE the
    // aggregation (capped_id_set partial buffers are bounded), never a
    // collect_set + post-hoc filter
    val ca = Graph.cappedAdjacencyDf(Graph.edges(spark, sfDir), 256)
    val cp = ca.queryExecution.executedPlan.toString
    assert(cp.contains("partial_capped_id_set"), cp.take(3000))
    assert(!cp.contains("collect_set"), cp.take(3000))

    // and the driver-path wedge feed consumes the MEMOIZED capped
    // adjacency — a flat scan, no size filter, no list aggregate
    val inner = Graph.nbrTaggedSortedParts(Graph.cappedAdjacency(spark, sfDir),
      Graph.edges(spark, sfDir), Graph.nbrWedgeRows(spark, sfDir))
    val ip = inner.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(ip.contains("sortedLongPairsPacked"), ip.take(3000))
    assert(!ip.contains("collect_"), ip.take(3000))
    assert(!ip.contains("capped_id_set"), ip.take(3000)) // memoized: already materialized
  }

  test("graph_nbr_jaccard: cap before pair kernel, one-shuffle RLE top-k, no joins at all") {
    // the driver's parts plan over the memos (what the driver truncates)
    val df = Graph.neighborJaccardPartsPlan(Graph.cappedAdjacency(spark, sfDir),
      Graph.edges(spark, sfDir), Graph.degreesObserved(spark, sfDir)._2,
      Graph.nbrWedgeRows(spark, sfDir))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the fused run-length top-k crossed into RDD space, so the OUTER
    // plan is just the ≤ nPart·50-row survivor merge over a flat
    // ExistingRDD scan: no hash aggregate on the ~C(d,2)-pair stream, no
    // anti-join, and — since the degree dictionary now rides inside the
    // kernel — no join operator of any kind may reappear here
    assert(plan.contains("ExistingRDD"), plan.take(3000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    assert(!plan.contains("LeftAnti"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))

    // the INNER subplan (what feeds the run-length count): packed pair
    // kernel over the degree-capped adjacency, tagged edge union, ONE
    // hash exchange on the packed key, in-partition sort — the sort-based
    // aggregation shape (no hash aggregate anywhere on the pair stream)
    val inner = Graph.nbrTaggedSortedParts(Graph.cappedAdjacency(spark, sfDir),
      Graph.edges(spark, sfDir), Graph.nbrWedgeRows(spark, sfDir))
    inner.collect()
    val ip = inner.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(ip.contains("sortedLongPairsPacked"), ip.take(3000))
    // the cap ran before the kernel: the kernel reads the capped memo's
    // flat scan, whose lists are all within the cap
    assert(ip.contains("ExistingRDD"), ip.take(3000))
    import org.apache.spark.sql.functions.{col, max, size}
    assert(Graph.cappedAdjacency(spark, sfDir).agg(max(size(col("ids")))).first().getInt(0) <= 256)
    assert(ip.contains("Union"), ip.take(3000))
    assert(ip.contains("hashpartitioning(uv"), ip.take(3000))
    assert(ip.contains("Sort [uv"), ip.take(3000))
    assert(!ip.contains("HashAggregate"), ip.take(3000))
  }

  test("ev_ab_test: per-user + per-variant aggregates, one single-row broadcast") {
    val df = EventTime.abTest(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.contains("HashAggregate"), plan.take(3000))
    // the pooled stats attach through ONE single-row broadcast crossJoin —
    // never a wide join of the variant table against the events
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size == 1, plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("sql_lateral: decorrelated to one rank window + hash join, no per-row subquery") {
    val df = graft.api.GraftSql.lateralTopOrders(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the correlated ORDER BY ... LIMIT 2 subquery must decorrelate into
    // ONE row_number window over o_custkey with a rank filter, equi-joined
    // back to customer — never a per-customer nested-loop subquery
    // execution (the no-NLJ sweep covers the negative; this pins the
    // positive shape so a Spark upgrade that regresses decorrelation
    // fails loudly). Catalyst renders the subquery's ORDER BY as a sort
    // feeding an order-less row_number spec, so no WindowGroupLimit
    // pushdown applies here — exactly one Window, one equi join.
    assert("Window \\[row_number".r.findAllIn(plan).size == 1, plan.take(3000))
    assert(plan.contains("rn#") && plan.contains("<= 2"), plan.take(3000))
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r.findAllIn(plan).size == 1,
      plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("text pipeline shuffle budgets: perplexity/entropy/fuzzy-join stay flat") {
    // stages each own at most one exchange (tf agg, per-key agg, sort,
    // spread repartitions on the documents scans); these caps stop future
    // edits from silently double-shuffling the text paths
    assert(shuffleCount(Text.trigramPerplexity(spark, sfDir)) <= 7)
    assert(shuffleCount(Text.tokenEntropy(spark, sfDir)) <= 4)
    assert(shuffleCount(Text.fuzzyNameJoin(spark, sfDir)) <= 3)
  }

  test("no accidental cartesian / nested-loop join in ANY query plan (live map sweep)") {
    // every documented non-equi join in the library; anything else
    // showing a BroadcastNestedLoopJoin or CartesianProduct is a planning
    // regression (an unpushed predicate, a lost equi-condition)
    val documented = Set(
      "ann_brute_force",   // deliberate exact baseline: corpus × broadcast queries
      "ann_range_search",  // same corpus × broadcast-queries exact scan
      "dq_drift",          // single-row broadcast totals crossJoin
      "ev_ab_test",        // single-row broadcast pooled-stats crossJoin
      "emb_knn_classify",  // built on ann_brute_force
      "ann_ivf",           // single-row broadcast centroid-array crossJoin (map-side argmax)
      "ann_ivf_pq",        // same single-row broadcast centroid-array crossJoin (assignCentroid) + per-query ADC LUT broadcast
      "emb_pq_trained",    // single-row broadcast trained-codebook crossJoin (map-side coding)
      "sql_vec_cosine",    // inequality-only join predicate by design
      "join_cross_small",  // deliberate cross of two tiny dims
      "q22_idle_rich",     // single-row broadcast scalar-subquery crossJoin
      "text_perplexity",   // single-row broadcast model-map crossJoin
      "text_bm25",         // single-row broadcast corpus-stats crossJoin
      "text_hybrid_search", // single-row query-vector + corpus-stats crossJoins
      "pipeline_mixture",  // single-row broadcast grand-total crossJoin
      "pipeline_temp_resample", // two single-row broadcast scalar crossJoins
      "text_tfidf",        // single-row broadcast corpus-size crossJoin
      "text_collocations", // two single-row broadcast total crossJoins
      "dedup_simhash_near", // single-row broadcast fp-dictionary crossJoin (kernel lookups)
      "agg_topk_sketch",   // single-row broadcast MG-sketch crossJoin
      "pipeline_zorder_plan") // single-row broadcast tile-bounds crossJoin
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
      if (!documented(name) &&
        (plan.contains("BroadcastNestedLoopJoin") || plan.contains("CartesianProduct")))
        Some(name)
      else None
    }
    assert(offenders.isEmpty, s"unexpected non-equi joins in: $offenders")
  }

  test("AQE splits a skewed join partition at runtime (skew=true in executed plan)") {
    // one hot key holds ~80% of the big side; with test-scale thresholds
    // AQE's OptimizeSkewedJoin must split that partition instead of
    // letting one task drag the stage — the runtime half of the skew
    // story next to Skew.saltedJoin's explicit salting.
    import spark.implicits._
    val keys = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k)).toMap
    spark.conf.set(keys(0), "65536")
    spark.conf.set(keys(1), "2")
    spark.conf.set(keys(2), "32768")
    spark.conf.set(keys(3), "-1") // force SMJ so the skew rule applies
    try {
      val big = (1 to 120000)
        .map(i => (if (i % 5 != 0) 1L else (i % 997).toLong, s"payload_value_$i"))
        .toDF("k", "v")
      val dim = (0L to 1000L).map(k => (k, s"dim_$k")).toDF("k2", "d")
      val j = big.join(dim, $"k" === $"k2")
      j.collect() // materialize THIS QueryExecution (a sink write would plan its own)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), plan.take(3000))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("runtime bloom filter prunes the fact side of a selective dim join") {
    // At 100 TB the win is dropping fact rows BEFORE the shuffle when the
    // dim side is selective: Spark's InjectRuntimeFilter builds a bloom
    // filter from the filtered dim keys and applies bloom_filter_might_contain
    // to the fact scan. Thresholds are lowered to test scale; broadcast is
    // disabled because the rule targets shuffle joins (a broadcast join
    // already prunes at the hash table).
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k)).toMap
    spark.conf.set(keys(0), "true")
    spark.conf.set(keys(1), "1") // driver parquet is far below the 10GB default
    spark.conf.set(keys(2), "-1")
    try {
      val fact = Tables.lineitem(spark, sfDir)
      val dim = Tables.part(spark, sfDir).filter(
        org.apache.spark.sql.functions.col("p_size") === 1)
      val j = fact.join(dim,
        org.apache.spark.sql.functions.col("l_partkey") ===
          org.apache.spark.sql.functions.col("p_partkey"))
        .groupBy("p_brand").count()
      val optimized = j.queryExecution.optimizedPlan.toString
      assert(optimized.contains("bloom_filter_agg"), optimized.take(3000))
      assert(optimized.contains("might_contain"), optimized.take(3000))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("AQE coalesces post-shuffle partitions for a small aggregate output") {
    // shuffle.partitions is sized for the big stages; a 6-row aggregate
    // must not run 32 reduce tasks — AQE folds the near-empty partitions
    // into one read (at 100 TB this is what keeps small dimension-side
    // stages from wasting task slots)
    val df = Aggregates.pricingSummary(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AQEShuffleRead coalesced"), plan.take(3000))
  }

  test("text_perplexity: map-side scoring, no per-trigram join") {
    // the model rides a ONE-ROW broadcast (tri→count map + corpus total)
    // and each document scores itself with a codegen aggregate() over its
    // trigram array — at 100 TB the scoring path materializes zero
    // per-trigram rows and shuffles nothing but the bounded model build
    val df = Text.trigramPerplexity(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("trigramScore"), plan.take(3000)) // codegen kernel scoring
    assert(!plan.contains("BroadcastHashJoin"), plan.take(3000)) // no tri-key probe
    // exactly one cross in the executed plan (toString also prints the
    // pre-AQE initial plan — cut it off): the single-row model broadcast
    val finalPlan = plan.split("== Initial Plan ==").head
    assert("BroadcastNestedLoopJoin".r.findAllIn(finalPlan).size == 1, finalPlan.take(3000))
  }

  test("text_bm25: tokenization kernel runs once per branch, not per column") {
    // the tf columns extract from ONE termFreqs call; a composable form
    // (or a pushed-down tf predicate / inferred isnotnull constraint)
    // re-invokes the tokenizer per column at the scan — this pins the
    // one-call-per-branch shape (stats branch + scoring branch)
    val df = Text.bm25Retrieval(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val n = "termFreqs".r.findAllIn(plan).size
    assert(n <= 2, s"termFreqs appears $n times:\n${plan.take(3000)}")
  }

  test("text_repetition: one repStats kernel call, no shuffle, no join") {
    // the four stat columns extract from ONE repStats call and the query
    // is pure map-side until the final sort — no bigram explode, no
    // (doc, bigram) aggregate, no join back
    val df = Text.repetitionFilter(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val n = "repStats".r.findAllIn(plan).size
    assert(n == 1, s"repStats appears $n times:\n${plan.take(3000)}")
    assert(!plan.contains("Generate"), plan.take(3000)) // no explode
    assert(!plan.contains("Join"), plan.take(3000))
    // only the output orderBy may exchange on data (the other exchange is
    // Tables.spread's round-robin source fan-out, not query work)
    val ex = "ENSURE_REQUIREMENTS".r.findAllIn(plan).size
    assert(ex <= 1, s"$ex required exchanges:\n${plan.take(3000)}")
  }

  test("text_hybrid_search: rank windows run on pre-limited top-k inputs") {
    // each RRF leg must cut to its top-100 (TakeOrderedAndProject) BEFORE
    // its rank window — a Window over the unlimited corpus would be the
    // unbounded-single-partition shape this query exists to avoid; and the
    // bm25 leg keeps the one-kernel-call-per-branch guarantee
    val df = Text.hybridSearch(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val n = "termFreqs".r.findAllIn(plan).size
    assert(n <= 2, s"termFreqs appears $n times:\n${plan.take(3000)}")
    // 3 TakeOrdered: lex top-100, vec top-100, fused top-20; 2 Windows
    assert("TakeOrderedAndProject".r.findAllIn(plan).size == 3, plan.take(3000))
    assert("Window".r.findAllIn(plan).size == 2, plan.take(3000))
  }

  test("join_asof: union+window merge-scan has NO join operator") {
    val plan = executedPlan(AsOf.eventAsof(spark, sfDir))
    assert(!plan.contains("Join"), plan.take(2000))
    assert(plan.contains("Window"))
  }

  test("join_asof_nearest: backward+forward frames share one exchange, no join") {
    // merge-scan contract: 1 window exchange (user_id) + 1 final orderBy
    // range exchange — the nearest variant must not cost more than either
    // one-sided form
    assert(shuffleCount(AsOf.eventAsofNearest(spark, sfDir)) <= 2)
    val plan = executedPlan(AsOf.eventAsofNearest(spark, sfDir))
    assert(!plan.contains("Join"), plan.take(2000))
  }

  test("ev_attribution: union merge-scan — no join operator, bounded shuffles") {
    // ONE user_id shuffle for the carry-forward window, one channel
    // rollup, one output sort; a join-based attribution would add a
    // second keyed shuffle that skews on hot users at scale
    assert(shuffleCount(EventTime.lastTouchAttribution(spark, sfDir)) <= 3)
    val plan = executedPlan(EventTime.lastTouchAttribution(spark, sfDir))
    assert(!plan.contains("Join"), plan.take(2000))
  }

  test("scd2_build: both window passes share ONE custkey exchange") {
    // lag (change points) and lead (interval close) run under the same
    // partitioning: 1 window exchange + 1 final orderBy range exchange;
    // the change-point filter must not re-shuffle between them
    assert(shuffleCount(Windows.scd2Intervals(spark, sfDir)) <= 2)
    val plan = executedPlan(Windows.scd2Intervals(spark, sfDir))
    assert(!plan.contains("Join"), plan.take(2000))
    // AQE prints Final + Initial plans — count Window nodes in the final only
    val finalPlan = plan.split("== Initial Plan ==").head
    assert("Window".r.findAllIn(finalPlan).size == 2, finalPlan.take(3000))
  }

  test("pipeline_shard: map-side shard assignment, one aggregate exchange") {
    // md5 shard id must stay a projection over the scan — the shuffles
    // are Tables.documents' spread() repartition (single-file scan
    // guard, a no-op on real multi-split inputs), the 64-row manifest
    // aggregate, and the output sort
    assert(shuffleCount(Text.shardManifest(spark, sfDir)) <= 3)
    val plan = executedPlan(Text.shardManifest(spark, sfDir))
    assert(!plan.contains("Join"), plan.take(2000))
  }

  test("text_tokens / dedup_bloom / graph_components: the final ORDER BY adds no range exchange") {
    // each exchanges its rows once, on the key its output is ordered by
    // (Tables.documentsByDocId's doc_id range, the bloom batch's doc_id
    // range, the label range before the component rollup), so the sort is
    // local: a rangepartitioning exchange planned by EnsureRequirements
    // would be a second shuffle, and its sampling job would replay the
    // projection
    for ((name, df) <- Seq("text_tokens" -> Text.tokenCounts(spark, sfDir),
      "dedup_bloom" -> Dedup.bloomDedup(spark, sfDir),
      "graph_components" -> Graph.components(spark, sfDir))) {
      val plan = executedPlan(df)
      assert("rangepartitioning\\([^\\n]*ENSURE_REQUIREMENTS".r.findFirstIn(plan).isEmpty,
        s"$name:\n${plan.take(3000)}")
      assert(plan.contains("rangepartitioning"), s"$name:\n${plan.take(3000)}")
    }
  }

  test("pipeline_split: one hash exchange on fp, one SinglePartition exchange, no join") {
    val plan = executedPlan(Dedup.leakSafeSplit(spark, sfDir))
      .split("== Initial Plan ==").head
    val exchanges = "Exchange [a-zA-Z]+".r.findAllIn(plan).toSeq
    assert(exchanges == Seq("Exchange SinglePartition", "Exchange hashpartitioning"),
      plan.take(3000))
    assert("hashpartitioning\\(fp#".r.findAllIn(plan).size == 1, plan.take(3000))
    assert(!plan.contains("Join") && !plan.contains("Expand"), plan.take(3000))
  }

  test("graph_components: dense union-find rollup, no joins at all") {
    val df = Graph.components(spark, sfDir)
    val plan = executedPlan(df)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan.take(2000))
    // the dense one-pass union-find labels close on the driver and come
    // back as broadcast-array rows — the label rollup has NO join stage
    // (the loop path's per-round label equi-joins live in a separate
    // query execution there; here they don't exist at all)
    assert(!plan.contains("Join"), plan.take(2000))
    assert(plan.contains("SerializeFromObject"), plan.take(2000))
  }

  test("graph_components edge build: hash exchanges on ok then (a, b), one sort each, no aggregate") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{InputAdapter, SortExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case i: InputAdapter => unwrap(i.child)
      case w: WholeStageCodegenExec => unwrap(w.child)
      case other => other
    }
    // the build crosses into RDD space twice (the pair walk, then the
    // multiplicity count), so its stages are three query executions: the
    // order-sorted feed, the (a, b)-sorted pair stream, and the count's scan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val li = Tables.lineitem(spark, sfDir)
      val pairs = Graph.coPurchasePairs(li)
      val stages = Seq(Graph.orderPartsSorted(li), Graph.pairsSorted(pairs),
        Graph.repeatedPairs(pairs, 2)).map(_.queryExecution.executedPlan)
      val text = stages.map(_.toString).mkString("\n")
      assert(!text.contains("Aggregate"), text.take(4000)) // no (Object)HashAggregate at all
      val exchanges = stages.flatMap(_.collect { case e: ShuffleExchangeExec => e })
      val keys = exchanges.map(_.outputPartitioning match {
        case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name))
        case other => fail(s"not a hash exchange: $other")
      })
      assert(keys == Seq(Seq("ok"), Seq("a", "b")), text.take(4000))
      val sorts = stages.flatMap(_.collect { case s: SortExec => s })
      assert(sorts.size == 2, text.take(4000))
      assert(sorts.map(s => unwrap(s.child)) == exchanges, text.take(4000))
      assert(stages(2).toString.contains("Scan ExistingRDD"), stages(2).toString)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("cc loop path: checkpoint-truncated labels, equi-joins only") {
    import spark.implicits._
    // the partition-scaling fallback must still end on a materialized
    // (checkpointed) label table — the final select scans an RDD, not the
    // re-derived per-round lineage
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val df = Dedup.connectedComponentsLoop(edges, "a", "b")
    val plan = executedPlan(df)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan.take(2000))
    assert(plan.contains("ExistingRDD"), plan.take(2000))
  }
}
