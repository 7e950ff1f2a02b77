package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph analytics over derived edge sets — the Pregel-class
  * workload next to [[Dedup.connectedComponents]]'s label propagation
  * (beyond-reference; the reference has no iterative operators at all).
  *
  * Scale notes (the parts that must survive 100 TB):
  *   - the family's base artifact is the DISTINCT directed edge list
  *     ([[edges]]) — a ROW-level dedup with no per-key state at all —
  *     plus a count-aggregate degree table ([[degrees]], constant-size
  *     buffers) and a degree-CAPPED adjacency ([[cappedAdjacency]],
  *     bounded buffers via [[graft.functions.CappedCollect]]);
  *   - no driver path aggregates a full neighbor list: PageRank iterates
  *     the edge list itself ([[pageRankDenseEdges]] under the |V|
  *     ceiling, the declarative [[pageRank]] loop above it);
  *   - each PageRank iteration is one equi-join + one aggregation —
  *     contributions partial-aggregate map-side, so the per-iteration
  *     shuffle carries one (dst, partial sum) row per partition, not one
  *     row per edge;
  *   - lineage is truncated every `checkpointEvery` iterations
  *     (localCheckpoint by default; durable `checkpoint()` when
  *     `spark.graft.checkpointDir` is set — same fault-tolerance switch
  *     as connected components). Fixed iteration count → no convergence
  *     probe needed, so cadence > 1 trades plan depth for fewer jobs.
  */
object Graph {

  /** Target sort rows per partition of the wedge∪edge shuffle
    * ([[nbrTaggedSortedParts]]): ~8M rows ≈ 300 MB of external-sorter
    * footprint — small enough that a full complement of concurrent
    * sorters fits executor memory with room to spill, large enough that
    * the sf0.1/sf1 plans keep their historical core-count partitioning
    * (the count only grows past the core floor around 2.5×10⁸ wedges). */
  private val WedgeRowsPerPartition = 8000000L

  /** Directed co-purchase pairs, BOTH directions from one
    * [[coPurchasePairs]] walk, duplicate rows across orders allowed — the
    * raw feed the [[edges]] memo dedups once for the whole family. */
  private def coPurchaseDirected(spark: SparkSession, dir: String): DataFrame =
    coPurchasePairs(Tables.lineitem(spark, dir), bothDirections = true)
      .select(col("a").as("src"), col("b").as("dst"))

  /** The high-quantity (`l_quantity >= 25`) lineitem rows as (ok, pk),
    * hash-partitioned on the order key and sorted (ok, pk) inside each
    * partition: every order is one contiguous run of ascending part keys,
    * the input [[coPurchasePairs]] walks. Null part keys are dropped here
    * (they pair with nothing); a null order key is a key like any other,
    * so its rows form ONE run — the grouping a `groupBy(ok)` gives them. */
  private[graft] def orderPartsSorted(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(col("l_quantity") >= 25 && col("l_partkey").isNotNull)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .repartition(shufflePartitions(lineitem.sparkSession), col("ok"))
      .sortWithinPartitions("ok", "pk")

  /** Each order's distinct co-purchased part pairs (a, b), a < b, once
    * per order (and (b, a) as well under `bothDirections`): a run walk
    * over [[orderPartsSorted]] that holds one order's distinct parts as
    * its only state and emits their C(n,2) pairs through one reused
    * output row. No list aggregate buffers an order, and no per-pair
    * object is allocated; the pair rows still carry order multiplicity,
    * so counting equal rows counts DISTINCT orders. */
  private[graft] def coPurchasePairs(lineitem: DataFrame,
                                     bothDirections: Boolean = false): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
    import org.apache.spark.sql.types._
    val session = lineitem.sparkSession
    val rdd = org.apache.spark.sql.graft.bridge.toInternalRdd(orderPartsSorted(lineitem))
      .mapPartitions { it =>
        new Iterator[InternalRow] {
          private val out = new SpecificInternalRow(Seq(LongType, LongType))
          private var parts = new Array[Long](16)
          private var n = 0 // distinct parts of the order being emitted
          // next pair: (parts(i), parts(j)), reversed first when `flip`
          private var i = 0
          private var j = 1
          private var flip = false
          // the row after the current order, copied out of the (reused) input row
          private var started = false
          private var ahead = false
          private var aheadNull = false
          private var aheadOk = 0L
          private var aheadPk = 0L
          private def readAhead(): Unit = {
            ahead = it.hasNext
            if (ahead) {
              val r = it.next()
              aheadNull = r.isNullAt(0)
              aheadOk = if (aheadNull) 0L else r.getLong(0)
              aheadPk = r.getLong(1)
            }
          }
          private def nextOrder(): Boolean = {
            if (!started) { readAhead(); started = true }
            if (!ahead) return false
            val okNull = aheadNull
            val ok = aheadOk
            n = 0
            while (ahead && aheadNull == okNull && aheadOk == ok) {
              if (n == 0 || parts(n - 1) != aheadPk) {
                if (n == parts.length) parts = java.util.Arrays.copyOf(parts, 2 * n)
                parts(n) = aheadPk
                n += 1
              }
              readAhead()
            }
            i = 0; j = 1; flip = false
            true
          }
          def hasNext: Boolean = {
            while (i >= n - 1) if (!nextOrder()) return false
            true
          }
          def next(): InternalRow = {
            if (!hasNext) throw new NoSuchElementException
            if (flip) {
              out.setLong(0, parts(j)); out.setLong(1, parts(i)); flip = false
            } else {
              out.setLong(0, parts(i)); out.setLong(1, parts(j)); flip = bothDirections
            }
            if (!flip) {
              j += 1
              if (j == n) { i += 1; j = i + 1 }
            }
            out
          }
        }
      }
    org.apache.spark.sql.graft.bridge.fromInternalRdd(session, rdd,
      StructType(Seq(StructField("a", LongType, nullable = false),
        StructField("b", LongType, nullable = false))))
  }

  /** A (a, b) pair stream hash-partitioned on (a, b) and sorted (a, b)
    * inside each partition: equal pairs form one run, the input
    * [[repeatedPairs]] counts. */
  private[graft] def pairsSorted(pairs: DataFrame): DataFrame =
    pairs.repartition(shufflePartitions(pairs.sparkSession), col("a"), col("b"))
      .sortWithinPartitions("a", "b")

  /** The distinct non-null long pairs (a, b) that occur at least
    * `minCount` times in `pairs`: a run-length count over [[pairsSorted]]
    * — one counter of state, one reused output row, no hash aggregate.
    * A sort plus run walk beats a hash aggregate here because the pair
    * stream barely reduces (most pairs occur once), so a partial
    * aggregate only pays for its map. */
  private[graft] def repeatedPairs(pairs: DataFrame, minCount: Long): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
    import org.apache.spark.sql.types._
    val session = pairs.sparkSession
    val rdd = org.apache.spark.sql.graft.bridge.toInternalRdd(pairsSorted(pairs))
      .mapPartitions { it =>
        new Iterator[InternalRow] {
          private val out = new SpecificInternalRow(Seq(LongType, LongType))
          private var started = false
          private var ahead = false
          private var aheadA = 0L
          private var aheadB = 0L
          private def readAhead(): Unit = {
            ahead = it.hasNext
            if (ahead) { val r = it.next(); aheadA = r.getLong(0); aheadB = r.getLong(1) }
          }
          // the next kept pair, written to `out` only when the consumer asks
          private var ready = false
          private var keptA = 0L
          private var keptB = 0L
          def hasNext: Boolean = {
            if (!started) { readAhead(); started = true }
            while (!ready && ahead) {
              val a = aheadA
              val b = aheadB
              var c = 0L
              while (ahead && aheadA == a && aheadB == b) { c += 1; readAhead() }
              if (c >= minCount) { keptA = a; keptB = b; ready = true }
            }
            ready
          }
          def next(): InternalRow = {
            if (!hasNext) throw new NoSuchElementException
            ready = false
            out.setLong(0, keptA); out.setLong(1, keptB)
            out
          }
        }
      }
    org.apache.spark.sql.graft.bridge.fromInternalRdd(session, rdd,
      StructType(Seq(StructField("a", LongType, nullable = false),
        StructField("b", LongType, nullable = false))))
  }

  /** Memoized DISTINCT directed edge list (src, dst) — the graph family's
    * base artifact, and the scale-safest shape a graph can take: the
    * dedup is ROW-level (no per-key membership buffer of any kind), so no
    * input skew, hub, or mega-degree node can concentrate state anywhere.
    * Every other family artifact ([[degrees]], [[cappedAdjacency]])
    * derives from this flat scan.
    *
    * Shape: ONE hash exchange on src (an explicit numPartitions
    * repartition AQE cannot coalesce — same block-count reasoning as the
    * old adjacency memo: consumers inherit block count as task count), an
    * in-partition (src, dst) sort, and a lag-window duplicate drop that
    * reuses that exact partitioning + ordering — Catalyst inserts no
    * second exchange or sort (PlanShapeSpec pins it). The src-clustered,
    * sorted PHYSICAL layout survives the checkpoint (Catalyst forgets the
    * partitioning metadata across a LogicalRDD, so downstream aggregates
    * still plan an exchange over the already-clustered rows — small and
    * one-time per memoized artifact), and the edge-native dense PageRank
    * reads the blocks directly, run-caching its per-src dictionary
    * lookup off the preserved sort order. */
  def edges(spark: SparkSession, dir: String): DataFrame =
    PlanMemo.getOrBuild(spark, dir, "graph.edges")(
      distinctEdgesDf(coPurchaseDirected(spark, dir)))

  /** The [[edges]] memo's build body over any duplicate-bearing directed
    * feed: one explicit hash exchange on src, one in-partition (src, dst)
    * sort, then a lag-window duplicate drop that REUSES that exact
    * partitioning + ordering — Catalyst inserts no second exchange or
    * sort for the window (PlanShapeSpec pins one exchange, one sort). */
  private[graft] def distinctEdgesDf(directed: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("src")).orderBy(col("dst"))
    directed
      .repartition(shufflePartitions(directed.sparkSession), col("src"))
      .sortWithinPartitions("src", "dst")
      .withColumn("prev", lag(col("dst"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("dst"))
      .select(col("src"), col("dst"))
  }

  private def shufflePartitions(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** Memoized degree table (node, deg) over [[edges]] — a COUNT
    * aggregate, so the per-group state is one counter regardless of
    * degree (contrast a list aggregate, whose buffer grows with the hub).
    * Feeds [[degreeDistribution]], the orientation joins of
    * [[triangleCounts]], and [[pagerankTop]]'s degree dictionary. */
  def degrees(spark: SparkSession, dir: String): DataFrame =
    degreesObserved(spark, dir)._1

  /** The [[degrees]] memo with |V| (its rows) and |E| (Σ deg = the
    * distinct directed edge count), both observed on the memo's own
    * materialization — the figures the family's size gates read. */
  private[graft] def degreesObserved(spark: SparkSession, dir: String): (DataFrame, Long, Long) =
    degreeFigures(PlanMemo.getOrBuildObserved(spark, dir, "graph.degrees", degreeStats: _*)(
      degreesDf(edges(spark, dir))))

  /** The [[degrees]] memo's build body over a distinct directed edge list. */
  private def degreesDf(edges: DataFrame): DataFrame =
    edges.groupBy(col("src"))
      .agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg"))

  /** |V| (rows) and |E| (Σ deg), observed on a [[degreesDf]] materialization. */
  private def degreeStats: Seq[Column] = Seq(count(lit(1)), sum(col("deg")))

  private def degreeFigures(observed: (DataFrame, Row)): (DataFrame, Long, Long) =
    (observed._1, observed._2.getLong(0), Dedup.longStat(observed._2, 1))

  /** Memoized degree-CAPPED adjacency (src, ids): only nodes with degree
    * ≤ maxDeg carry a row, and the cap is enforced INSIDE the aggregation
    * ([[graft.functions.CappedCollect]] via [[Dedup.cappedBuckets]]) — a
    * mega-degree hub never materializes its membership in any buffer, on
    * any partition, at any phase; its partial buffers free themselves the
    * moment the count crosses maxDeg. This is the adjacency the QUADRATIC
    * consumer ([[neighborJaccard]]'s C(d,2) wedge kernel) reads — its
    * > maxDeg hubs were always excluded semantically; now they are
    * excluded before a buffer exists, the same round-14 rule as the LSH
    * bucket families. [[edges]] is duplicate-free by construction, which
    * is exactly the CappedCollect input contract. */
  def cappedAdjacency(spark: SparkSession, dir: String, maxDeg: Int = 256): DataFrame =
    cappedAdjacencyObserved(spark, dir, maxDeg)._1

  /** The [[cappedAdjacency]] memo with its [[keptStats]] (Σ d(d+1)/2,
    * Σ d) observed on the memo's own materialization. */
  private[graft] def cappedAdjacencyObserved(spark: SparkSession, dir: String,
                                             maxDeg: Int): (DataFrame, Row) =
    PlanMemo.getOrBuildObserved(spark, dir, s"graph.adjacency.capped.$maxDeg", keptStats: _*)(
      cappedAdjacencyDf(edges(spark, dir), maxDeg))

  /** The [[cappedAdjacency]] memo's build body over any duplicate-free
    * directed edge list. Pinned at shuffle-partition count (an explicit
    * numPartitions repartition AQE cannot override): the adjacency is
    * tiny BY BYTES, so AQE's size-based coalesce would checkpoint it as
    * ~3 blocks — and the C(d,2) pair kernel of [[neighborJaccard]]
    * inherits block count as task count, capping a quadratic compute
    * stage at 3 of 32 cores. Partition the COMPUTE a row fans out to, not
    * its bytes. */
  private[graft] def cappedAdjacencyDf(edges: DataFrame, maxDeg: Int): DataFrame =
    Dedup.cappedBuckets(edges, Seq("src"), "dst", lo = 1, hi = maxDeg)
      .repartition(shufflePartitions(edges.sparkSession), col("src"))

  /** Simplified PageRank (uniform teleport, unnormalized: r' = (1−d) +
    * d·Σ_in r/outdeg — the textbook power-iteration form) over the nodes
    * that carry at least one out-edge. Fixed `iters` rounds keeps the
    * result deterministic and cross-engine reproducible. */
  def pageRank(edges: DataFrame, iters: Int = 6, d: Double = 0.85,
               checkpointEvery: Int = 3): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // static side: partition on the propagation key once, reuse every round
    val e = edges.repartition(col("src")).persist(StorageLevel.MEMORY_AND_DISK)
    val ranks0 = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .select(col("src").as("node"), col("outdeg"), lit(1.0).as("rank"))
    powerIterate(e, ranks0, iters, d, checkpointEvery, Seq(e))
  }

  /** treeReduce depth for the dense power-iteration partials: the tree
    * level exists only to bound DRIVER ingress (nPart × nV × 8 B of
    * partial vectors arrive at once under a flat reduce). Below a 256 MB
    * bound a flat reduce (depth 1) is safe and saves the tree's extra
    * aggregation stage on EVERY iteration — at bench-scale dictionaries
    * (32 partitions × ~20k nodes ≈ 5 MB) that is 6 stages per query of
    * pure scheduling overhead. Above the bound the 2-level tree stays:
    * under the denseMaxNodes gate (5·10⁷ nodes → 400 MB per partial) a
    * wide cluster's partial fan-in must merge on executors first.
    * Summation ORDER differs between the two shapes — same class of
    * variation as the partition-accumulation order itself, absorbed by
    * the caller's 4-decimal rounding (GraphSpec pins 1e-9 parity). */
  private def reduceDepth(nPart: Int, nV: Int): Int =
    if (nPart.toLong * nV * 8 <= (256L << 20)) 1 else 2

  /** [[pageRank]]'s power iteration with the contribution vector
    * (rank/deg per node) as a BROADCAST dense array, over the DISTINCT
    * EDGE LIST: each round is one job — a per-partition dense
    * accumulation (each edge adds contrib(src) to dst's slot) and a
    * treeReduce of the ≤ nPart partial vectors. Removes the loop's
    * per-round hash aggregate, two |V|-row join shuffles and lineage
    * checkpoint; the driver holds 2-3 vectors (8 B/node) and each round
    * re-broadcasts one. No neighbor list is aggregated anywhere.
    *
    * The edges are resolved against the sorted node dictionary ONCE, into
    * per-partition primitive (src, dst) index arrays persisted for the
    * rounds (8 B/edge; the [[edges]] memo is sorted by src, so the src
    * search run-caches to one per distinct src). Rounds then read ints
    * with no search and no row decoding — decoding the edge memo's rows
    * every round dominates once its blocks spill to disk (sf10, 4 cores,
    * 8 GB driver: 188 s per query against 135 s with the index).
    *
    * Update-rule equivalence with [[pageRank]]: ranks are kept for src
    * nodes only; contributions to sink nodes (dst never a src) are
    * dropped by the binary-search miss exactly where the loop's left-join
    * drops them; nodes receiving no contribution get the (1-d) teleport
    * floor from the zero-initialized accumulator. Same per-node
    * contribution multiset — summation ORDER differs (partition
    * accumulation + tree merge vs hash-aggregate order), absorbed by
    * [[pagerankTop]]'s 4-decimal rounding (GraphSpec pins 1e-9 relative
    * parity with the loop). */
  private[graft] def pageRankDenseEdges(edges: DataFrame, degrees: DataFrame,
                                        iters: Int = 6, d: Double = 0.85): DataFrame = {
    val spark = edges.sparkSession
    val sc = spark.sparkContext
    // sorted (node, deg) dictionary — the same driver-side
    // materialization class as neighborJaccard's degree dictionary;
    // reached only under [[pagerankTop]]'s |V| gate, so the collect is
    // pre-bounded by denseMaxNodes
    val dict = degrees.select(col("node"), col("deg")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val nV = dict.length
    val nodes = new Array[Long](nV)
    val degs = new Array[Long](nV)
    var k = 0
    while (k < nV) { nodes(k) = dict(k)._1; degs(k) = dict(k)._2; k += 1 }
    val nodesB = sc.broadcast(nodes)
    val base = org.apache.spark.sql.graft.bridge.toInternalRdd(
      edges.select(col("src"), col("dst")))
    // sinks (dst never a src) miss the dictionary and are dropped here
    val index = base.mapPartitions { it =>
      val ns = nodesB.value
      val srcs = scala.collection.mutable.ArrayBuilder.make[Int]
      val dsts = scala.collection.mutable.ArrayBuilder.make[Int]
      var lastSrc = 0L
      var lastSi = 0
      var cached = false
      while (it.hasNext) {
        val r = it.next()
        val s = r.getLong(0)
        if (!cached || s != lastSrc) {
          lastSi = java.util.Arrays.binarySearch(ns, s)
          lastSrc = s
          cached = true
        }
        val t = java.util.Arrays.binarySearch(ns, r.getLong(1))
        if (t >= 0) { srcs += lastSi; dsts += t }
      }
      Iterator.single((srcs.result(), dsts.result()))
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var ranks = Array.fill(nV)(1.0)
    var i = 0
    while (i < iters) {
      val contrib = new Array[Double](nV)
      var j = 0
      while (j < nV) { contrib(j) = ranks(j) / degs(j); j += 1 }
      val contribB = sc.broadcast(contrib)
      val msum = index.map { case (srcs, dsts) =>
        val c = contribB.value
        val acc = new Array[Double](c.length)
        var e = 0
        while (e < srcs.length) { acc(dsts(e)) += c(srcs(e)); e += 1 }
        acc
      }.treeReduce({ (a, b) =>
        var j = 0; while (j < a.length) { a(j) += b(j); j += 1 }; a
      }, depth = reduceDepth(index.getNumPartitions, nV))
      contribB.unpersist(blocking = false)
      val next = new Array[Double](nV)
      j = 0
      while (j < nV) { next(j) = (1.0 - d) + d * msum(j); j += 1 }
      ranks = next
      i += 1
    }
    index.unpersist(blocking = false)
    // final ranks go out as a broadcast (mirroring the idsB/labelsB shape
    // of the dense CC) — capturing the array in the task closure would
    // serialize 8 B/node into EVERY task binary instead of once per
    // executor over the torrent
    val finalB = sc.broadcast(ranks)
    spark.createDataFrame(
      sc.parallelize(nodes.indices, math.min(shufflePartitions(spark), math.max(1, nV)))
        .map(j => (nodesB.value(j), finalB.value(j))))
      .toDF("node", "rank")
  }

  /** The shared power-iteration loop. outdeg rides INSIDE the rank table
    * (node, outdeg, rank): contributions become a pure map-side
    * projection and the only per-round joins are the big e⋈contribs
    * equi-join plus the tiny rank⋈summed re-attach — one fewer join per
    * round than keeping a separate degree table (the extra 8 bytes/row
    * shuffled are nothing next to a whole join stage). `static` lists the
    * caches to release once the final ranks are checkpointed. */
  private def powerIterate(e: DataFrame, ranks0: DataFrame, iters: Int,
                           d: Double, checkpointEvery: Int,
                           static: Seq[DataFrame]): DataFrame = {
    var ranks = ranks0
    var i = 0
    while (i < iters) {
      val contribs = ranks.select(col("node").as("src"),
        (col("rank") / col("outdeg")).as("contrib"))
      val summed = e.join(contribs, Seq("src"))
        .groupBy(col("dst")).agg(sum(col("contrib")).as("msum"))
      ranks = ranks.select(col("node"), col("outdeg"))
        .join(summed.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select(col("node"), col("outdeg"),
          (lit(1.0 - d) + lit(d) * coalesce(col("msum"), lit(0.0))).as("rank"))
      i += 1
      // eager lineage cut every `checkpointEvery` rounds — reliable
      // checkpoint when configured, localCheckpoint otherwise (shared
      // persist-bracketed helper)
      if (i % checkpointEvery == 0 || i == iters) ranks = Dedup.truncate(ranks)
    }
    // the final ranks are checkpointed (i == iters above), so the static
    // caches are no longer reachable from the result — release them rather
    // than leaking one cached DataFrame per call into long-lived sessions
    // (Bench clears caches between queries, library callers don't).
    static.foreach(_.unpersist(blocking = false))
    ranks.select(col("node"), col("rank"))
  }

  /** Degree distribution of the co-purchase graph in log2 buckets — the
    * first thing anyone profiles before picking caps (the 256-degree
    * wedge cap of [[neighborJaccard]] was sized from exactly this view).
    * Consumes the memoized [[degrees]] COUNT table — no neighbor list is
    * built or scanned anywhere in this plan, so the marginal cost is one
    * ≤|V|-row aggregate over constant-size buffers. Buckets come from the
    * binary-string length of the degree — floor(log2(d)) computed in
    * EXACT integer space, because FP log2 of a power of two can land an
    * ulp below the integer and flip the bucket differently per engine. */
  def degreeDistribution(spark: SparkSession, dir: String): DataFrame =
    degrees(spark, dir)
      .select(col("deg"))
      .withColumn("bucket", (length(conv(col("deg"), 10, 2)) - 1).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("deg")).as("min_deg"),
        max(col("deg")).as("max_deg"),
        sum(col("deg")).as("sum_deg"))
      .orderBy("bucket")

  /** Driver query: top 25 parts by co-purchase PageRank. Ordered by the
    * ROUNDED rank (ties broken by part id) so the top-k cut line never
    * depends on a last-ulp summation difference between engines.
    *
    * Path choice, by |V| alone (both paths produce the same contribution
    * multiset — GraphSpec pins them within 1e-9 relative): within the
    * [[Dedup.DenseMaxNodesKey]] ceiling the broadcast-vector
    * [[pageRankDenseEdges]], past it the declarative edge-list
    * [[pageRank]] loop, which scales with partitions, not driver memory.
    * Both read the [[edges]] / [[degrees]] memos; no neighbor list is
    * ever aggregated. */
  def pagerankTop(spark: SparkSession, dir: String): DataFrame = {
    val (degs, nodes, _) = degreesObserved(spark, dir)
    val ranks =
      if (nodes <= Dedup.denseMaxNodes(spark)) pageRankDenseEdges(edges(spark, dir), degs)
      else pageRank(edges(spark, dir))
    ranks
      .select(col("node").as("part_id"), round(col("rank"), 4).as("rank"))
      .orderBy(desc("rank"), col("part_id"))
      .limit(25)
  }

  /** Link prediction — top 50 NON-adjacent part pairs by neighbor-set
    * Jaccard |N(u)∩N(v)| / |N(u)∪N(v)| (the classic common-neighbors
    * feature): pairs of parts never bought together whose co-purchase
    * neighborhoods overlap most — recommendation candidates.
    *
    * Scale shape: the same capped inverted-index discipline as the dedup
    * family, with "document" = node and "feature" = neighbor — common
    * counts come from per-intermediate pair expansion via the
    * [[graft.functions.GraftFunctions.sortedLongPairs]] JVM kernel (one
    * static call per adjacency row; a transform/slice pair explosion
    * evaluates its lambdas interpreted, measured ~2× slower on these
    * ~maxDeg-element rows, and a self-join on w emits twice the rows), with intermediates
    * above `maxDeg` excluded INSIDE the adjacency aggregation itself
    * ([[cappedAdjacency]] — a hub's d² wedge explosion is the scale
    * killer; excluding it mirrors MaxDf, and since round 15 its
    * membership never even buffers). Existing edges are excluded inside
    * the wedge count's run-length pass (tagged straight off the [[edges]]
    * memo); the cut is by ROUNDED score with id tie-breaks
    * (cross-engine-stable line). */
  def neighborJaccard(spark: SparkSession, dir: String, maxDeg: Int = 256): DataFrame = {
    val nodes = degreesObserved(spark, dir)._2
    Dedup.truncate(neighborJaccardPartsPlan(cappedAdjacency(spark, dir, maxDeg),
      edges(spark, dir), nodes, nbrWedgeRows(spark, dir, maxDeg)))
  }

  /** [[neighborJaccard]] over any directed edge list covering both
    * directions of each undirected edge (self-loop-free; duplicate rows
    * allowed — [[distinctEdgesDf]] drops them). Builds the driver's three
    * memo artifacts over `directed` with the memos' own build functions
    * and observed figures (distinct edges, degree table, capped adjacency
    * — each eagerly materialized, not memoized) and runs the same parts
    * plan, so its output equals the driver query's on the same graph. */
  def neighborJaccardDf(directed: DataFrame, maxDeg: Int = 256): DataFrame = {
    val edges = Dedup.truncate(distinctEdgesDf(directed))
    val (_, nodes, edgeTotal) = degreeFigures(Dedup.truncateObserved(degreesDf(edges), degreeStats: _*))
    val (capped, kept) = Dedup.truncateObserved(cappedAdjacencyDf(edges, maxDeg), keptStats: _*)
    Dedup.truncate(neighborJaccardPartsPlan(capped, edges, nodes, wedgeRows(kept, edgeTotal)))
  }

  /** Σ d(d+1)/2 and Σ d over the kept adjacency rows' degrees `d`: the
    * kept nodes' C(d,2) wedges + d edge tags, and their edge tags alone —
    * the terms of the [[nbrTaggedSortedParts]] row estimate, observed on
    * the capped adjacency's materialization. BIGINT before multiplying:
    * with int arithmetic a caller-supplied maxDeg ≥ 46341 lets d*(d+1)
    * overflow negative and nPart silently collapse to the core floor. */
  private def keptStats: Seq[Column] = {
    val d = size(col("ids"))
    Seq(sum(d.cast("bigint") * (d + 1) / 2).cast("long"), sum(d.cast("bigint")).cast("long"))
  }

  /** The wedge∪edge row count [[nbrTaggedSortedParts]] sizes nPart from:
    * the kept rows plus the edge tags of the degree-capped hubs,
    * |E| − Σ_kept d (`kept` holds the two [[keptStats]]). The hub term
    * is clamped at 0: an inconsistent caller (edgeTotal < Σ_kept d) must
    * not produce a negative term that silently collapses nPart to the
    * core floor — that re-creates the exact UNABLE_TO_ACQUIRE_MEMORY
    * failure the volume-scaled count exists to prevent. */
  private def wedgeRows(kept: Row, edgeTotal: Long): Long =
    Dedup.longStat(kept, 0) + math.max(0L, edgeTotal - Dedup.longStat(kept, 1))

  /** [[wedgeRows]] of the driver's nbr-Jaccard at `maxDeg`: the
    * capped-adjacency memo's observed kept terms and the degree memo's
    * observed |E|. */
  private[graft] def nbrWedgeRows(spark: SparkSession, dir: String, maxDeg: Int = 256): Long =
    wedgeRows(cappedAdjacencyObserved(spark, dir, maxDeg)._2, degreesObserved(spark, dir)._3)

  /** Restricted degrees over the retained feature space: sz(u) = number of
    * KEPT intermediates adjacent to u (explode kept adjacency, count by the
    * exploded neighbor — Σ_kept d_x rows partial-aggregated map-side).
    * `keptAdj` rows are already degree-capped (a capped adjacency). */
  private[graft] def nbrSizesKept(keptAdj: DataFrame): DataFrame =
    keptAdj
      .select(explode(col("ids")).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("sz"))

  /** NOTE on eagerness: the size figures arrive as arguments, observed
    * on the degree and capped-adjacency materializations, so the only job
    * plan CONSTRUCTION runs here is the dictionary path's sizes
    * collect+broadcast (the algorithm's own driver dictionary): building
    * this DataFrame (explain, plan dumps, tests) already executes it; the
    * driver entry immediately truncate-materializes anyway, so query
    * execution pays nothing extra. Each call's broadcast lives until the ContextCleaner collects
    * the unreferenced plan (CacheHygieneSpec pins that nothing persisted
    * survives).
    *
    * Parts contract: `keptAdj` = (src, ids) rows for degree-≤-maxDeg
    * nodes ONLY; `edges` = ALL distinct directed edges (hub edges
    * included — they tag existing pairs in the run-length pass, so a
    * hub-adjacent candidate pair is still suppressed correctly); `nodes`
    * = |V|, which gates the broadcast-dictionary path; `estRows` = the
    * wedge∪edge row estimate ([[wedgeRows]]) that sizes the wedge
    * shuffle.
    *
    * The gate picks how restricted degrees re-attach to the scored
    * pairs: within [[Dedup.DenseMaxNodesKey]] the dictionary fold into
    * [[rleWedgeTopK]] below; past it the two-equi-join form (each a
    * ~|V|-row broadcast onto the full pair table), for vertex
    * dictionaries that outgrow broadcastability at extreme graph sizes.
    * Both produce identical output (GraphSpec pins it). */
  private[graft] def neighborJaccardPartsPlan(keptAdj: DataFrame, edges: DataFrame,
                                              nodes: Long, estRows: Long): DataFrame = {
    val sizes = nbrSizesKept(keptAdj)
    if (nodes <= Dedup.denseMaxNodes(keptAdj.sparkSession)) {
      // Dictionary path: the ~|V|-row sizes table becomes two
      // sorted primitive arrays broadcast into the run-length pass, which
      // scores each surviving run IN PLACE and keeps a per-partition
      // top-50 under the exact output order (rounded score desc, ids) —
      // no pair row ever leaves the kernel. The former shape
      // re-materialized the ~10⁸-row commons stream into a second codegen
      // stage (crossJoin-dictionary lookups + TakeOrdered over every
      // pair); profiled at 4-26 s of the sf1 wall — work this fold does
      // for ~0 marginal cost, since the run-length pass already holds
      // (pair, common) in registers when a run closes. The driver-side
      // dictionary build is the SAME materialization the former Catalyst
      // broadcast performed internally (BroadcastExchange collects its
      // child to the driver too) — and the |V| gate above keeps it
      // inside denseMaxNodes (16 B/node), falling back to the
      // two-equi-join path beyond. Broadcast blocks are reclaimed by
      // the ContextCleaner once the plan is unreferenced
      // (CacheHygieneSpec pins that nothing persisted survives).
      val spark = keptAdj.sparkSession
      val pairs = sizes.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val dict = spark.sparkContext.broadcast((pairs.map(_._1), pairs.map(_._2)))
      rleWedgeTopK(nbrTaggedSortedParts(keptAdj, edges, estRows), dict, 50)
        .orderBy(desc("nbr_jaccard"), col("part_a"), col("part_b"))
        .limit(50) // merge of the ≤ nPart·50 partition survivors
    } else {
      val commons = rleWedgeCount(nbrTaggedSortedParts(keptAdj, edges, estRows))
        .select(shiftrightunsigned(col("uv"), 32).as("u"),
          col("uv").bitwiseAND(lit(4294967295L)).as("v"), col("common"))
      commons
        .join(sizes.select(col("node").as("u"), col("sz").as("sz_u")), Seq("u"))
        .join(sizes.select(col("node").as("v"), col("sz").as("sz_v")), Seq("v"))
        .select(col("u").as("part_a"), col("v").as("part_b"),
          round(col("common").cast("double") /
            (col("sz_u") + col("sz_v") - col("common")), 4).as("nbr_jaccard"))
        .orderBy(desc("nbr_jaccard"), col("part_a"), col("part_b"))
        .limit(50) // TakeOrderedAndProject: per-partition 50-heaps, no full sort
    }
  }

  /** The tagged, shuffled, sorted wedge∪edge stream that feeds
    * [[rleWedgeCount]] — exposed separately because the run-length hop
    * crosses into RDD space, so this subplan runs as its own query
    * execution and the OUTER query's plan shows only its `ExistingRDD`
    * leaf. Plan-shape pins (and PLANS.md) read this DataFrame to audit
    * the interesting half: kernel explosion, union, one hash exchange on
    * the packed key, in-partition radix sort.
    *
    * `keptAdj` rows are pre-capped (no size filter runs here since round
    * 15 — the cap lives inside the adjacency aggregation); `edges` is the
    * full distinct directed edge list, tagged w=0; `estRows` is the
    * [[wedgeRows]] estimate of the stream's row count. */
  private[graft] def nbrTaggedSortedParts(keptAdj: DataFrame,
                                          edges: DataFrame,
                                          estRows: Long): DataFrame = {
    import graft.functions.GraftFunctions.sortedLongPairsPackedKernel
    // per-intermediate pair explosion via the PACKED JVM pair kernel: one
    // static call per adjacency row emits its C(d,2) pairs as single
    // int64s (u << 32 | v) — no per-pair struct allocation, and the
    // ~10⁸-row wedge shuffle runs on an 8-byte key instead of a 16-byte
    // pair. Requires ids < 2³² — holds for part keys at any TPC-H scale;
    // 64-bit id spaces would swap in sortedLongPairsKernel and a
    // two-column key (the kernel throws rather than corrupt).
    val wedges = keptAdj
      .select(explode(sortedLongPairsPackedKernel(col("ids"))).as("uv"),
        lit(1).as("w"))
    val und = edges
      .select(shiftleft(col("src"), 32).bitwiseOR(col("dst")).as("uv"),
        lit(0).as("w"))
    // explicit partition count, VOLUME-SCALED: AQE's size-based coalesce
    // would fold the ~12-byte-row shuffle into a handful of partitions
    // and starve the sort+count stage of cores (same reasoning as the
    // adjacency memo) — but a FIXED count fails in the other direction
    // at scale: 32 partitions over the sf10 replica corpus put ~3×10⁷
    // sort rows into each of 32 CONCURRENT external sorters and the
    // stage died with UNABLE_TO_ACQUIRE_MEMORY (round-12 finding). The
    // row count is exactly predictable before the shuffle — Σ C(d,2)
    // wedges over the kept adjacency + one edge tag per distinct
    // directed edge (`estRows`, from figures observed on the memoized
    // inputs) — so partition the COMPUTE a row fans out to: ≤ ~8M sort
    // rows (~300 MB sorter footprint) per partition, floor at the core
    // count, capped at 4096 (at 10⁹ rows that is ~125 partitions; at
    // sf0.1/sf1 the floor keeps the historical 32-partition plans
    // bit-identical).
    val cores = shufflePartitions(keptAdj.sparkSession)
    val nPart = math.max(cores,
      math.min(4096L, (estRows + WedgeRowsPerPartition - 1) / WedgeRowsPerPartition).toInt)
    wedges.union(und)
      .repartition(nPart, col("uv"))
      .sortWithinPartitions("uv")
  }

  /** [[rleWedgeCount]] fused with scoring and a bounded top-k: the same
    * streaming run-length pass, but each surviving run (uv, common) is
    * scored IMMEDIATELY against the broadcast restricted-degree dictionary
    * (two binary searches over sorted primitive arrays, L2-resident at
    * any realistic |V|) and offered to a per-partition top-`k` under the
    * operator's exact output order — `(round(J,4) desc, u asc, v asc)`.
    * Emits ≤ k rows (part_a, part_b, nbr_jaccard) per partition; the
    * caller merges with a global orderBy+limit over ≤ nPart·k rows.
    *
    * Exactness: rounding replays Spark's `round(_, 4)` double semantics
    * (BigDecimal.valueOf → setScale HALF_UP → toDouble; GraphSpec pins
    * value-parity against the join path, which uses the Catalyst Round).
    * The almost-always skip is the decimal-midpoint prefilter: once the
    * heap is full, a candidate with J < worstRounded − 6e-5 sits strictly
    * below the HALF_UP midpoint (worstRounded − 5e-5, with 1e-5 margin
    * dwarfing double error), so it rounds strictly lower and loses to
    * every held entry — one multiply+compare retires ~all of the ~10⁸
    * runs without rounding or heap work. J ≤ common/sz_u (sz_v ≥ common)
    * lets the check run after ONE lookup. */
  private def rleWedgeTopK(taggedSorted: DataFrame,
                           dict: org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Long])],
                           k: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types._
    val session = taggedSorted.sparkSession
    val rdd = org.apache.spark.sql.graft.bridge.toInternalRdd(taggedSorted)
      .mapPartitions { it =>
        val (szk, szv) = dict.value
        // every run endpoint borders a kept intermediate, so it appeared in
        // the sizes explode — the search always lands on an exact key
        def szOf(node: Long): Long = {
          var lo = 0
          var hi = szk.length - 1
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (szk(mid) < node) lo = mid + 1 else hi = mid
          }
          szv(lo)
        }
        import graft.functions.GraftFunctions.{roundHalfUp4 => round4}
        val rjA = new Array[Double](k)
        val uA = new Array[Long](k)
        val vA = new Array[Long](k)
        var n = 0
        var worst = 0 // index of the entry every other entry beats (valid once n == k)
        def recomputeWorst(): Unit = {
          var w = 0
          var i = 1
          while (i < n) {
            if (rjA(i) < rjA(w) || (rjA(i) == rjA(w) &&
              (uA(i) > uA(w) || (uA(i) == uA(w) && vA(i) > vA(w))))) w = i
            i += 1
          }
          worst = w
        }
        def offer(c: Long, key: Long): Unit = {
          val u = key >>> 32
          val v = key & 4294967295L
          val su = szOf(u)
          if (n == k) {
            val thresh = rjA(worst) - 6e-5
            if (c.toDouble / su < thresh) return // J ≤ c/sz_u: skip before lookup 2
            val jac = c.toDouble / (su + szOf(v) - c)
            if (jac < thresh) return
            val rj = round4(jac)
            if (!(rj > rjA(worst) || (rj == rjA(worst) &&
              (u < uA(worst) || (u == uA(worst) && v < vA(worst)))))) return
            rjA(worst) = rj; uA(worst) = u; vA(worst) = v
            recomputeWorst()
          } else {
            rjA(n) = round4(c.toDouble / (su + szOf(v) - c))
            uA(n) = u; vA(n) = v
            n += 1
            if (n == k) recomputeWorst()
          }
        }
        // the same streaming run-length state machine as rleWedgeCount,
        // with closed runs terminating into offer() instead of an output row
        var curKey = 0L
        var cnt = 0L
        var edged = false
        var open = false
        while (it.hasNext) {
          val r = it.next()
          val kk = r.getLong(0)
          val w = r.getInt(1)
          if (!open) { curKey = kk; cnt = 0L; edged = false; open = true }
          else if (kk != curKey) {
            if (!edged && cnt > 0) offer(cnt, curKey)
            curKey = kk; cnt = 0L; edged = false
          }
          if (w == 0) edged = true else cnt += 1
        }
        if (open && !edged && cnt > 0) offer(cnt, curKey)
        (0 until n).iterator.map { i =>
          val row = new GenericInternalRow(3)
          row.setLong(0, uA(i)); row.setLong(1, vA(i)); row.setDouble(2, rjA(i))
          row: InternalRow
        }
      }
    org.apache.spark.sql.graft.bridge.fromInternalRdd(session, rdd,
      StructType(Seq(StructField("part_a", LongType, nullable = false),
        StructField("part_b", LongType, nullable = false),
        StructField("nbr_jaccard", DoubleType, nullable = false))))
  }

  /** Streaming run-length count over a (uv: long, w: int) DataFrame that
    * is hash-partitioned and sorted on `uv`: each run of equal keys is
    * one candidate pair; emits (uv, count of w==1 rows) and SUPPRESSES
    * any run containing a w==0 row (a tagged existing edge). Runs at the
    * InternalRow level with one reused mutable output row — zero per-row
    * allocation, because this hop streams ~10⁸ rows per partition and
    * per-row boxing (an encoder/Tuple2 path measured up to 5× slower
    * under a dirty heap) would make the stage GC-bound. O(1) state per
    * partition regardless of group count — the property that lets the
    * pair space grow 100× without a memory cliff. */
  private def rleWedgeCount(taggedSorted: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
    import org.apache.spark.sql.types._
    val session = taggedSorted.sparkSession
    val rdd = org.apache.spark.sql.graft.bridge.toInternalRdd(taggedSorted)
      .mapPartitions { it =>
        new Iterator[InternalRow] {
          private val out = new SpecificInternalRow(Seq(LongType, LongType))
          private var curKey = 0L
          private var cnt = 0L
          private var edged = false
          private var open = false
          private var ready = false
          private def close(): Unit = {
            if (open && !edged && cnt > 0) {
              out.setLong(0, curKey); out.setLong(1, cnt); ready = true
            }
            open = false
          }
          private def advance(): Unit = {
            ready = false
            while (!ready && it.hasNext) {
              val r = it.next()
              val k = r.getLong(0)
              val w = r.getInt(1)
              if (!open) { curKey = k; cnt = 0L; edged = false; open = true }
              else if (k != curKey) {
                close(); curKey = k; cnt = 0L; edged = false; open = true
              }
              if (w == 0) edged = true else cnt += 1
            }
            if (!ready) close()
          }
          // the reused `out` buffer must hold the CURRENT row until the
          // consumer asks for the next one: advance lazily, on demand
          private var needAdvance = true
          private def ensure(): Unit =
            if (needAdvance) { advance(); needAdvance = false }
          def hasNext: Boolean = { ensure(); ready }
          def next(): InternalRow = { ensure(); needAdvance = true; out }
        }
      }
    org.apache.spark.sql.graft.bridge.fromInternalRdd(session, rdd,
      StructType(Seq(StructField("uv", LongType, nullable = false),
        StructField("common", LongType, nullable = false))))
  }

  /** Per-node triangle counts via DEGREE-ORIENTED wedge enumeration — the
    * standard trick that keeps triangle counting near-linear on power-law
    * graphs: each undirected edge is directed from its lower-(degree, id)
    * endpoint to its higher one, making the orientation a total order
    * (acyclic), so every triangle is enumerated exactly once as
    * a→b, b→c, a→c, and the wedge fan-out at a hub is bounded by its
    * ORIENTED out-degree (≤ √(2m) — a hub's neighbors must each have
    * degree ≥ its out-degree, so 2m ≥ outdeg²) instead of its raw degree.
    * An id-only orientation would funnel every wedge through the hubs —
    * the difference between O(m^1.5) and O(m·d_max) at 100 TB. Entirely
    * integer arithmetic, so the DuckDB oracle matches bit-for-bit.
    *
    * The driver path consumes the [[edges]] memo + [[degrees]] count
    * table — NO full neighbor list is aggregated anywhere in its plan
    * (capping would change which triangles exist, so instead of a cap the
    * full-list input is gone entirely): the only list aggregate is the
    * ORIENTED adjacency, whose width the orientation theorem bounds at
    * √(2m) regardless of input skew — a structural guarantee where the
    * LSH families need a configured cap. */
  def triangleCounts(spark: SparkSession, dir: String): DataFrame = {
    val (degs, nodes, _) = degreesObserved(spark, dir)
    triangleCountsEdges(edges(spark, dir), degs, nodes)
  }

  /** [[triangleCounts]] over an explicit (distinct directed edges, degree
    * table, |V|) triple — the planted mega-hub spec runs here. Two
    * broadcast-size joins attach endpoint degrees for the (degree, id)
    * orientation; [[trianglePlanOriented]] counts over the oriented
    * edges. */
  private[graft] def triangleCountsEdges(edges: DataFrame, degrees: DataFrame,
                                         nodes: Long): DataFrame = {
    val (plan, oadj) = trianglePlanOriented(orientedEdges(edges, degrees, nodes))
    // materialize the 25-row result eagerly (Dedup.truncate — reliable
    // checkpoint when configured) so the cached inputs can be released
    // before returning — no leaked cache blocks for long-lived library
    // sessions (CacheHygieneSpec pins this)
    val out = Dedup.truncate(plan)
    oadj.unpersist(blocking = false)
    out
  }

  /** [[triangleCounts]] over any directed edge list covering both
    * directions of each undirected edge (self-loop-free; duplicate rows
    * allowed — [[distinctEdgesDf]] drops them). Builds the driver's
    * distinct-edge and degree artifacts over `directed` with the memos'
    * own build functions (eagerly materialized, |V| observed, not
    * memoized) and runs [[triangleCountsEdges]], so its output equals the
    * driver query's on the same graph. */
  def triangleCountsDf(directed: DataFrame): DataFrame = {
    val edges = Dedup.truncate(distinctEdgesDf(directed))
    val (degs, nodes, _) = degreeFigures(Dedup.truncateObserved(degreesDf(edges), degreeStats: _*))
    triangleCountsEdges(edges, degs, nodes)
  }

  /** Session conf key: node-count ceiling under which [[orientedEdges]]
    * force-BROADCASTS the degree table into both orientation joins. The
    * degree table is 16 B/node while the edge stream is the graph's
    * dominant row count, so below the ceiling the broadcast form deletes
    * both edge-stream exchanges AND sorts (sf10: degrees is ~2M rows
    * ≈ 30 MB — past the 10 MB autoBroadcast estimate, so Catalyst planned
    * two SortMergeJoins exchanging the 65M-row edge memo twice). Default
    * 10⁷ nodes ≈ 0.5 GB hashed relation — comfortable executor headroom;
    * above it the sort-merge shape is the correct scale plan and is kept
    * automatically (the data chooses, like [[graft.ops.Dedup
    * .BcastAttachMaxDocsKey]]). The gate reads |V| as observed on the
    * [[degrees]] memo's materialization, so it runs no job of its own. */
  val BcastDegreesMaxNodesKey = "spark.graft.graph.bcastDegreesMaxNodes"

  private def bcastDegreesMaxNodes(spark: SparkSession): Long =
    spark.conf.getOption(BcastDegreesMaxNodesKey).map(_.toLong).getOrElse(10000000L)

  /** Degree-oriented edges u→v where (deg, id) of u < (deg, id) of v —
    * pure joins + filter, no aggregate of any kind (spec-pinned); the
    * degree side (`nodes` rows) broadcasts below
    * [[BcastDegreesMaxNodesKey]]. */
  private[graft] def orientedEdges(edges: DataFrame, degrees: DataFrame,
                                   nodes: Long): DataFrame = {
    val degs =
      if (nodes <= bcastDegreesMaxNodes(degrees.sparkSession)) broadcast(degrees)
      else degrees
    edges.select(col("src").as("u"), col("dst").as("v"))
      .join(degs.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
      .join(degs.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
      .filter(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")))
      .select(col("u"), col("v"))
  }

  /** The un-truncated triangle count over oriented edges, plus the
    * persisted oriented adjacency the caller must unpersist after
    * materializing — split out so plan evidence (graft.Explain) can show
    * the join/kernel shape that the eager truncate otherwise collapses
    * into an ExistingRDD leaf. ONE aggregate builds the ORIENTED
    * adjacency (width ≤ √(2m) by the orientation bound), and the closing
    * join intersects oriented out-lists per oriented edge — every common
    * w closes u→v, u→w, v→w exactly once. Intersection cost per edge is
    * bounded by the oriented out-degrees (≈√m), keeping the O(m^1.5)
    * bound, and the quadratic wedge set is never shuffled (the wedge
    * self-join shape shuffled one row per wedge — Σ outdeg²). The
    * adjacency sides are O(m) total payload: AQE broadcasts them at bench
    * scale, and beyond broadcast size they degrade to ordinary shuffled
    * equi-joins. */
  private[graft] def trianglePlanOriented(oriented: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.storage.StorageLevel
    // oriented adjacency: consumed by the explode side AND the close join.
    // Lists sorted ONCE per node so the closing intersection is a
    // two-pointer merge kernel per edge instead of array_intersect's
    // per-edge hash-set builds (oriented out-lists are duplicate-free —
    // distinct edges — so sorted-merge output ≡ array_intersect contents;
    // everything downstream is explode → groupBy count, order-blind)
    val oadj = oriented.groupBy(col("u"))
      .agg(sort_array(collect_list(col("v"))).as("on"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val tri = oadj
      .select(col("u"), col("on").as("un"), explode(col("on")).as("v"))
      .join(oadj.select(col("u").as("v"), col("on").as("vn")), Seq("v"))
      .select(col("u"), col("v"),
        explode(graft.functions.GraftFunctions.sortedLongIntersectKernel(
          col("un"), col("vn"))).as("w"))
    val out = tri.select(explode(array(col("u"), col("v"), col("w"))).as("part_id"))
      .groupBy(col("part_id")).agg(count(lit(1)).as("n_triangles"))
      .orderBy(desc("n_triangles"), col("part_id"))
      .limit(25)
    (out, oadj)
  }

  /** Connected components of the REPEATED co-purchase graph: an edge
    * exists where two parts were bought together (qty ≥ 25) in at least
    * `minOrders` DISTINCT orders — the multiplicity floor prunes the
    * one-off co-occurrence noise that would otherwise glue everything
    * into one giant component, which is exactly how production
    * co-occurrence graphs (sessions, carts, citations) are sparsified
    * before clustering. Components close under the shared min-label
    * propagation ([[Dedup.connectedComponents]] — pointer jumping,
    * O(log diameter) rounds); output = one row per non-singleton
    * component (label = min part id) with size and members.
    *
    * Scale shape: per-order pairs from a run walk over the order-sorted
    * lineitem rows ([[coPurchasePairs]]: one order's parts of state), a
    * run-length multiplicity count over the (a, b)-sorted pair stream
    * ([[repeatedPairs]]) — two hash exchanges, each followed by one sort,
    * and no aggregate — then the CC loop whose per-round shuffle carries
    * labels only; the (id, label) rows are range-partitioned on label
    * once, which clusters the rollup and orders its output without a
    * second exchange. DuckDB replays the whole thing — pairing,
    * multiplicity floor, transitive closure (recursive CTE) — so the
    * operator is hash-verified end to end. */
  def components(spark: SparkSession, dir: String, minOrders: Long = 2): DataFrame = {
    val edges = repeatedPairs(coPurchasePairs(Tables.lineitem(spark, dir)), minOrders)
    // one range exchange on label serves both the rollup's clustering and
    // the final ORDER BY component (a hash exchange for the group-by then
    // a range exchange for the sort was two)
    Dedup.connectedComponents(edges, "a", "b")
      .repartitionByRange(col("label"))
      .groupBy(col("label").as("component"))
      .agg(count(lit(1)).as("n_nodes"),
        sort_array(collect_list(col("id"))).as("members"))
      .select(col("component"), col("n_nodes"),
        concat_ws(",", col("members")).as("members"))
      .orderBy("component")
  }
}
