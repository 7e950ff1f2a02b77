package graft

import graft.api.Rivulus
import graft.ops.{Dedup, Skew}
import org.apache.spark.sql.functions._

/** Property-style invariants over seeded random inputs (SURVEY.md §7.3
  * step 5): the reference's own optimizer invariant (filter/select
  * commute when the projection keeps the predicate columns,
  * `optimizer.rs:17-39`), salting result-invariance, and clustering
  * sanity on planted duplicate groups.
  */
class PropertySpec extends SparkSpec {

  private def randomPeople(seed: Int, n: Int) = {
    import spark.implicits._
    val rng = new scala.util.Random(seed)
    (1 to n).map(i =>
      (i.toLong, s"name${rng.nextInt(20)}", rng.nextInt(80).toLong, rng.nextDouble() * 100))
      .toDF("id", "name", "age", "score")
  }

  test("property: filter∘select == select∘filter when columns preserved") {
    for (seed <- 1 to 5) {
      val df = randomPeople(seed, 200)
      val pred = col("age") > 40
      val a = Rivulus(df).select(col("id"), col("age")).filter(pred)
        .collect().map(_.toSeq).toSet
      val b = Rivulus(df).filter(pred).select(col("id"), col("age"))
        .collect().map(_.toSeq).toSet
      assert(a == b, s"seed $seed")
    }
  }

  test("property: misra-gries bound holds on random zipf-ish streams") {
    import spark.implicits._
    for (seed <- 1 to 3; cap <- Seq(3, 8)) {
      val rng = new scala.util.Random(seed)
      // zipf-ish: item k with weight ~ 1/k over 30 items, 600 draws
      val items = (1 to 600).map { _ =>
        val u = rng.nextDouble()
        var k = 1; var acc = 0.0
        val h = (1 to 30).map(1.0 / _).sum
        while (acc + 1.0 / k / h < u && k < 30) { acc += 1.0 / k / h; k += 1 }
        s"item$k"
      }
      val truth = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = items.size
      val sketch: Map[String, Long] = items.toDS.repartition(5)
        .select(graft.ops.Aggregates.MisraGries(cap).toColumn.name("m"))
        .collect()(0)
      assert(sketch.size <= cap, s"seed=$seed cap=$cap size ${sketch.size}")
      sketch.foreach { case (k, est) =>
        val t = truth(k)
        assert(est <= t && est >= t - n / cap, s"seed=$seed cap=$cap $k: $est vs $t")
      }
      // guarantee: every item with true count > N/C is present
      truth.filter(_._2 > n / cap).keys.foreach(k =>
        assert(sketch.contains(k), s"seed=$seed cap=$cap heavy $k evicted"))
    }
  }

  test("property: salted join equals plain join on random skewed data") {
    import spark.implicits._
    for (seed <- 1 to 3) {
      val rng = new scala.util.Random(seed)
      // heavy skew: 80% of rows share key 1
      val big = (1 to 500).map { i =>
        (if (rng.nextDouble() < 0.8) 1L else rng.nextInt(20).toLong, i.toLong)
      }.toDF("k", "v")
      val small = (0L to 20L).map(k => (k, s"dim$k")).toDF("k2", "d")
      val plain = big.join(small, big("k") === small("k2")).count()
      val salted = Skew.saltedJoin(big, small, "k", "k2", 4).count()
      assert(plain == salted, s"seed $seed")
    }
  }

  test("property: connected components labels are cluster minima") {
    import spark.implicits._
    // planted clusters: chain {1-2-3}, pair {10,11}, triangle {20,21,22}
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L))
      .toDF("a", "b")
    val labels = Dedup.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("reliable checkpoint path: CC labels identical local vs durable-dir") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L), (21L, 22L))
      .toDF("a", "b")
    // the loop by name: this test proves the reliable-checkpoint GATE of
    // the iterative loop (the dense one-pass path never checkpoints —
    // nothing to gate), so both sides must take the loop
    val local = Dedup.connectedComponentsLoop(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set(Dedup.CheckpointDirKey, dir)
    try {
      val reliable = Dedup.connectedComponentsLoop(edges, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(reliable == local)
      // the durable dir must actually have been written (proof the gated
      // path ran a reliable checkpoint, not the executor-local one)
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, s"no checkpoint files under $dir")
      // kmeans shares the gate: smoke the reliable path end-to-end too
      val emb = (0L until 40L).map(i =>
        (i, Array.tabulate(4)(d => ((i % 4) * 10 + d).toFloat))).toDF("vec_id", "embedding")
      val cents = graft.ops.Vectors.kmeansCentroids(emb, nlist = 4, iters = 2).collect()
      assert(cents.length == 4)
      // pageRank shares the gate too: reliable rounds must produce the
      // same ranks as the executor-local path (K3 → exactly uniform)
      val fwd = Seq((1L, 2L), (2L, 3L), (1L, 3L))
      val k3 = (fwd ++ fwd.map(_.swap)).toDF("src", "dst")
      val prReliable = graft.ops.Graph.pageRank(k3, iters = 3).collect()
      assert(prReliable.length == 3 &&
        prReliable.forall(_.getAs[Double]("rank") == 1.0))
    } finally spark.conf.unset(Dedup.CheckpointDirKey)
  }

  test("property: minhash signature match-rate tracks jaccard (seeded)") {
    import spark.implicits._
    import graft.functions.TextKernels
    val rng = new scala.util.Random(11)
    val base = (1 to 60).map(_ => s"w${rng.nextInt(1000)}").distinct
    // doc pairs at controlled overlap levels
    val rows = Seq(0.9, 0.5, 0.1).zipWithIndex.map { case (overlap, i) =>
      val shared = base.take((base.length * overlap).toInt)
      val extraA = (1 to base.length - shared.length).map(j => s"a$i$j")
      val extraB = (1 to base.length - shared.length).map(j => s"b$i$j")
      (i.toLong, (shared ++ extraA).mkString(" "), (shared ++ extraB).mkString(" "))
    }.toDF("i", "ta", "tb")
    val sigs = rows.select(col("i"),
      TextKernels.minhashSigKernel(TextKernels.shinglesKernel(col("ta"), 1), 256).as("sa"),
      TextKernels.minhashSigKernel(TextKernels.shinglesKernel(col("tb"), 1), 256).as("sb"))
      .collect()
    val ests = sigs.map { r =>
      val a = r.getAs[scala.collection.Seq[Long]]("sa")
      val b = r.getAs[scala.collection.Seq[Long]]("sb")
      r.getLong(0) -> a.zip(b).count { case (x, y) => x == y }.toDouble / 256
    }.toMap
    // higher overlap must give strictly higher estimated similarity
    assert(ests(0L) > ests(1L) && ests(1L) > ests(2L), ests.toString)
  }

  test("property: CC converges on a 60-node chain within 12 rounds (pointer jumping)") {
    import spark.implicits._
    val n = 60
    val edges = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong)).toDF("a", "b")
    // plain min-label propagation would need n-1 = 59 rounds here; the
    // label-of-label jump doubles reach per round => O(log n)
    val ls = Dedup.connectedComponents(edges, "a", "b", maxIter = 12).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("label")).toMap
    assert(ls.size == n)
    assert(ls.values.forall(_ == 0L), "all chain nodes must label to the minimum id")
  }

  test("property: CC labels equal union-find ground truth on random graphs") {
    import spark.implicits._
    for (seed <- 1 to 3) {
      val rng = new scala.util.Random(seed)
      val n = 100
      val edges = Seq.fill(120)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val labels = Dedup.connectedComponents(edges.toDF("a", "b"), "a", "b")
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("label")).toMap
      // union-find ground truth (path compression)
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val truth = parent.keys.map(x => x -> find(x)).toMap
      // same node set, and per-component min label agrees
      assert(labels.keySet == truth.keySet, s"seed $seed node sets differ")
      val trueMin = truth.groupBy(_._2).flatMap { case (_, m) =>
        val mn = m.keys.min; m.keys.map(_ -> mn)
      }
      labels.foreach { case (id, l) =>
        assert(l == trueMin(id), s"seed $seed node $id: got $l want ${trueMin(id)}")
      }
      // the dense default and the pointer-jumping loop are the same exact
      // integer fixpoint — bitwise-identical labels, no tolerance
      val loop = Dedup.connectedComponentsLoop(edges.toDF("a", "b"), "a", "b")
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("label")).toMap
      assert(labels == loop, s"seed $seed dense vs loop labels differ")
    }
  }

  test("property: CC null-endpoint edges — dense ≡ loop, null is never a node") {
    import spark.implicits._
    // one-null edges contribute their non-null side as a node (singleton
    // unless connected elsewhere); both-null rows vanish entirely
    val edges = Seq(
      (Some(1L), Some(2L)), (Some(2L), Some(3L)), // component {1,2,3}
      (Some(7L), None),                           // 7: singleton via null
      (None, Some(8L)), (Some(8L), Some(9L)),     // 8 also really connected
      (None, None)                                // vanishes
    ).toDF("a", "b")
    val dense = Dedup.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val loop = Dedup.connectedComponentsLoop(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 8L, 9L -> 8L)
    assert(dense == want, s"dense: $dense")
    assert(loop == want, s"loop: $loop")
  }

  test("auto-gate: above denseMaxNodes, default CC takes the loop — no flag") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L)
    spark.conf.set(Dedup.DenseMaxNodesKey, "2")
    try {
      // 5 distinct nodes > ceiling 2: the dense probe fail-fasts mid-fold
      // and the dispatcher falls back to the pointer-jumping loop — the
      // result plan carries the loop's checkpointed-label leaf, not the
      // dense rollup's object scan
      val gated = Dedup.connectedComponents(edges, "a", "b")
      val labels = gated.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels == want, s"gated: $labels")
      val plan = gated.queryExecution.executedPlan.toString
      assert(plan.contains("ExistingRDD"), plan.take(2000))
      assert(!plan.contains("SerializeFromObject"), plan.take(2000))
    } finally spark.conf.unset(Dedup.DenseMaxNodesKey)
    // back under the ceiling, the default is the dense rollup again
    val dflt = Dedup.connectedComponents(edges, "a", "b")
    assert(dflt.queryExecution.executedPlan.toString.contains("SerializeFromObject"))
    assert(dflt.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == want)
  }

  test("auto-gate: ceiling crossed only at the MERGE level still falls back") {
    import spark.implicits._
    // every partition holds 2 nodes (under the ceiling of 3); only the
    // treeAggregate merge of the star forests crosses it — the fold-level
    // check alone would miss this, the merge-level check must fire
    val edges = Seq((1L, 2L), (10L, 11L), (20L, 21L), (30L, 31L))
      .toDF("a", "b").repartition(4)
    val want = Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 30L -> 30L, 31L -> 30L)
    spark.conf.set(Dedup.DenseMaxNodesKey, "3")
    try {
      val gated = Dedup.connectedComponents(edges, "a", "b")
      assert(gated.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == want)
      assert(gated.queryExecution.executedPlan.toString.contains("ExistingRDD"))
    } finally spark.conf.unset(Dedup.DenseMaxNodesKey)
  }

  test("property: ngram-Jaccard pipeline equals an independent in-test reimplementation") {
    import spark.implicits._
    val rng = new scala.util.Random(77)
    val vocab = Array.tabulate(300)(i => s"w$i") // small vocab => shared shingles
    val base = (0 until 60).map { i =>
      (i.toLong, Array.fill(30)(vocab(rng.nextInt(vocab.length))).mkString(" "))
    }
    val texts = base ++ (0 until 8).map(i => ((100 + i).toLong, base(i)._2))
    val docs = texts.toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairsDf(docs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("jaccard")).toMap
    // independent reimplementation: kernel-equivalent shingling, df cap,
    // capped-space jaccard
    def shingles(t: String): Set[String] = {
      val toks = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val ts = if (toks.isEmpty) Array("") else toks
      if (ts.length <= 3) Set(ts.mkString(" "))
      else ts.sliding(3).map(_.mkString(" ")).toSet
    }
    val sh = texts.map { case (id, t) => id -> shingles(t) }.toMap
    val df = sh.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val kept = sh.view.mapValues(_.filter(s => df(s) <= Dedup.MaxDf)).toMap
    val want = (for {
      a <- sh.keys; b <- sh.keys if a < b
      inter = (kept(a) intersect kept(b)).size
      if inter > 0
      j = BigDecimal(inter.toDouble / (kept(a).size + kept(b).size - inter))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if j >= 0.5
    } yield (a, b) -> j).toMap
    assert(want.nonEmpty, "planted identical docs must produce pairs")
    assert(got.keySet == want.keySet,
      s"pair sets differ: extra=${got.keySet -- want.keySet} missing=${want.keySet -- got.keySet}")
    got.foreach { case (k, j) => assert(math.abs(j - want(k)) < 1e-9, s"$k: $j vs ${want(k)}") }
  }

  test("property: sortedLongPairs kernel equals a scala reference on random lists") {
    import graft.functions.GraftFunctions.sortedLongPairsKernel
    import spark.implicits._
    for (seed <- 1 to 5) {
      val rng = new scala.util.Random(seed)
      // random lists with duplicates and nulls, sizes 0..40
      val lists: Seq[Seq[java.lang.Long]] = (1 to 50).map { _ =>
        (0 until rng.nextInt(41)).map { _ =>
          if (rng.nextInt(10) == 0) null
          else java.lang.Long.valueOf(rng.nextInt(15).toLong)
        }
      }
      val got = lists.zipWithIndex
        .map { case (l, i) => (i.toLong, l) }.toDF("row_id", "ids")
        .select(col("row_id"), explode(sortedLongPairsKernel(col("ids"))).as("p"))
        .collect()
        .groupBy(_.getLong(0))
        .view.mapValues(_.map(r => (r.getStruct(1).getLong(0), r.getStruct(1).getLong(1))).toSet)
        .toMap
      lists.zipWithIndex.foreach { case (l, i) =>
        val uniq = l.filter(_ != null).map(_.longValue).distinct.sorted
        val want = (for {
          ai <- uniq.indices; bi <- (ai + 1) until uniq.length
        } yield (uniq(ai), uniq(bi))).toSet
        assert(got.getOrElse(i.toLong, Set.empty) == want, s"seed $seed row $i")
      }
    }
  }

  test("property: repStats kernel equals a scala reference on random token text") {
    import graft.functions.TextKernels
    import spark.implicits._
    for (seed <- 1 to 5) {
      val rng = new scala.util.Random(seed)
      val texts = (1 to 40).map { _ =>
        (0 until rng.nextInt(30)).map(_ => s"t${rng.nextInt(6)}").mkString(" ")
      }
      val got = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("row_id", "text")
        .select(col("row_id"), TextKernels.repStatsKernel(col("text")).as("r"))
        .collect()
        .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Long]]("r"))
        .toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        val toks = t.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
        val bigrams = toks.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
        val want = Seq(toks.length.toLong, toks.distinct.length.toLong,
          if (bigrams.isEmpty) 0L
          else bigrams.groupBy(identity).values.map(_.size).max.toLong,
          bigrams.length.toLong)
        assert(got(i.toLong) == want, s"seed $seed row $i text '$t'")
      }
    }
  }

  test("property: as-of joins (backward + forward) equal brute force on random series") {
    import spark.implicits._
    import graft.ops.AsOf
    for (seed <- 1 to 3) {
      val rng = new scala.util.Random(seed)
      // few keys + duplicate timestamps on purpose (tie semantics covered)
      val left = (1 to 120).map(i =>
        (rng.nextInt(5).toLong, rng.nextInt(40).toLong, i.toLong, rng.nextDouble()))
        .toDF("k", "t", "lid", "lval")
      val right = (1 to 80).map(i =>
        (rng.nextInt(5).toLong, rng.nextInt(40).toLong, (1000 + i).toLong))
        .toDF("k", "t", "rid")
      val lRows = left.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

      val back = AsOf.asofJoin(
          left, right.select(col("k"), col("t")), "k", "t", Seq("lid"), "lid")
        .collect().map(r => ((r.getAs[Long]("k"), r.getAs[Long]("t")),
          Option(r.getAs[java.lang.Long]("asof_lid")).map(_.toLong)))
      back.foreach { case ((k, t), got) =>
        val cand = lRows.filter(l => l._1 == k && l._2 <= t)
        val want = if (cand.isEmpty) None
          else Some(cand.maxBy(l => (l._2, l._3))._3) // latest time, max tiebreak
        assert(got == want, s"seed $seed backward k=$k t=$t")
      }

      val fwd = AsOf.asofJoinForward(
          left, right.select(col("k"), col("t")), "k", "t", Seq("lid"), "lid")
        .collect().map(r => ((r.getAs[Long]("k"), r.getAs[Long]("t")),
          Option(r.getAs[java.lang.Long]("asof_lid")).map(_.toLong)))
      fwd.foreach { case ((k, t), got) =>
        val cand = lRows.filter(l => l._1 == k && l._2 >= t)
        val want = if (cand.isEmpty) None
          else Some(cand.minBy(l => (l._2, l._3))._3) // earliest time, min tiebreak
        assert(got == want, s"seed $seed forward k=$k t=$t")
      }
    }
  }

  test("reference error parity: unknown column fails analysis") {
    val df = randomPeople(1, 10)
    intercept[org.apache.spark.sql.AnalysisException] {
      Rivulus(df).select(col("nonexistent")).collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      Rivulus(df).filter(col("missing") > 1).collect()
    }
  }
}
