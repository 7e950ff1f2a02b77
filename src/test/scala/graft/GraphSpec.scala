package graft

import graft.ops.Graph
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {

  /** The driver nbr-Jaccard parts plan over the memos (un-truncated, so
    * its executed plan shows the score attach the gate picked). */
  private def nbrJaccardPartsPlan = Graph.neighborJaccardPartsPlan(
    Graph.cappedAdjacency(spark, sfDir), Graph.edges(spark, sfDir),
    Graph.degreesObserved(spark, sfDir)._2, Graph.nbrWedgeRows(spark, sfDir))

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  test("pagerank conserves total rank mass (Σ rank = |V|)") {
    // every node in the undirected co-purchase graph has outdeg >= 1 and
    // every dst is also a src, so the update r' = 0.15 + 0.85·Σ r/outdeg
    // preserves Σ rank = |V| exactly at every iteration — a strong whole-
    // pipeline invariant (any dropped edge, double-counted contribution,
    // or dangling node breaks it)
    val pr = Graph.pageRank(Graph.edges(spark, sfDir))
    val n = pr.count()
    assert(n > 0)
    val total = pr.agg(sum("rank")).collect()(0).getDouble(0)
    assert(math.abs(total - n) / n < 1e-9, s"rank mass $total vs $n nodes")
    // teleport floor: no rank below (1 - d)
    val minRank = pr.agg(min("rank")).collect()(0).getDouble(0)
    assert(minRank >= 0.15 - 1e-12, s"min rank $minRank")
  }

  test("pagerank top-k is descending with deterministic tie-break") {
    val top = Graph.pagerankTop(spark, sfDir).collect()
    assert(top.nonEmpty && top.length <= 25)
    val pairs = top.map(r => (r.getAs[Double]("rank"), r.getAs[Long]("part_id")))
    pairs.zip(pairs.tail).foreach { case ((r1, id1), (r2, id2)) =>
      assert(r1 > r2 || (r1 == r2 && id1 < id2), s"($r1,$id1) before ($r2,$id2)")
    }
  }

  test("triangle counts match a brute-force enumeration exactly") {
    // sf0.001 graph is small enough to enumerate every triangle directly;
    // the distributed degree-oriented count must agree integer-for-integer
    val edges = Graph.edges(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst")))
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nodes = adj.keys.toArray.sorted
    val brute = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for {
      a <- nodes
      b <- adj(a) if b > a
      c <- adj(b) if c > b && adj(a).contains(c)
    } { brute(a) += 1; brute(b) += 1; brute(c) += 1 }
    val expected = brute.toSeq.sortBy(r => (-r._2, r._1)).take(25)
    val got = Graph.triangleCounts(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("part_id"), r.getAs[Long]("n_triangles"))).toSeq
    assert(got == expected, s"got ${got.take(5)} expected ${expected.take(5)}")
  }

  test("neighbor jaccard: planted shared-neighborhood pair tops, adjacent pairs excluded") {
    import spark.implicits._
    // 1 and 2 share ALL three neighbors {3,4,5} and are NOT adjacent ->
    // score 1.0 at the top; 1-3 are adjacent so never emitted; 6 hangs off
    // 3 only -> (1,6)/(2,6) share {3} of unions of size 3
    val once = Seq((1L, 3L), (1L, 4L), (1L, 5L), (2L, 3L), (2L, 4L), (2L, 5L), (3L, 6L))
    val und = once.toDF("src", "dst")
    val sym = und.union(und.select(col("dst").as("src"), col("src").as("dst")))
    val rows = graft.ops.Graph.neighborJaccardDf(sym).collect()
      .map(r => (r.getAs[Long]("part_a"), r.getAs[Long]("part_b")) ->
        r.getAs[Double]("nbr_jaccard")).toMap
    assert(rows((1L, 2L)) == 1.0, s"got $rows")
    assert(!rows.keySet.exists { case (a, b) =>
      once.contains((a, b)) || once.contains((b, a)) }, s"adjacent pair emitted: $rows")
    assert(rows((1L, 6L)) == math.rint(1.0 / 3.0 * 10000) / 10000)
  }

  test("neighbor jaccard: dictionary attach ≡ two-join attach on real data") {
    // the broadcast-dictionary kernel path (default) and the equi-join
    // fallback (past the denseMaxNodes ceiling) must be row-identical —
    // same pairs, same scores, same cut
    val dict = rows(Graph.neighborJaccard(spark, sfDir))
    spark.conf.set(graft.ops.Dedup.DenseMaxNodesKey, "2")
    val joins =
      try rows(Graph.neighborJaccard(spark, sfDir))
      finally spark.conf.unset(graft.ops.Dedup.DenseMaxNodesKey)
    assert(dict.nonEmpty)
    assert(dict == joins)
  }

  test("pagerank: dense broadcast-vector path ≡ declarative loop on real data") {
    // the dense fast path (pagerankTop's default) and the shuffle-based
    // fallback share the exact per-node contribution multiset — only
    // summation order differs, so per-node ranks must agree to ~1e-9
    // relative and the rounded top-25 contract output must be row-identical
    val edges = Graph.edges(spark, sfDir)
    val dense = Graph.pageRankDenseEdges(edges, Graph.degrees(spark, sfDir)).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val loop = Graph.pageRank(edges).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(dense.nonEmpty && dense.keySet == loop.keySet)
    dense.foreach { case (n, r) =>
      assert(math.abs(r - loop(n)) <= 1e-9 * math.max(1.0, math.abs(r)),
        s"node $n dense=$r loop=${loop(n)}")
    }
    // rank-mass invariant holds on the dense path too (Σ rank = |V| for
    // the symmetric co-purchase graph where every dst is also a src)
    val total = dense.values.sum
    assert(math.abs(total - dense.size) / dense.size < 1e-9,
      s"rank mass $total vs ${dense.size} nodes")
  }

  test("auto-gate: above denseMaxNodes, pagerank and nbr-jaccard take the " +
    "partition-scaling paths — no flag") {
    spark.conf.set(graft.ops.Dedup.DenseMaxNodesKey, "2") // |V| ≫ 2 at any sf
    try {
      // pagerank: the loop's final ranks come off a checkpointed table
      // (ExistingRDD leaf), never the dense rollup's object scan
      val pr = Graph.pagerankTop(spark, sfDir)
      val prPlan = pr.queryExecution.executedPlan.toString
      assert(prPlan.contains("ExistingRDD"), prPlan.take(2000))
      assert(!prPlan.contains("SerializeFromObject"), prPlan.take(2000))
      assert(pr.limit(1).collect().nonEmpty)
      // nbr-jaccard: the degree dictionary is out of bounds, so the score
      // attach must come back as the two-equi-join fallback
      val njPlan = nbrJaccardPartsPlan.queryExecution.executedPlan.toString
      assert(njPlan.contains("Join"), njPlan.take(2000))
    } finally spark.conf.unset(graft.ops.Dedup.DenseMaxNodesKey)
    // defaults restored: the dense/dictionary fast paths re-engage
    val prPlan = Graph.pagerankTop(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(prPlan.contains("SerializeFromObject"), prPlan.take(2000))
    val njPlan = nbrJaccardPartsPlan.queryExecution.executedPlan.toString
    assert(!njPlan.contains("Join"), njPlan.take(2000))
  }

  test("co-purchase edges are symmetric and self-loop-free") {
    val e = Graph.edges(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"))).toSet
    assert(e.nonEmpty)
    assert(e.forall { case (s, d) => s != d })
    assert(e.forall { case (s, d) => e.contains((d, s)) })
  }

  test("Df entries ≡ driver queries, also over a duplicate-bearing edge list") {
    // the Df-level entries run the memos' build functions over the
    // caller's edges, so over the memoized edge list — and over that list
    // unioned with itself (the Df contract allows duplicate rows) — they
    // must return the driver queries' rows in order, on both nbr-Jaccard
    // score attaches
    val edges = Graph.edges(spark, sfDir)
    val triangles = rows(Graph.triangleCounts(spark, sfDir))
    val dict = rows(Graph.neighborJaccard(spark, sfDir))
    assert(triangles.nonEmpty && dict.nonEmpty)
    for (in <- Seq(edges, edges.union(edges))) {
      assert(rows(Graph.triangleCountsDf(in)) == triangles)
      assert(rows(Graph.neighborJaccardDf(in)) == dict)
    }
    spark.conf.set(graft.ops.Dedup.DenseMaxNodesKey, "2")
    try {
      val joins = rows(Graph.neighborJaccard(spark, sfDir))
      for (in <- Seq(edges, edges.union(edges)))
        assert(rows(Graph.neighborJaccardDf(in)) == joins)
    } finally spark.conf.unset(graft.ops.Dedup.DenseMaxNodesKey)
  }
}
