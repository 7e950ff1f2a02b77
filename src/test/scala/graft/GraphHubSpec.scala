package graft

import graft.ops.Graph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-15 planted mega-degree-hub pins: the graph family must stay
  * correct AND buffer-bounded when one node's degree dwarfs the cap —
  * the graph-side mirror of CappedBucketsSpec's planted mega-bucket.
  *
  * Corpus: hub 0 adjacent to every leaf 1..HubDeg (a 10⁵-degree star),
  * plus a planted structure off to the side — nodes 1 and 2 each share
  * the three "bridge" nodes B..B+2, and the bridges form a triangle.
  */
class GraphHubSpec extends SparkSpec {

  private val HubDeg = 100000L
  private val B = 100001L // first bridge node id

  /** Distinct symmetric directed edge list with the planted hub. */
  private lazy val hubEdges: DataFrame = {
    import spark.implicits._
    val star = spark.range(1, HubDeg + 1)
      .select(lit(0L).as("src"), col("id").as("dst"))
    val extra = Seq(
      (1L, B), (1L, B + 1), (1L, B + 2),
      (2L, B), (2L, B + 1), (2L, B + 2),
      (B, B + 1), (B, B + 2), (B + 1, B + 2)).toDF("src", "dst")
    val once = star.union(extra)
    // truncated like the driver's memoized [[Graph.edges]]: one flat,
    // reusable scan for the four tests
    graft.ops.Dedup.truncate(
      once.union(once.select(col("dst").as("src"), col("src").as("dst"))))
  }

  /** Truncated like the driver's memoized [[Graph.degrees]] — consumers
    * plan against a flat scan, so plan-shape asserts on the orientation
    * see no aggregate from the degree side. */
  private def hubDegrees(edges: DataFrame): DataFrame =
    graft.ops.Dedup.truncate(
      edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .select(col("src").as("node"), col("deg")))

  test("capped adjacency: the 1e5-degree hub never survives the aggregate " +
    "and the cap is INSIDE the aggregation") {
    val capped = Graph.cappedAdjacencyDf(hubEdges, maxDeg = 8)
    val plan = capped.queryExecution.executedPlan.toString
    // the cap lives in the aggregate itself — partial buffers bounded
    assert(plan.contains("capped_id_set"), plan.take(2000))
    assert(!plan.contains("collect_set"), plan.take(2000))
    val rows = capped.collect()
    assert(!rows.exists(_.getLong(0) == 0L), "hub row must be dropped")
    assert(rows.forall(_.getSeq[Long](1).size <= 8))
    // leaves (degree 1) and bridges (degree ≤ 5) all survive
    assert(rows.length == HubDeg.toInt + 3)
  }

  test("neighbor jaccard: Df entry ≡ hand-wired parts call over the capped " +
    "adjacency, planted pair tops") {
    val maxDeg = 8
    val degs = hubDegrees(hubEdges)
    // the estimate only sizes the wedge shuffle: this graph's ~2·10⁵
    // rows plan the core-count floor at any estimate below 8M
    val parts = graft.ops.Dedup.truncate(Graph.neighborJaccardPartsPlan(
      Graph.cappedAdjacencyDf(hubEdges, maxDeg), hubEdges, nodes = degs.count(), estRows = 0L))
      .collect().map(_.toSeq).toSeq
    val df = Graph.neighborJaccardDf(hubEdges, maxDeg)
      .collect().map(_.toSeq).toSeq
    assert(parts.nonEmpty)
    assert(parts == df, s"parts=${parts.take(3)} df=${df.take(3)}")
    // nodes 1 and 2 share all three bridges, are non-adjacent, and the
    // hub (their fourth neighbor) is degree-excluded as an intermediate:
    // restricted sz(1) = sz(2) = 3, common = 3 → J = 1.0 at the top
    val top = parts.head
    assert((top(0), top(1), top(2)) == (1L, 2L, 1.0), s"top=$top")
  }

  test("triangles: no list aggregate on the input side; oriented " +
    "out-degree obeys the sqrt(2m) bound at the hub; counts exact") {
    val degs = hubDegrees(hubEdges)
    // orientation is pure joins + filter — no aggregate of any kind
    val nodes = degs.count()
    val oriented = Graph.orientedEdges(hubEdges, degs, nodes)
    val oplan = oriented.queryExecution.executedPlan.toString
    assert(!oplan.contains("Aggregate"), oplan.take(2000))
    assert(!oplan.contains("collect_"), oplan.take(2000))
    // the orientation theorem in action: every out-list the tail
    // aggregates is ≤ √(2m) wide, hub or not (the hub's is EMPTY — all
    // its neighbors have lower degree, so every star edge points AT it)
    val m2 = hubEdges.count() // = 2m (both directions present)
    val maxOut = oriented.groupBy(col("u")).agg(count(lit(1)).as("od"))
      .agg(max(col("od"))).first().getLong(0)
    assert(maxOut <= math.ceil(math.sqrt(m2.toDouble)).toLong + 1,
      s"oriented out-degree $maxOut vs bound √$m2")
    assert(oriented.filter(col("u") === 0L).count() == 0L,
      "hub must have oriented out-degree 0 in a star")
    // exact counts vs brute force (planted: 7 triangles — {1,2} × C(3,2)
    // bridge pairs + the bridge trio itself; the hub closes none)
    val got = Graph.triangleCountsEdges(hubEdges, degs, nodes).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = Seq((B, 5L), (B + 1, 5L), (B + 2, 5L), (1L, 3L), (2L, 3L))
    assert(got == expected, s"got=$got expected=$expected")
  }

  test("pagerank: edge-native dense path conserves rank mass on the star " +
    "and matches the declarative loop") {
    val degs = hubDegrees(hubEdges)
    val pr = Graph.pageRankDenseEdges(hubEdges, degs, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val nV = HubDeg.toInt + 4
    assert(pr.size == nV)
    val mass = pr.values.sum
    assert(math.abs(mass - nV) / nV < 1e-9, s"rank mass $mass vs $nV")
    // the hub accumulates rank from every leaf; any leaf is near the floor
    assert(pr(0L) > 1000 * pr(3L), s"hub=${pr(0L)} leaf=${pr(3L)}")
    // parity with the declarative edge-list loop on the same graph
    val prLoop = Graph.pageRank(hubEdges, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(prLoop.keySet == pr.keySet)
    pr.foreach { case (n, r) =>
      assert(math.abs(r - prLoop(n)) <= 1e-9 * math.max(1.0, math.abs(r)),
        s"node $n dense=$r loop=${prLoop(n)}")
    }
  }
}
