package graft

import graft.ops.{Dedup, Graph}
import org.apache.spark.sql.functions._

/** Floor/ceiling sanity for the data-driven plan gates (r18 verdict item):
  * each gate chooses between a small-corpus/broadcast shape and a
  * scale/sort-merge (or aggregate) shape, and these tests pin that BOTH
  * shapes actually appear on their side of the threshold — so a future
  * edit cannot silently lose the 100 TB posture (or the small-corpus fast
  * path) without a red test.
  *
  * autoBroadcastJoinThreshold is disabled inside each test so "broadcast
  * shape" can only come from the gate's explicit broadcast() — at test
  * scale every table is otherwise small enough for Catalyst to broadcast
  * on its own, which would mask a broken gate. */
class GateShapeSpec extends SparkSpec {

  private def withConfs(kvs: (String, String)*)(body: => Unit): Unit = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.sparkPlan.toString

  private val noAuto = "spark.sql.autoBroadcastJoinThreshold" -> "-1"
  private val huge = Long.MaxValue.toString

  test("bcastAttachMaxDocs: broadcast attach below the ceiling, sort-merge above") {
    val docs = Tables.documents(spark, sfDir)
    withConfs(noAuto, Dedup.BcastAttachMaxDocsKey -> huge,
      Dedup.MinbandMinDocsKey -> huge) {
      val p = planOf(Dedup.minhashPairsDf(docs))
      assert(p.contains("BroadcastHashJoin"), "below-ceiling attach must broadcast")
      assert(!p.contains("SortMergeJoin"), "below-ceiling plan must carry no SMJ")
    }
    withConfs(noAuto, Dedup.BcastAttachMaxDocsKey -> "0") {
      val p = planOf(Dedup.minhashPairsDf(docs))
      assert(p.contains("SortMergeJoin"), "above-ceiling attach must keep the sort-merge scale shape")
      assert(!p.contains("BroadcastHashJoin"), "above-ceiling plan must not force a broadcast")
    }
  }

  test("minbandMinDocs: explode+distinct below the floor, map-side min-band kernel above") {
    val docs = Tables.documents(spark, sfDir)
    withConfs(noAuto, Dedup.BcastAttachMaxDocsKey -> huge,
      Dedup.MinbandMinDocsKey -> huge) {
      val p = planOf(Dedup.minhashPairsDf(docs))
      assert(!p.contains("sharedBandsIfFirst"), "below-floor plan must use the candidate distinct, not the kernel")
    }
    withConfs(noAuto, Dedup.BcastAttachMaxDocsKey -> huge,
      Dedup.MinbandMinDocsKey -> "0") {
      val p = planOf(Dedup.minhashPairsDf(docs))
      assert(p.contains("sharedBandsIfFirst"), "above-floor plan must emit map-side via sharedBandsIfFirst")
    }
  }

  test("minhashSqlPairs: aggregate form outside [floor, ceiling], kernel inside") {
    withConfs(noAuto, Dedup.BcastAttachMaxDocsKey -> huge,
      Dedup.MinbandMinDocsKey -> "0") {
      val p = planOf(Dedup.minhashSqlPairs(spark, sfDir))
      assert(p.contains("sharedBandsIfFirst"), "in-window plan must use the map-side kernel")
    }
    withConfs(noAuto, Dedup.BcastAttachMaxDocsKey -> huge,
      Dedup.MinbandMinDocsKey -> huge) {
      val p = planOf(Dedup.minhashSqlPairs(spark, sfDir))
      assert(!p.contains("sharedBandsIfFirst"), "below-floor plan must keep the pair-count aggregate")
      assert(p.contains("HashAggregate"), "below-floor plan must aggregate shared bands")
    }
    withConfs(noAuto, Dedup.BcastAttachMaxDocsKey -> "0") {
      val p = planOf(Dedup.minhashSqlPairs(spark, sfDir))
      assert(!p.contains("sharedBandsIfFirst"), "above-ceiling plan must keep the aggregate scale shape")
    }
  }

  test("bcastDegreesMaxNodes: degree table broadcasts below the ceiling, sort-merges above") {
    import spark.implicits._
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val edges = und.union(und.select(col("dst").as("src"), col("src").as("dst")))
    val degrees = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg"))
    val nodes = degrees.count()
    withConfs(noAuto, Graph.BcastDegreesMaxNodesKey -> huge) {
      val p = planOf(Graph.orientedEdges(edges, degrees, nodes))
      assert(p.contains("BroadcastHashJoin"), "below-ceiling orientation must broadcast degrees")
      assert(!p.contains("SortMergeJoin"))
    }
    withConfs(noAuto, Graph.BcastDegreesMaxNodesKey -> "0") {
      val p = planOf(Graph.orientedEdges(edges, degrees, nodes))
      assert(p.contains("SortMergeJoin"), "above-ceiling orientation must keep the sort-merge scale shape")
      assert(!p.contains("BroadcastHashJoin"))
    }
  }
}
