package graft

import graft.ops.{Dedup, Graph}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge

/** The MinHash and graph size gates read figures observed on the
  * materializations their inputs already run (`Dataset.observe` via
  * `Dedup.truncateObserved` and `PlanMemo.getOrBuildObserved`): these
  * pin that the observed figures equal the aggregates a pre-count job
  * would compute, and that building the gated plans launches no job
  * beyond those materializations. */
class GateStatsSpec extends SparkSpec {

  /** Jobs started while `body` runs (listener bus drained on both ends). */
  private def jobsDuring(body: => Any): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    bridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    try { body; bridge.drainListenerBus(spark) }
    finally spark.sparkContext.removeSparkListener(l)
    n.get
  }

  test("observed gate statistics equal the pre-count aggregates, on an empty " +
    "corpus and after a memo self-heal") {
    // MinHash docs: count / min doc_id / max doc_id
    val documents = Tables.documents(spark, sfDir)
    val (docs, _, docStats) = Dedup.minhashDocsSigs(documents)
    val docAgg = docs.agg(count(lit(1)), min(col("doc_id")), max(col("doc_id"))).first()
    assert(docStats == docAgg, s"observed $docStats vs aggregate $docAgg")
    assert(docStats.getLong(0) == documents.count() && docStats.getLong(0) > 0)
    // the SQL-form signatures: count
    val (sqlSigs, nSigs) = Dedup.minhashSqlSigs(spark, sfDir)
    assert(nSigs == sqlSigs.count() && nSigs > 0)

    // empty corpus: count 0, null min/max read as 0 — packable, as before
    val (_, _, emptyStats) = Dedup.minhashDocsSigs(documents.filter(lit(false)))
    assert(emptyStats.getLong(0) == 0L)
    assert(emptyStats.isNullAt(1) && emptyStats.isNullAt(2))
    assert(Dedup.packableIds(emptyStats))

    // graph: |V| and Σ deg on the degree memo
    val (degs, nodes, edgeTotal) = Graph.degreesObserved(spark, sfDir)
    assert(nodes == degs.count() && nodes > 0)
    assert(edgeTotal == degs.agg(sum(col("deg"))).first().getLong(0))
    assert(edgeTotal == Graph.edges(spark, sfDir).count())
    // kept Σ d(d+1)/2 and Σ d on the capped-adjacency memo
    val (capped, kept) = Graph.cappedAdjacencyObserved(spark, sfDir, 256)
    val keptAgg = capped.select(
      sum(expr("CAST(size(ids) AS BIGINT) * (size(ids) + 1) / 2")).cast("long"),
      sum(size(col("ids")).cast("bigint")).cast("long")).first()
    assert(kept == keptAgg, s"observed $kept vs aggregate $keptAgg")
    val estRows = kept.getLong(0) + math.max(0L, edgeTotal - kept.getLong(1))
    assert(Graph.nbrWedgeRows(spark, sfDir) == estRows)

    // self-heal: sweep the memo's checkpoint blocks; the rebuilt entry is
    // re-observed with the same figures
    bridge.materializedRdd(degs).foreach(_.unpersist(blocking = true))
    val (healed, nodes2, edgeTotal2) = Graph.degreesObserved(spark, sfDir)
    assert(!(healed eq degs), "swept entry must be rebuilt")
    assert((nodes2, edgeTotal2) == ((nodes, edgeTotal)))
  }

  test("reliable checkpoint path observes each figure once") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-obs-ckpt").toString
    spark.conf.set(Dedup.CheckpointDirKey, dir)
    try {
      val df = (1L to 100L).toDF("doc_id").repartition(3)
      val (chk, stats) = Dedup.truncateObserved(df, count(lit(1)), sum(col("doc_id")))
      assert(stats.getLong(0) == 100L && stats.getLong(1) == 5050L)
      assert(bridge.materializedRdd(chk).exists(_.getCheckpointFile.isDefined))
    } finally spark.conf.unset(Dedup.CheckpointDirKey)
  }

  test("building gated MinHash and graph plans launches only their materializations") {
    val documents = Dedup.truncate(Tables.documents(spark, sfDir))
    // warm: table schema memo, graph memos
    Dedup.minhashSqlPairs(spark, sfDir)
    val (degs, nodes, _) = Graph.degreesObserved(spark, sfDir)
    val edges = Graph.edges(spark, sfDir)

    // the docs + sigs truncates are the only jobs of the candidate fronts
    val front = jobsDuring(Dedup.minhashDocsSigs(documents))
    assert(front > 0)
    assert(jobsDuring(Dedup.minhashPairsDf(documents)) == front)
    assert(jobsDuring(Dedup.minhashChainVerified(documents)) == front)
    // the SQL form: the sigs truncate only
    val sqlFront = jobsDuring(Dedup.minhashSqlSigs(spark, sfDir))
    assert(sqlFront > 0)
    assert(jobsDuring(Dedup.minhashSqlPairs(spark, sfDir)) == sqlFront)
    // triangle orientation over the memos: no job at all
    assert(jobsDuring(Graph.orientedEdges(edges, degs, nodes)) == 0)
  }
}
