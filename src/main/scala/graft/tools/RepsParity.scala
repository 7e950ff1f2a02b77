package graft.tools

import org.apache.spark.sql.functions._

/** Scale-level agreement check for the cluster-representative ops
  * (round 13): the reps report must equal connected components over the
  * corresponding frozen all-pairs graph — the property RecallSpec pins
  * on a 55-doc planted corpus, re-asserted here on the ScaleGen tiers
  * (50k docs at sf1, 99-replica clusters at sf10) where bucket
  * membership, the caps, and the verify gates all operate at real
  * fan-out. family=minhash compares the CHAIN-emission
  * [[graft.ops.Dedup.minhashClusterRepsDf]] vs CC over
  * [[graft.ops.Dedup.minhashPairsDf]] (agreement is the measured
  * property chains trade for linear verify volume); family=simhash
  * compares [[graft.ops.Dedup.simhashClusterRepsDf]] vs CC over
  * [[graft.ops.Dedup.simhashNearPairsDf]] (agreement is structural —
  * both consume the same verified graph — so this run guards the
  * shared-stage refactor). Sets compared:
  * (rep_id, n_members, id_sum, max_id).
  *
  * Usage: tools/runmain.sh graft.tools.RepsParity <sfDir> [minhash|simhash]
  * (cores from `SPARK_GRAFT_CPUS`, default 32, as in Bench).
  */
object RepsParity {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val family = if (args.length > 1) args(1) else "minhash"
    val spark = graft.Session.local(graft.Session.cpus(32))
      .appName("graft-reps-parity").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = graft.Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // warm scan/codegen/kernel JIT once so the first timed pipeline (the
    // chain one) is not charged the JVM's first-touch costs the second
    // pipeline then rides for free
    docs.write.format("noop").mode("overwrite").save()
    // strict match: a typo'd family must fail, not silently measure
    // minhash under the wrong label
    require(family == "minhash" || family == "simhash",
      s"unknown family '$family' (expected minhash|simhash)")
    def repsDf(d: org.apache.spark.sql.DataFrame) = family match {
      case "simhash" => graft.ops.Dedup.simhashClusterRepsDf(d)
      case "minhash" => graft.ops.Dedup.minhashClusterRepsDf(d)
    }
    def pairsDf(d: org.apache.spark.sql.DataFrame) = family match {
      case "simhash" => graft.ops.Dedup.simhashNearPairsDf(d)
      case "minhash" => graft.ops.Dedup.minhashPairsDf(d)
    }
    repsDf(docs.limit(64)).collect()
    def rowsOf(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getAs[Long]("rep_id"), r.getAs[Long]("n_members"),
        r.getAs[Long]("id_sum"), r.getAs[Long]("max_id"))).toSet
    val t0 = System.nanoTime()
    val reps = rowsOf(repsDf(docs))
    val t1 = System.nanoTime()
    val pairs = pairsDf(docs).select(col("doc_a"), col("doc_b"))
    val full = rowsOf(graft.ops.Dedup.clusterReps(
      graft.ops.Dedup.connectedComponents(pairs, "doc_a", "doc_b")))
    val t2 = System.nanoTime()
    val only1 = reps -- full
    val only2 = full -- reps
    println(f"[reps-parity] family=$family dir=$dir reps_clusters=${reps.size} " +
      f"allpairs_clusters=${full.size} agree=${reps == full} " +
      f"reps_sec=${(t1 - t0) / 1e9}%.1f allpairs_sec=${(t2 - t1) / 1e9}%.1f")
    if (reps != full)
      println(s"[reps-parity] DIVERGED reps-only=${only1.take(5)} allpairs-only=${only2.take(5)}")
    spark.stop()
  }
}
