package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.ops.{Dedup, Graph}

/** Prints `explain("formatted")` for named [[SparkEntry]] queries — the
  * plan evidence the optimization rounds commit under plans/rNN/: scan
  * pushdown (`PushedFilters`, `ReadSchema`), join strategies and
  * WholeStageCodegen spans.
  *
  * Usage: tools/runmain.sh graft.Explain <sfDir> <q,...> [key=value ...]
  *
  * The session is Bench's (cores from `SPARK_GRAFT_CPUS`, default 32), so
  * the plan is the one the bench executes at that data size; `key=value`
  * arguments are session-conf overrides applied before planning. The
  * query is not run, but size-gated operators run their small count jobs
  * while the plan is built.
  */
object Explain {
  /** Inner plans that the declared query hides behind an eager truncate
    * (which explains as a bare ExistingRDD leaf), dumped under
    * pseudo-names. */
  private val inner: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the un-truncated triangle plan the truncate runs
    "graph_triangles!plan" -> ((s, d) => Graph.trianglePlanOriented(
      Graph.orientedEdges(Graph.edges(s, d), Graph.degrees(s, d)))._1),
    // the nbr_jaccard wedge count crosses into RDD space (run-length pass
    // over a sorted shuffle): its tagged+sorted wedge∪edge subplan
    "graph_nbr_jaccard!wedges" -> ((s, d) => Graph.nbrTaggedSortedParts(
      Graph.cappedAdjacency(s, d), Graph.edges(s, d))),
    // connected components materializes the reps' chain-candidate →
    // verify plan eagerly: the verified chain graph it consumes
    "dedup_minhash_reps!verified" -> ((s, d) =>
      Dedup.minhashChainVerified(Tables.documents(s, d))))

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Explain <sfDir> <q,...> [key=value ...]")
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val overrides = Session.confOverrides(args.drop(2).toSeq)
    val fns = names.map(n => n -> inner.getOrElse(n,
      SparkEntry.queries.getOrElse(n, sys.error(s"unknown query $n"))))
    val spark = Session.local(Session.cpus(32)).appName("graft-explain").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    for ((n, fn) <- fns) {
      println(s"=== $n @ $sfDir ===")
      println(fn(spark, sfDir).queryExecution.explainString(FormattedMode))
    }
    spark.stop()
  }
}
