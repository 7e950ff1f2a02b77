package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

/** One checkpoint-materialized DataFrame per (session, sf-dir, key) —
  * the cross-query sharing point for operator families that start from
  * the same expensive subplan (the graph family's co-purchase adjacency,
  * the set-overlap dedup family's posting-pair statistics, the embedding
  * family's LSH/cosine near-dup pair list). At cluster scale this is the
  * "materialize the shared intermediate once" discipline; on the bench it
  * removes 2-3 identical rebuilds of the same scan→aggregate subplan.
  *
  * Entries hold [[Dedup.truncate]]d results (reliable checkpoint when
  * `spark.graft.checkpointDir` is configured, localCheckpoint otherwise),
  * so a memoized value is flat block/file scans, never live lineage.
  * [[getOrBuildObserved]] entries also hold the statistics observed on
  * that materialization ([[Dedup.truncateObserved]]) — the figures the
  * size gates read, at no job of their own.
  *
  * SELF-HEALING: an entry whose local-checkpoint blocks were removed by a
  * caller's unpersist-all (or a lost executor before any reliable dir is
  * configured) fails validation and is rebuilt — and re-observed —
  * instead of poisoning every later consumer with
  * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. */
private[graft] object PlanMemo {
  private val entries =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), (DataFrame, Row)]

  private def valid(spark: SparkSession, df: DataFrame): Boolean =
    org.apache.spark.sql.graft.bridge.materializedRdd(df).forall { r =>
      // reliable checkpoint data lives in files and survives unpersist;
      // local-checkpoint blocks exist only while the RDD stays persisted
      r.getCheckpointFile.isDefined ||
        spark.sparkContext.getPersistentRDDs.contains(r.id)
    }

  /** The memoized value for (spark, dir, key), building (and
    * [[Dedup.truncate]]-materializing) it on first use or after its
    * blocks were swept. `build` must return an UN-truncated plan; the
    * memo owns the materialization so every entry is uniformly flat. */
  def getOrBuild(spark: SparkSession, dir: String, key: String)
                (build: => DataFrame): DataFrame =
    getOrBuildReleasable(spark, dir, key)((build, () => ()))

  /** [[getOrBuild]] plus `stats` observed on the entry's materialization
    * job: the Row holds them in `stats` order, and is stored, and rebuilt
    * on self-heal, with the entry. A key must always be read with the
    * same `stats`. */
  def getOrBuildObserved(spark: SparkSession, dir: String, key: String, stats: Column*)
                        (build: => DataFrame): (DataFrame, Row) =
    entry(spark, dir, key, stats)((build, () => ()))

  /** [[getOrBuild]] for builders that carry an internal cache: `build`
    * returns (plan, release); the release thunk runs AFTER the truncation
    * has materialized (the cache must outlive the checkpoint write, and
    * must not outlive it by more — CacheHygieneSpec pins no leaks). */
  def getOrBuildReleasable(spark: SparkSession, dir: String, key: String)
                          (build: => (DataFrame, () => Unit)): DataFrame =
    entry(spark, dir, key, Nil)(build)._1

  private def entry(spark: SparkSession, dir: String, key: String, stats: Seq[Column])
                   (build: => (DataFrame, () => Unit)): (DataFrame, Row) =
    entries.get((spark, dir, key)).filter(e => valid(spark, e._1)).getOrElse {
      val (plan, release) = build
      val built = Dedup.truncateObserved(plan, stats: _*)
      release()
      entries((spark, dir, key)) = built
      built
    }

  /** Drop all memo entries (long-lived sessions / tests). ContextCleaner
    * reclaims the blocks once the DataFrames are unreferenced. */
  def clear(): Unit = entries.clear()

  /** Block-storage ids of the live entries — lets cache-sweeping
    * harnesses (Bench's inter-query unpersist-all) EXEMPT the shared
    * intermediates, which exist precisely to persist across their
    * family's queries. */
  def rddIds: Set[Int] =
    entries.values.flatMap { case (df, _) =>
      org.apache.spark.sql.graft.bridge.materializedRdd(df).map(_.id) }.toSet
}
