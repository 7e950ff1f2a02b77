package graft

import graft.streaming.EventStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

class StreamingSpec extends SparkSpec {

  /** Drain a query that cannot self-terminate (processing-time TTL keeps
    * scheduling cleanup micro-batches, even under AvailableNow): wait
    * until at least `minRows` INPUT rows have been committed — progress
    * is reported after the batch's sink commit — then stop. Asserting on
    * committed progress instead of a blind timed wait means a loaded
    * host fails loudly rather than reading a truncated sink
    * (advisor r17: the bare awaitTermination-ignoring-result hazard). */
  private def drainAtLeast(q: org.apache.spark.sql.streaming.StreamingQuery,
                           minRows: Long, timeoutMs: Long = 120000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def committed: Long = q.recentProgress.iterator.map(_.numInputRows).sum
    while (committed < minRows && q.isActive &&
           System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(committed >= minRows,
      s"query committed $committed < $minRows input rows within ${timeoutMs}ms")
    q.stop()
    assert(q.awaitTermination(30000), "query did not stop within 30s")
  }

  test("streaming tumbling counts match the batch query totals") {
    val events = EventStream.readEvents(spark, sfDir)
    assert(events.isStreaming)
    EventStream.runToCompletion(EventStream.tumblingCounts(events), "tumbling_test")
    val streamed = spark.table("tumbling_test")
      .agg(sum("n")).first().getLong(0)
    val batch = Tables.events(spark, sfDir).count()
    assert(streamed == batch)
  }

  test("streaming session windows produce bounded sessions") {
    val events = EventStream.readEvents(spark, sfDir)
    EventStream.runToCompletion(EventStream.sessionCounts(events), "session_test")
    val rows = spark.table("session_test").collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("n_events")).sum == Tables.events(spark, sfDir).count())
  }

  test("readEvents streams a DIRECTORY-form events table (ScaleGen layout)") {
    // ScaleGen writes events.parquet as a Spark directory of part files;
    // the single-file glob filter must NOT apply there or the source
    // matches zero files and every downstream query "completes" over an
    // empty stream (the r12 sf1 finding: stream_dedup "ran" in 0.18 s
    // because it deduped nothing)
    import java.nio.file.{Files => JFiles}
    val root = JFiles.createTempDirectory("graftevdir")
    Tables.events(spark, sfDir).repartition(3)
      .write.parquet(root.resolve("events.parquet").toString)
    val events = EventStream.readEvents(spark, root.toString)
    EventStream.runToCompletion(EventStream.tumblingCounts(events), "evdir_test")
    val streamed = spark.table("evdir_test").agg(sum("n")).first().getLong(0)
    assert(streamed == Tables.events(spark, sfDir).count(),
      s"directory-form stream processed $streamed rows")
  }

  test("streaming dedup passes distinct event_ids through") {
    val events = EventStream.readEvents(spark, sfDir)
    EventStream.runToCompletion(EventStream.streamingDedup(events), "dedup_test",
      OutputMode.Append())
    val n = spark.table("dedup_test").select("event_id").distinct().count()
    assert(n == spark.table("dedup_test").count())
    assert(n == Tables.events(spark, sfDir).select("event_id").distinct().count())
  }

  test("append-mode windows finalize exactly once; super-late rows cannot resurrect them") {
    // The watermark's hard guarantee is one-directional: a window is
    // never finalized before the watermark passes it, and once emitted +
    // evicted it is emitted EXACTLY once — a row arriving after eviction
    // must not resurrect the window (downstream consumers rely on
    // append-mode's at-most-once-per-window emission). (Spark docs are
    // explicit that a late row arriving while the state is still alive
    // MAY still be aggregated — so that is deliberately not asserted.)
    import spark.implicits._
    import java.nio.file.{Files => JFiles}
    val watch = JFiles.createTempDirectory("graftlate")
    val stage = JFiles.createTempDirectory("graftlatestage")
    var mt = System.currentTimeMillis() - 600000
    def writeBatch(name: String, rows: Seq[(Long, java.sql.Timestamp, Double)]): Unit = {
      val out = stage.resolve(name + "_dir").toString
      rows.toDF("event_id", "ts", "value").coalesce(1).write.parquet(out)
      val part = new java.io.File(out).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = watch.resolve(name + ".parquet")
      JFiles.copy(part.toPath, dst)
      mt += 60000 // strictly increasing mtimes => deterministic batch order
      dst.toFile.setLastModified(mt)
    }
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(min: Int) = new java.sql.Timestamp(t0 + min * 60000L)
    // batch a: the window's event + a far-future event (advances the
    // watermark to 590min once the batch commits)
    writeBatch("a", Seq((1L, ts(1), 1.0), (2L, ts(600), 1.0)))
    // batch b: unrelated on-time event; its batch applies the advanced
    // watermark, finalizing and evicting window [0,10) with n=1
    writeBatch("b", Seq((3L, ts(601), 1.0)))
    // batch c: SUPER-late row for the already-evicted window [0,10)
    writeBatch("c", Seq((4L, ts(5), 1.0)))
    val schema = spark.read.parquet(watch.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(watch.toString)
    val agg = stream.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes")).agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("long").as("win_start"), col("n"))
    EventStream.runToCompletion(agg, "late_test", OutputMode.Append())
    val win0 = spark.table("late_test").collect()
      .filter(_.getAs[Long]("win_start") == t0 / 1000)
    assert(win0.length == 1,
      s"window [0,10) must be emitted exactly once, got ${win0.length}")
    assert(win0.head.getAs[Long]("n") == 1L,
      s"the evicted window held only the on-time event, got n=${win0.head.getAs[Long]("n")}")
  }

  test("streaming content dedup drops same-fingerprint docs across micro-batches") {
    import spark.implicits._
    import java.nio.file.{Files => JFiles}
    val watch = JFiles.createTempDirectory("graftcdedup")
    val stage = JFiles.createTempDirectory("graftcdedupstage")
    var mt = System.currentTimeMillis() - 600000
    def writeBatch(name: String, rows: Seq[(Long, java.sql.Timestamp, String)]): Unit = {
      val out = stage.resolve(name + "_dir").toString
      rows.toDF("doc_id", "ts", "text").coalesce(1).write.parquet(out)
      val part = new java.io.File(out).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = watch.resolve(name + ".parquet")
      JFiles.copy(part.toPath, dst)
      mt += 60000
      dst.toFile.setLastModified(mt)
    }
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(min: Int) = new java.sql.Timestamp(t0 + min * 60000L)
    // doc 2 duplicates doc 1 after normalization (case + whitespace);
    // doc 4 duplicates doc 1 from a LATER micro-batch (cross-batch state)
    writeBatch("a", Seq(
      (1L, ts(0), "hello world"),
      (2L, ts(1), "  Hello   WORLD "),
      (3L, ts(2), "something else")))
    writeBatch("b", Seq(
      (4L, ts(3), "hello world"),
      (5L, ts(4), "fresh content")))
    val schema = spark.read.parquet(watch.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(watch.toString)
    EventStream.runToCompletion(
      EventStream.streamingContentDedup(stream), "cdedup_test", OutputMode.Append())
    val kept = spark.table("cdedup_test").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(kept.size == 3, s"3 distinct contents expected, kept $kept")
    assert(kept.contains(3L) && kept.contains(5L))
    assert(kept.intersect(Set(1L, 2L)).size == 1, "exactly one of the in-batch dups")
    assert(!kept.contains(4L) || !kept.contains(1L),
      "cross-batch duplicate must not appear twice")
  }

  test("foreachBatch versioned upsert snapshot equals the batch aggregate") {
    import spark.implicits._
    import java.nio.file.{Files => JFiles}
    val watch = JFiles.createTempDirectory("graftupsert")
    val stage = JFiles.createTempDirectory("graftupsertstage")
    val state = JFiles.createTempDirectory("graftupsertstate").toString
    var mt = System.currentTimeMillis() - 600000
    def writeBatch(name: String, rows: Seq[(Long, Double)]): Unit = {
      val out = stage.resolve(name + "_dir").toString
      rows.toDF("user_id", "value").coalesce(1).write.parquet(out)
      val part = new java.io.File(out).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = watch.resolve(name + ".parquet")
      JFiles.copy(part.toPath, dst)
      mt += 60000
      dst.toFile.setLastModified(mt)
    }
    writeBatch("a", Seq((1L, 10.0), (2L, 5.0), (1L, 2.5)))
    writeBatch("b", Seq((1L, 1.0), (3L, 7.0)))
    val schema = spark.read.parquet(watch.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(watch.toString)
    EventStream.runningTotalsUpsert(stream, state)
    // at least two snapshot versions => the merge path actually ran
    val versions = new java.io.File(state).listFiles().map(_.getName).sorted
    assert(versions.length >= 2, versions.mkString(","))
    val got = EventStream.latestSnapshot(spark, state).collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("n"), r.getAs[Double]("total")))).toMap
    assert(got == Map(1L -> ((3L, 13.5)), 2L -> ((1L, 5.0)), 3L -> ((1L, 7.0))))
  }

  test("upsert sink + checkpoint: restart resumes without re-counting committed batches") {
    import spark.implicits._
    import java.nio.file.{Files => JFiles}
    val watch = JFiles.createTempDirectory("graftrestart")
    val stage = JFiles.createTempDirectory("graftrestartstage")
    val state = JFiles.createTempDirectory("graftrestartstate").toString
    val ckpt = JFiles.createTempDirectory("graftrestartckpt").toString
    var mt = System.currentTimeMillis() - 600000
    def writeBatch(name: String, rows: Seq[(Long, Double)]): Unit = {
      val out = stage.resolve(name + "_dir").toString
      rows.toDF("user_id", "value").coalesce(1).write.parquet(out)
      val part = new java.io.File(out).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = watch.resolve(name + ".parquet")
      JFiles.copy(part.toPath, dst)
      mt += 60000
      dst.toFile.setLastModified(mt)
    }
    def stream = {
      val schema = spark.read.parquet(watch.toString).schema
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(watch.toString)
    }
    writeBatch("a", Seq((1L, 10.0), (2L, 5.0)))
    EventStream.runningTotalsUpsert(stream, state, Some(ckpt))
    // "deploy" stops the query; new data lands; same checkpoint restarts
    writeBatch("b", Seq((1L, 1.0), (3L, 7.0)))
    EventStream.runningTotalsUpsert(stream, state, Some(ckpt))
    val got = EventStream.latestSnapshot(spark, state).collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("n"), r.getAs[Double]("total")))).toMap
    // batch a counted EXACTLY once despite the restart
    assert(got == Map(1L -> ((2L, 11.0)), 2L -> ((1L, 5.0)), 3L -> ((1L, 7.0))), got.toString)
    val versions = new java.io.File(state).listFiles().map(_.getName).sorted.toSeq
    assert(versions == Seq("v0", "v1"),
      s"restart must process only the new batch, got $versions")
  }

  test("stream-stream interval join matches the batch interval join") {
    val events = EventStream.readEvents(spark, sfDir)
    EventStream.runToCompletion(
      EventStream.purchaseClickJoin(events), "ssjoin_test", OutputMode.Append())
    val streamed = spark.table("ssjoin_test").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("purchase_id"),
        r.getAs[Long]("click_id"), r.getAs[Long]("lag_sec"))).toSet
    // independent batch execution of the same interval-join logic
    val ev = Tables.events(spark, sfDir)
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("p_ts"))
    val batch = p.join(c,
      col("c_user") === col("user_id") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
        col("c_ts") <= col("p_ts"))
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        (unix_timestamp(col("p_ts")) - unix_timestamp(col("c_ts"))).as("lag_sec"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("streaming funnel state machine matches the batch funnel stage counts") {
    val events = EventStream.readEvents(spark, sfDir)
    EventStream.runToCompletion(
      EventStream.streamingFunnel(spark, events), "funnel_test", OutputMode.Append())
    // last emission per user = final funnel progress
    val rows = spark.table("funnel_test").collect()
      .map(r => (r.getAs[Long]("userId"),
        (r.getAs[Boolean]("viewed"), r.getAs[Boolean]("clicked"), r.getAs[Boolean]("purchased"))))
      .toMap // single batch -> one emission per user
    val streamed = (
      rows.values.count(_._1).toLong,
      rows.values.count(t => t._1 && t._2).toLong,
      rows.values.count(t => t._1 && t._2 && t._3).toLong)
    val batch = graft.ops.EventTime.funnel(spark, sfDir).first()
    assert(streamed == ((batch.getAs[Long]("n_view"),
      batch.getAs[Long]("n_view_click"),
      batch.getAs[Long]("n_view_click_purchase"))))
  }

  test("transformWithState (Spark 4 stateful API) emits per-user running totals") {
    val spark2 = spark.newSession()
    spark2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val events = EventStream.readEvents(spark2, sfDir)
    EventStream.runToCompletion(
      EventStream.runningUserTotalsTws(spark2, events), "tws_test",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val rows = spark2.table("tws_test").collect()
    assert(rows.nonEmpty)
    val lastN = rows.groupBy(_.getAs[Long]("userId"))
      .view.mapValues(_.map(_.getAs[Long]("nEvents")).max).toMap
    val batch = Tables.events(spark2, sfDir).groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lastN == batch)
  }

  test("flatMapGroupsWithState emits per-user running totals") {
    val events = EventStream.readEvents(spark, sfDir)
    EventStream.runToCompletion(
      EventStream.runningUserTotals(spark, events), "state_test", OutputMode.Append())
    val rows = spark.table("state_test").collect()
    assert(rows.nonEmpty)
    // last emission per user should equal the batch per-user count
    val lastN = rows.groupBy(_.getAs[Long]("userId"))
      .view.mapValues(_.map(_.getAs[Long]("nEvents")).max).toMap
    val batch = Tables.events(spark, sfDir).groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lastN == batch)
  }
  test("stream-static enrichment join matches the batch z-score anomalies") {
    val stats = Tables.events(spark, sfDir).groupBy("event_type")
      .agg(avg("value").as("mu"), stddev_pop(col("value")).as("sd"))
    val stream = EventStream.streamingAnomalies(
      EventStream.readEvents(spark, sfDir), stats)
    assert(stream.isStreaming)
    EventStream.runToCompletion(stream, "anomaly_test", OutputMode.Append())
    val streamed = spark.table("anomaly_test").collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("z")).toMap
    val batch = graft.ops.EventTime.anomalyZScore(spark, sfDir).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("z")).toMap
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }
  test("streaming sliding counts match the same plan run in batch") {
    EventStream.runToCompletion(
      EventStream.slidingCounts(EventStream.readEvents(spark, sfDir)), "sliding_test")
    val streamed = spark.table("sliding_test").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    // the SAME transform applied to the static table (withWatermark is a
    // no-op in batch) must produce the identical window set
    val batch = EventStream.slidingCounts(Tables.events(spark, sfDir)).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("streaming LSH near-dup catches every batch-verified pair across micro-batches") {
    import graft.streaming.DedupStream
    val spark2 = spark.newSession()
    spark2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark2.implicits._
    // planted corpus: 20 bases of 80 tokens; docs 100+i near-dup base i
    // (2 of 80 tokens replaced => high shingle Jaccard), first 3 identical
    val rng = new scala.util.Random(7)
    val vocab = Array.tabulate(1000)(i => s"w$i")
    val bases = Array.tabulate(20)(_ => Array.fill(80)(vocab(rng.nextInt(vocab.length))))
    val rows = bases.zipWithIndex.map { case (t, i) => (i.toLong, t.mkString(" ")) } ++
      (0 until 3).map(i => ((100 + i).toLong, bases(i).mkString(" "))) ++
      (3 until 10).map { i =>
        val t = bases(i).clone()
        (0 until 2).foreach(_ => t(rng.nextInt(t.length)) = vocab(rng.nextInt(vocab.length)))
        ((100 + i).toLong, t.mkString(" "))
      }
    val docs = rows.toSeq.toDF("doc_id", "text")
    // bases arrive in earlier micro-batches than their near-dups: the
    // cross-batch path (state registry) is what finds the pairs
    val watch = java.nio.file.Files.createTempDirectory("graftlshstream")
    docs.filter(col("doc_id") < 100).coalesce(1)
      .write.mode("append").parquet(watch.toString)
    docs.filter(col("doc_id") >= 100).coalesce(1)
      .write.mode("append").parquet(watch.toString)
    val stream = spark2.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1").parquet(watch.toString)
    EventStream.runToCompletion(
      DedupStream.streamingNearDup(spark2, stream), "lsh_stream_test",
      OutputMode.Append())
    val streamed = spark2.table("lsh_stream_test").collect()
      .map(r => (r.getAs[Long]("docA"), r.getAs[Long]("docB"))).toSet
    // batch truth: the full verified near-dup pipeline on the same corpus
    val batchPairs = graft.ops.Dedup.minhashPairsDf(docs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(batchPairs.size >= 8, s"planted corpus too weak: $batchPairs")
    // streaming candidates are a superset of batch-verified pairs
    // (streaming emits sketch candidates; batch additionally jaccard-verifies)
    val missed = batchPairs -- streamed
    assert(missed.isEmpty, s"streaming missed batch-verified pairs: $missed")
    // and every planted identical pair was caught on arrival
    (0 until 3).foreach(i => assert(streamed.contains((i.toLong, (100 + i).toLong))))
  }

  test("streaming reps edges close into exactly the batch minhash cluster reps") {
    import graft.streaming.DedupStream
    val spark2 = spark.newSession()
    spark2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark2.implicits._
    // planted replica clusters of varying size: bases 0..9 of 80 tokens;
    // base i < 4 gets THREE near-dup replicas (ids 100+3i..102+3i — one
    // identical, two 2-token mutations), bases 4..6 get one replica each,
    // 7..9 stay singletons. Multi-member clusters are the case reps
    // emission exists for (pair mode pays C(k,2) rows).
    val rng = new scala.util.Random(11)
    val vocab = Array.tabulate(1000)(i => s"w$i")
    val bases = Array.tabulate(10)(_ => Array.fill(80)(vocab(rng.nextInt(vocab.length))))
    def mutate(t: Array[String]): String = {
      val c = t.clone()
      (0 until 2).foreach(_ => c(rng.nextInt(c.length)) = vocab(rng.nextInt(vocab.length)))
      c.mkString(" ")
    }
    val rows = bases.zipWithIndex.map { case (t, i) => (i.toLong, t.mkString(" ")) } ++
      (0 until 4).flatMap(i => Seq(
        ((100 + 3 * i).toLong, bases(i).mkString(" ")),
        ((101 + 3 * i).toLong, mutate(bases(i))),
        ((102 + 3 * i).toLong, mutate(bases(i))))) ++
      (4 until 7).map(i => ((120 + i).toLong, mutate(bases(i))))
    val docs = rows.toSeq.toDF("doc_id", "text")
    // bases land in an earlier micro-batch than the replicas: linkage
    // must cross the state registry, not just intra-batch compares
    val watch = java.nio.file.Files.createTempDirectory("graftlshreps")
    docs.filter(col("doc_id") < 100).coalesce(1)
      .write.mode("append").parquet(watch.toString)
    docs.filter(col("doc_id") >= 100).coalesce(1)
      .write.mode("append").parquet(watch.toString)
    val stream = spark2.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1").parquet(watch.toString)
    EventStream.runToCompletion(
      DedupStream.streamingNearDupReps(spark2, stream), "lsh_reps_test",
      OutputMode.Append())
    val edges = spark2.table("lsh_reps_test")

    // linearity contract: reps mode emits at most ONE edge per
    // (member, band) arrival visit — never one per registered match.
    // (member = max-id endpoint identifies the ARRIVAL only because this
    // corpus delivers lower-id bases in the earlier micro-batch — the
    // planted layout, not a general property of the edge schema.)
    val maxPerVisit = edges.groupBy(col("member"), col("band"))
      .count().agg(max(col("count"))).collect()(0).getLong(0)
    assert(maxPerVisit == 1L, s"reps mode emitted $maxPerVisit edges in one bucket visit")

    // cluster parity: union-find closure over the streamed edges must
    // equal the batch cluster-reps rollup on the same corpus
    val streamClusters = graft.ops.Dedup
      .connectedComponents(edges.select(col("rep"), col("member")), "rep", "member")
      .groupBy(col("label")).agg(count(lit(1)).as("n"),
        sum(col("id")).as("s"), max(col("id")).as("m"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batchClusters = graft.ops.Dedup.minhashClusterRepsDf(docs)
      .collect().map(r => (r.getAs[Long]("rep_id"), r.getAs[Long]("n_members"),
        r.getAs[Long]("id_sum"), r.getAs[Long]("max_id"))).toSet
    assert(batchClusters.exists(_._2 >= 4L),
      s"planted corpus too weak — no multi-replica cluster: $batchClusters")
    assert(streamClusters == batchClusters,
      s"stream reps $streamClusters != batch reps $batchClusters")

    // the CONSUMED output: the library consumer must turn the edge sink
    // into per-member (doc_id, rep_id) assignments whose rollup equals
    // the batch cluster-reps table — not just closure-equal edge sets
    val assigned = DedupStream.repsAssignments(edges).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rep_id")))
    assert(assigned.map(_._1).distinct.length == assigned.length,
      "every linked doc appears exactly once")
    // reps map to themselves; every rep_id is the min doc of its cluster
    val byRep = assigned.groupBy(_._2)
    byRep.foreach { case (rep, members) =>
      assert(members.map(_._1).min == rep, s"rep $rep is not its cluster min")
      assert(members.exists(_._1 == rep), s"rep $rep missing its own row")
    }
    val rolledUp = byRep.map { case (rep, ms) =>
      (rep, ms.length.toLong, ms.map(_._1).sum, ms.map(_._1).max)
    }.toSet
    assert(rolledUp == batchClusters,
      s"consumed assignments $rolledUp != batch reps $batchClusters")

    // in-stream alternative to the batch side-trip above: replay the
    // same edges through the union-find rollup stage and fold its
    // deltas — must land on the identical assignment table
    val edgeDir = java.nio.file.Files.createTempDirectory("graftrepsedges")
    edges.select(col("rep"), col("member")).coalesce(1)
      .write.mode("overwrite").parquet(edgeDir.toString)
    val edgeStream = spark2.readStream.schema("rep LONG, member LONG")
      .parquet(edgeDir.toString)
    // the rollup runs in its own width-1 clone of spark2, where the
    // memory sink registers its table
    val rollup = DedupStream.repsRollupStream(spark2, edgeStream)
    EventStream.runToCompletion(rollup, "reps_rollup_test", OutputMode.Append())
    val streamedAssignments = DedupStream
      .assignmentsFromDeltas(rollup.sparkSession.table("reps_rollup_test"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamedAssignments == assigned.toSet,
      s"in-stream rollup $streamedAssignments != batch repsAssignments ${assigned.toSet}")
  }

  test("in-stream reps rollup deltas fold to repsAssignments across a checkpointed restart") {
    import graft.streaming.DedupStream
    import java.nio.file.{Files => JFiles}
    val spark2 = spark.newSession()
    spark2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark2.conf.set("spark.sql.shuffle.partitions", "4")
    import spark2.implicits._
    // hand-built edge stream, chosen so the SECOND deploy merges two
    // multi-member sets built in the first: the losing set's
    // re-emission walk and the checkpoint-restored parent/next/tail
    // maps are both on the hook — deploy 2's (5,1)(6,1)(7,1) rows can
    // only exist if the restored state held set {5,6,7} intact
    val watch = JFiles.createTempDirectory("graftrollup")
    val ckpt = JFiles.createTempDirectory("graftrollupckpt").toString
    val outDir = JFiles.createTempDirectory("graftrollupout").toString
    def writeBatch(name: String, rows: Seq[(Long, Long)]): Unit = {
      val stage = JFiles.createTempDirectory(name).resolve("out").toString
      rows.toDF("rep", "member").coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      JFiles.copy(part.toPath, watch.resolve(name + ".parquet"))
    }
    def runOnce(): Unit = {
      val stream = spark2.readStream.schema("rep LONG, member LONG")
        .parquet(watch.toString)
      val q = DedupStream.repsRollupStream(spark2, stream).writeStream
        .format("parquet").option("path", outDir)
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .start()
      q.processAllAvailable(); q.stop()
    }
    val batchA = Seq((5L, 6L), (5L, 7L), (10L, 11L))
    val batchB = Seq((11L, 12L), (2L, 10L), (1L, 7L), (1L, 2L))
    writeBatch("a", batchA)
    runOnce() // deploy 1: sets {5,6,7} and {10,11}
    writeBatch("b", batchB)
    runOnce() // deploy 2 (same checkpoint): everything merges under 1
    val deltas = spark2.read.parquet(outDir)
    // exact delta multiset (processing sorts edges per batch, so the
    // emission sequence is deterministic; deploy-2 edges sort to
    // (1,2),(1,7),(2,10),(11,12))
    val expected = Seq(
      // deploy 1
      (5L, 5L), (6L, 6L), (6L, 5L), (7L, 7L), (7L, 5L),
      (10L, 10L), (11L, 11L), (11L, 10L),
      // deploy 2
      (1L, 1L), (2L, 2L), (2L, 1L),           // (1,2)
      (5L, 1L), (6L, 1L), (7L, 1L),           // (1,7): set {5,6,7} loses
      (10L, 1L), (11L, 1L),                   // (2,10): set {10,11} loses
      (12L, 12L), (12L, 1L))                  // (11,12)
    val got = deltas.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.sorted == expected.sorted,
      s"delta multiset mismatch: got ${got.sorted} expected ${expected.sorted}")
    // the consumption contract: min-per-doc fold == the batch CC rollup
    // over the same edges — the table a consumer reads with NO batch
    // connected-components side-trip
    val folded = DedupStream.assignmentsFromDeltas(deltas).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaCc = DedupStream.repsAssignments((batchA ++ batchB)
        .toDF("rep", "member").withColumn("est_sim", lit(1.0)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(folded == viaCc, s"fold $folded != repsAssignments $viaCc")
    assert(folded == Set(1L, 2L, 5L, 6L, 7L, 10L, 11L, 12L).map(_ -> 1L))
  }

  test("rollup pre-reduction is exact in the wired stream: deltas match prereduce=false") {
    // the two-level-CC stage (RollupCore.localForest via mapPartitions)
    // must not change WHAT the serial stage emits — only how many edges
    // reach it. Replay a redundancy-heavy edge corpus through the
    // operator and through a forest-less reference (the raw feed straight
    // into the serial processor) and require the identical delta multiset.
    import graft.streaming.DedupStream
    val spark2 = spark.newSession()
    spark2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark2.conf.set("spark.sql.shuffle.partitions", "4")
    import spark2.implicits._
    val rng = new scala.util.Random(29)
    val edges = rng.shuffle(for {
      c <- 0 until 5; i <- 0 until 6; j <- i + 1 until 6
      _ <- 0 until 3 // band-fold style re-emission
    } yield (c * 50L + i, c * 50L + j))
    val dir = java.nio.file.Files.createTempDirectory("graftprereduce")
    edges.toDF("rep", "member").repartition(6)
      .write.mode("overwrite").parquet(dir.toString)
    def run(rollup: DataFrame => DataFrame, table: String): Seq[(Long, Long)] = {
      val stream = spark2.readStream.schema("rep LONG, member LONG")
        .parquet(dir.toString)
      val df = rollup(stream)
      EventStream.runToCompletion(df, table, OutputMode.Append())
      df.sparkSession.table(table).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val reduced = run(DedupStream.repsRollupStream(spark2, _), "prereduce_on")
    // the reference's single-key state stage runs at the operator's
    // width of 1
    spark2.conf.set("spark.sql.shuffle.partitions", "1")
    val raw = run(_.select(col("rep"), col("member")).as[(Long, Long)]
      .groupByKey(_ => 0L)
      .transformWithState(new DedupStream.RepsRollupProcessor(None), TimeMode.None(),
        OutputMode.Append())
      .toDF("doc_id", "rep_id"), "prereduce_off")
    assert(reduced.sorted == raw.sorted,
      s"pre-reduction changed the delta multiset: ${reduced.sorted} vs ${raw.sorted}")
    // sanity that the stage actually cuts the serial input on this feed
    val keptCount = graft.streaming.RollupCore.localForest(edges.toArray).size
    assert(keptCount * 2 < edges.size,
      s"expected a big cut on a dense feed: $keptCount of ${edges.size}")
  }

  test("reps rollup leaves the caller's session conf alone and runs its state stage 1 wide") {
    import graft.streaming.DedupStream
    import java.nio.file.{Files => JFiles}
    val spark2 = spark.newSession()
    spark2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark2.conf.set("spark.sql.shuffle.partitions", "4")
    import spark2.implicits._
    // deploy 1 of the checkpointed-restart case: one file, one batch
    val watch = JFiles.createTempDirectory("graftrollupconf")
    Seq((5L, 6L), (5L, 7L), (10L, 11L)).toDF("rep", "member").coalesce(1)
      .write.mode("overwrite").parquet(watch.toString)
    val stream = spark2.readStream.schema("rep LONG, member LONG").parquet(watch.toString)
    val rollup = DedupStream.repsRollupStream(spark2, stream)
    assert(spark2.conf.get("spark.sql.shuffle.partitions") == "4", "conf changed by build")
    val out = JFiles.createTempDirectory("graftrollupconfout").toString
    val q = rollup.writeStream.format("parquet").option("path", out)
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", JFiles.createTempDirectory("graftrollupconfck").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(spark2.conf.get("spark.sql.shuffle.partitions") == "4", "conf changed by run")
    val got = spark2.read.parquet(out).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = Seq((5L, 5L), (6L, 6L), (6L, 5L), (7L, 7L), (7L, 5L),
      (10L, 10L), (11L, 11L), (11L, 10L))
    assert(got.sorted == expected.sorted, s"delta multiset: ${got.sorted}")
    val stateOps = q.recentProgress.filter(_.numInputRows > 0).flatMap(_.stateOperators)
    assert(stateOps.nonEmpty, "no state operator progress")
    assert(stateOps.forall(_.numShufflePartitions == 1L),
      s"state partitions: ${stateOps.map(_.numShufflePartitions).toSeq}")
  }

  test("rollup TTL mode (repair path live) matches the unbounded run when nothing expires") {
    // ttl=Some(...) flips the processor into ProcessingTime mode with
    // TTLConfig'd MapStates AND routes every resolve through the
    // verified-root/repair path (RollupCore.repairOrphans). With a
    // horizon far beyond the test's runtime nothing evicts, so the
    // deltas must equal the unbounded run's exactly — pinning the
    // TTL-mode wiring and the repair path against real RocksDB state,
    // deterministically (evictions themselves are pinned in
    // RollupCoreSpec with a simulated store).
    import graft.streaming.DedupStream
    val spark2 = spark.newSession()
    spark2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark2.conf.set("spark.sql.shuffle.partitions", "4")
    import spark2.implicits._
    val rng = new scala.util.Random(31)
    val edges = rng.shuffle(for {
      c <- 0 until 4; i <- 0 until 5; j <- i + 1 until 5; _ <- 0 until 2
    } yield (c * 40L + i, c * 40L + j))
    val dir = java.nio.file.Files.createTempDirectory("graftrollupttl")
    edges.toDF("rep", "member").repartition(3)
      .write.mode("overwrite").parquet(dir.toString)
    // TTL mode runs in processing-time mode, so drive it with
    // AvailableNow (the repo-wide pattern for TTL queries — under the
    // default trigger, TTL maintenance batches keep the query busy and
    // processAllAvailable never settles; see repsRollupStream's doc)
    // advisor r17: a plain bounded awaitTermination can read a partial
    // sink (or let BOTH runs truncate identically and pass vacuously).
    // The unbounded run settles, so its termination is ASSERTED and its
    // row count is complete by construction; the TTL run (processing-
    // time mode) legitimately idles on TTL maintenance past any fixed
    // bound under AvailableNow, so instead of asserting termination it
    // polls the sink up to the known-complete count before stopping —
    // the multiset equality below then cannot compare two truncations.
    def run(ttl: Option[java.time.Duration], tag: String,
            expectRows: Option[Int]): Seq[(Long, Long)] = {
      val out = java.nio.file.Files.createTempDirectory(s"graftrollupttl_$tag").toString
      val ckpt = java.nio.file.Files.createTempDirectory(s"graftrollupttlck_$tag").toString
      val stream = spark2.readStream.schema("rep LONG, member LONG")
        .parquet(dir.toString)
      val q = DedupStream.repsRollupStream(spark2, stream, ttl = ttl)
        .writeStream.format("parquet").option("path", out)
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      def sinkCount(): Long =
        try spark2.read.schema("doc_id LONG, rep_id LONG").parquet(out).count()
        catch { case _: Throwable => 0L }
      expectRows match {
        case None =>
          assert(q.awaitTermination(120000),
            s"unbounded rollup query ($tag) did not finish in 120s")
        case Some(n) =>
          val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
          while (sinkCount() < n && System.nanoTime() < deadline)
            Thread.sleep(500)
          assert(sinkCount() >= n,
            s"TTL rollup sink ($tag) still partial after 120s: ${sinkCount()} of $n rows")
      }
      q.stop()
      spark2.read.schema("doc_id LONG, rep_id LONG").parquet(out)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val unbounded = run(None, "off", expectRows = None)
    val ttlRun = run(Some(java.time.Duration.ofMinutes(30)), "on",
      expectRows = Some(unbounded.size))
    assert(ttlRun.sorted == unbounded.sorted,
      s"TTL-mode deltas diverged: ${ttlRun.sorted} vs ${unbounded.sorted}")
    assert(ttlRun.nonEmpty)
  }

  test("assignmentsFromDeltas runs as a live streaming aggregation over the delta stream") {
    // the docstring's claim, executed: because rep_id only ever
    // decreases per doc, the live assignment table is a plain min
    // aggregation — here run as an actual STREAMING agg over the delta
    // feed, so the whole chain (edges → rollup deltas → live table)
    // contains no batch job at all
    import graft.streaming.DedupStream
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftdeltastream")
    // two delta micro-batches as the rollup would emit them: singletons
    // + a later merge that re-labels docs 5 and 6 under root 1
    Seq((5L, 5L), (6L, 6L), (6L, 5L)).toDF("doc_id", "rep_id")
      .coalesce(1).write.mode("append").parquet(dir.toString)
    Seq((1L, 1L), (5L, 1L), (6L, 1L)).toDF("doc_id", "rep_id")
      .coalesce(1).write.mode("append").parquet(dir.toString)
    val deltas = spark.readStream.schema("doc_id LONG, rep_id LONG")
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val live = DedupStream.assignmentsFromDeltas(deltas)
    assert(live.isStreaming)
    EventStream.runToCompletion(live, "delta_fold_test", OutputMode.Complete())
    val got = spark.table("delta_fold_test").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 5L -> 1L, 6L -> 1L), got.toString)
  }

  test("LSH near-dup state survives a checkpointed restart (dups found across deploys)") {
    import graft.streaming.DedupStream
    import java.nio.file.{Files => JFiles}
    val spark2 = spark.newSession()
    spark2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark2.implicits._
    val rng = new scala.util.Random(11)
    val vocab = Array.tabulate(500)(i => s"t$i")
    val bases = Array.tabulate(5)(_ => Array.fill(60)(vocab(rng.nextInt(vocab.length))))
    val watch = JFiles.createTempDirectory("graftlshrestart")
    val ckpt = JFiles.createTempDirectory("graftlshrestartckpt").toString
    def writeBatch(name: String, rows: Seq[(Long, String)]): Unit = {
      val stage = JFiles.createTempDirectory(name).resolve("out").toString
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      JFiles.copy(part.toPath, watch.resolve(name + ".parquet"))
    }
    // memory sink cannot recover from a checkpoint — use the file sink,
    // whose manifest is also what gives exactly-once output on restart
    val outDir = JFiles.createTempDirectory("graftlshrestartout").toString
    def runOnce(): Unit = {
      val stream = spark2.readStream.schema("doc_id LONG, text STRING")
        .parquet(watch.toString)
      val q = DedupStream.streamingNearDup(spark2, stream).writeStream
        .format("parquet").option("path", outDir)
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .start()
      q.processAllAvailable(); q.stop()
    }
    // deploy 1: the base corpus registers in the bucket state
    writeBatch("a", bases.zipWithIndex.map { case (t, i) => (i.toLong, t.mkString(" ")) })
    runOnce()
    // deploy 2 (fresh memory sink, SAME checkpoint): near-dups arrive
    writeBatch("b", (0 until 5).map(i => ((100 + i).toLong, bases(i).mkString(" "))))
    runOnce()
    val pairs = spark2.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("docA"), r.getAs[Long]("docB"))).toSet
    // each pair requires the RESTORED registry: base i arrived before the
    // restart, so a lost state store could never produce (i, 100+i)
    (0 until 5).foreach(i =>
      assert(pairs.contains((i.toLong, (100 + i).toLong)),
        s"pair ($i, ${100 + i}) missing — state not restored: $pairs"))
  }

  test("LSH near-dup TTL bounds the horizon: expired registry entries stop matching") {
    import graft.streaming.DedupStream
    import java.nio.file.{Files => JFiles}
    // the 100 TB knob: with a TTL on the bucket registries, a base doc
    // that aged past the horizon must NOT pair with a later near-dup,
    // while a within-horizon run on the same corpus still finds it.
    // Two single-query runs per ttl (same checkpoint) so the second
    // micro-batch carries a LATER processing time than the first.
    def run(ttl: java.time.Duration, gapMs: Long): Set[(Long, Long)] = {
      val spark2 = spark.newSession()
      spark2.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // 4 state partitions, not 32: the corpus is 8 docs and each RocksDB
      // instance costs more than the data; keeps the 4 bounded runs quick
      spark2.conf.set("spark.sql.shuffle.partitions", "4")
      import spark2.implicits._
      val rng = new scala.util.Random(13)
      val vocab = Array.tabulate(400)(i => s"u$i")
      val bases = Array.tabulate(4)(_ => Array.fill(60)(vocab(rng.nextInt(vocab.length))))
      val watch = JFiles.createTempDirectory("graftlshttl")
      val ckpt = JFiles.createTempDirectory("graftlshttlckpt").toString
      val outDir = JFiles.createTempDirectory("graftlshttlout").toString
      def writeBatch(name: String, rows: Seq[(Long, String)]): Unit = {
        val stage = JFiles.createTempDirectory(name).resolve("out").toString
        rows.toDF("doc_id", "text").coalesce(1).write.parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        JFiles.copy(part.toPath, watch.resolve(name + ".parquet"))
      }
      def runOnce(expectRows: Long): Unit = {
        val stream = spark2.readStream.schema("doc_id LONG, text STRING")
          .parquet(watch.toString)
        // AvailableNow, not processAllAvailable: processing-time TTL
        // schedules recurring cleanup micro-batches, so the query never
        // self-terminates — drain on COMMITTED input-row progress (the
        // pending file lands in the first micro-batch) and then stop.
        val q = DedupStream.streamingNearDup(spark2, stream, Some(ttl)).writeStream
          .format("parquet").option("path", outDir)
          .outputMode(OutputMode.Append())
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        drainAtLeast(q, expectRows)
      }
      writeBatch("a", bases.zipWithIndex.map { case (t, i) => (i.toLong, t.mkString(" ")) })
      runOnce(bases.length.toLong)
      Thread.sleep(gapMs) // age the registry entries relative to the TTL
      writeBatch("b", (0 until 4).map(i => ((100 + i).toLong, bases(i).mkString(" "))))
      runOnce(4L)
      spark2.read.parquet(outDir).collect()
        .map(r => (r.getAs[Long]("docA"), r.getAs[Long]("docB"))).toSet
    }
    // generous horizon: identical docs arriving 0.1 s after registration pair up
    val within = run(java.time.Duration.ofMinutes(10), gapMs = 100)
    (0 until 4).foreach(i =>
      assert(within.contains((i.toLong, (100 + i).toLong)),
        s"within-horizon pair ($i, ${100 + i}) missing: $within"))
    // 1 s horizon, 3 s gap: every registry entry expired before batch b
    val expired = run(java.time.Duration.ofSeconds(1), gapMs = 3000)
    (0 until 4).foreach(i =>
      assert(!expired.contains((i.toLong, (100 + i).toLong)),
        s"pair ($i, ${100 + i}) found across an expired horizon: $expired"))
  }

  test("reps mode honors the TTL horizon through the same registry") {
    import graft.streaming.DedupStream
    import java.nio.file.{Files => JFiles}
    // the TTL filter runs before emission in BOTH modes (shared
    // handleInputRows prefix); this pins the reps-mode combination —
    // an aged base must neither link nor act as a cluster rep
    def run(ttl: java.time.Duration, gapMs: Long): Set[(Long, Long)] = {
      val spark2 = spark.newSession()
      spark2.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      spark2.conf.set("spark.sql.shuffle.partitions", "4")
      import spark2.implicits._
      val rng = new scala.util.Random(17)
      val vocab = Array.tabulate(400)(i => s"v$i")
      val bases = Array.tabulate(3)(_ => Array.fill(60)(vocab(rng.nextInt(vocab.length))))
      val watch = JFiles.createTempDirectory("graftrepsttl")
      val ckpt = JFiles.createTempDirectory("graftrepsttlckpt").toString
      val outDir = JFiles.createTempDirectory("graftrepsttlout").toString
      def writeBatch(name: String, rows: Seq[(Long, String)]): Unit = {
        val stage = JFiles.createTempDirectory(name).resolve("out").toString
        rows.toDF("doc_id", "text").coalesce(1).write.parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        JFiles.copy(part.toPath, watch.resolve(name + ".parquet"))
      }
      def runOnce(expectRows: Long): Unit = {
        val stream = spark2.readStream.schema("doc_id LONG, text STRING")
          .parquet(watch.toString)
        val q = DedupStream.streamingNearDupReps(spark2, stream, Some(ttl)).writeStream
          .format("parquet").option("path", outDir)
          .outputMode(OutputMode.Append())
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        drainAtLeast(q, expectRows)
      }
      writeBatch("a", bases.zipWithIndex.map { case (t, i) => (i.toLong, t.mkString(" ")) })
      runOnce(bases.length.toLong)
      Thread.sleep(gapMs)
      writeBatch("b", (0 until 3).map(i => ((100 + i).toLong, bases(i).mkString(" "))))
      runOnce(3L)
      spark2.read.parquet(outDir).collect()
        .map(r => (r.getAs[Long]("rep"), r.getAs[Long]("member"))).toSet
    }
    val within = run(java.time.Duration.ofMinutes(10), gapMs = 100)
    (0 until 3).foreach(i =>
      assert(within.contains((i.toLong, (100 + i).toLong)),
        s"within-horizon edge ($i, ${100 + i}) missing: $within"))
    val expired = run(java.time.Duration.ofSeconds(1), gapMs = 3000)
    (0 until 3).foreach(i =>
      assert(!expired.contains((i.toLong, (100 + i).toLong)),
        s"edge ($i, ${100 + i}) emitted across an expired horizon: $expired"))
  }
}
