package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming analogs of the batch event-time queries
  * (graft.ops.EventTime). The reference's "streaming" engine is bounded
  * batch-at-a-time pulling over finite inputs (`src/physical_plan/
  * streaming.rs:70-133`, `todo!()` join at `128-131`) — true unbounded
  * event-time processing with watermarks and state is beyond-reference
  * (SURVEY.md §2.6) and lives here.
  *
  * Sources are `readStream` over the same parquet directory (file-source
  * replay), so every transform below runs identically against Kafka/socket
  * sources in production. Watermarks bound state: at 100 TB/day the windowed
  * agg state per key is O(windows-in-flight), not O(stream length).
  */
object EventStream {

  /** File-replay stream of the events table. `maxFilesPerTrigger` gives
    * multi-micro-batch replay in tests. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    val batchSchema = spark.read.parquet(s"$dir/events.parquet").schema
    // the streaming file source needs a directory root. Driver testdata
    // ships events.parquet as a single FILE (point the source at the sf
    // dir and glob-filter to it); ScaleGen (sf1) writes a Spark DIRECTORY
    // of part files — stream the directory itself, one file per trigger,
    // which is also the realistic arrival pattern (N micro-batches). The
    // glob filter must NOT be applied in the directory case: it matches
    // leaf file names, so it would silently select ZERO part files and
    // the query would "complete" over an empty stream.
    // Directory detection goes through Hadoop's FileSystem (resolved with
    // the session's Hadoop conf), NOT java.io.File: on hdfs:// or s3a://
    // paths java.io.File.isDirectory is always false, a directory-form
    // events table would fall into the glob branch, match zero part files,
    // and the query would silently complete over an empty stream — the
    // exact bug class the directory branch exists to prevent.
    val evPath = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    val fs = evPath.getFileSystem(spark.sessionState.newHadoopConf())
    val isDir = fs.getFileStatus(evPath).isDirectory
    val reader = spark.readStream
      .schema(batchSchema)
      .option("maxFilesPerTrigger", "1")
    val raw =
      if (isDir) reader.parquet(evPath.toString)
      else reader.option("pathGlobFilter", "events.parquet").parquet(dir)
    // Normalize ts to TimestampType for watermarking, mirroring
    // graft.Tables.events: TIMESTAMP(NANOS) arrives as LongType ns under
    // nanosAsLong; TIMESTAMP(MICROS) without UTC adjustment arrives as
    // TIMESTAMP_NTZ, which watermarks reject — cast (wall-preserving, all
    // sessions pin spark.sql.session.timeZone=UTC).
    batchSchema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  /** Tumbling 1-hour windowed counts with a 2-hour watermark (late data
    * beyond the watermark is dropped; state for closed windows is evicted). */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(
        col("window.start").as("win_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Sliding 1-hour/15-minute windowed counts. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"))

  /** Event-time session windows via the native `session_window` (gap-based,
    * watermark-evicted session state). */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Streaming exact dedup on a key with watermark-bounded state — the
    * standard training-data-pipeline "seen-set" operator.
    * `dropDuplicatesWithinWatermark` (not plain `dropDuplicates`): when the
    * dedup key excludes the event-time column, plain `dropDuplicates` keeps
    * one state row per key FOREVER — unbounded state on an unbounded
    * stream. The WithinWatermark variant evicts each key once the watermark
    * passes its event time, bounding state to the 2-hour horizon while
    * still deduplicating any duplicate that arrives within it. */
  def streamingDedup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming CONTENT dedup for a document stream: fingerprint =
    * xxhash64 of whitespace-normalized lowercased text (the same codegen
    * kernel shape as the batch `text_fingerprint_fast`), deduplicated
    * within the watermark horizon. This is the streaming half of the
    * training-data ingestion story: near-real-time corpus feeds drop
    * same-content documents on arrival instead of paying a full-corpus
    * batch dedup later. State carries only the 8-byte fingerprint key,
    * never the text, and the watermark bounds it to the horizon. */
  def streamingContentDedup(docs: DataFrame): DataFrame =
    docs
      .withColumn("fp", xxhash64(
        regexp_replace(lower(trim(col("text"))), "\\s+", " ")))
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("fp")

  case class UserRunning(userId: Long, nEvents: Long, sumValue: Double)

  /** Custom per-key state via flatMapGroupsWithState: running per-user
    * event count/value sum — the `KeyValueGroupedDataset` stateful-op
    * surface. Production state eviction belongs to an event-time timeout
    * keyed off the watermark; kept at NoTimeout here because the finite
    * file-replay harness never advances processing time between batches. */
  def runningUserTotals(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events
      .selectExpr("user_id", "value")
      .as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserRunning, UserRunning](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[(Long, Double)], state: GroupState[UserRunning]) =>
          val prior = state.getOption.getOrElse(UserRunning(userId, 0L, 0.0))
          var n = prior.nEvents
          var s = prior.sumValue
          rows.foreach { case (_, v) => n += 1; s += v }
          val next = UserRunning(userId, n, s)
          state.update(next)
          Iterator(next)
      }
      .toDF()
  }

  case class FunnelState(vEs: Long, cEs: Long, pEs: Long) // -1 = not reached

  case class FunnelProgress(userId: Long, viewed: Boolean, clicked: Boolean,
                            purchased: Boolean)

  /** Streaming ordered-funnel state machine: per user, track the first
    * view, the first click at-or-after it, and the first purchase
    * at-or-after that — the stateful-streaming analog of
    * [[graft.ops.EventTime.funnel]] (StreamingSpec asserts the stage
    * counts agree). Events are sorted by event time within each
    * micro-batch's group before folding (funnel transitions are
    * order-sensitive; per-user-per-batch groups are small). Caveat held
    * by any streaming funnel: ordering across micro-batches follows
    * arrival, so an out-of-order stream needs an event-time-sorted
    * upstream or watermark-delayed emission. */
  def streamingFunnel(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events
      .selectExpr("user_id", "event_type", "CAST(unix_timestamp(ts) AS LONG) AS es")
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, FunnelProgress](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[(Long, String, Long)],
         state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          // equal-timestamp ties process earlier funnel stages first, so a
          // click in the same second as the first view still counts
          // (matching the batch funnel's >= semantics)
          val prio = Map("view" -> 0, "click" -> 1, "purchase" -> 2)
          rows.toSeq.sortBy(r => (r._3, prio.getOrElse(r._2, 3))).foreach { case (_, et, es) =>
            if (et == "view" && st.vEs < 0) st = st.copy(vEs = es)
            else if (et == "click" && st.cEs < 0 && st.vEs >= 0 && st.vEs <= es)
              st = st.copy(cEs = es)
            else if (et == "purchase" && st.pEs < 0 && st.cEs >= 0 && st.cEs <= es)
              st = st.copy(pEs = es)
          }
          state.update(st)
          Iterator(FunnelProgress(userId, st.vEs >= 0, st.cEs >= 0, st.pEs >= 0))
      }
      .toDF()
  }

  /** Per-user running totals on the Spark 4 `transformWithState` API — the
    * successor to flatMapGroupsWithState: typed `ValueState` handles, TTL
    * configs, and timer callbacks managed by the state-store layer (RocksDB
    * in production) instead of a single user-opaque state object. */
  class RunningTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Double), UserRunning] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.{Encoders, streaming}

    @transient private var state: ValueState[UserRunning] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserRunning](
        "running", Encoders.product[UserRunning], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
                                 timers: TimerValues): Iterator[UserRunning] = {
      val prior = Option(state.get()).getOrElse(UserRunning(key, 0L, 0.0))
      var n = prior.nEvents
      var s = prior.sumValue
      rows.foreach { case (_, v) => n += 1; s += v }
      val next = UserRunning(key, n, s)
      state.update(next)
      Iterator(next)
    }
  }

  /** runningUserTotals on transformWithState (requires the RocksDB state
    * store provider — set in the caller's session conf). */
  def runningUserTotalsTws(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events
      .selectExpr("user_id", "value")
      .as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(
        new RunningTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
      .toDF()
  }

  /** Stream-stream interval join: for each purchase, the clicks by the
    * same user in the preceding 10 minutes. BOTH sides carry watermarks
    * and the join condition carries the time interval — that pair is what
    * lets Spark bound the join state (each side's buffered rows are
    * evicted once the watermark passes the interval bound; without it a
    * stream-stream join's state grows with the stream). The reference's
    * streaming engine has `todo!()` where its join would be
    * (`src/physical_plan/streaming.rs:128-131`); the batch analog here is
    * [[graft.ops.AsOf.eventRangeJoin]]. */
  def purchaseClickJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "30 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "30 minutes")
    purchases.join(clicks,
      col("c_user") === col("user_id") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
        col("c_ts") <= col("p_ts"),
      "inner")
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        (unix_timestamp(col("p_ts")) - unix_timestamp(col("c_ts"))).as("lag_sec"))
  }

  /** foreachBatch merge sink: maintains a keyed running aggregate as
    * VERSIONED parquet snapshots (`v0`, `v1`, …) — the production upsert
    * pattern when no transactional table format is available: each
    * micro-batch reads the latest snapshot, merges its own partial
    * aggregate, and writes the result as a NEW directory, so concurrent
    * readers never observe a half-written table (rename/new-dir is the
    * atomicity unit on object stores too). The merge is associative
    * (count/sum), so per-batch partials compose exactly; the final
    * snapshot equals the batch aggregate over the whole stream. */
  def runningTotalsUpsert(events: DataFrame, statePath: String,
                          checkpoint: Option[String] = None): Unit = {
    var writer = events.select(col("user_id"), col("value")).writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // predecessor = latest snapshot STRICTLY BEFORE this batchId: a
        // replayed batch (crash after write, before commit) rebuilds its
        // own version from the same predecessor instead of double-merging
        // its previous partial write — this is what makes the sink
        // idempotent and the pipeline exactly-once under restarts.
        val versions = Option(new java.io.File(statePath).listFiles())
          .getOrElse(Array.empty[java.io.File])
          .filter(f => f.isDirectory && f.getName.startsWith("v"))
          .map(_.getName.drop(1).toLong)
          .filter(_ < batchId)
        val part = batch.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
        val merged =
          if (versions.isEmpty) part
          else spark.read.parquet(s"$statePath/v${versions.max}")
            .unionByName(part)
            .groupBy(col("user_id"))
            .agg(sum(col("n")).as("n"), sum(col("total")).as("total"))
        merged.write.mode("overwrite").parquet(s"$statePath/v$batchId")
      }
    checkpoint.foreach(c => writer = writer.option("checkpointLocation", c))
    val q = writer.start()
    q.processAllAvailable()
    q.stop()
  }

  /** Latest snapshot written by [[runningTotalsUpsert]]. */
  def latestSnapshot(spark: SparkSession, statePath: String): DataFrame = {
    val v = new java.io.File(statePath).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v"))
      .map(_.getName.drop(1).toLong).max
    spark.read.parquet(s"$statePath/v$v")
  }

  /** Stream-static enrichment join — the remaining join flavor next to the
    * stream-stream interval join: a batch-computed dimension (per-type
    * stats) joined onto the live stream. The static side is re-read per
    * micro-batch, so a slowly-changing dimension picks up updates without
    * restarting the query; no state store is involved (each stream row
    * joins and leaves). Emits z-score anomalies — streaming parity for
    * [[graft.ops.EventTime.anomalyZScore]], and stateless, so Append mode
    * works on an unbounded stream. */
  def streamingAnomalies(events: DataFrame, stats: DataFrame): DataFrame =
    events.join(stats, "event_type")
      .filter(abs((col("value") - col("mu")) / col("sd")) > 3.0)
      .select(col("event_id"),
        round((col("value") - col("mu")) / col("sd"), 4).as("z"))

  /** Drive a streaming query over the finite file source to completion into
    * an in-memory sink table named `queryName` (used by tests). Aggregations
    * need Complete mode on a finite replay — with Append, windows behind the
    * final watermark would never emit. */
  def runToCompletion(df: DataFrame, queryName: String,
                      mode: OutputMode = OutputMode.Complete()): Unit = {
    val q = df.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(mode)
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Drive a streaming query to completion through the `noop` sink — the
    * measurement harness (Bench) variant of
    * [[runToCompletion]]: every micro-batch fully executes (same contract
    * as the batch bench's noop writes) but rows are dropped at the sink
    * instead of being collected into driver memory. The memory sink
    * java-serializes each partition's rows back to the driver and keeps
    * them all — on a high-output stream (the sf10 adversarial near-dup
    * feed emits ~10⁸ candidates) that collect OOMs the harness long
    * before the operator itself is stressed, and even when it survives
    * it bills driver-collect overhead to the operator. */
  def runToCompletionNoop(df: DataFrame,
                          mode: OutputMode = OutputMode.Complete()): Unit = {
    val q = df.writeStream
      .format("noop")
      .outputMode(mode)
      .start()
    q.processAllAvailable()
    q.stop()
  }
}
