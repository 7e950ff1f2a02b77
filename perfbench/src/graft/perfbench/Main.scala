package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryProgress}

import graft.SparkEntry
import graft.ops.PlanMemo
import graft.streaming.{DedupStream, EventStream}

/** One benchmark run of one workload in one JVM: a single-process closed
  * loop, one query (or streaming leg) at a time.
  *
  * Usage: Main <workload> <dataDir> <controlDir> <outDir> <seed> <seconds> <trace 0|1> <cpus>
  *
  * The run does untimed warm-up passes, the first of which keeps its
  * query results for the output check, then timed passes until
  * `seconds` have passed. PlanMemo.clear() and System.gc() run before
  * every pass. A traced run alternates untraced and traced passes, so the
  * tracing overhead is measured in the same run. The raw record goes to
  * `<outDir>/run.json`; the per-query (or per-micro-batch) trace rows to
  * `<outDir>/trace.jsonl` and the spans to `<outDir>/spans.jsonl`. */
object Main {
  /** Corpus queries with their family; pipeline_split shares dedup_bloom's
    * memoized document fingerprints. */
  val CorpusFamilies: Seq[(String, String)] = Seq(
    "dedup_bloom" -> "dedup", "pipeline_split" -> "dedup", "graph_components" -> "graph",
    "text_tokens" -> "text")
  val Corpus: Seq[String] = CorpusFamilies.map(_._1)

  val StreamLegs: Seq[String] = Seq("streaming_dedup", "near_dup_reps")

  val ControlQuery = "q1_pricing_summary"

  /** The least number of untraced timed passes in a run. */
  val TimedPasses = 3

  /** Untimed passes before the clock starts, the check pass included: the
    * first pass after the check pass still runs partly uncompiled code. */
  val WarmPasses = 2

  /** The first warm-up pass; its results are kept for the oracle check. */
  val CheckPass = -1

  def family(name: String): String = CorpusFamilies.toMap.getOrElse(name, "none")

  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, controlDir, outDir, seedArg, secondsArg, traceArg, cpusArg) = args
    val run = new Run(workload, dataDir, controlDir, outDir, seedArg.toLong,
      secondsArg.toDouble, traceArg == "1", cpusArg.toInt)
    try run.execute() finally run.spark.stop()
  }
}

/** The build's class-loading training run: every workload once on
  * tiny inputs, in one JVM that dumps the classes it loaded into a shared
  * archive (see perfbench/build.py).
  *
  * Usage: Train <dataRoot> <controlDir> <outRoot> <cpus>, with one
  * `<dataRoot>/<workload>` input directory per workload. */
object Train {
  def main(args: Array[String]): Unit = {
    val Array(dataRoot, controlDir, outRoot, cpus) = args
    for (workload <- Seq("corpus", "stream")) {
      val out = Paths.get(outRoot, workload)
      Files.createDirectories(out)
      val run = new Run(workload, s"$dataRoot/$workload", controlDir, out.toString, 0L, 0.0,
        trace = false, cpus.toInt, fixedPasses = 1, warmPasses = 1)
      try run.execute() finally run.spark.stop()
    }
  }
}

final class Run(workload: String, dataDir: String, controlDir: String, outDir: String,
                seed: Long, seconds: Double, trace: Boolean, cpus: Int, fixedPasses: Int = 0,
                warmPasses: Int = Main.WarmPasses) {
  import Main._

  private val tmp = Paths.get(outDir, "tmp").toAbsolutePath
  Files.createDirectories(tmp)

  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName(s"perfbench-$workload")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.mergeSchema", "false")
    .config("spark.local.dir", tmp.resolve("local").toString)
    .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
    .config("spark.sql.streaming.checkpointLocation", tmp.resolve("checkpoints").toString)
    .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
  private val sc = spark.sparkContext

  private var attempted = 0
  private val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val mismatches = mutable.ArrayBuffer.empty[String]
  private val warmRows = mutable.LinkedHashMap.empty[String, Long]
  private val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val traceRows = mutable.ArrayBuffer.empty[String]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val recorder = new Recorder

  private def span(parent: Int, name: String)(body: Int => Unit): Unit = {
    val id = spans.size
    spans += Span(id, parent, name, System.nanoTime(), 0L)
    try body(id) finally spans(id) = spans(id).copy(endNs = System.nanoTime())
  }

  private def fail(pass: Int, op: String, e: Throwable): Unit = {
    System.err.println(s"[perfbench] pass $pass: $op failed: $e")
    failures += Map("pass" -> pass, "op" -> op, "error" -> e.toString.take(500))
  }

  def execute(): Unit = {
    val ops = workload match {
      case "corpus" => Corpus
      case "stream" => StreamLegs
      case other => sys.error(s"unknown workload $other")
    }
    val oracled = if (workload == "stream") Map.empty[String, String]
      else SparkEntry.oracleSql.filter { case (k, _) => ops.contains(k) }
    // beside the kept results, the layout tools/check_oracle.py reads
    Files.createDirectories(Paths.get(outDir, "check"))
    Files.writeString(Paths.get(outDir, "check", "oracle_sql.json"), Json(oracled))

    def order(pass: Int): Seq[String] = new Random(seed * 1000003L + pass).shuffle(ops)
    def runPass(pass: Int, traced: Boolean): Unit = {
      PlanMemo.clear()
      System.gc()
      if (traced) sc.addSparkListener(recorder)
      val gcBefore = gcMs()
      ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
      val rows = mutable.ArrayBuffer.empty[Map[String, Any]]
      val t0 = System.nanoTime()
      span(-1, s"pass-$pass") { sid =>
        if (workload == "stream") rows ++= streamPass(pass, traced, sid)
        else order(pass).foreach(q => query(pass, q, traced, sid).foreach(rows += _))
      }
      val wall = (System.nanoTime() - t0) / 1e9
      if (pass != CheckPass) deleteTree(tmp.resolve(s"results-$pass"))
      val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1048576.0
      if (traced) {
        Bus.drain(sc)
        sc.removeSparkListener(recorder)
      }
      if (pass >= 0) passes += Map("index" -> pass, "traced" -> traced, "wall_s" -> wall,
        "gc_s" -> (gcMs() - gcBefore) / 1000.0, "heap_peak_mb" -> heapPeak,
        "ops" -> rows.toList)
      if (pass == CheckPass)
        rows.foreach(r => warmRows(r("name").toString) = r("rows").asInstanceOf[Long])
      else rows.foreach { r =>
        val name = r("name").toString
        if (workload != "stream" && warmRows.get(name).exists(_ != r("rows")))
          mismatches += s"$name: pass $pass has ${r("rows")} rows, warm-up had ${warmRows(name)}"
      }
    }

    // warm-up passes are numbered CheckPass, CheckPass - 1, ...; the head
    // control runs before the last of them, so the code the control's
    // query shares with the workload is compiled again, for both, before
    // the clock starts
    runPass(CheckPass, traced = false)
    controlTime() // untimed: the control's own first-run cost is not host state
    val control = mutable.ArrayBuffer(controlTime())
    for (w <- 1 until warmPasses) runPass(CheckPass - w, traced = false)
    val first = System.nanoTime()
    val firstMs = System.currentTimeMillis()
    val deadline = first + (seconds * 1e9).toLong
    // untraced: at least TimedPasses, so each median is over three passes
    // and the tail rule sees 12 or more latencies; traced: two untraced
    // and two traced passes, alternating
    val minPasses = if (fixedPasses > 0) fixedPasses else if (trace) 4 else TimedPasses
    var pass = 0
    while (pass < minPasses || System.nanoTime() < deadline) {
      runPass(pass, traced = trace && pass % 2 == 1)
      pass += 1
      if (control.size == 1 && System.nanoTime() >= first + (seconds * 0.5e9).toLong)
        control += controlTime()
    }
    if (control.size == 1) control += controlTime()
    control += controlTime()
    // full collections until the ContextCleaner has dropped the blocks of
    // objects the previous collection freed
    for (_ <- 1 to 3) {
      System.gc()
      Thread.sleep(300)
    }
    val retained = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val record = Map(
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus,
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "first_timed_ms" -> firstMs,
      "attempted" -> attempted, "failures" -> failures.toList,
      "mismatches" -> mismatches.toList, "warmup_rows" -> warmRows,
      "control_s" -> control.toList, "heap_retained_mb" -> retained,
      "passes" -> passes.toList)
    Files.writeString(Paths.get(outDir, "run.json"), Json(record))
    Files.writeString(Paths.get(outDir, "trace.jsonl"), traceRows.mkString("", "\n", "\n"))
    Files.writeString(Paths.get(outDir, "spans.jsonl"), spans.map(s => Json(Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs))).mkString("", "\n", "\n"))
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Fixed host-steadiness control: q1 on the tiny control tables. */
  private def controlTime(): Double = {
    System.gc()
    attempted += 1
    val t0 = System.nanoTime()
    try SparkEntry.queries(ControlQuery)(spark, controlDir)
      .write.format("noop").mode("overwrite").save()
    catch { case e: Throwable => fail(-1, "control", e) }
    (System.nanoTime() - t0) / 1e9
  }

  private def fingerprint(plan: String): String = {
    val normalized = plan.replace(dataDir, "<data>").replace(tmp.toString, "<tmp>")
      .replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("\\bid=\\d+", "id=").replaceAll("pass-\\d+", "pass")
    val md = java.security.MessageDigest.getInstance("SHA-1")
    md.digest(normalized.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
  }

  private def scope(pass: Int, op: String, phase: String): String = s"$pass|$op|$phase"

  private def countsMap(c: Counts): Map[String, Any] = Map(
    "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
    "failed_tasks" -> c.failedTasks, "run_ms" -> c.runMs, "cpu_ns" -> c.cpuNs,
    "gc_ms" -> c.gcMs, "input_bytes" -> c.inputBytes, "input_records" -> c.inputRecords,
    "shuffle_write_bytes" -> c.shuffleWriteBytes,
    "shuffle_write_records" -> c.shuffleWriteRecords,
    "shuffle_read_bytes" -> c.shuffleReadBytes,
    "shuffle_read_records" -> c.shuffleReadRecords, "spill_bytes" -> c.spillBytes,
    "job_intervals_ms" -> c.jobIntervals.toList)

  /** Drops what a query persisted, except the PlanMemo entries that exist
    * to be shared across a family's queries. */
  private def cleanup(): Unit = {
    val keep = PlanMemo.rddIds
    val persisted = sc.getPersistentRDDs.values.filterNot(r => keep.contains(r.id))
    spark.catalog.clearCache()
    persisted.foreach(r =>
      try r.unpersist(blocking = true)
      catch { case _: org.apache.spark.SparkException => () })
  }

  /** One batch query: build the DataFrame, (traced: force the physical
    * plan), write its result as parquet, counting its rows on the way.
    * Every pass writes the same way, so the warm-up passes warm the timed
    * passes' code; the first warm-up's results are kept for the oracle check. */
  private def query(pass: Int, name: String, traced: Boolean,
                    parentSpan: Int): Option[Map[String, Any]] = {
    attempted += 1
    val memoBefore = if (traced) PlanMemo.rddIds else Set.empty[Int]
    var out: Option[Map[String, Any]] = None
    span(parentSpan, name) { qid =>
      try {
        def phase(p: String): Unit = if (traced) sc.setLocalProperty(Recorder.ScopeKey, scope(pass, name, p))
        val t0 = System.nanoTime()
        var df: DataFrame = null
        phase("build")
        span(qid, "ops.build")(_ => df = SparkEntry.queries(name)(spark, dataDir))
        val t1 = System.nanoTime()
        var fp = ""
        if (traced) {
          phase("plan")
          span(qid, "plan")(_ => fp = fingerprint(df.queryExecution.executedPlan.treeString))
        }
        val t2 = System.nanoTime()
        phase("exec")
        val obs = Observation()
        val observed = df.observe(obs, count(lit(1)).as("rows"))
        val execStart = System.currentTimeMillis()
        val results =
          if (pass == CheckPass) Paths.get(outDir, "check") else tmp.resolve(s"results-$pass")
        span(qid, "exec")(_ => observed.write.parquet(results.resolve(name).toString))
        val execEnd = System.currentTimeMillis()
        val t3 = System.nanoTime()
        sc.setLocalProperty(Recorder.ScopeKey, null)
        val rows = obs.get("rows").asInstanceOf[Long]
        var row = Map[String, Any]("name" -> name, "family" -> family(name), "rows" -> rows,
          "latency_s" -> (t3 - t0) / 1e9, "build_s" -> (t1 - t0) / 1e9,
          "plan_s" -> (t2 - t1) / 1e9, "exec_s" -> (t3 - t2) / 1e9)
        if (traced) {
          Bus.drain(sc)
          val build = recorder.take(scope(pass, name, "build"))
          val plan = recorder.take(scope(pass, name, "plan"))
          val exec = recorder.take(scope(pass, name, "exec"))
          val memoAfter = PlanMemo.rddIds
          val seen = build.rddIds ++ plan.rddIds ++ exec.rddIds
          row ++= Map("fingerprint" -> fp,
            "exec_start_ms" -> execStart, "exec_end_ms" -> execEnd,
            "memo_builds" -> (memoAfter -- memoBefore).size,
            "memo_reuses" -> (memoBefore intersect seen).size,
            "build" -> countsMap(build), "plan" -> countsMap(plan), "exec" -> countsMap(exec))
          traceRows += Json(row + ("pass" -> pass))
        }
        out = Some(row)
      } catch { case e: Throwable => fail(pass, name, e) }
      finally {
        sc.setLocalProperty(Recorder.ScopeKey, null)
        cleanup()
      }
    }
    out
  }

  private def rocksSession(): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s.conf.set("spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows", "false")
    s
  }

  private lazy val eventRows = spark.read.parquet(s"$dataDir/events.parquet").count()
  private lazy val docRows = spark.read.parquet(s"$dataDir/documents.parquet").count()

  private def docsStream(s: SparkSession): DataFrame =
    s.readStream.schema("doc_id LONG, text STRING").option("maxFilesPerTrigger", "1")
      .parquet(s"$dataDir/documents.parquet")

  /** One stream pass: every leg replays its files to completion, one file
    * per trigger, into the noop sink. Returns one row per leg. */
  private def streamPass(pass: Int, traced: Boolean, parentSpan: Int): Seq[Map[String, Any]] = {
    val dir = tmp.resolve(s"pass-$pass")
    val legs = StreamLegs.flatMap { leg =>
      attempted += 1
      var out: Option[Map[String, Any]] = None
      span(parentSpan, leg) { _ =>
        try {
          if (traced) sc.setLocalProperty(Recorder.ScopeKey, scope(pass, leg, "exec"))
          val ckpt = dir.resolve(s"ckpt-$leg").toString
          val (df, mode, expected) = leg match {
            case "streaming_dedup" =>
              val s = spark.newSession()
              (EventStream.streamingDedup(EventStream.readEvents(s, dataDir)),
                OutputMode.Append(), eventRows)
            case "near_dup_reps" =>
              val s = rocksSession()
              (DedupStream.streamingNearDupReps(s, docsStream(s)), OutputMode.Append(), docRows)
          }
          val t0 = System.nanoTime()
          val execStart = System.currentTimeMillis()
          if (traced) df.sparkSession.streams.addListener(recorder.streams)
          val q = df.writeStream.format("noop").outputMode(mode)
            .option("checkpointLocation", ckpt).start()
          q.processAllAvailable()
          q.stop()
          val wall = (System.nanoTime() - t0) / 1e9
          val execEnd = System.currentTimeMillis()
          sc.setLocalProperty(Recorder.ScopeKey, null)
          q.exception.foreach(throw _)
          val progress: Seq[StreamingQueryProgress] =
            if (traced) {
              Bus.drain(sc)
              df.sparkSession.streams.removeListener(recorder.streams)
              recorder.takeProgress()
            } else q.recentProgress.toSeq
          val batches = progress.filter(_.durationMs.containsKey("triggerExecution"))
          val inputRows = batches.map(_.numInputRows).sum
          if (inputRows != expected)
            mismatches += s"$leg: pass $pass read $inputRows rows, generated $expected"
          val batchRows = batches.map(p => batchRow(leg, p))
          var row = Map[String, Any]("name" -> leg, "family" -> "stream", "rows" -> inputRows,
            "expected_rows" -> expected, "latency_s" -> wall, "batches" -> batchRows)
          if (traced) {
            val fp = q match {
              case w: StreamingQueryWrapper =>
                Option(w.streamingQuery.lastExecution).map(e => fingerprint(e.executedPlan.treeString))
                  .getOrElse("")
              case _ => ""
            }
            val exec = recorder.take(scope(pass, leg, "exec"))
            row ++= Map("fingerprint" -> fp, "exec_start_ms" -> execStart,
              "exec_end_ms" -> execEnd, "exec" -> countsMap(exec))
            batchRows.foreach(b => traceRows += Json(b ++ Map("pass" -> pass, "fingerprint" -> fp,
              "memo" -> null)))
          }
          out = Some(row)
        } catch { case e: Throwable => fail(pass, leg, e) }
        finally sc.setLocalProperty(Recorder.ScopeKey, null)
      }
      out
    }
    deleteTree(dir)
    legs
  }

  private def batchRow(leg: String, p: StreamingQueryProgress): Map[String, Any] = {
    def d(k: String): Double = Option(p.durationMs.get(k)).map(_.longValue / 1000.0).getOrElse(0.0)
    Map("leg" -> leg, "batch_id" -> p.batchId, "rows" -> p.numInputRows,
      "trigger_s" -> d("triggerExecution"), "add_batch_s" -> d("addBatch"),
      "plan_s" -> d("queryPlanning"), "commit_s" -> (d("walCommit") + d("commitOffsets")),
      "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
      "state_memory_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum,
      "state_commit_s" -> p.stateOperators.map(_.commitTimeMs).sum / 1000.0)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
}
