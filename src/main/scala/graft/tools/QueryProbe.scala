package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.{Session, SparkEntry, Tables}

/** Generic per-query cost profiler: runs named [[graft.SparkEntry]]
  * queries with a job/stage listener and prints, per rep, wall seconds
  * plus the JOB and STAGE counts and total shuffle read/write bytes —
  * the fixed-cost anatomy of the sf0.1 bench lines (each job on a tiny
  * sf carries ~0.1 s of scheduling/planning latency regardless of data).
  *
  * Usage: tools/runmain.sh graft.tools.QueryProbe <sfDir> <q,...> [reps] [key=value ...]
  *
  * Cores come from `SPARK_GRAFT_CPUS` (default 32), as in Bench.
  * `key=value` arguments are session-conf overrides, so a gate A/B is two
  * runs, e.g. `spark.graft.graph.bcastDegreesMaxNodes=0` for the
  * sort-merge triangle orientation or `spark.graft.dedup.bcastAttachMaxDocs=0`
  * for the shuffle-join MinHash attach. Compare session minima: the first
  * rep of a query pays its codegen warm-up.
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.tools.QueryProbe <sfDir> <q,...> [reps] [key=value ...]")
    val dir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val repsArg = args.lift(2).filter(a => a.nonEmpty && a.forall(_.isDigit))
    val reps = repsArg.map(_.toInt).getOrElse(3)
    val overrides = Session.confOverrides(args.drop(2 + repsArg.size).toSeq)
    val fns = names.map(n => n -> SparkEntry.queries.getOrElse(n, sys.error(s"unknown query $n")))
    val spark = Session.local(Session.cpus(32)).appName("graft-queryprobe").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var shufR = 0L
    @volatile var shufW = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          shufR += m.shuffleReadMetrics.totalBytesRead
          shufW += m.shuffleWriteMetrics.bytesWritten
        }
      }
    })

    // warm file listing/footers once per table, like Bench
    for (t <- Tables.All)
      try spark.read.parquet(s"$dir/$t.parquet")
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }

    for (rep <- 1 to reps; (n, fn) <- fns) {
      spark.catalog.clearCache()
      System.gc()
      jobs = 0; stages = 0; shufR = 0L; shufW = 0L
      spark.sparkContext.setJobDescription(s"queryprobe $n rep$rep")
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      val s = (System.nanoTime() - t0) / 1e9
      // listener events drain async; give the bus a beat before reading
      Thread.sleep(300)
      println(f"[queryprobe] $n%-28s rep$rep $s%7.2f s  jobs=$jobs%-3d stages=$stages%-3d shufR=${shufR / 1048576.0}%8.3f MB shufW=${shufW / 1048576.0}%8.3f MB")
    }
    spark.stop()
  }
}
