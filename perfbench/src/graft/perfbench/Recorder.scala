package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Counts for one scope: a (pass, query, phase) triple set as the
  * [[Recorder.ScopeKey]] local property on the thread that starts jobs. */
final class Counts {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleReadBytes = 0L
  var shuffleReadRecords = 0L
  var spillBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val rddIds = mutable.Set.empty[Int]
}

/** The benchmark's SparkListener and StreamingQueryListener. Registered
  * only for traced passes; every callback runs on the listener-bus thread,
  * and readers call [[org.apache.spark.perfbench.Bus.drain]] first. */
final class Recorder extends SparkListener {
  private val scopes = mutable.Map.empty[String, Counts]
  private val jobScope = mutable.Map.empty[Int, (String, Long)]
  private val stageScope = mutable.Map.empty[Int, String]
  val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]

  private def counts(scope: String): Counts = scopes.getOrElseUpdate(scope, new Counts)

  def take(scope: String): Counts = synchronized { scopes.remove(scope).getOrElse(new Counts) }
  def takeProgress(): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = synchronized {
    val out = progress.toList
    progress.clear()
    out
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val scope = Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.ScopeKey)))
    scope.foreach { s =>
      counts(s).jobs += 1
      jobScope(e.jobId) = (s, e.time)
      e.stageInfos.foreach(si => stageScope(si.stageId) = s)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobScope.remove(e.jobId).foreach { case (s, start) =>
      counts(s).jobIntervals += ((start, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageScope.get(e.stageInfo.stageId).foreach { s =>
      val c = counts(s)
      c.stages += 1
      c.rddIds ++= e.stageInfo.rddInfos.map(_.id)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageScope.get(e.stageId).foreach { s =>
      val c = counts(s)
      c.tasks += 1
      if (!e.taskInfo.successful) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
        c.spillBytes += m.diskBytesSpilled
      }
    }
  }

  /** Collects every micro-batch progress report of the traced streams. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      Recorder.this.synchronized { progress += e.progress }
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }
}

object Recorder {
  final val ScopeKey = "perfbench.scope"
}
