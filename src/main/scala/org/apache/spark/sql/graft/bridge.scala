package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` Column↔Expression conversion (the classic
  * `Column(expr)` constructor was sealed off in Spark 4's Connect-compatible
  * Column API). Lives under `org.apache.spark.sql` solely for access; the
  * standard pattern OSS Spark libraries use to expose custom Catalyst
  * expressions as `Column` functions.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The materialized RDD behind a checkpoint()/localCheckpoint() result
    * (the `LogicalRDD` leaf), if the plan is such a flat scan — lets
    * library-level memos of checkpointed DataFrames VALIDATE that the
    * backing storage still exists (a caller's unpersist-all removes
    * local-checkpoint blocks; reliable checkpoint files survive). */
  def materializedRdd(df: org.apache.spark.sql.DataFrame)
      : Option[org.apache.spark.rdd.RDD[_]] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed.collectFirst {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }

  /** The metrics Row of an [[org.apache.spark.sql.Observation]] whose
    * query has run, in the order its expressions were given
    * (`Observation.getRow` is `private[sql]`). */
  def observedRow(obs: org.apache.spark.sql.Observation): org.apache.spark.sql.Row =
    obs.getRow

  /** A clone of `spark` (`classic.SparkSession.cloneSession`): same
    * SparkContext and shared state, and a COPY of its runtime conf —
    * `newSession` would start from the static conf and drop what the
    * caller set (a state-store provider, say). Conf set on the clone
    * does not reach `spark`. */
  def cloneSession(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** `df`'s logical plan as a DataFrame of `spark` — queries built on it,
    * streaming ones included, run under `spark`'s conf. */
  def rebind(spark: org.apache.spark.sql.SparkSession, df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.logical)

  /** The `RDD[InternalRow]` of a DataFrame's executed physical plan —
    * the allocation-free handoff for per-partition streaming kernels
    * (rows arrive as UnsafeRow; primitive accessors never box). */
  def toInternalRdd(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.toRdd

  /** Wrap an `RDD[InternalRow]` back into a DataFrame (the inverse of
    * [[toInternalRdd]]) — rows may be reused mutable buffers, exactly as
    * between physical operators; buffering consumers copy, streaming
    * consumers don't need to. */
  def fromInternalRdd(spark: org.apache.spark.sql.SparkSession,
                      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
                      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** Block until the listener bus has delivered every queued event — the
    * deterministic drain probes use between reps so late task-end events
    * can't be attributed to the next rep's metrics (`listenerBus` is
    * `private[spark]`, hence the bridge hop). The no-arg
    * `waitUntilEmpty()` THROWS TimeoutException after a fixed 10 s if
    * the bus hasn't drained, so retry within `maxWaitMs` and then give
    * up: a still-backlogged bus degrades to the old fixed-sleep
    * behavior (a few mis-attributed metrics), never a killed probe run.
    * Returns whether the bus actually drained so probes can record the
    * flag per rep — an undrained bus means that rep's attributed
    * metrics are suspect, and that must be visible during adjudication,
    * not silent. Also logs a warning on giving up. */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession,
                       maxWaitMs: Long = 60000L): Boolean = {
    val deadline = System.nanoTime() + maxWaitMs * 1000000L
    var drained = false
    while (!drained && System.nanoTime() < deadline)
      try { spark.sparkContext.listenerBus.waitUntilEmpty(); drained = true }
      catch { case _: java.util.concurrent.TimeoutException => () }
    if (!drained)
      System.err.println(
        s"[graft] WARN drainListenerBus: bus still backlogged after ${maxWaitMs} ms; " +
        "per-rep metrics after this point may be mis-attributed")
    drained
  }

  /** Register a SQL function on an ALREADY-RUNNING session (extensions
    * only apply at builder time). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "scala_udf")
}
