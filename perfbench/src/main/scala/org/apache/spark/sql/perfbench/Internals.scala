package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, classic}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange

/** The few Spark-internal hooks the benchmark needs, kept in one place.
  * They live in Spark's package because the members are `private[sql]` or
  * `private[spark]`; none of them changes what a query computes. */
object Internals extends AdaptiveSparkPlanHelper {
  def queryExecution(df: DataFrame): QueryExecution =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution

  /** Plans the frame's final action: analysis, optimization and physical
    * planning of `df` itself, so the sink below executes this plan as is. */
  def executedPlan(df: DataFrame): SparkPlan = queryExecution(df).executedPlan

  /** Tracker phase durations (analysis, optimization, planning) in ms. */
  def planPhasesMs(df: DataFrame): Map[String, Long] =
    queryExecution(df).tracker.phases.map { case (k, v) => k -> v.durationMs }

  /** Full-result sink: executes the frame's own executed plan and writes
    * every row and column to parquet. Writing `df` directly would plan it a
    * second time inside the write command; wrapping the already executed
    * RDD keeps planning out of the sink. */
  def writeResult(df: DataFrame, path: String): Unit = {
    val rows = queryExecution(df).toRdd
    df.sparkSession.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rows, df.schema)
      .write.mode("overwrite").parquet(path)
  }

  /** Exchange nodes and engine (`graft.`) nodes in the frame's executed
    * plan, looking through adaptive query stages. */
  def planShape(df: DataFrame): (Int, Int) = {
    val plan = executedPlan(df)
    (collect(plan) { case e: Exchange => e }.size,
      collect(plan) { case n if n.getClass.getName.startsWith("graft.") => n }.size)
  }

  /** Blocks until every posted listener event has been delivered. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whole-stage and expression codegen compilations so far in this JVM. */
  def codegenCompiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
