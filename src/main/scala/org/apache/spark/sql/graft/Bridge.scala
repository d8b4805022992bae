package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}

/** Spark 4 made Column a ColumnNode wrapper and gated the
  * Expression<->Column bridge behind private[sql] ExpressionUtils. This
  * object lives in the org.apache.spark.sql package solely to re-export
  * those two conversions for graft's custom Catalyst expressions, and
  * the private[sql] plan-to-DataFrame constructor.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A new DataFrame over `plan`, analyzed in `spark`. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Close and drop every state-store provider loaded in this executor
    * (HDFS-backed map caches, RocksDB native handles). For an ephemeral
    * run-to-completion streaming query the providers are dead weight the
    * moment the query stops — Spark's maintenance thread only reclaims
    * them on its next cycle (default 60s), so a session that replays
    * many short queries accumulates providers faster than they expire;
    * measured as monotone per-run slowdown (s02 4.2s -> 7.2s across
    * three replays). A long-lived query re-loads its providers from the
    * checkpoint on its next batch, so eager unload stays semantics-free. */
  def unloadAllStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.unloadAll()
}
