package org.apache.spark.sql

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution, SparkPlan}
import org.apache.spark.storage.StorageLevel

/** Bridge to Spark internals that are `private[sql]` in Spark 4: the
  * classic Column ⇄ Expression conversions, through which custom
  * Catalyst expressions (e.g.
  * [[graft.functions.expressions.CosineSimilarity]]) are exposed as
  * `Column`s, [[compile]] for callers that re-run one plan many
  * times, and [[persistRows]] for intermediates several consumers read.
  */
object GraftNative {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A frame analyzed, optimized and physically planned ONCE, for a
    * caller that re-runs one fixed tree with only some literals changed
    * (the daemon's per-tick window bounds). The caller substitutes the
    * literals into a copy of [[template]] — `transformAllExpressions`
    * copies just the nodes on each substituted literal's path to the
    * root, so cached relations stay shared — and runs the copy with
    * [[collect]]. The template itself never runs. */
  final class Compiled private[GraftNative] (df: DataFrame) {
    private val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val template: SparkPlan = df.queryExecution.executedPlan
    private val toRow = session.withActive(
      ExpressionEncoder(df.schema).resolveAndBind().createDeserializer())

    /** The rows of `plan`, a copy of [[template]], executed as the
      * frame's session runs an action: its SQL conf active in the calling
      * thread and propagated to the tasks (without that, the tasks read the
      * default session's conf). One deserializer decodes every run, so
      * decodes are serialized: a caller that abandons a run at a
      * deadline may start the next while the first still decodes. */
    def collect(plan: SparkPlan): Array[Row] = {
      val rows = session.withActive {
        SQLExecution.withSQLConfPropagated(session)(plan.executeCollect())
      }
      synchronized(rows.map(toRow))
    }
  }

  def compile(df: DataFrame): Compiled = new Compiled(df)

  /** `df` computed now, by one job, into `MEMORY_AND_DISK` row blocks
    * under a frame that reads only them: the plan shape, jobs and
    * storage of an eager `localCheckpoint()`, but the blocks keep their
    * lineage, so a block lost with its executor is recomputed from
    * `df`'s plan instead of failing the query. `Dataset.persist()`
    * keeps lineage too, but its lazily filled columnar cache cost
    * entries more jobs, tasks and CPU than the blocks it replaced. The
    * blocks live until [[unpersistRows]] or `graft.Harness.release`. */
  def persistRows(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    val rdd = SQLExecution.withNewExecutionId(qe, Some("persistRows")) {
      val r = qe.executedPlan.execute().map(_.copy())
        .persist(StorageLevel.MEMORY_AND_DISK)
      r.count()
      r
    }
    classic.Dataset.ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(rdd, ds, ds.isStreaming))
  }

  /** Frees the blocks of a frame [[persistRows]] returned. */
  def unpersistRows(df: DataFrame): Unit =
    df.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.unpersist(false)
}
