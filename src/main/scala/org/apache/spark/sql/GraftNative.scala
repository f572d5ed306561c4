package org.apache.spark.sql

import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.scheduler.SparkListenerInterface
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.CallSite

/** Bridge to Spark internals that are `private[sql]` or `private[spark]`
  * in Spark 4: the classic Column ⇄ Expression conversions, through which
  * custom Catalyst expressions (e.g.
  * [[graft.functions.expressions.CosineSimilarity]]) are exposed as
  * `Column`s, [[prepare]] for callers that rerun one query with new
  * [[param]] values, [[persistRows]] for intermediates several consumers
  * read, call-site labels and streaming listener buses.
  */
object GraftNative {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The long value of the job-local property `key` (set on the thread
    * that submits the job, read in its tasks). Not foldable, so the
    * optimizer keeps it in the plan; a job run without the property set
    * fails, naming `key`. */
  final case class JobParam(key: String) extends LeafExpression
      with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullable: Boolean = false
    // parsed once per task, not per row
    @transient private var memo: (TaskContext, Long) = _
    override def eval(input: InternalRow): Any = {
      val tc = TaskContext.get()
      var m = memo
      if (m == null || (m._1 ne tc)) {
        m = (tc, Option(tc).flatMap(t => Option(t.getLocalProperty(key)))
          .getOrElse(sys.error(s"job parameter '$key' is not set")).toLong)
        memo = m
      }
      m._2
    }
  }

  def param(key: String): Column = column(JobParam(key))

  /** A frame analyzed, optimized, physically planned and built into its
    * RDD ONCE, for a caller that reruns one query with only some [[param]]
    * values changed (the daemon's per-tick window bounds). Each [[collect]]
    * sets the params on its own thread and runs one job over that RDD, so
    * a run builds no plan and no RDD. The plan, subqueries included, must
    * hold each of `keys`, and none where one RDD computes it once and
    * reuses the result: in a subquery, below an exchange (later jobs reuse
    * its shuffle or broadcast output) or in an adaptive plan. */
  final class Prepared private[GraftNative] (df: DataFrame, keys: Seq[String]) {
    private val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    private val plan = df.queryExecution.executedPlan
    locally {
      def held(p: SparkPlan, once: Boolean): Seq[(String, Boolean)] = p match {
        // an adaptive plan runs its query stages when its RDD is built
        case a: AdaptiveSparkPlanExec => held(a.inputPlan, once = true)
        case _ =>
          p.expressions.flatMap(_.collect { case JobParam(k) => k -> once }) ++
            p.subqueries.flatMap(held(_, once = true)) ++
            p.children.flatMap(held(_, once || p.isInstanceOf[Exchange]))
      }
      val found = held(plan, once = false)
      val missing = keys.filterNot(k => found.exists(_._1 == k))
      val frozen = found.collect { case (k, true) => k }.distinct
      require(missing.isEmpty && frozen.isEmpty, "prepare(): " +
        (missing.map(k => s"the plan holds no $k") ++ frozen.map(k =>
          s"one RDD computes $k once, in a subquery, an exchange's input " +
            "or an adaptive plan")).mkString("; "))
    }
    private val rdd = session.withActive(plan.execute().map(_.copy()))
    private val toRow = session.withActive(
      ExpressionEncoder(df.schema).resolveAndBind().createDeserializer())

    /** The frame's rows with `params` set, run as the frame's session runs
      * an action: its SQL conf active here and propagated to the tasks.
      * One deserializer decodes every run, so decodes are serialized: a
      * caller that abandons a run at a deadline may start the next while
      * the first still decodes. */
    def collect(params: (String, Long)*): Array[Row] = {
      val sc = session.sparkContext
      params.foreach { case (k, v) => sc.setLocalProperty(k, v.toString) }
      val rows = try session.withActive {
        SQLExecution.withSQLConfPropagated(session)(rdd.collect())
      } finally params.foreach { case (k, _) => sc.setLocalProperty(k, null) }
      synchronized(rows.map(toRow))
    }
  }

  def prepare(df: DataFrame, keys: String*): Prepared = new Prepared(df, keys)

  /** Labels the calling thread's jobs and RDDs with `label`, in both
    * call-site forms. The public, string form of `setCallSite` sets only
    * the short one, so Spark still walks the stack for the long one on
    * every job submitted and every RDD built. */
  def callSite(sc: SparkContext, label: String): Unit =
    sc.setCallSite(CallSite(label, label))

  /** The streaming-query listener buses on `sc`'s listener bus: each
    * session whose `streams` is used adds one, and nothing removes it. */
  def streamBuses(sc: SparkContext): Seq[SparkListenerInterface] =
    sc.listenerBus.findListenersByClass[StreamingQueryListenerBus]()

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
