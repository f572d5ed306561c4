package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.logsys.{LogClassify, LogPrefix}

/** End-to-end streaming log pipeline (SURVEY §3.3): raw line stream →
  * prefix parse → per-pid stitch (3 s readiness watermark) → classify →
  * 1-minute windowed classification counts — the Structured-Streaming
  * shape of the reference's `AnalyzeStreamInGroups`
  * (`logs/stream/stream.go:240-312`), drained in micro-batches by
  * [[Drain]].
  *
  * Sources are interchangeable streaming DataFrames with a single
  * `value` string column: `spark.readStream.text(dir)` (the file-tail
  * source, S26), a socket source (S27 syslog analogue), or a Kafka
  * source in production (S28–S31).
  */
object LogStreamPipeline {

  /** Parse a raw `value` line stream with a compiled prefix — one regex
    * pass per line via the group-array extractor (unmatched lines are
    * continuations: level UNKNOWN, content = whole line). */
  def parse(raw: DataFrame, compiled: LogPrefix.Compiled): DataFrame = {
    val g = (f: String) => compiled.groupOf(f)
    val groupsCol = org.apache.spark.sql.GraftNative.column(
      graft.functions.expressions.RegexGroupsExpr(
        org.apache.spark.sql.GraftNative.expression(col("value")),
        compiled.regex, compiled.fields.length))
    // unmatched lines (no prefix) are continuations: a raw text tail
    // cannot attribute them to a backend, so they carry the poison-pid
    // -1 and epoch-0 event time — the stitcher routes them to the W7
    // DISCARDED dead-letter (a continuation with no pending primary can
    // never associate)
    raw.withColumn("g", groupsCol).select(
      when(col("g").isNull, lit(-1L))
        .otherwise(element_at(col("g"), g("pid")).cast("long")).as("pid"),
      // epoch+1s, not 0: the watermark starts at 0 and rows at or below
      // it are dropped as late before they reach the stitcher
      when(col("g").isNull, timestamp_seconds(lit(1L)))
        .otherwise(to_timestamp(element_at(col("g"), g("log_time")),
          "yyyy-MM-dd HH:mm:ss zzz")).as("ts"),
      when(col("g").isNull, lit(0L))
        .otherwise(element_at(col("g"), g("log_line_no")).cast("long"))
        .as("lineNo"),
      when(col("g").isNull, lit("UNKNOWN"))
        .otherwise(element_at(col("g"), g("log_level"))).as("level"),
      when(col("g").isNull, col("value"))
        .otherwise(element_at(col("g"), g("content"))).as("content"))
  }

  /** parse → watermark → stitch → classify. Returns an append stream of
    * (pid, ts, level, content, classification). */
  def analyzed(raw: DataFrame, compiled: LogPrefix.Compiled): DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    val parsed = parse(raw, compiled)
      .withWatermark("ts", "3 seconds")
      .as[Stitch.RawLine]
    Stitch(parsed).toDF()
      .withColumn("classification", LogClassify.classify(col("content")))
      .withColumn("class_name", LogClassify.className(col("classification")))
  }

  /** 1-minute tumbling classification counts with watermark — the
    * compact-log-snapshot rollup (K2).
    *
    * Chaining a stateful agg after flatMapGroupsWithState trips Spark's
    * static multi-stateful-operator check, which cannot see that Stitch
    * emits at most (readiness delay + one trigger) late. That bound is
    * the reference's own guarantee (3 s readiness + discard policy, W1/
    * W7) and the 30 s watermark here covers it, so callers disable
    * `spark.sql.streaming.statefulOperator.checkCorrectness.enabled`
    * for this composition (see [[configureFor]]). */
  /** NOTE: callers must NOT pre-filter helper rows (flush sentinels,
    * dead-letter lines) out of the stream — Catalyst pushes any
    * non-`ts` predicate BELOW the EventTimeWatermark node, so the
    * excluded rows would stop advancing event time and the last real
    * windows would never finalize in append mode. Helper rows land in
    * their own (window, classification) groups; drop those groups
    * AFTER the sink. */
  def windowedClassCounts(analyzed: DataFrame): DataFrame =
    analyzed
      .withWatermark("ts", "30 seconds")
      .groupBy(window(col("ts"), "1 minute"), col("classification"),
        col("class_name"))
      .agg(count(lit(1)).as("n"))

  /** Session settings required for the stitch→window composition. */
  def configureFor(spark: SparkSession): Unit =
    spark.conf.set(
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled",
      "false")
}
