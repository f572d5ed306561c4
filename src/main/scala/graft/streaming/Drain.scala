package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery,
  StreamingQueryException, Trigger}

/** Runs a stream to completion with the run-to-completion trigger
  * (`AvailableNow`): the batch bridge every stateful gate entry drains
  * its input through, in micro-batches as the reference drains its log
  * stream (`runner/logs.go:236-286`).
  *
  * A query's conf is fixed when it starts (`StreamExecution` clones the
  * session the stream is built on), so a drain's settings belong on that
  * session, not on the caller's. `define` builds the stream on a fresh
  * session derived from the caller's with the drain's `conf` set on it;
  * the caller keeps its batch work (writing inputs, reading the output,
  * deleting temp dirs) on its own session, whose conf a drain never
  * writes.
  */
object Drain {

  /** State partitions: fixed at the query's first batch, and each one
    * pays a state-store commit per batch. */
  def partitions(n: Int): Map[String, String] =
    Map("spark.sql.shuffle.partitions" -> n.toString)

  /** Whether a batch with no new input runs to advance the watermark
    * (it finalizes append-mode windows and fires event-time timeouts). */
  def noDataBatches(on: Boolean): Map[String, String] =
    Map("spark.sql.streaming.noDataMicroBatches.enabled" -> on.toString)

  /** RocksDB state store: per-key state lives off-heap/on-disk, so
    * executor heap stays flat however many distinct keys the corpus has
    * (the default HDFS-backed store keeps all state in heap). Changelog
    * checkpointing: each commit uploads only that batch's key deltas
    * instead of a full RocksDB snapshot (snapshots still happen, in the
    * background every N commits), so the per-batch commit cost is
    * O(changed keys), not O(total state): the difference between a fixed
    * tax and a growing one on a 100 TB keyspace drained in many
    * micro-batches. */
  val RocksDb: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true")

  /** A fresh session derived from `s`, with `conf` set on it. It shares
    * `s`'s SparkContext and cache, and starts from the application's
    * conf, not from settings made on `s` at run time; `s`'s conf is not
    * touched. */
  def session(s: SparkSession, conf: Map[String, String]): SparkSession = {
    val ss = s.newSession()
    conf.foreach { case (k, v) => ss.conf.set(k, v) }
    ss
  }

  /** Drains the stream `define` builds, appending each micro-batch to
    * parquet at `out`. `out` is created first with the stream's schema,
    * so reading it succeeds even if no batch commits. Returns the
    * terminated query, for its progress. */
  def apply(s: SparkSession, ckpt: String, out: String,
      conf: Map[String, String], outputMode: String = "append")(
      define: SparkSession => DataFrame): StreamingQuery = {
    val stream = define(session(s, conf))
    s.createDataFrame(s.sparkContext.emptyRDD[Row], stream.schema)
      .write.mode("overwrite").parquet(out)
    run(stream, ckpt, outputMode) { (b, _) =>
      b.write.mode("append").parquet(out); ()
    }
  }

  /** Drains the stream `define` builds, running `batch` on each
    * micro-batch; a batch's own session carries the drain's conf. */
  def foreachBatch(s: SparkSession, ckpt: String, conf: Map[String, String])(
      define: SparkSession => DataFrame)(
      batch: (Dataset[Row], Long) => Unit): StreamingQuery =
    run(define(session(s, conf)), ckpt, "append")(batch)

  /** Attempts a drain gets. A query that fails restarts from its
    * checkpoint, which re-delivers the uncommitted batch; after the last
    * attempt its error is rethrown. A batch's own intermediates are
    * `persist`ed, so a lost executor usually costs it recomputed
    * tasks, not an attempt; attempts cover a batch that fails anyway
    * (a job that runs out of task or stage retries). */
  val MaxAttempts = 6

  private def run(stream: DataFrame, ckpt: String, outputMode: String)(
      batch: (Dataset[Row], Long) => Unit): StreamingQuery = {
    def attempt(n: Int): StreamingQuery = {
      val q = stream.writeStream
        .foreachBatch(batch)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .outputMode(outputMode)
        .start()
      try { q.awaitTermination(); q }
      catch {
        case e: StreamingQueryException if n < MaxAttempts =>
          System.err.println(s"[drain] attempt $n of $ckpt failed, " +
            s"restarting: ${e.getMessage.linesIterator.next()}")
          attempt(n + 1)
      }
    }
    attempt(1)
  }

  /** Pins the order a `maxFilesPerTrigger = 1` file stream reads the
    * batch directories under `inDir` in: the file source takes files
    * oldest first, so every parquet file in a directory gets the
    * modification time `mtime(directory name)`. */
  def pinOrder(inDir: String)(mtime: String => Long): Unit =
    new java.io.File(inDir).listFiles().filter(_.isDirectory).foreach { d =>
      val t = mtime(d.getName)
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        // mtime is the batch-order contract: fail loudly on a
        // filesystem that ignores the update instead of letting the
        // file-source order (and every verdict) silently diverge
        .foreach(f => require(f.setLastModified(t),
          s"setLastModified unsupported on ${f.getAbsolutePath}"))
    }
}
