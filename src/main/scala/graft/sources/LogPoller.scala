package graft.sources

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, GraftNative, SparkSession}
import org.apache.spark.sql.functions._

/** The S32/S33 polling DRIVER — what turns [[IncrementalTail]]'s
  * single-poll semantics into the reference's 30 s download loop
  * (`runner/logs.go:82-145`): each tick snapshots the current file
  * set, tails every file from its persisted marker, hands the new
  * lines to the sink, and persists the advanced markers for the next
  * tick (`server.LogPrevState = newLogState` — updated every tick,
  * success or not). Ticks of one poller SERIALIZE (the reference's
  * `LogStateMutex`): a slow download can't race the next tick into
  * reading the same window twice.
  *
  * The cadence itself comes from [[graft.streaming.Scheduler]]
  * ([[graft.streaming.Scheduler.LogDownload]], `planCadence` — the
  * reference runs this ticker beside, not inside, its three-schedule
  * scheduler), so deadline/cancel semantics are the scheduler's.
  *
  * Marker state is a driver-held map (file → byte offset), exactly the
  * reference's `PersistedLogState`; it is the only driver-side state
  * and is #files-bounded. The per-tick tail work is the distributed
  * [[IncrementalTail.tail]] plan — at 100 TB this loop schedules a
  * partition-parallel scan per tick, not a driver loop over files.
  * The tick's lines are cached only while `sink` runs, so a sink
  * consumes them before it returns. */
final class LogPoller(
    spark: SparkSession,
    filesProvider: () => DataFrame,
    sink: DataFrame => Unit,
    maxTailBytes: Long = IncrementalTail.DefaultMaxTailBytes) {

  private val markers =
    new AtomicReference[Map[String, Long]](Map.empty)
  private val tickLock = new Object

  /** The persisted marker table (file → offset) as of the last tick. */
  def currentMarkers: Map[String, Long] = markers.get()

  /** One download tick: tail every file from its marker, emit new
    * lines, advance markers. Returns the number of emitted lines. */
  def tick(): Long = tickLock.synchronized {
    import spark.implicits._
    val files = filesProvider()
    val prev = markers.get()
    val markerDf = prev.toSeq.toDF("file", "prev_offset")
    // one read of the files feeds the markers, the sink and the count
    val tailed = IncrementalTail.tail(files, markerDf, maxTailBytes)
      .transform(GraftNative.persistRows)
    try {
      // every PRESENT file (line 0 of its tail) moves to its current
      // size; files absent this tick keep their old marker (the
      // reference keeps state per file until the file rotates out of
      // the returned set)
      markers.set(prev ++ tailed.filter(col("line_idx") === 0)
        .select("file", "new_offset").collect()
        .map(r => r.getString(0) -> r.getLong(1)))
      // tail windows ending in '\n' yield one empty fragment
      val out = tailed.filter(col("line") =!= "")
      sink(out)
      out.count()
    } finally GraftNative.unpersistRows(tailed)
  }
}
