package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.{Drain, StreamingDedup, StreamingNearDup}

/** RocksDB state-growth soak (SURVEY §3.3): ≥100 micro-batches of key
  * churn through the stateful dedup operators, with the state store's
  * own metrics (numRowsTotal, memoryUsedBytes) recorded per batch and
  * the PLATEAU asserted — resident state is bounded by the
  * watermark-TTL horizon, not by how long the stream has been running.
  * This is the steady-state half of the fault story whose kill/resume
  * half lives in StreamingSpec.
  *
  * Coverage: [[StreamingDedup]] is the stateful stage of BOTH the
  * `dedup_stream` and `stream_curation` gate entries;
  * [[StreamingNearDup]] is `dedup_stream_lsh`'s — so the plateau here
  * is the state-growth story for all three. */
class StateSoakSpec extends SparkSpec {

  private val Batches = 120
  private val FreshPerBatch = 50

  /** Event times start a day after epoch: a row at exactly epoch 0
    * collides with the INITIAL watermark (also 0) and is dropped by the
    * stateful operator's late-row filter before it ever reaches state. */
  private def ts(epochSec: Long): Timestamp =
    new Timestamp((86400L + epochSec) * 1000L)

  /** (numRowsTotal, memoryUsedBytes) per batch. */
  private def soakMetrics(run: Int => Unit,
      progress: () => (Long, Long)): Vector[(Long, Long)] =
    (0 until Batches).map { i => run(i); progress() }.toVector

  private def assertPlateau(metrics: Vector[(Long, Long)], what: String): Unit = {
    val rows = metrics.map(_._1)
    val mem = metrics.map(_._2)
    // warmup: the store fills to the horizon over the first batches;
    // steady state is everything after batch 20
    val steadyRows = rows.drop(20)
    val steadyMem = mem.drop(20)
    // bound: the TTL horizon holds ~2-3 batches of keys (watermark
    // trails one batch; eviction lands on the following batch) — far
    // under the 120 * FreshPerBatch an unbounded store would hold
    val horizonBound = 4L * FreshPerBatch
    assert(steadyRows.max <= horizonBound,
      s"$what state rows ${steadyRows.max} exceed the horizon bound " +
        s"$horizonBound (plateau broken); tail=${rows.takeRight(5)}")
    assert(rows.last < rows.length * FreshPerBatch / 10,
      s"$what resident rows track stream length, not horizon")
    // memory plateaus with rows: the last batch's footprint stays
    // within 2x the post-warmup median (RocksDB block/WAL noise)
    val med = steadyMem.sorted.apply(steadyMem.size / 2)
    assert(steadyMem.last <= med * 2 + (1 << 20),
      s"$what memoryUsedBytes ${steadyMem.last} vs median $med — growing")
    info(s"$what: rows steady min=${steadyRows.min} max=${steadyRows.max} " +
      s"last=${rows.last} (bound $horizonBound, ${Batches}x$FreshPerBatch " +
      s"keys total); mem median=${med / 1024} KiB last=${steadyMem.last / 1024} KiB")
  }

  test("exact-dedup state plateaus at the watermark horizon over 120 churned batches") {
    val ss = Drain.session(spark, Drain.RocksDb)
    implicit val sqlCtx = ss.sqlContext
    import spark.implicits._
    val input = MemoryStream[StreamingDedup.DocRow]
    val out = StreamingDedup(input.toDS(), ttlMs = Some(1000L))
    val q = out.writeStream.format("memory").queryName("soak_dedup")
      .outputMode(OutputMode.Append).start()
    try {
      val metrics = soakMetrics(
        run = { i =>
          // churn: FreshPerBatch new keys + 5 repeats of the previous
          // batch's keys (still inside the TTL — exercise the
          // duplicate path), event time advancing 1 s per batch so
          // the watermark evicts everything older than the horizon
          val fresh = (0 until FreshPerBatch).map(k =>
            StreamingDedup.DocRow(s"fp-$i-$k", i.toLong * 1000 + k, ts(i)))
          val repeats = if (i == 0) Nil else (0 until 5).map(k =>
            StreamingDedup.DocRow(s"fp-${i - 1}-$k", 900000L + i * 10 + k,
              ts(i)))
          input.addData(fresh ++ repeats: _*)
          q.processAllAvailable()
        },
        progress = () => {
          val so = q.lastProgress.stateOperators.apply(0)
          (so.numRowsTotal, so.memoryUsedBytes)
        })
      assertPlateau(metrics, "exact dedup")
      // the repeats actually hit restored state: duplicates were tagged
      val dups = ss.table("soak_dedup").as[StreamingDedup.Tagged]
        .filter(t => !t.isFirst).count()
      assert(dups == (Batches - 1) * 5L,
        s"expected ${(Batches - 1) * 5} duplicate tags, got $dups")
    } finally q.stop()
  }

  test("LSH near-dup bucket-holder state plateaus under churned buckets") {
    val ss = Drain.session(spark, Drain.RocksDb)
    implicit val sqlCtx = ss.sqlContext
    import spark.implicits._
    val input = MemoryStream[StreamingNearDup.BandRow]
    val out = StreamingNearDup(input.toDS(), ttlMs = Some(1000L))
    val q = out.writeStream.format("memory").queryName("soak_lsh")
      .outputMode(OutputMode.Append).start()
    try {
      val metrics = soakMetrics(
        run = { i =>
          val sig = Array.tabulate(8)(j => (i * 31 + j).toLong)
          val fresh = (0 until FreshPerBatch).map(k =>
            StreamingNearDup.BandRow(s"b-$i-$k", i.toLong * 1000 + k,
              sig, ts(i)))
          val rehits = if (i == 0) Nil else (0 until 5).map(k =>
            StreamingNearDup.BandRow(s"b-${i - 1}-$k", 900000L + i * 10 + k,
              Array.tabulate(8)(j => ((i - 1) * 31 + j).toLong), ts(i)))
          input.addData(fresh ++ rehits: _*)
          q.processAllAvailable()
        },
        progress = () => {
          val so = q.lastProgress.stateOperators.apply(0)
          (so.numRowsTotal, so.memoryUsedBytes)
        })
      assertPlateau(metrics, "LSH near-dup")
      // re-hits within the TTL matched their bucket holders exactly
      val matches = ss.table("soak_lsh").count()
      assert(matches == (Batches - 1) * 5L,
        s"expected ${(Batches - 1) * 5} band matches, got $matches")
    } finally q.stop()
  }
}
