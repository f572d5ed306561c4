package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.{Stitch, StreamingDiff}

/** W1/W3/W5 semantics driven through real Structured Streaming
  * micro-batches (MemoryStream + processAllAvailable per batch). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("streaming diff keeps last-seen state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingDiff.DiffRow]
    val out = StreamingDiff(input.toDS())
    val q = out.writeStream.format("memory").queryName("sdiff")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(StreamingDiff.DiffRow("k1", ts("2024-01-01 00:00:00"),
        Map("calls" -> 100.0)))
      q.processAllAvailable()
      input.addData(
        StreamingDiff.DiffRow("k1", ts("2024-01-01 00:01:00"),
          Map("calls" -> 150.0)),
        StreamingDiff.DiffRow("k1", ts("2024-01-01 00:02:00"),
          Map("calls" -> 20.0)), // reset
        StreamingDiff.DiffRow("k2", ts("2024-01-01 00:02:00"),
          Map("calls" -> 9.0)))  // new key mid-stream
      q.processAllAvailable()
      val got = spark.table("sdiff")
        .as[StreamingDiff.DiffOut].collect()
        .map(o => (o.key, o.orderTs.toString, o.deltas("calls"), o.firstSeen))
        .toSet
      assert(got == Set(
        ("k1", "2024-01-01 00:00:00.0", 100.0, true),
        ("k1", "2024-01-01 00:01:00.0", 50.0, false),
        ("k1", "2024-01-01 00:02:00.0", 20.0, false), // re-baselined
        ("k2", "2024-01-01 00:02:00.0", 9.0, true)))
    } finally q.stop()
  }

  test("stitch appends continuations, flushes on new primary + watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Stitch.RawLine]
    val out = Stitch(input.toDS().withWatermark("ts", "3 seconds")
      .as[Stitch.RawLine])
    val q = out.writeStream.format("memory").queryName("stitched")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: primary + two UNKNOWN continuations for pid 1
      input.addData(
        Stitch.RawLine(1L, ts("2024-01-01 00:00:00"), "ERROR",
          "deadlock detected", 1),
        Stitch.RawLine(1L, ts("2024-01-01 00:00:00"), "UNKNOWN",
          "Process 1 waits for ShareLock", 2),
        Stitch.RawLine(1L, ts("2024-01-01 00:00:00"), "UNKNOWN",
          "Process 2 waits for ShareLock", 3))
      q.processAllAvailable()
      assert(spark.table("stitched").isEmpty) // still pending (not ready)

      // batch 2: a new primary flushes the stitched ERROR line
      input.addData(Stitch.RawLine(1L, ts("2024-01-01 00:00:01"), "LOG",
        "checkpoint starting: time", 4))
      q.processAllAvailable()
      val first = spark.table("stitched").as[Stitch.StitchedLine].collect()
      assert(first.length == 1)
      assert(first.head.level == "ERROR")
      assert(first.head.content ==
        "deadlock detected\nProcess 1 waits for ShareLock\nProcess 2 waits for ShareLock")
      assert(first.head.nLines == 3)

      // batch 3: advance the watermark past 00:00:01+3s → timeout flush
      input.addData(Stitch.RawLine(2L, ts("2024-01-01 00:01:00"), "LOG",
        "unrelated", 5))
      q.processAllAvailable()
      input.addData(Stitch.RawLine(2L, ts("2024-01-01 00:02:00"), "LOG",
        "unrelated2", 6))
      q.processAllAvailable()
      val all = spark.table("stitched").as[Stitch.StitchedLine].collect()
      assert(all.exists(l => l.pid == 1L &&
        l.content == "checkpoint starting: time"),
        s"watermark timeout should flush the pending LOG line: ${all.toSeq}")
    } finally q.stop()
  }

  test("streaming dedup: first-seen state survives micro-batches (arrival order, not id order)") {
    import graft.streaming.StreamingDedup
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingDedup.DocRow]
    val out = StreamingDedup(input.toDS())
    val q = out.writeStream.format("memory").queryName("sdedup")
      .outputMode(OutputMode.Append).start()
    try {
      val t0 = ts("2024-01-01 00:00:00")
      // batch 1: doc 5 arrives first and claims the canonical slot
      input.addData(StreamingDedup.DocRow("fpA", 5L, t0),
        StreamingDedup.DocRow("fpB", 9L, t0))
      q.processAllAvailable()
      // batch 2: a LOWER id of the same content arrives later — it is a
      // duplicate of the already-seen doc 5 (incremental semantics:
      // history wins, unlike the batch operator's global min). Event
      // time advances past batch 1's watermark (rows at ts ≤ watermark
      // are late data and dropped).
      val t1 = ts("2024-01-01 00:00:01")
      input.addData(StreamingDedup.DocRow("fpA", 3L, t1),
        StreamingDedup.DocRow("fpA", 7L, t1))
      q.processAllAvailable()
      val all = spark.table("sdedup").as[StreamingDedup.Tagged].collect()
        .map(t => (t.fingerprint, t.docId) -> (t.isFirst, t.canonicalId)).toMap
      assert(all(("fpA", 5L)) === ((true, 5L)))
      assert(all(("fpB", 9L)) === ((true, 9L)))
      assert(all(("fpA", 3L)) === ((false, 5L)))
      assert(all(("fpA", 7L)) === ((false, 5L)))
    } finally q.stop()
  }

  test("streaming near-dup: bucket holders survive batches; claim chains form") {
    import graft.streaming.StreamingNearDup
    implicit val sqlCtx = spark.sqlContext
    def sig(seed: Long, flips: Int): Array[Long] =
      Array.tabulate(64)(i => if (i < flips) seed + 1000 + i else seed)
    val input = MemoryStream[StreamingNearDup.BandRow]
    val out = StreamingNearDup(input.toDS())
    val q = out.writeStream.format("memory").queryName("snd")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: doc 10 claims bucket b0; doc 20 (16/64 components off —
      // est 0.75) matches it in the same batch, and CLAIMS bucket b9
      // that doc 10 is not in
      val t0 = ts("2024-01-01 00:00:00")
      input.addData(
        StreamingNearDup.BandRow("b0", 10L, sig(7L, 0), t0),
        StreamingNearDup.BandRow("b0", 20L, sig(7L, 16), t0),
        StreamingNearDup.BandRow("b9", 20L, sig(7L, 16), t0))
      q.processAllAvailable()
      // batch 2: doc 5 has a LOWER id but arrives later — history wins,
      // it matches doc 10's standing claim on b0; doc 30 lands in b9
      // only, matching the duplicate doc 20's claim (the C→B→A chain).
      // Event time advances past batch 1's watermark.
      val t1 = ts("2024-01-01 00:00:01")
      input.addData(
        StreamingNearDup.BandRow("b0", 5L, sig(7L, 8), t1),
        StreamingNearDup.BandRow("b9", 30L, sig(7L, 16), t1))
      q.processAllAvailable()
      val all = spark.table("snd").as[StreamingNearDup.BandMatch].collect()
        .map(m => m.docId -> ((m.holderId, m.est))).toMap
      assert(all(20L) === ((10L, 48.0 / 64)))
      assert(all(5L) === ((10L, 56.0 / 64)))
      assert(all(30L) === ((20L, 1.0))) // chain: 30 → 20 (→ 10)
      assert(!all.contains(10L)) // the first claimant emits nothing
    } finally q.stop()
  }

  test("W7: orphan continuations are discarded, never promoted") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Stitch.RawLine]
    val out = Stitch(input.toDS().withWatermark("ts", "3 seconds"))
    val q = out.writeStream.format("memory").queryName("sdiscard")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        // orphan continuation (no primary for pid 9 yet) → discarded
        Stitch.RawLine(9L, ts("2024-01-01 00:00:00"), "UNKNOWN", "\tleaked line", 1),
        // a real primary later
        Stitch.RawLine(9L, ts("2024-01-01 00:00:05"), "LOG", "checkpoint starting: time", 2))
      q.processAllAvailable()
      // advance watermark to flush the pending primary
      input.addData(Stitch.RawLine(8L, ts("2024-01-01 00:01:00"), "LOG", "x", 1))
      q.processAllAvailable()
      val all = spark.table("sdiscard").as[Stitch.StitchedLine].collect()
      // never promoted into a stitched line…
      assert(!all.exists(l => l.level != "DISCARDED" &&
        l.content.contains("leaked line")),
        s"orphan continuation must not be promoted: ${all.toSeq}")
      // …but surfaced on the DISCARDED dead-letter channel (the
      // observable W7 counter)
      assert(all.exists(l => l.level == "DISCARDED" &&
        l.content.contains("leaked line")))
      assert(all.exists(_.content == "checkpoint starting: time"))
    } finally q.stop()
  }

  test("stitch caps content at MaxStitchedBytes and flags truncation") {
    // the reference's StitchBuffer cap semantics (logs/stitch_test.go):
    // content beyond the byte cap is dropped, not grown without bound
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Stitch.RawLine]
    val out = Stitch(input.toDS().withWatermark("ts", "3 seconds"))
    val q = out.writeStream.format("memory").queryName("scap")
      .outputMode(OutputMode.Append).start()
    try {
      val nearCap = "x" * (Stitch.MaxStitchedBytes - 10)
      input.addData(
        Stitch.RawLine(1L, ts("2024-01-01 00:00:00"), "LOG", nearCap, 1),
        // 100-byte continuation: only 10 bytes of room remain (9 after \n)
        Stitch.RawLine(1L, ts("2024-01-01 00:00:00"), "UNKNOWN", "y" * 100, 2),
        // second continuation: zero room, dropped whole
        Stitch.RawLine(1L, ts("2024-01-01 00:00:00"), "UNKNOWN", "z" * 100, 3))
      q.processAllAvailable()
      input.addData(Stitch.RawLine(1L, ts("2024-01-01 00:00:01"), "LOG", "next", 4))
      q.processAllAvailable()
      val got = spark.table("scap").as[Stitch.StitchedLine].collect()
        .filter(_.nLines == 3)
      assert(got.length == 1)
      val line = got.head
      assert(line.truncated, "over-cap stitch must be flagged truncated")
      assert(line.content.getBytes("UTF-8").length <= Stitch.MaxStitchedBytes)
      assert(line.content.endsWith("\n" + "y" * 9), "partial room is clipped, not dropped")
      assert(!line.content.contains("z"), "zero-room continuation dropped whole")
    } finally q.stop()
  }

  test("W9: per-batch enrichment via foreachBatch (classify + redact)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val input = MemoryStream[(Long, String, String)]
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, String)]
    val q = input.toDS().toDF("id", "level", "content")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // the reference's postprocessAndSendLogs shape: classify, redact,
        // then hand off — all inside the micro-batch
        val enriched = batch
          .withColumn("classification",
            graft.logsys.LogClassify.classify(col("content")))
          .withColumn("redacted",
            graft.logsys.LogSecrets.redact(col("content"), col("level")))
          .select("id", "classification", "redacted")
        enriched.collect().foreach(r =>
          collected.synchronized {
            collected += ((r.getLong(0), r.getInt(1), r.getString(2)))
          })
        ()
      }
      .start()
    try {
      input.addData(
        (1L, "LOG", "duration: 10.5 ms  statement: SELECT secret_col FROM t"),
        (2L, "ERROR", "division by zero"))
      q.processAllAvailable()
      val byId = collected.synchronized(collected.toList).map(r => r._1 -> r).toMap
      assert(byId(1L)._2 == 80) // STATEMENT_DURATION
      assert(byId(1L)._3 == "duration: 10.5 ms  statement: [redacted]")
      assert(byId(2L)._2 == 128) // DIVISION_BY_ZERO
      assert(byId(2L)._3 == "division by zero")
    } finally q.stop()
  }

  test("streaming session windows: gap-based sessions close at the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    // W3's native streaming form: session_window(gap) per backend —
    // a session closes only once the watermark passes ts + gap
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val sessions = input.toDS().toDF("pid", "ts")
      .withWatermark("ts", "0 seconds")
      .groupBy(col("pid"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
    val q = sessions.writeStream
      .format("memory").queryName("sess_win")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 00:00:00")),
        (1L, ts("2024-01-01 00:10:00")),  // same session (gap < 30m)
        (1L, ts("2024-01-01 01:00:00")))  // new session
      q.processAllAvailable()
      // advance the watermark far enough to close both sessions
      input.addData((2L, ts("2024-01-01 03:00:00")))
      q.processAllAvailable()
      input.addData((2L, ts("2024-01-01 06:00:00")))
      q.processAllAvailable()
      val got = spark.table("sess_win")
        .filter(col("pid") === 1L)
        .select(col("n")).collect().map(_.getLong(0)).sorted.toSeq
      assert(got === Seq(1L, 2L),
        s"expected a 2-event and a 1-event session for pid 1, got $got")
    } finally q.stop()
  }

  test("stream-stream interval join: samples enrich log lines within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, expr}
    // the streaming form of W4/J9: a log-line stream joins a
    // query-sample stream of the same backend within ±1 minute, both
    // sides watermarked so join state is evicted past the horizon
    val lines = MemoryStream[(Long, java.sql.Timestamp, String)]
    val samples = MemoryStream[(Long, java.sql.Timestamp, String)]
    val l = lines.toDS().toDF("pid", "line_ts", "content")
      .withWatermark("line_ts", "2 minutes")
    val r = samples.toDS().toDF("s_pid", "sample_ts", "query")
      .withWatermark("sample_ts", "2 minutes")
    val joined = l.join(r, expr(
      """pid = s_pid AND
        |sample_ts >= line_ts - INTERVAL 1 MINUTE AND
        |sample_ts <= line_ts + INTERVAL 1 MINUTE""".stripMargin))
    val q = joined.writeStream
      .format("memory").queryName("ss_join")
      .outputMode("append").start()
    try {
      lines.addData((1L, ts("2024-01-01 00:10:00"), "duration: 12 ms"))
      samples.addData((1L, ts("2024-01-01 00:10:30"), "SELECT 1"))
      samples.addData((1L, ts("2024-01-01 00:12:30"), "SELECT 2")) // outside +-1min
      samples.addData((2L, ts("2024-01-01 00:10:30"), "SELECT 3")) // other pid
      q.processAllAvailable()
      val got = spark.table("ss_join")
        .select(col("pid"), col("query")).collect()
        .map(r0 => (r0.getLong(0), r0.getString(1))).toSet
      assert(got === Set((1L, "SELECT 1")),
        s"only the same-pid in-window sample must join, got $got")
    } finally q.stop()
  }

  test("streaming exact dedup: watermarked state drops repeats across batches") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    // the streaming form of dedup_exact: fingerprint-keyed
    // dropDuplicatesWithinWatermark — state for a fingerprint is evicted
    // once the watermark passes it, so the state store stays bounded at
    // (dedup horizon × ingest rate), not corpus size
    val deduped = input.toDS().toDF("doc_id", "ts", "fp")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("fp")
    val q = deduped.writeStream
      .format("memory").queryName("stream_dedup")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 00:00:00"), "fpA"),
        (2L, ts("2024-01-01 00:00:05"), "fpA"), // dup within batch
        (3L, ts("2024-01-01 00:00:10"), "fpB"))
      q.processAllAvailable()
      input.addData(
        (4L, ts("2024-01-01 00:02:00"), "fpA"), // dup across batches
        (5L, ts("2024-01-01 00:02:10"), "fpC"))
      q.processAllAvailable()
      val ids = spark.table("stream_dedup")
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      assert(ids === Set(1L, 3L, 5L),
        s"expected first-writer-wins dedup, got $ids")
    } finally q.stop()
  }

  test("dedup state is bounded: RocksDB store + watermark-TTL eviction under key churn") {
    import graft.streaming.{Drain, StreamingDedup}
    val ss = Drain.session(spark, Drain.RocksDb)
    implicit val sqlCtx = ss.sqlContext
    val input = MemoryStream[StreamingDedup.DocRow]
    // 1 s EVENT-time TTL: a key whose last sighting falls 1 s behind
    // the watermark evicts — deterministic (no wall clock), and the
    // gate entries use the same mechanism with a 1 h horizon
    val out = StreamingDedup(input.toDS(), ttlMs = Some(1000L))
    val q = out.writeStream.format("memory").queryName("sdedup_ttl")
      .outputMode(OutputMode.Append).start()
    try {
      def addWave(lo: Int, hi: Int, at: Timestamp): Unit = {
        input.addData((lo until hi).map(i =>
          StreamingDedup.DocRow(s"fp$i", i.toLong, at)))
        q.processAllAvailable()
      }
      // three waves of disjoint keys, event time advancing 10 s per
      // wave — an unbounded store would hold all 600 keys; the
      // watermark passing wave N's ttl evicts it during wave N+2's
      // batch (watermark trails by one batch)
      addWave(0, 200, ts("2024-01-01 00:00:00"))
      addWave(200, 400, ts("2024-01-01 00:00:10"))
      addWave(400, 600, ts("2024-01-01 00:00:20"))
      // wave 4 re-presents fp0: it was evicted when the watermark
      // passed 00:00:01, so it re-tags as FIRST — windowed-dedup
      // semantics, the documented price of bounded state
      input.addData(StreamingDedup.DocRow("fp0", 9999L,
        ts("2024-01-01 00:00:30")))
      q.processAllAvailable()
      val stateOp = q.lastProgress.stateOperators.apply(0)
      assert(stateOp.customMetrics.keySet.toArray
        .exists(_.toString.startsWith("rocksdb")),
        "expected the RocksDB state store provider to be active")
      assert(stateOp.numRowsTotal < 600,
        s"state not evicting: ${stateOp.numRowsTotal} rows resident")
      val re = ss.table("sdedup_ttl").as[StreamingDedup.Tagged]
        .collect().filter(t => t.fingerprint == "fp0" && t.docId == 9999L)
      assert(re.length == 1 && re.head.isFirst,
        s"evicted key should re-tag as first, got ${re.toSeq}")
    } finally q.stop()
  }

  test("near-dup holder state evicts on watermark TTL; bucket re-claimable after") {
    import graft.streaming.{Drain, StreamingNearDup}
    val ss = Drain.session(spark, Drain.RocksDb)
    implicit val sqlCtx = ss.sqlContext
    val input = MemoryStream[StreamingNearDup.BandRow]
    val out = StreamingNearDup(input.toDS(), ttlMs = Some(1000L))
    val q = out.writeStream.format("memory").queryName("snd_ttl")
      .outputMode(OutputMode.Append).start()
    try {
      val sig = Array.tabulate(8)(_.toLong)
      def drain(rows: StreamingNearDup.BandRow*): Unit = {
        input.addData(rows); q.processAllAvailable()
      }
      // doc 10 claims b1 at t0
      drain(StreamingNearDup.BandRow("b1", 10L, sig,
        ts("2024-01-01 00:00:00")))
      // two watermark-advancing batches on an unrelated bucket: the
      // first raises the watermark past b1's ttl, the second gives
      // the expired timeout a batch (with no b1 data) to fire in
      drain(StreamingNearDup.BandRow("wm", 1L, sig,
        ts("2024-01-01 00:00:10")))
      drain(StreamingNearDup.BandRow("wm", 2L, sig,
        ts("2024-01-01 00:00:11")))
      // b1's holder is gone: doc 20 re-claims (emits NO match) …
      drain(StreamingNearDup.BandRow("b1", 20L, sig,
        ts("2024-01-01 00:00:12")))
      // … and doc 30 matches the NEW holder 20, not the evicted 10
      drain(StreamingNearDup.BandRow("b1", 30L, sig,
        ts("2024-01-01 00:00:13")))
      val ms = ss.table("snd_ttl").as[StreamingNearDup.BandMatch]
        .collect().filter(_.docId >= 20L)
      assert(!ms.exists(_.docId == 20L),
        s"doc 20 should have re-claimed the evicted bucket, got ${ms.toSeq}")
      assert(ms.exists(m => m.docId == 30L && m.holderId == 20L && m.est == 1.0),
        s"doc 30 should match the new holder 20, got ${ms.toSeq}")
    } finally q.stop()
  }

  test("LIVE socket syslog source: RFC5424 over TCP into stitch, out-of-order + W7") {
    import graft.sources.SyslogSocket
    def fr(t: String, pid: Int, seq: Int, msg: String): String =
      s"<134>1 ${t}Z host postgres $pid - - [$seq-1] $msg"
    // waves arrive over a REAL wire in time order that does NOT match
    // event time: pid 100's continuation lands a wave after its
    // primary, interleaved with pid 200's later-ts primary; wave 3
    // carries an orphan continuation (pid 300, W7), an unframed poison
    // line, a second pid-100 primary (flushes the stitched first), and
    // a far-future closer that drags the watermark past every timeout
    val server = new SyslogSocket.LineServer(Seq(
      Seq(
        fr("2024-01-01T00:00:02", 100, 1, "LOG:  slow query start"),
        fr("2024-01-01T00:00:03", 200, 1, "ERROR:  deadlock detected")),
      Seq(
        fr("2024-01-01T00:00:02", 100, 2, "\tquery: SELECT pg_sleep(10)"),
        fr("2024-01-01T00:00:04", 100, 3, "LOG:  second statement")),
      Seq(
        fr("2024-01-01T00:00:05", 300, 9, "\torphan detail"),
        "this is not a syslog frame",
        fr("2024-01-01T00:00:30", 999, 1, "LOG:  closer"))))
    val raw = SyslogSocket.stream(spark, "127.0.0.1", server.port)
    val stitched = Stitch(
      SyslogSocket.rawLines(raw)
        .withWatermark("ts", "3 seconds")
        .as[Stitch.RawLine]).toDF()
      .withColumn("classification",
        graft.logsys.LogClassify.classify(org.apache.spark.sql.functions.col("content")))
    val q = stitched.writeStream.format("memory").queryName("syslog_live")
      .outputMode(OutputMode.Append).start()
    try {
      // arrival is genuinely asynchronous: poll until the three
      // stitched lines and two dead-letter rows surface
      val deadline = System.currentTimeMillis + 60000
      def rows() = spark.table("syslog_live").collect()
      while (rows().length < 5 && System.currentTimeMillis < deadline)
        Thread.sleep(250)
      val all = rows()
      val stitchedRows = all.filter(_.getAs[String]("level") != "DISCARDED")
      val discarded = all.filter(_.getAs[String]("level") == "DISCARDED")
      val first = stitchedRows.find(r =>
        r.getAs[Long]("pid") == 100L &&
          r.getAs[String]("content").startsWith("slow query start"))
      assert(first.isDefined, s"missing stitched primary, got ${all.toSeq}")
      // the out-of-order continuation (arrived one wave later over the
      // wire) stitched into its primary across the batch boundary
      assert(first.get.getAs[String]("content") ==
        "slow query start\n\tquery: SELECT pg_sleep(10)",
        s"continuation not stitched: ${first.get}")
      assert(first.get.getAs[Int]("nLines") == 2)
      assert(stitchedRows.exists(r => r.getAs[Long]("pid") == 200L &&
        r.getAs[String]("content") == "deadlock detected" &&
        r.getAs[String]("level") == "ERROR"))
      assert(stitchedRows.exists(r => r.getAs[Long]("pid") == 100L &&
        r.getAs[String]("content") == "second statement"))
      // W7: the orphan continuation and the unframed poison line are
      // dead-lettered, never promoted or associated
      assert(discarded.length == 2, s"discards: ${discarded.toSeq}")
      assert(discarded.exists(_.getAs[Long]("pid") == 300L))
      assert(discarded.exists(_.getAs[Long]("pid") == -1L))
      // the closer never flushes (watermark never passes it)
      assert(!all.exists(_.getAs[Long]("pid") == 999L))
    } finally {
      q.stop()
      server.stop()
    }
  }

  test("LIVE HTTPS drain: octet-framed bodies over real HTTP -> spool -> stream -> frames") {
    import graft.sources.{HttpDrain, Syslog}
    import org.apache.spark.sql.functions.{col, explode}
    val spool = java.nio.file.Files.createTempDirectory("graft_drain")
    val rx = new HttpDrain.Receiver(spool)
    def framed(msg: String): String = s"${msg.length} $msg"
    try {
      // two real POSTs: a pg frame + interleaved router noise the
      // de-framer must discard, then a second body with one pg frame
      val pg1 = "<134>1 2024-01-01T00:00:02Z host app postgres.5 - LOG: one"
      val noise = "<158>1 2024-01-01T00:00:02Z host heroku router - at=info"
      val pg2 = "<134>1 2024-01-01T00:00:03Z host app postgres.7 - LOG: two"
      assert(HttpDrain.post(rx.port, "/logs/tok1", framed(noise) + framed(pg1)) == 200)
      assert(HttpDrain.post(rx.port, "/logs/tok1", framed(pg2)) == 200)
      val frames = HttpDrain.stream(spark, spool)
        .select(explode(Syslog.herokuFrames(col("value"))).as("f"))
        .select("f.proc_id", "f.content")
      val q = frames.writeStream.format("memory").queryName("drain_live")
        .outputMode(OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(30000)
      val rows = spark.table("drain_live").collect()
        .map(r => r.getString(0) -> r.getString(1)).toSet
      assert(rows == Set("postgres.5" -> "LOG: one",
        "postgres.7" -> "LOG: two"), s"got $rows")
      assert(rx.dropped == 0)
    } finally {
      rx.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(spool.toFile)
    }
  }

  test("HTTPS drain backpressure: spool at capacity drops requests with a count (W6)") {
    import graft.sources.HttpDrain
    val spool = java.nio.file.Files.createTempDirectory("graft_drain_bp")
    val rx = new HttpDrain.Receiver(spool, maxPending = 2)
    try {
      (1 to 5).foreach(i =>
        assert(HttpDrain.post(rx.port, "/logs/t", s"5 m$i") == 200))
      // 2 accepted into the spool, 3 dropped — the reference's bounded
      // channel drops rather than buffering unboundedly
      val pending = spool.toFile.listFiles((_, n) => n.endsWith(".body"))
      assert(pending.length == 2, s"spool: ${pending.toSeq}")
      assert(rx.dropped == 3)
    } finally {
      rx.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(spool.toFile)
    }
  }

  test("Drain sets its conf on the query's session, never on the caller's") {
    import graft.streaming.{Drain, StreamingDedup}
    import graft.streaming.StreamingDedup.DocRow
    val work = java.nio.file.Files.createTempDirectory("graft_drain_conf")
    val in = work.resolve("in").toString
    val out = work.resolve("out").toString
    val rows = Seq(
      DocRow("fpA", 1L, ts("2024-01-01 00:00:00")),
      DocRow("fpA", 2L, ts("2024-01-01 00:00:01")),
      DocRow("fpB", 3L, ts("2024-01-01 00:00:02"))).toDS()
    rows.write.parquet(in)
    val before = spark.conf.getAll.toSet
    try {
      val q = Drain(spark, work.resolve("ckpt").toString, out,
          Drain.partitions(3) ++ Drain.RocksDb) { ss =>
        StreamingDedup(ss.readStream.schema(rows.schema).parquet(in)
          .as[DocRow]).toDF()
      }
      assert(q.lastProgress.stateOperators(0).numShufflePartitions == 3)
      val after = spark.conf.getAll.toSet
      assert(after == before, (after diff before) ++ (before diff after))
      assert(spark.read.parquet(out).where("isFirst").count() == 2)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
  }

  test("Drain leaves no streaming listener bus on the SparkContext") {
    import graft.streaming.Drain
    import org.apache.spark.sql.GraftNative
    val work = java.nio.file.Files.createTempDirectory("graft_drain_buses")
    val in = work.resolve("in").toString
    (0L to 3L).toDF("id").write.parquet(in)
    def buses = GraftNative.streamBuses(spark.sparkContext).size
    val before = buses
    try (1 to 3).foreach { i =>
      Drain(spark, work.resolve(s"ckpt$i").toString,
          work.resolve(s"out$i").toString, Drain.partitions(2)) { ss =>
        ss.readStream.schema("id long").parquet(in)
      }
      assert(buses == before, s"after drain $i")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
  }

  test("Drain restarts a failed drain from its checkpoint, up to MaxAttempts") {
    import graft.streaming.Drain
    val work = java.nio.file.Files.createTempDirectory("graft_drain_restart")
    val in = work.resolve("in").toString
    Seq(0L to 3L, 4L to 7L).zipWithIndex.foreach { case (ids, k) =>
      ids.toDF("id").coalesce(1).write.parquet(s"$in/b$k")
    }
    Drain.pinOrder(in)(d => 1000000L * (1 + d.stripPrefix("b").toInt))
    /** Drains `in` one file per batch, each batch to its own directory
      * (so a re-delivered batch overwrites itself); `fail` throws. */
    def drain(tag: String)(fail: Long => Boolean): Set[(Long, Int)] = {
      val out = work.resolve(s"out_$tag").toString
      Drain.foreachBatch(spark, work.resolve(s"ckpt_$tag").toString, Map.empty) {
        ss => ss.readStream.schema("id long").option("maxFilesPerTrigger", 1)
          .option("recursiveFileLookup", "true").parquet(in)
      } { (b, batchId) =>
        if (fail(batchId)) throw new IllegalStateException(s"batch $batchId")
        b.write.mode("overwrite").parquet(s"$out/batch=$batchId")
      }
      spark.read.parquet(out).as[(Long, Int)].collect().toSet
    }
    try {
      val clean = drain("clean")(_ => false)
      assert(clean.map(_._2) == Set(0, 1))
      var thrown = 0
      assert(drain("flaky") { id =>
        val first = id == 1 && thrown == 0
        if (first) thrown += 1
        first
      } == clean)
      assert(thrown == 1)
      var attempts = 0
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        drain("broken") { _ => attempts += 1; true })
      assert(attempts == Drain.MaxAttempts)
      assert(org.apache.commons.lang3.exception.ExceptionUtils
        .getRootCause(e).getMessage == "batch 0")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
  }

  test("RocksDB checkpoint kill/resume: dedup state restores, tags exactly-once") {
    // The reference persists collector state across process restarts
    // (state/state_file.go:1-81); the streaming analog is the RocksDB
    // changelog checkpoint: kill the query after batch N, restart from
    // the checkpoint, and (a) already-committed offsets must NOT
    // reprocess (exactly-once tags in the file sink), (b) the restarted
    // query must tag wave-B duplicates against wave-A state it never
    // itself computed — proof the store RESTORED rather than recomputed.
    import graft.streaming.{Drain, StreamingDedup}
    import graft.streaming.StreamingDedup.{DocRow, Tagged}
    val ss = Drain.session(spark, Drain.RocksDb)
    implicit val sqlCtx = ss.sqlContext
    val work = java.nio.file.Files.createTempDirectory("graft_resume")
    val ckpt = work.resolve("ckpt").toString
    val sink = work.resolve("out").toString
    val waveA = Seq(
      DocRow("fpA", 1L, ts("2024-01-01 00:00:00")),
      DocRow("fpA", 2L, ts("2024-01-01 00:00:01")), // in-batch dup
      DocRow("fpB", 3L, ts("2024-01-01 00:00:02")))
    val waveB = Seq(
      DocRow("fpA", 10L, ts("2024-01-01 00:00:30")), // dup vs RESTORED state
      DocRow("fpB", 11L, ts("2024-01-01 00:00:31")),
      DocRow("fpC", 12L, ts("2024-01-01 00:00:32"))) // new key post-restart
    def collectSink(path: String): Set[(String, Long, Boolean, Long)] =
      spark.read.schema(org.apache.spark.sql.Encoders.product[Tagged].schema)
        .parquet(path).as[Tagged].collect()
        .map(t => (t.fingerprint, t.docId, t.isFirst, t.canonicalId)).toSet
    try {
      val input = MemoryStream[DocRow]
      val out = StreamingDedup(input.toDS())
      def start() = out.writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append).start()
      // batch 1, then KILL
      val q1 = start()
      input.addData(waveA: _*)
      q1.processAllAvailable()
      q1.stop()
      // data arriving while down; restart resumes from the checkpoint
      input.addData(waveB: _*)
      val q2 = start()
      q2.processAllAvailable()
      val stateOp = q2.lastProgress.stateOperators.apply(0)
      assert(stateOp.customMetrics.keySet.toArray
        .exists(_.toString.startsWith("rocksdb")),
        "restart must come back on the RocksDB provider")
      q2.stop()
      val got = collectSink(sink)
      // exactly-once: every (fp, docId) appears once — wave A was not
      // replayed after the restart
      assert(got.size == waveA.size + waveB.size, s"duplicated tags: $got")
      // restored state: fpA's post-restart sighting tags as a DUP with
      // the canonical id chosen before the kill
      assert(got.contains(("fpA", 10L, false, 1L)) &&
        got.contains(("fpB", 11L, false, 3L)) &&
        got.contains(("fpC", 12L, true, 12L)), s"state not restored: $got")

      // identical to the uninterrupted run
      val input2 = MemoryStream[DocRow]
      val sink2 = work.resolve("out_uninterrupted").toString
      val q3 = StreamingDedup(input2.toDS()).writeStream.format("parquet")
        .option("path", sink2)
        .option("checkpointLocation", work.resolve("ckpt2").toString)
        .outputMode(OutputMode.Append).start()
      input2.addData(waveA: _*)
      q3.processAllAvailable()
      input2.addData(waveB: _*)
      q3.processAllAvailable()
      q3.stop()
      assert(collectSink(sink2) == got,
        "kill/resume output must equal the uninterrupted run")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
  }
}
