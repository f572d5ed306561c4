package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.GraftSparkBridge
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.{QueriesLog, SparkEntry, Tables}
import graft.logsys.{LogClassify, LogSecrets}
import graft.operators.Dedup
import graft.sinks.{ActivitySnapshotPipeline, FullSnapshotPipeline, ProtoWire,
  SnapshotTransport, SnapshotUpload}
import graft.sources.CatalogSynth
import graft.streaming.{DaemonSoak, LogStreamPipeline, Scheduler}

/** What one measured pass records. Cadence callbacks run on worker
  * threads, so every mutation is synchronized. */
final class Rec {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val counts = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  def sample(k: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
  }
  def add(k: String, v: Double): Unit = synchronized {
    counts(k) = counts.getOrElse(k, 0d) + v
  }
  def outcome(n: Long, failedN: Long, why: => String): Unit = synchronized {
    attempted += n
    failed += failedN
    if (failedN > 0 && failures.size < 20) failures += why
  }
}

/** One workload: its set-up, an untimed warm-up, one measured pass of a
  * fixed amount of work, and the traced-run layer probes. */
trait Workload {
  /** What a pass takes on a 4-core host: a run measures
    * round(seconds / this) passes, so the count is fixed by --seconds. */
  def nominalPassS: Double
  def setup(s: SparkSession): Unit
  def warmup(s: SparkSession): Unit
  /** Runs before each measured pass, outside its timing. */
  def beforePass(s: SparkSession): Unit = ()
  def pass(s: SparkSession, r: Rec): Unit
  def probes(s: SparkSession, r: Rec): Unit
}

object PerfBench {

  /** Repetitions of each layer probe; a layer reports their median. */
  val ProbeReps = 2

  /** Materialize every output column: an order-independent sum of
    * per-row hashes, so Catalyst cannot prune the work away. */
  def force(df: DataFrame): String = {
    val cols = df.columns.map(c => col("`" + c + "`"))
    String.valueOf(df.agg(sum(xxhash64(struct(cols.toIndexedSeq: _*))
      .cast("decimal(38,0)"))).head.get(0))
  }

  def cachedBlocks(s: SparkSession): Long =
    s.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum

  def release(s: SparkSession): Unit = {
    s.catalog.clearCache()
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def deleteTree(p: java.io.File): Unit = {
    Option(p.listFiles).foreach(_.foreach(deleteTree))
    p.delete()
  }

  private def cpuNanos: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** A JSON string literal. */
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def arr(xs: Iterable[Double]): String = xs.mkString("[", ",", "]")

  private def recJson(r: Rec, walls: Seq[Double], cpus: Seq[Double]): String =
    "{" + Seq(
      s""""pass_wall_s":${arr(walls)}""",
      s""""pass_cpu_s":${arr(cpus)}""",
      s""""attempted":${r.attempted}""",
      s""""failed":${r.failed}""",
      s""""failures":${r.failures.map(q).mkString("[", ",", "]")}""",
      s""""samples":{${r.samples.map { case (k, v) => s"${q(k)}:${arr(v)}" }
        .mkString(",")}}""",
      s""""counts":{${r.counts.map { case (k, v) => s"${q(k)}:$v" }
        .mkString(",")}}""").mkString(",") + "}"

  /** Measure `passes` whole passes; each is one root span. */
  private def measure(s: SparkSession, w: Workload, passes: Long)
      : (Rec, String) = {
    val r = new Rec
    val walls, cpus = mutable.ArrayBuffer.empty[Double]
    while (walls.size < passes) {
      w.beforePass(s)
      val c0 = cpuNanos
      val w0 = System.nanoTime()
      val ms0 = System.currentTimeMillis()
      try Trace.span("pass", parent = 0)(w.pass(s, r))
      catch {
        case e: Exception =>
          r.outcome(1, 1, s"pass threw ${e.getClass.getName}: ${e.getMessage}")
      }
      walls += (System.nanoTime() - w0) / 1e9
      cpus += (cpuNanos - c0) / 1e9
      if (Trace.on) {
        GraftSparkBridge.drainListenerBus(s.sparkContext)
        r.add("spark.driver_only_s",
          EngineStats.idleMs(ms0, System.currentTimeMillis()) / 1e3)
      }
    }
    (r, recJson(r, walls.toSeq, cpus.toSeq))
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    val data = opt("data")
    val outDir = opt("out")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cpus = opt("cpus")
    val tmp = opt("tmp")
    Trace.runId = s"$workload-${opt.getOrElse("seed", "0")}-${opt("trace")}"

    val t0 = System.nanoTime()
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    // static, so the sessions the program derives with newSession()
    // report too; it returns at once while Trace.on is unset
    if (traced)
      b.config("spark.sql.queryExecutionListeners", classOf[PhaseListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sparkStart = (System.nanoTime() - t0) / 1e9

    val w: Workload = workload match {
      case "daemon" => new DaemonWorkload(data, tmp)
      case "corpus_curate" => new CorpusWorkload(data, outDir)
      case other => sys.error(s"unknown workload $other")
    }

    def timed(f: => Unit): Double = {
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
    }
    val setups = (1 to 3).map { _ =>
      val ss = spark.newSession()
      val t = timed(w.setup(ss))
      release(ss)
      t
    }
    val warm = timed(w.warmup(spark))

    // about `seconds` of passes, counted from the workload's nominal pass
    // time: a count that does not depend on how fast this run goes keeps
    // runs comparable
    val passes = math.max(1L, math.round(seconds / w.nominalPassS))
    val parts = mutable.ArrayBuffer.empty[String]
    // a traced run measures one pass each: untraced, then traced
    val (main, mainJson) = measure(spark, w, if (traced) 1L else passes)
    parts += s""""measured":$mainJson"""
    var attempted = main.attempted
    var failed = main.failed
    if (traced) {
      // the pass with listeners and spans live gives the per-layer
      // numbers; the untraced pass before it gives the tracing overhead
      EngineStats.reset()
      // the Spark listener is attached for the traced pass only, so the
      // untraced pass pays no listener-bus dispatch to it
      spark.sparkContext.addSparkListener(EngineStats.listener)
      Trace.on = true
      val (tr, trJson) = measure(spark, w, 1L)
      GraftSparkBridge.drainListenerBus(spark.sparkContext)
      Trace.on = false
      spark.sparkContext.removeSparkListener(EngineStats.listener)
      val e = EngineStats
      val engine = Seq(
        "spark.plan.analysis_ms" -> e.analysisMs.get.toDouble,
        "spark.plan.optimization_ms" -> e.optimizationMs.get.toDouble,
        "spark.plan.planning_ms" -> e.planningMs.get.toDouble,
        "spark.jobs" -> e.jobs.get.toDouble,
        "spark.tasks" -> e.tasks.get.toDouble,
        "spark.sched_delay_ms" -> e.schedDelayMs.get.toDouble,
        "spark.exec.cpu_s" -> e.cpuNs.get / 1e9,
        "spark.exec.gc_s" -> e.gcMs.get / 1e3,
        "spark.shuffle.write_mb" -> e.shufWrite.get / 1e6,
        "spark.shuffle.read_mb" -> e.shufRead.get / 1e6,
        "spark.shuffle.fetch_wait_ms" -> e.fetchWaitMs.get.toDouble,
        "spark.spill_mb" -> e.spill.get / 1e6)
      parts += s""""traced":$trJson"""
      parts += s""""engine":{${engine.map { case (k, v) => s"${q(k)}:$v" }
        .mkString(",")},"spark.peak_exec_mem_mb":${e.peakExecMem.get / 1e6}}"""
      val pr = new Rec
      Trace.on = true
      Trace.span("probes", parent = 0)(w.probes(spark, pr))
      Trace.on = false
      parts += s""""probes":${recJson(pr, Nil, Nil)}"""
      attempted += tr.attempted + pr.attempted
      failed += tr.failed + pr.failed
      Files.write(Paths.get(s"$outDir/spans.jsonl"),
        (Trace.json.mkString("\n") + "\n").getBytes(UTF_8))
    }

    // the program's persisted data stays: what it leaves behind is what
    // this figure is for (the harness's own caches are released already)
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6

    val json = "{" + (Seq(
      s""""workload":${q(workload)}""",
      s""""spark_start_s":$sparkStart""",
      s""""setup_s":${arr(setups)}""",
      s""""warmup_s":$warm""",
      s""""attempted":$attempted""",
      s""""failed":$failed""",
      s""""retained_heap_mb":$heapMb""") ++ parts).mkString(",") + "}"
    Files.write(Paths.get(s"$outDir/result.json"), json.getBytes(UTF_8))
    spark.stop()
  }
}

/** The four-cadence daemon: one soak of [[DaemonWorkload.Horizon]]
  * planned seconds per pass, at the deployment budget of one wall
  * second per planned second. */
final class DaemonWorkload(dir: String, tmp: String) extends Workload {
  import DaemonWorkload._

  def nominalPassS: Double = 15

  def setup(s: SparkSession): Unit = Tables.names.foreach { n =>
    (if (n == "events") Tables.events(s, dir) else Tables(s, dir, n)).count()
  }

  /** A short soak, then the full-snapshot tick's path, which the short
    * soak does not reach, so the measured ticks do not pay first-use
    * code generation. */
  def warmup(s: SparkSession): Unit = {
    val r = new Rec
    soak(s, r, WarmHorizon)
    require(r.failed == 0, s"warm-up soak failed: ${r.failures.mkString("; ")}")
    val wire = ProtoWire.zlib(
      FullSnapshotPipeline.encode(FullSnapshotPipeline.assemble(s, dir)))
    require(FullSnapshotPipeline.decodeVerify(s, wire).select("integrity_ok")
      .collect().forall(_.getBoolean(0)), "warm-up full snapshot failed")
  }

  def pass(s: SparkSession, r: Rec): Unit = soak(s, r, Horizon)

  private def soak(s: SparkSession, r: Rec, horizon: Long): Unit = {
    val parent = Trace.current
    val planned = Scheduler.plan(0L, horizon).size +
      Scheduler.planCadence(Scheduler.LogDownload,
        Scheduler.LogDownloadPeriod, 0L, horizon).size
    val (rows, reports) = try DaemonSoak.run(s, dir, tickBudgetMs = 1000L,
        horizon = horizon, onTickNanos = (t, n) => {
          r.sample(t.cadence, n / 1e6)
          Trace.record(s"daemon.tick.${t.cadence}", parent, n)
        })
      catch {
        case e: Exception =>
          r.outcome(planned, planned,
            s"soak threw ${e.getClass.getName}: ${e.getMessage}")
          return
      }
    val bad = rows.filter(x => x.outcome != "completed" || !x.wireOk)
    r.outcome(rows.size, bad.size, s"ticks failed: ${bad.take(3)}")
    r.add("streaming.ticks_timed_out",
      reports.count(_.outcome == Scheduler.TimedOut).toDouble)
    r.add("planned_s", horizon.toDouble)
    r.add("spark.persisted_blocks_after", PerfBench.cachedBlocks(s).toDouble)
  }

  def probes(s: SparkSession, r: Rec): Unit = {
    new LogStreamProbe(dir, tmp)(s, r)
    val api = new UploadApi
    try {
      val fetcher = new SnapshotTransport.GrantFetcher(api.base,
        SnapshotTransport.apiHeaders(UploadApi.Key, systemId = "graft-bench"))
      (1 to PerfBench.ProbeReps).foreach { i =>
        Trace.span("probe.sinks.full") {
          val doc = Trace.span("sinks.full.assemble")(
            FullSnapshotPipeline.assemble(s, dir))
          val bytes = Trace.span("sinks.full.encode")(
            FullSnapshotPipeline.encode(doc))
          val wire = Trace.span("sinks.zlib")(ProtoWire.zlib(bytes))
          val uuid = s"full-$i"
          Trace.span("sinks.upload") {
            val grant = fetcher.ensureGrant()
              .fold(e => throw new IllegalStateException(e), identity)
            new SnapshotTransport.Uploader(grant, sleep = _ => ())
              .upload(wire, uuid, 0L, compact = false) match {
              case SnapshotTransport.Submitted(_, _) => ()
              case SnapshotTransport.Failed(err, _) =>
                throw new IllegalStateException(err)
            }
          }
          val got = api.received.get(uuid)
          val ok = got != null && java.util.Arrays.equals(got, wire) &&
            Trace.span("sinks.decode_verify")(FullSnapshotPipeline
              .decodeVerify(s, got).select("integrity_ok").collect()
              .forall(_.getBoolean(0)))
          r.outcome(1, if (ok) 0 else 1, s"full snapshot probe $i failed")
          r.sample("sinks.wire_bytes", wire.length.toDouble)
        }
      }
    } finally api.stop()
    // activity documents over the first tick windows of the corpus
    val ev = Tables.events(s, dir)
      .withColumn("es", expr("unix_micros(ts) div 1000000")).persist()
    val es0 = ev.agg(min("es")).head.getLong(0)
    Trace.span("probe.sinks.activity") {
      (0 until ActivityWindows).foreach { wi =>
        val lo = es0 + wi * WindowS
        val win = ev.filter(col("es") >= lo && col("es") < lo + WindowS)
        val doc = Trace.span("sinks.activity.assemble")(
          ActivitySnapshotPipeline.assembleDoc(
            ActivitySnapshotPipeline.backendsFrom(
              CatalogSynth.backendsFromEvents(win)),
            ActivitySnapshotPipeline.vacuumsFrom(
              CatalogSynth.vacuumProgressFromEvents(win))))
        val wire = Trace.span("sinks.activity.encode")(
          ActivitySnapshotPipeline.encode(doc))
        val c = ActivitySnapshotPipeline.decodeCounts(ProtoWire.zlib(wire))
        r.outcome(1, if (c.nBackends == doc.backendRows.length) 0 else 1,
          s"activity probe window $wi round-trip mismatch")
      }
    }
    ev.unpersist(blocking = true)
  }
}

object DaemonWorkload {
  /** Planned seconds per measured soak: one full-snapshot cycle, 60
    * activity ticks. The generator sizes the events for it. */
  val Horizon = 600L
  /** The warm-up soak: every cadence but the full snapshot. */
  val WarmHorizon = 60L
  val ActivityWindows = 5
  /** Raw event seconds per probe window: the corpus spans a day that the
    * soak folds onto [[Horizon]], so this holds one ten-second tick's
    * worth of events. */
  val WindowS: Long = 86400L / Horizon * Scheduler.ActivityPeriod
}

/** Grant, storage and submission endpoints on one in-process server, so
  * the upload span covers a real HTTP round trip. */
final class UploadApi {
  import com.sun.net.httpserver.{HttpExchange, HttpServer}
  val received = new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]()
  private val server =
    HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
  val base = s"http://127.0.0.1:${server.getAddress.getPort}"
  private val FilenameRe = """filename="([^"]+)"""".r

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val b = body.getBytes(UTF_8)
    ex.sendResponseHeaders(code, if (b.isEmpty) -1 else b.length.toLong)
    if (b.nonEmpty) ex.getResponseBody.write(b)
    ex.close()
  }

  server.createContext("/v2/snapshots/grant", (ex: HttpExchange) =>
    if (ex.getRequestHeaders.getFirst("Pganalyze-Api-Key") != UploadApi.Key)
      respond(ex, 401, "Error: Invalid API key")
    else respond(ex, 200, s"""{"s3_url":"$base/storage",""" +
      """"s3_fields":{"acl":"private"},"local_dir":""}"""))
  server.createContext("/storage", (ex: HttpExchange) => {
    val body = ex.getRequestBody.readAllBytes()
    val name = FilenameRe.findFirstMatchIn(
      new String(body, java.nio.charset.StandardCharsets.ISO_8859_1))
      .map(_.group(1)).getOrElse("unnamed")
    received.put(name, SnapshotUpload.filePart(body))
    respond(ex, 201, s"<PostResponse><Key>snapshots/bench/$name</Key></PostResponse>")
  })
  server.createContext("/v2/snapshots", (ex: HttpExchange) => {
    ex.getRequestBody.readAllBytes(); respond(ex, 200, "OK")
  })
  server.start()
  def stop(): Unit = server.stop(0)
}

object UploadApi { val Key = "bench-key" }

/** The streaming layer's probe: the seeded log files drained once through
  * a file-source stream, a fixed number of files per trigger, as the
  * program composes it: [[LogStreamPipeline.analyzed]] (parse →
  * watermark → stitch → classify) feeding
  * [[LogStreamPipeline.windowedClassCounts]] (1-minute windows, 30 s
  * watermark), in append mode. Both stateful operators run as a stream;
  * the sink only collects the emitted window counts. Then the logsys
  * probes over the same lines. */
final class LogStreamProbe(dir: String, tmp: String) {
  private val logDir = s"$dir/logs"
  private val manifest: Map[String, Long] = {
    val txt = new String(Files.readAllBytes(Paths.get(s"$logDir.json")), UTF_8)
    """"(\w+)": (\d+)""".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
  }
  /** (window start in epoch s, classification) -> lines */
  private type Windows = Map[(Long, Long), Long]
  private var reference: Windows = Map.empty

  final case class Drain(batches: Seq[StreamingQueryProgress],
      windows: Windows, wallMs: Double)

  def drain(s: SparkSession): Drain = {
    val ss = s.newSession()
    LogStreamPipeline.configureFor(ss)
    val ckpt = new java.io.File(s"$tmp/log-ckpt")
    val got = mutable.Map.empty[(Long, Long), Long]
    val raw = ss.readStream
      .option("maxFilesPerTrigger", manifest("files_per_trigger"))
      .text(logDir)
    val counts = LogStreamPipeline.windowedClassCounts(
      LogStreamPipeline.analyzed(raw, QueriesLog.Compiled))
    val t0 = System.nanoTime()
    val q = counts.writeStream
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        b.select(unix_seconds(col("window.start")), col("classification"),
            col("n")).collect().foreach { r =>
          val k = (r.getLong(0), r.getAs[Number](1).longValue)
          got(k) = got.getOrElse(k, 0L) + r.getLong(2)
        }
        ()
      }
      .option("checkpointLocation", ckpt.getPath)
      .trigger(Trigger.AvailableNow())
      .outputMode("append")
      .start()
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e6
    val progress = q.recentProgress.toSeq
    PerfBench.deleteTree(ckpt)
    Drain(progress, got.toMap, wall)
  }

  private def late(d: Drain): Long =
    d.batches.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum

  /** Every line is accounted for, and the emitted window counts equal a
    * batch parse + classify of the lines that were neither late nor
    * continuations. The helper groups are dropped after the sink, as the
    * program asks: dead-letter rows carry an event time before the log
    * epoch, and the sentinels' groups stay in state. */
  def check(d: Drain): Seq[String] = {
    val (real, helper) = d.windows.partition { case ((w, _), _) =>
      w >= manifest("start_s") && w < manifest("end_s") }
    val dead = helper.filter(_._1._1 < manifest("start_s")).values.sum
    val emitted = real.values.sum
    val lateN = late(d)
    val input = d.batches.map(_.numInputRows).sum
    val last = d.batches.lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
    val stitchRows = last.filter(_.operatorName.toLowerCase.contains("flatmap"))
      .map(_.numRowsTotal)
    Seq(
      (input == manifest("lines")) -> s"input $input != ${manifest("lines")}",
      (emitted == manifest("expect_emitted")) ->
        s"emitted $emitted != ${manifest("expect_emitted")}",
      (dead + lateN == manifest("expect_discarded") + manifest("expect_late")) ->
        (s"discarded $dead + late $lateN != ${manifest("expect_discarded")}" +
          s" + ${manifest("expect_late")}"),
      (input == emitted + dead + lateN + manifest("sentinels")) ->
        "input != emitted + discarded + late + pending sentinels",
      (helper.keys.forall(_._1 < manifest("start_s"))) ->
        s"helper groups emitted: ${helper.filter(_._1._1 >= manifest("start_s"))}",
      (stitchRows == Seq(manifest("pids"))) ->
        (s"stitch state rows $stitchRows != ${manifest("pids")} (operators " +
          s"${last.map(_.operatorName).mkString(",")})"),
      (real == reference) -> {
        val diff = (real.keySet ++ reference.keySet)
          .count(k => real.get(k) != reference.get(k))
        s"window counts differ from the batch reference in $diff groups"
      })
      .collect { case (false, why) => why }
  }

  def apply(s: SparkSession, r: Rec): Unit = {
    // the reference: a batch parse + classify of the on-time primaries
    reference = LogStreamPipeline.parse(s.read.text(logDir), QueriesLog.Compiled)
      .filter(col("pid") =!= -1L && col("lineNo") < manifest("late_line_no") &&
        col("content") =!= "graft sentinel flush")
      .groupBy(unix_seconds(window(col("ts"), "1 minute").getField("start")),
        LogClassify.classify(col("content")))
      .count().collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue) -> r.getLong(2))
      .toMap
    val d = Trace.span("streaming.drain")(drain(s))
    d.batches.foreach { p =>
      def dur(k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0d)
      r.sample("streaming.batch_ms", p.batchDuration.toDouble)
      r.sample("streaming.latest_offset_ms", dur("latestOffset"))
      r.sample("streaming.query_planning_ms", dur("queryPlanning"))
      r.sample("streaming.add_batch_ms", dur("addBatch"))
      r.sample("streaming.wal_commit_ms", dur("walCommit"))
      r.sample("streaming.commit_offsets_ms", dur("commitOffsets"))
      r.sample("streaming.state_commit_ms",
        p.stateOperators.map(_.commitTimeMs.toDouble).sum)
    }
    r.sample("streaming.lines_per_s",
      d.batches.map(_.numInputRows).sum / (d.wallMs / 1e3))
    r.sample("streaming.late_rows_dropped", late(d).toDouble)
    // both operators' state (the stitch's pending lines and the open
    // windows) after the last batch
    r.sample("streaming.state_rows", d.batches.lastOption
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L).toDouble)
    val bad = check(d)
    r.outcome(d.batches.size, if (bad.isEmpty) 0 else d.batches.size,
      "log stream drain: " + bad.mkString("; "))
    logsys(s.read.text(logDir), PerfBench.ProbeReps)
  }

  /** Each forces one logsys layer over a cached input, so its span
    * holds only that layer. */
  private def logsys(raw: DataFrame, reps: Int): Unit = {
    val cachedRaw = raw.persist()
    cachedRaw.count()
    (1 to reps).foreach { _ =>
      Trace.span("probe.logsys") {
        Trace.span("logsys.parse")(PerfBench.force(
          LogStreamPipeline.parse(cachedRaw, QueriesLog.Compiled)))
        val parsed = LogStreamPipeline.parse(cachedRaw, QueriesLog.Compiled)
          .persist()
        parsed.count()
        Trace.span("logsys.classify")(PerfBench.force(
          parsed.select(LogClassify.classify(col("content")))))
        Trace.span("logsys.redact")(PerfBench.force(
          parsed.select(LogSecrets.redact(col("content"), col("level")))))
        parsed.unpersist(blocking = true)
      }
    }
    cachedRaw.unpersist(blocking = true)
  }
}

/** The batch curation entries over the seeded corpus, each forced in
  * turn. The oracle check runs on the corpus's slice in `check/`; every
  * pass over the timed corpus must hash like the first. */
final class CorpusWorkload(dir: String, outDir: String) extends Workload {
  val Entries = Seq("corpus_curation_funnel", "dedup_fuzzy_e2e", "sem_dedup")
  private val reference = mutable.Map.empty[String, String]
  private var nDocs = 0L

  def nominalPassS: Double = 9

  def setup(s: SparkSession): Unit = {
    Tables.documents(s, dir).count()
    Tables.embeddings(s, dir).count()
  }

  /** Each entry over the check slice is dumped for the DuckDB oracle
    * check; its plans are the timed corpus's, so their code is generated
    * here. The first pass over the timed corpus still runs slower than
    * the next ones; a run measures three, and reports medians. */
  def warmup(s: SparkSession): Unit = {
    nDocs = Tables.documents(s, dir).count()
    val check = s"$outDir/corpus_check"
    Entries.foreach { e =>
      SparkEntry.queries(e)(s, s"$dir/check").coalesce(1).write
        .mode("overwrite").parquet(s"$check/$e")
      PerfBench.release(s)
    }
    val oracle = SparkEntry.oracleSql.filter(kv => Entries.contains(kv._1))
    Files.write(Paths.get(s"$check/oracle_sql.json"), oracle.map {
      case (k, v) => PerfBench.q(k) + ": " + PerfBench.q(v)
    }.mkString("{", ",", "}").getBytes(UTF_8))
  }

  /** What the previous pass persisted is released here, outside the
    * timing; what the last pass persists stays for the retained heap. */
  override def beforePass(s: SparkSession): Unit = PerfBench.release(s)

  def pass(s: SparkSession, r: Rec): Unit = {
    Entries.foreach { e =>
      val t0 = System.nanoTime()
      val h = Trace.span(s"corpus.entry.$e")(
        PerfBench.force(SparkEntry.queries(e)(s, dir)))
      r.sample(e, (System.nanoTime() - t0) / 1e6)
      val want = reference.getOrElseUpdate(e, h)
      r.outcome(1, if (h == want) 0 else 1, s"$e hash $h != first pass $want")
    }
    r.add("spark.persisted_blocks_after", PerfBench.cachedBlocks(s).toDouble)
    r.add("docs", nDocs.toDouble)
  }

  def probes(s: SparkSession, r: Rec): Unit = {
    val docs = Tables.fanOut(Tables.documents(s, dir)).persist()
    docs.count()
    (1 to PerfBench.ProbeReps).foreach { _ =>
      Trace.span("probe.operators") {
        Trace.span("operators.minhash")(PerfBench.force(
          Dedup.minhashSignatures(docs, "doc_id", "text")))
        val sigs = Dedup.minhashSignatures(docs, "doc_id", "text").persist()
        sigs.count()
        Trace.span("operators.lsh_candidates")(PerfBench.force(
          Dedup.lshCandidates(sigs)))
        val cands = Dedup.lshCandidates(sigs).persist()
        val n = cands.count()
        val useful = cands.filter(col("est_jaccard") >= 0.7).persist()
        val nUseful = useful.count()
        r.sample("operators.candidate_pairs", n.toDouble)
        r.sample("operators.lsh_useful_ratio",
          if (n == 0) 0d else nUseful.toDouble / n)
        Trace.span("operators.cc")(PerfBench.force(
          Dedup.connectedComponents(useful)))
        Seq(useful, cands, sigs).foreach(_.unpersist(blocking = true))
      }
    }
    docs.unpersist(blocking = true)
  }
}
