package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame, GraftNative, Row,
  SparkSession}
import org.apache.spark.sql.functions._

import graft.{BoundedSession, LocalHttp, Tables}
import graft.logsys.LogSynth
import graft.sinks.{ActivitySnapshotPipeline, FullSnapshotPipeline,
  ProtoWire, SnapshotTransport, SnapshotUpload}
import graft.sources.CatalogSynth

/** The concurrent daemon — the reference's actual operating mode
  * (`runner/run.go:285-309`): one process, four cadences side by side,
  * sustained.
  *
  *   - 10 s activity snapshots (`scheduler.go` ten-second schedule →
  *     compact activity snapshot per tick),
  *   - 1 min high-frequency query-stats scrapes (secondary schedule —
  *     skipped when it coincides with a full snapshot;
  *     `runner/query_stats.go` diffs each scrape against the previous
  *     one held in collector memory),
  *   - 10 min full snapshots (the whole catalog),
  *   - 30 s log download ticks (`runner/logs.go:30`), each parsing and
  *     classifying the log content that appeared since the last tick.
  *
  * [[run]] drives ≥3 full 600 s cycles of the REAL pipelines from one
  * SparkSession on a compressed clock: [[Scheduler.plan]] supplies the
  * exact tick arithmetic (counts, overlap-skip, deadlines) and
  * [[Scheduler.runConcurrent]] executes each cadence's ticks in fire
  * order on its own worker with real per-tick deadline budgets — the
  * ticks run back-to-back instead of sleeping out the 10 s gaps, which
  * compresses the clock without changing what any tick computes.
  *
  * The simulated live system: the events corpus folded onto the soak
  * horizon (`off = (es - min(es)) % horizon`), so tick [fire-period,
  * fire) sees exactly the activity that "happened" in its window. The
  * folded base is cached once — it stands in for the live server the
  * reference polls, and ticks must not re-read the lake 270 times.
  *
  * Per-tick work (all real pipeline code, nothing soak-specific):
  *   - activity: [[ActivitySnapshotPipeline.assembleDoc]] over the
  *     window's backends/vacuum ticks → encode → zlib → SHIP over the
  *     real grant→storage→submission HTTP chain → wire decode of the
  *     bytes the server RECEIVED, with every integrity require
  *     ([[ActivitySnapshotPipeline.decodeCounts]]);
  *   - highfreq: distributed scrape ([[CatalogSynth.statementStatsFromEvents]]
  *     over the window) merged into the driver-held previous-scrape
  *     state — bounded the way the reference's is (pg_stat_statements
  *     is `pgss.max`-capped per server; `state/state.go` holds it in
  *     collector memory);
  *   - full: the complete [[FullSnapshotPipeline]]
  *     assemble→encode→ship→decode→verify chain over the whole
  *     catalog, likewise decoded from the server-received bytes;
  *   - log: render the window's new log content, prefix-parse and
  *     classify it with the streaming pipeline's stages
  *     ([[LogStreamPipeline.parse]] + LogClassify).
  *
  * Memory discipline: the per-tick plans hold NO per-tick persisted
  * state (the activity assembly is one action; the log/highfreq ticks
  * are one aggregate each), so 270 ticks leave the session where it
  * started — asserted across cycles by DaemonSoakSpec.
  */
object DaemonSoak {

  val Cycles = 3
  val Horizon: Long = Cycles * Scheduler.FullPeriod // 1800 s

  final case class TickResult(nItems: Long, nDims: Long, wireOk: Boolean)

  /** The soak's API server — grant + storage + submission on one
    * in-process endpoint shared by every cadence, the way the
    * reference daemon holds ONE grant per server and ships every
    * snapshot through it (`output/grant.go:82-115` +
    * `upload_http_legacy.go:24-170`). Received file parts are kept by
    * uuid so each tick decodes the bytes the SERVER got. */
  private final class SoakApi {
    import com.sun.net.httpserver.HttpExchange
    val received = new ConcurrentHashMap[String, Array[Byte]]()
    private val grants = new java.util.concurrent.atomic.AtomicInteger
    private val fulls = new java.util.concurrent.atomic.AtomicInteger
    private val compacts = new java.util.concurrent.atomic.AtomicInteger
    def grantRequests: Int = grants.get
    def fullSubmissions: Int = fulls.get
    def compactSubmissions: Int = compacts.get

    private val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    private val server = LocalHttp.server()
    server.setExecutor(pool)
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"

    private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
      val b = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      ex.sendResponseHeaders(code, if (b.isEmpty) -1 else b.length.toLong)
      if (b.nonEmpty) ex.getResponseBody.write(b)
      ex.close()
    }
    private def readBody(ex: HttpExchange): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val is = ex.getRequestBody
      val buf = new Array[Byte](8192)
      var n = is.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = is.read(buf) }
      out.toByteArray
    }
    private val FilenameRe = """filename="([^"]+)"""".r

    server.createContext("/v2/snapshots/grant", (ex: HttpExchange) => {
      grants.incrementAndGet()
      if (ex.getRequestHeaders.getFirst("Pganalyze-Api-Key") != "soak-key")
        respond(ex, 401, "Error: Invalid API key")
      else respond(ex, 200,
        s"""{"s3_url":"$base/storage","s3_fields":{"acl":"private"},""" +
          """"local_dir":""}""")
    })
    server.createContext("/storage", (ex: HttpExchange) => {
      val body = readBody(ex)
      val name = FilenameRe.findFirstMatchIn(
        new String(body, java.nio.charset.StandardCharsets.ISO_8859_1))
        .map(_.group(1)).getOrElse("unnamed")
      received.put(name, SnapshotUpload.filePart(body))
      respond(ex, 201,
        s"<PostResponse><Key>snapshots/soak/$name</Key></PostResponse>")
    })
    server.createContext("/v2/snapshots/compact", (ex: HttpExchange) => {
      readBody(ex); compacts.incrementAndGet(); respond(ex, 200, "OK")
    })
    server.createContext("/v2/snapshots", (ex: HttpExchange) => {
      readBody(ex); fulls.incrementAndGet(); respond(ex, 200, "OK")
    })
    server.start()
    def stop(): Unit = { server.stop(0); pool.shutdownNow() }
  }

  /** Per-tick outcome of one soak run, in (cadence, fireAt) order. */
  final case class SoakRow(cadence: String, fireAt: Long, tickIndex: Long,
      outcome: String, nItems: Long, nDims: Long, wireOk: Boolean)

  /** The soak's tick plan over `horizon`: the four cadences' ticks, and
    * the start of each windowed tick's window, which ends at its fire
    * time. */
  def plan(horizon: Long): (Seq[Scheduler.Tick], Scheduler.Tick => Long) = {
    val ticks = Scheduler.plan(0L, horizon) ++
      Scheduler.planCadence(Scheduler.LogDownload,
        Scheduler.LogDownloadPeriod, 0L, horizon)
    // the highfreq schedule is secondary: after a skipped firing the
    // next scrape diffs against the one BEFORE the skip, so its window
    // is the gap between consecutive PLANNED highfreq fires
    val hfFires = ticks.filter(_.cadence == Scheduler.HighFreq)
      .map(_.fireAt).sorted
    val hfPrev: Map[Long, Long] =
      hfFires.zip(0L +: hfFires.init).toMap
    (ticks, t => t.cadence match {
      case Scheduler.Activity => t.fireAt - Scheduler.ActivityPeriod
      case Scheduler.HighFreq => hfPrev(t.fireAt)
      case Scheduler.LogDownload => t.fireAt - Scheduler.LogDownloadPeriod
      case other => sys.error(s"$other ticks read no window")
    })
  }

  /** The simulated live system and the windowed frames the activity,
    * highfreq and log ticks read from it, on the soak's tick session.
    *
    * The tick session is [[BoundedSession]]: a 10 s tick over a bounded
    * window is latency-critical, so per-stage adaptivity and wide
    * shuffles of ~hundred-row frames only add scheduler round-trips
    * (measured ~2.3x per tick), and generated code for a few hundred
    * rows costs more than interpreting them (measured 2.4x per tick).
    * The full-snapshot cadence derives the same policy inside
    * [[FullSnapshotPipeline.assemble]]. */
  final class LiveServer(s: SparkSession, dir: String, horizon: Long) {
    val ts: SparkSession = BoundedSession(s)

    private val base = Tables.events(ts, dir)
      .withColumn("es", expr("unix_micros(ts) div 1000000"))
    private val esMin = base.agg(min("es")).head.getLong(0)
    // The simulated live server, derived ONCE: what the reference's
    // ticks read (pg_stat_activity, pg_stat_progress_vacuum, the log
    // files, the event stream behind pg_stat_statements) exists
    // server-side before any tick runs, so its emulation is soak setup,
    // not per-tick pipeline work — each tick's runner starts from these
    // frames exactly where the collector's reads start. One cached
    // partition, sorted by offset, so the ticks do not re-read the lake
    // 270 times; a tick's window is period-bounded, so single-partition
    // is the right shape for it at any corpus size — the same
    // boundedness argument as assembleDoc's. A tick's bounds are job
    // parameters, not literals, so its window filter prunes no cached
    // column batch: every tick scans the whole base (at sf0.01 ~10.5k
    // rows; pruning 200-row batches by literal bounds saved only
    // ~4 ms/tick).
    private def clustered(df: DataFrame): DataFrame = {
      val out = df.coalesce(1).sortWithinPartitions("off").persist()
      out.count()
      out
    }
    private val folded = clustered(
      base.withColumn("off", (col("es") - esMin) % horizon))
    private def offOf(tsCol: String): Column =
      (expr(s"unix_micros($tsCol) div 1000000") - esMin) % horizon
    // The per-row-constant derivation + tag subtrees (incl. the
    // pgFingerprint/pgNormalize scanners) are computed HERE, once, into
    // the cached bases, instead of per tick over each window's rows;
    // per tick only filter + latest-per-pid + document fold remain.
    // Ordering columns ride along via `keep` for the per-tick
    // latest-per-pid window.
    private val backsBase = clustered(ActivitySnapshotPipeline.tagBackends(
      ActivitySnapshotPipeline.deriveBackendCols(
        CatalogSynth.backendsFromEvents(folded))
        .withColumn("off", offOf("query_start")),
      keep = Seq("off", "query_start", "event_id")))
    private val vacsBase = clustered(ActivitySnapshotPipeline.tagVacuums(
      ActivitySnapshotPipeline.deriveVacuumCols(
        CatalogSynth.vacuumProgressFromEvents(folded, keep = Seq("off"))),
      keep = Seq("off", "event_id")))
    private val linesBase = clustered(
      LogSynth.render(LogSynth.linesFrom(folded).withColumn("off", offOf("ts")),
        keep = Seq("off")))

    /** The activity document over the backends and vacuum ticks of
      * [lo, hi): one row. */
    def activity(lo: Column, hi: Column): DataFrame = {
      val b = ActivitySnapshotPipeline.latestPerPid(
          backsBase.filter(col("off") >= lo && col("off") < hi),
          Seq(col("query_start").desc, col("event_id").desc))
        .drop("off", "query_start", "event_id", "rn")
      val v = ActivitySnapshotPipeline.latestPerPid(
          vacsBase.filter(col("off") >= lo && col("off") < hi),
          Seq(col("event_id").desc))
        .drop("off", "event_id", "rn")
      ActivitySnapshotPipeline.docFrameTagged(b.unionByName(v))
    }

    /** The statement-stats scrape of [lo, hi): one row per statement. */
    def highFreq(lo: Column, hi: Column): DataFrame =
      CatalogSynth.statementStatsFromEvents(
        folded.filter(col("off") >= lo && col("off") < hi))

    /** The log lines of [lo, hi) parsed and classified, summed to one
      * row: lines, distinct classes, unparsed lines. */
    def logs(lo: Column, hi: Column): DataFrame = {
      val rendered = linesBase
        .filter(col("off") >= lo && col("off") < hi)
        .select(col("line").as("value"))
      LogStreamPipeline.parse(rendered, graft.QueriesLog.Compiled)
        .withColumn("classification",
          graft.logsys.LogClassify.classify(col("content")))
        .agg(
          count(lit(1)).as("n"),
          count_distinct(col("classification")).as("n_classes"),
          coalesce(sum(when(col("pid") === -1L, 1L).otherwise(0L)), lit(0L))
            .as("unparsed"))
    }

    def release(): Unit = Seq(folded, backsBase, vacsBase, linesBase)
      .foreach(_.unpersist(blocking = false))
  }

  private val Lo = "graft.soak.window.lo"
  private val Hi = "graft.soak.window.hi"

  /** A windowed tick frame prepared ONCE ([[GraftNative.Prepared]]): its
    * window bounds are job parameters, so a tick sets them and runs one
    * job over the RDD built here, paying for its window, not for planning
    * (~50 ms of a ~196 ms activity tick run alone) or for building ~40
    * RDDs. One deserializer decodes every tick, so one cadence's ticks
    * must run one after another, as [[Scheduler.runConcurrent]] runs them. */
  def prepared(build: (Column, Column) => DataFrame)
      : (Long, Long) => Array[Row] = {
    val frame = GraftNative.prepare(
      build(GraftNative.param(Lo), GraftNative.param(Hi)), Lo, Hi)
    (lo, hi) => frame.collect(Lo -> lo, Hi -> hi)
  }

  /** Drive the four-cadence daemon for [[Cycles]] cycles. Returns every
    * tick's row plus the raw scheduler reports (spec hooks). `slowTick`
    * lets the spec inject one deadline-blowing runner. */
  def run(s: SparkSession, dir: String, tickBudgetMs: Long = 3000L,
      horizon: Long = Horizon,
      slowTick: Option[Scheduler.Tick => Boolean] = None,
      onTickNanos: (Scheduler.Tick, Long) => Unit = (_, _) => ())
      : (Seq[SoakRow], Seq[Scheduler.Report]) = {
    val live = new LiveServer(s, dir, horizon)
    val (ticks, windowStart) = plan(horizon)
    val actRows = prepared(live.activity)
    val hfRows = prepared(live.highFreq)
    val logRows = prepared(live.logs)

    // the reference's previous-scrape state (`state/state.go`) —
    // pgss.max-bounded per server, held in collector memory
    val cumStats = new java.util.HashMap[(Long, Long, Long, Boolean),
      (Long, Long)]()

    // ---- the shipping leg (`runner/run.go` transmits every snapshot;
    // `output/grant.go` holds one reused grant per server): each
    // activity/full tick's wire document goes over REAL HTTP —
    // grant → storage POST → submission POST — and the tick decodes
    // the bytes the server received, not its local buffer
    val api = new SoakApi
    require(new SnapshotTransport.GrantFetcher(api.base,
      SnapshotTransport.apiHeaders("wrong-key")).ensureGrant()
      .left.exists(_.contains("Invalid API key")),
      "an invalid API key must be refused at the grant")
    val fetcher = new SnapshotTransport.GrantFetcher(api.base,
      SnapshotTransport.apiHeaders("soak-key", systemId = "graft-soak"))
    def ship(wire: Array[Byte], uuid: String, collectedAt: Long,
        compact: Boolean): Array[Byte] = {
      // per-upload EnsureGrant, like the reference — reuse-while-valid
      // means the whole 243-tick soak costs ONE real grant fetch
      val grant = fetcher.synchronized { fetcher.ensureGrant() }
        .fold(e => throw new IllegalStateException(e), identity)
      new SnapshotTransport.Uploader(grant, sleep = _ => ())
        .upload(wire, uuid, collectedAt, compact) match {
        case SnapshotTransport.Submitted(loc, _) =>
          require(loc == s"snapshots/soak/$uuid", s"bad storage key: $loc")
        case SnapshotTransport.Failed(err, n) =>
          throw new IllegalStateException(
            s"upload of $uuid failed after $n attempts: $err")
      }
      val got = api.received.get(uuid)
      require(got != null && java.util.Arrays.equals(got, wire),
        s"server-received bytes for $uuid differ from the wire document")
      got
    }

    def activityTick(rows: Array[Row], fire: Long): TickResult = {
      val doc = ActivitySnapshotPipeline.docFromRow(
        rows.head, graft.sinks.SectionCap.BackendLimit)
      val wire = ProtoWire.zlib(ActivitySnapshotPipeline.encode(doc))
      val shipped = ship(wire, s"act-$fire", fire, compact = true)
      val c = ActivitySnapshotPipeline.decodeCounts(shipped)
      val ok = c.nBackends == doc.backendRows.length &&
        c.nVacuums == doc.vacuumRows.length &&
        c.nRoles == doc.roleRows.length && c.nDbs == doc.dbRows.length &&
        c.nQueries == doc.queryRows.length && c.nRels == doc.relRows.length
      TickResult(c.nBackends, c.nRoles + c.nDbs + c.nQueries + c.nRels, ok)
    }

    def highFreqTick(rows: Array[Row]): TickResult = {
      var changed = 0L
      val qids = scala.collection.mutable.HashSet.empty[Long]
      var monotonic = true
      rows.foreach { r =>
        val key = (r.getAs[Number]("db_oid").longValue,
          r.getAs[Number]("user_oid").longValue,
          r.getAs[Number]("query_id").longValue,
          r.getAs[Boolean]("toplevel"))
        val calls = r.getAs[Number]("calls").longValue
        val ms = r.getAs[Number]("total_ms").longValue
        cumStats.synchronized {
          val prev = Option(cumStats.get(key)).getOrElse((0L, 0L))
          // the scrape's counters are cumulative; the window batch IS
          // the delta, and a non-positive call delta would mean the
          // simulated counters ran backwards
          if (calls <= 0) monotonic = false
          cumStats.put(key, (prev._1 + calls, prev._2 + ms))
        }
        changed += 1
        qids += key._3
      }
      TickResult(changed, qids.size.toLong, monotonic)
    }

    def fullTick(fire: Long): TickResult = {
      // No rows means the statements section overflowed its limit and
      // dropped whole (the output is one row per statement group);
      // decodeVerify's integrity requires already ran, so an empty frame
      // is a thin-but-valid snapshot, not a wire failure.
      val wire = ProtoWire.zlib(
        FullSnapshotPipeline.encode(FullSnapshotPipeline.assemble(s, dir)))
      val shipped = ship(wire, s"full-$fire", fire, compact = false)
      val row = FullSnapshotPipeline.decodeVerify(s, shipped)
        .select("n_queries", "n_relations", "integrity_ok").take(1)
      row.headOption.fold(TickResult(0L, 0L, wireOk = true)) { r =>
        TickResult(r.getAs[Number]("n_queries").longValue,
          r.getAs[Number]("n_relations").longValue,
          r.getAs[Boolean]("integrity_ok"))
      }
    }

    def logTick(rows: Array[Row]): TickResult = {
      val row = rows.head
      TickResult(row.getAs[Long]("n"), row.getAs[Long]("n_classes"),
        row.getAs[Long]("unparsed") == 0L)
    }

    val results = new ConcurrentHashMap[(String, Long), TickResult]()
    val reports = Scheduler.runConcurrent(ticks, { t =>
      if (slowTick.exists(_(t))) Thread.sleep(3600000L)
      // label the tick's jobs and RDDs; with both call-site forms set,
      // Spark skips the stack walk it otherwise makes for every job and
      // every RDD built (thread-local, so each tick labels only its own)
      GraftNative.callSite(live.ts.sparkContext, s"soak:${t.cadence}")
      val tn0 = System.nanoTime()
      def window(rows: (Long, Long) => Array[Row]) =
        rows(windowStart(t), t.fireAt)
      val r = t.cadence match {
        case Scheduler.Activity => activityTick(window(actRows), t.fireAt)
        case Scheduler.HighFreq => highFreqTick(window(hfRows))
        case Scheduler.Full => fullTick(t.fireAt)
        case Scheduler.LogDownload => logTick(window(logRows))
        case other => sys.error(s"unknown cadence $other")
      }
      results.put((t.cadence, t.fireAt), r)
      onTickNanos(t, System.nanoTime() - tn0)
    }, tickBudgetMs)
    live.release()
    // shipping accounting: one real grant fetch (plus the refused
    // wrong-key probe) served every completed upload; each completed
    // activity/full tick stored exactly one document and submitted it
    // on its kind's path
    val doneA = reports.count(r => r.tick.cadence == Scheduler.Activity &&
      r.outcome == Scheduler.Completed)
    val doneF = reports.count(r => r.tick.cadence == Scheduler.Full &&
      r.outcome == Scheduler.Completed)
    api.stop()
    require(api.grantRequests == 2,
      s"grant fetched ${api.grantRequests}x for ${doneA + doneF} uploads " +
        "(reuse-while-valid broken)")
    require(api.compactSubmissions == doneA && api.fullSubmissions == doneF &&
      api.received.size == doneA + doneF,
      s"shipping accounting off: ${api.compactSubmissions}/${api.fullSubmissions}" +
        s"/${api.received.size} vs $doneA activity + $doneF full")

    val outcomeOf = reports.map(r =>
      (r.tick.cadence, r.tick.fireAt) -> r.outcome).toMap
    val rows = ticks.groupBy(_.cadence).toSeq.flatMap { case (cad, ts) =>
      ts.sortBy(_.fireAt).zipWithIndex.map { case (t, i) =>
        val res = Option(results.get((cad, t.fireAt)))
          .getOrElse(TickResult(-1L, -1L, wireOk = false))
        val out = outcomeOf.get((cad, t.fireAt)) match {
          case Some(Scheduler.Completed) => "completed"
          case Some(Scheduler.TimedOut) => "timed_out"
          case None => "missing"
        }
        SoakRow(cad, t.fireAt, i + 1L, out, res.nItems, res.nDims,
          res.wireOk)
      }
    }.sortBy(r => (r.cadence, r.fireAt))
    (rows, reports)
  }

  /** The gate entry: run the 3-cycle soak and return every tick's row,
    * with the composition invariants enforced in-entry. */
  def query(s: SparkSession, dir: String): DataFrame = {
    val (rows, _) = run(s, dir)
    val byCad = rows.groupBy(_.cadence).view.mapValues(_.size).toMap
    require(byCad(Scheduler.Activity) == 180 &&
      byCad(Scheduler.HighFreq) == 27 && byCad(Scheduler.Full) == 3 &&
      byCad(Scheduler.LogDownload) == 60,
      s"tick plan off: $byCad")
    // the overlap-skip fired: no high-freq tick on a full boundary, and
    // the post-skip scrapes cover the doubled gap
    require(rows.filter(_.cadence == Scheduler.HighFreq)
      .forall(_.fireAt % Scheduler.FullPeriod != 0), "overlap-skip violated")
    require(rows.forall(_.outcome == "completed"),
      rows.filter(_.outcome != "completed").take(5).toString)
    require(rows.forall(_.wireOk),
      rows.filterNot(_.wireOk).take(5).toString)
    import s.implicits._
    rows.toDF("cadence", "fire_at", "tick_index", "outcome", "n_items",
      "n_dims", "wire_ok")
  }
}
