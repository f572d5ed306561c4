package graft.sinks

import org.apache.spark.sql.{DataFrame, GraftNative, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** End-to-end QUERY-RUN snapshot lifecycle — the fifth (and last)
  * CompactSnapshot variant (`protobuf/query_run_snapshot.proto:8-10`,
  * `shared.proto:362-375`, `runner/query_run.go` +
  * `input/postgres/explain_analyze.go:60-117`): on-demand query-run
  * requests pass the X20 guard, allowed runs produce the (stubbed,
  * [[graft.operators.ExplainEnrich.StubRunner]]-formula) EXPLAIN
  * result, blocked runs carry the guard verdict as the error — and
  * EACH run ships as its own CompactSnapshot document, the reference's
  * actual per-run cadence.
  *
  * The guard verdicts are computed by the REAL codegen'd scanner
  * ([[graft.functions.PgFns.queryRunGuard]]) on the distributed plan;
  * only the bounded run list is collected, then every run round-trips
  * its own protobuf+zlib document through decode + per-run integrity
  * checks (result XOR error matching the verdict, finished ≥ started,
  * id echo). */
object QueryRunSnapshotPipeline {

  val SnapshotUuid = "00000000-0000-7000-8000-000000000005"

  // ------------------------------------------------------- spark stages

  /** X20 guard verdict + the StubRunner EXPLAIN formula + timestamps,
    * appended to any frame carrying (query, started_s) — shared by the
    * synthesized-request e2e and the websocket-delivered one (where the
    * guard runs on the text that ARRIVED over the wire). */
  def outcome(df: DataFrame): DataFrame = {
    val guard = (c: org.apache.spark.sql.Column) =>
      org.apache.spark.sql.GraftNative.column(
        graft.functions.expressions.QueryRunGuardExpr(
          org.apache.spark.sql.GraftNative.expression(c)))
    df.withColumn("verdict", guard(col("query")))
      // the StubRunner plan formula (relation after FROM, cost 3·len/2)
      // as a column: rel is constant 'orders' for this corpus
      .withColumn("result", when(col("verdict") === "ok", concat(
        lit("""{"Plan":{"Node Type":"Seq Scan","Relation Name":"orders","Total Cost":"""),
        floor(length(col("query")) * 3 / 2).cast("long"), lit("}}"))))
      .withColumn("error",
        when(col("verdict") =!= "ok", col("verdict")).otherwise(lit(null)))
      .withColumn("finished_s", col("started_s") + 1L)
  }

  /** The run-request table: click events become EXPLAIN requests; every
    * fifth request is a DML statement the guard must block. */
  def runRequests(s: SparkSession, dir: String): DataFrame =
    outcome(Tables.fanOut(Tables.events(s, dir))
      .filter(col("event_type") === "click")
      .select(
        col("event_id").as("run_id"),
        col("user_id").as("backend_pid"),
        expr("unix_micros(ts) div 1000000").as("started_s"),
        regexp_extract(col("props"), "\"k\": (\\d+)", 1).as("k"))
      .withColumn("query", concat(
        when(col("run_id") % 5 === 0, "DELETE FROM orders WHERE o_custkey = ")
          .otherwise("SELECT * FROM orders WHERE o_custkey = "),
        col("k"))))

  // ----------------------------------------------- per-run wire round-trip

  private def num(r: Row, i: Int): Long = r.getAs[Number](i).longValue

  /** One CompactSnapshot document for one run. */
  def encodeRun(r: Row): Array[Byte] = {
    val qr = ProtoWire.msg()
      .varint(1, num(r, 0))                          // id
      .msg(2, ProtoWire.msg().varint(1, num(r, 2)))  // started_at
      .msg(3, ProtoWire.msg().varint(1, num(r, 8)))  // finished_at
    if (!r.isNullAt(6)) qr.string(4, r.getString(6)) // result
    if (!r.isNullAt(7)) qr.string(5, r.getString(7)) // error
    qr.varint(6, num(r, 1))                          // backend_pid
    ProtoWire.msg()
      .varint(1, 1L)
      .string(3, FullSnapshotPipeline.CollectorVersion)
      .string(4, SnapshotUuid)
      .msg(5, ProtoWire.msg().varint(1, num(r, 8)))
      .msg(13, ProtoWire.msg().msg(1, qr))           // query_run_snapshot
      .toBytes
  }

  import ProtoWire.{VBytes, VInt, Value}

  private def sub(b: Array[Byte]): Map[Int, Seq[Value]] =
    ProtoWire.decode(b).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
  private def vint(m: Map[Int, Seq[Value]], f: Int): Long =
    m.get(f).flatMap(_.headOption) match {
      case Some(VInt(v)) => v
      case _ => 0L
    }
  private def vstrOpt(m: Map[Int, Seq[Value]], f: Int): Option[String] =
    m.get(f).flatMap(_.headOption) match {
      case Some(VBytes(b)) =>
        Some(new String(b, java.nio.charset.StandardCharsets.UTF_8))
      case _ => None
    }

  /** Decode one query-run CompactSnapshot document + per-run integrity
    * checks against the expected source row: id echo, exactly one of
    * result/error, monotone timestamps. Returns the output row AS
    * DECODED from the wire. */
  def decodeRunDoc(wire: Array[Byte], expected: Row): Row = {
    val top = ProtoWire.decode(ProtoWire.unzlib(wire)).toMap
    val qr = top.get(13) match {
      case Some(VBytes(b)) => sub(b).getOrElse(1, Nil).headOption match {
        case Some(VBytes(q)) => sub(q)
        case _ => Map.empty[Int, Seq[Value]]
      }
      case _ => Map.empty[Int, Seq[Value]]
    }
    val id = vint(qr, 1)
    val started = qr.get(2).flatMap(_.headOption) match {
      case Some(VBytes(b)) => vint(sub(b), 1)
      case _ => 0L
    }
    val finished = qr.get(3).flatMap(_.headOption) match {
      case Some(VBytes(b)) => vint(sub(b), 1)
      case _ => 0L
    }
    val result = vstrOpt(qr, 4)
    val error = vstrOpt(qr, 5)
    require(id == num(expected, 0),
      s"run id mismatch: $id vs ${num(expected, 0)}")
    require(result.isDefined != error.isDefined,
      s"run $id must carry exactly one of result/error")
    require(finished >= started, s"run $id finished before it started")
    Row(id, vint(qr, 6), started, finished,
      error.isDefined, result.orNull, error.orNull, true)
  }

  def e2e(s: SparkSession, dir: String): DataFrame = {
    val runs = runRequests(s, dir)
      .select(col("run_id"), col("backend_pid"), col("started_s"),
        col("k"), col("query"), col("verdict"), col("result"),
        col("error"), col("finished_s"))
      .orderBy("run_id").collect().toIndexedSeq
    val rows = runs.map { r =>
      decodeRunDoc(ProtoWire.zlib(encodeRun(r)), r)
    }
    import scala.jdk.CollectionConverters._
    s.createDataFrame(rows.asJava, outSchema)
  }

  val outSchema: StructType = StructType(Seq(
    StructField("run_id", LongType),
    StructField("backend_pid", LongType),
    StructField("started_s", LongType),
    StructField("finished_s", LongType),
    StructField("blocked", BooleanType),
    StructField("result", StringType),
    StructField("error", StringType),
    StructField("integrity_ok", BooleanType)))

  /** The WEBSOCKET-triggered variant — the reference's actual trigger
    * path for on-demand runs (`runner/websocket.go:37-93` +
    * `runner/query_run.go:41-71`): the server PUSHES the run requests
    * down the same socket snapshots go up (plus a Config grant, a
    * pause on/off pair, one undecodable frame and one duplicate-id
    * request), the client's `processServerMessages` loop dispatches
    * them into the keyed run registry, the registered texts are guard-
    * checked and executed DISTRIBUTED, and each run's CompactSnapshot
    * reply travels back over the SAME socket — the output rows are
    * decoded from the bytes the server side actually RECEIVED. */
  def e2eWs(s: SparkSession, dir: String): DataFrame = {
    import ServerMessages._
    // request side: the % 3 subset of click-run requests
    val reqFrame = runRequests(s, dir).filter(col("run_id") % 3 === 0)
      .select("run_id", "backend_pid", "started_s", "k", "query")
      // feeds the collect now AND the wire-join later
      .transform(GraftNative.persistRows)
    val reqs = reqFrame.orderBy("run_id").collect().toIndexedSeq
    require(reqs.nonEmpty, "corpus must produce at least one run request")
    def toMsg(r: Row): Msg = QueryRun(QueryRunReq(num(r, 0), 1, "graftdb",
      r.getString(4), params = Nil, paramTypes = Nil,
      settings = Seq("statement_timeout" -> "60s")))
    val ep = new SnapshotWebSocket.SingleServer
    val decoded =
      try {
        val cl = new SnapshotWebSocket.Client(() =>
          SnapshotWebSocket.dial("127.0.0.1", ep.port, "/websocket"))
        require(cl.connect().isRight, "client must connect")
        ep.awaitHandshake()
        // The socket is full-duplex and the reference reads it from its
        // own goroutine while the server writes at will — push on a
        // separate thread while this one drains, or a corpus-scale
        // request burst fills the TCP buffers in BOTH directions and
        // the half-duplex push-then-read order deadlocks (seen at sf1).
        @volatile var pushErr: Throwable = null
        val pusher = new Thread(() => {
          try {
            ep.send(encode(Config("srv-1", "https://api.example.com",
              Features(statementTimeoutMs = 30000), enableActivity = true,
              enableLogs = true, schemaTableLimit = 5000)))
            ep.send(encode(Pause(pause = true)))
            ep.send(encode(Pause(pause = false)))
            ep.send(Array[Byte](1, 2, 3)) // not zlib: a warning, never fatal
            reqs.foreach(r => ep.send(encode(toMsg(r))))
            ep.send(encode(toMsg(reqs.head))) // duplicate id → ignored
          } catch { case t: Throwable => pushErr = t }
        }, "graft-ws-push")
        pusher.setDaemon(true)
        pusher.start()
        val st = new ServerState
        processServerMessages(cl, st, reqs.length + 5)
        pusher.join(30000)
        require(pushErr == null, s"server push failed: $pushErr")
        require(st.initialConfigFired == 1 && st.validConfig,
          "the first Config must fire the one-shot initial-config signal")
        require(st.grantConfig.exists(_.schemaTableLimit == 5000),
          "the grant config must round-trip")
        require(!st.paused, "pause(false) must clear the pause flag")
        require(st.warnings.size == 1,
          s"the undecodable frame must be ONE warning, got ${st.warnings}")
        require(st.queryRuns.size == reqs.length,
          s"duplicate id must be ignored: ${st.queryRuns.size} registered")
        val sent = reqs.map(r => num(r, 0) -> r.getString(4)).toMap
        require(st.queryRuns.values.forall(q =>
            sent.get(q.id).forall(_ == q.queryText)),
          "wire-delivered query text must match the request")
        // execute the REGISTERED runs: wire texts back to a distributed
        // frame, X20 guard on the text that arrived, stub EXPLAIN
        import s.implicits._
        val wire = st.queryRuns.values.toSeq.map(q => (q.id, q.queryText))
          .toDF("run_id", "query")
        val executed = outcome(reqFrame.drop("query")
            .join(broadcast(wire), "run_id"))
          .select(col("run_id"), col("backend_pid"), col("started_s"),
            col("k"), col("query"), col("verdict"), col("result"),
            col("error"), col("finished_s"))
          .orderBy("run_id").collect().toIndexedSeq
        // each reply is its own CompactSnapshot over the SAME socket
        executed.foreach { r =>
          val w = cl.writeSnapshot(ProtoWire.zlib(encodeRun(r)))
          require(w.isRight, s"reply write failed: $w")
        }
        cl.disconnect()
        ep.await()
        val replies = ep.payloads
        require(replies.length == executed.length,
          s"server must receive every reply: ${replies.length}")
        // decode from the bytes the server RECEIVED, paired by order
        // (one socket, FIFO) and integrity-checked against the source
        replies.zip(executed).map { case (w, r) => decodeRunDoc(w, r) }
      } finally { ep.close(); GraftNative.unpersistRows(reqFrame) }
    import scala.jdk.CollectionConverters._
    s.createDataFrame(decoded.asJava, outSchema)
  }
}
