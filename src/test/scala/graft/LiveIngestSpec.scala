package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.time.{Duration, Instant}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.sinks.ProtoWire
import graft.sources.{CloudLogs, OtelReceiver, OtlpWire, PubSubPull}

/** LIVE transport legs for the OTel `/v1/logs` endpoint (S28) and the
  * Pub/Sub pull subscriber (S30): real HTTP servers and clients in
  * process, asserting the reference's content negotiation, ack/nack
  * routing, and redelivery semantics, then the spool → Spark parse. */
class LiveIngestSpec extends SparkSpec {

  // ---------------------------------------------------------------- OTel

  private def otlpJson(bodies: String*): String =
    s"""{"resourceLogs":[{"scopeLogs":[{"logRecords":[${bodies.mkString(",")}]}]}]}"""

  private val jsonlogRecord =
    """{"timeUnixNano":"1704067200000000000","body":{"kvlistValue":{"values":[
      |{"key":"error_severity","value":{"stringValue":"LOG"}},
      |{"key":"process_id","value":{"intValue":"42"}},
      |{"key":"session_line_num","value":{"intValue":"7"}},
      |{"key":"user_name","value":{"stringValue":"alice"}},
      |{"key":"database_name","value":{"stringValue":"prod"}},
      |{"key":"message","value":{"stringValue":"checkpoint starting: time"}}
      |]}}}""".stripMargin.replace("\n", "")

  private val plainRecord =
    """{"body":{"stringValue":"<134>1 2024-01-01T00:00:02Z host postgres 99 - - [3-1] LOG:  plain body"}}"""

  test("LIVE OTel endpoint: JSON + gzip JSON over real HTTP -> spool -> parse") {
    val spool = Files.createTempDirectory("graft_otel")
    val rx = new OtelReceiver.Receiver(spool)
    try {
      val (c1, r1) = OtelReceiver.post(rx.port,
        otlpJson(jsonlogRecord).getBytes(UTF_8), "application/json")
      assert(c1 == 200 && r1 == "{}")
      // gzip content-encoding path (decodeRequestBody)
      val (c2, _) = OtelReceiver.post(rx.port,
        otlpJson(plainRecord).getBytes(UTF_8), "application/json",
        gzipBody = true)
      assert(c2 == 200)
      val parsed = CloudLogs.otelLogLines(
        OtelReceiver.stream(spark, spool), "value")
      val q = parsed.writeStream.format("memory").queryName("otel_live")
        .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(30000)
      val rows = spark.table("otel_live").collect()
      assert(rows.length == 2, s"got ${rows.toSeq}")
      val jl = rows.find(_.getAs[String]("record_kind") == "jsonlog").get
      assert(jl.getAs[Long]("pid") == 42L)
      assert(jl.getAs[String]("username") == "alice")
      assert(jl.getAs[String]("database") == "prod")
      assert(jl.getAs[String]("content") == "checkpoint starting: time")
      val pl = rows.find(_.getAs[String]("record_kind") == "plain").get
      assert(pl.getAs[Long]("pid") == 99L)
      assert(pl.getAs[String]("content") == "LOG:  plain body")
      assert(rx.dropped == 0)
    } finally {
      rx.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(spool.toFile)
    }
  }

  test("LIVE OTel endpoint: protobuf body decodes to the same parsed rows") {
    // ExportLogsServiceRequest built with the repo's wire encoder:
    // resource_logs(1) > scope_logs(2) > log_records(2) > LogRecord
    def kv(key: String, v: ProtoWire.Msg): ProtoWire.Msg =
      ProtoWire.msg().string(1, key).msg(2, v)
    def sv(s: String): ProtoWire.Msg = ProtoWire.msg().string(1, s)
    def iv(i: Long): ProtoWire.Msg = ProtoWire.msg().varint(3, i)
    val kvlist = ProtoWire.msg()
      .msg(1, kv("error_severity", sv("ERROR")))
      .msg(1, kv("process_id", iv(77)))
      .msg(1, kv("session_line_num", iv(1)))
      .msg(1, kv("user_name", sv("bob")))
      .msg(1, kv("database_name", sv("app")))
      .msg(1, kv("message", sv("deadlock detected")))
      .msg(1, kv("detail", sv("Process 77 waits for ShareLock")))
    val logRecord = ProtoWire.msg()
      .fixed64(1, 1704067200000000000L)
      .msg(5, ProtoWire.msg().msg(6, kvlist)) // body.kvlist_value
    val request = ProtoWire.msg().msg(1,
      ProtoWire.msg().msg(2, ProtoWire.msg().msg(2, logRecord)))

    // the converter renders the protojson mapping the JSON path reads
    val json = OtlpWire.requestToJson(request.toBytes)
    assert(json.contains(""""timeUnixNano":"1704067200000000000""""))

    val spool = Files.createTempDirectory("graft_otel_pb")
    val rx = new OtelReceiver.Receiver(spool)
    try {
      val (code, _) = OtelReceiver.post(rx.port, request.toBytes,
        "application/x-protobuf", gzipBody = true)
      assert(code == 200)
      val spooled = spark.read.option("wholetext", "true")
        .option("pathGlobFilter", "*.body").text(spool.toString)
      val rows = CloudLogs.otelLogLines(spooled, "value")
        .orderBy("is_detail").collect()
      // jsonlog main row + its DETAIL fan-out
      assert(rows.length == 2, s"got ${rows.toSeq}")
      assert(rows(0).getAs[String]("log_level") == "ERROR")
      assert(rows(0).getAs[Long]("pid") == 77L)
      assert(rows(0).getAs[String]("content") == "deadlock detected")
      assert(rows(1).getAs[Boolean]("is_detail"))
      assert(rows(1).getAs[String]("content") == "Process 77 waits for ShareLock")
    } finally {
      rx.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(spool.toFile)
    }
  }

  test("LIVE OTel endpoint: content negotiation rejections") {
    val spool = Files.createTempDirectory("graft_otel_neg")
    val rx = new OtelReceiver.Receiver(spool)
    try {
      // unsupported content type → 415
      val (c1, b1) = OtelReceiver.post(rx.port,
        "hello".getBytes(UTF_8), "text/plain")
      assert(c1 == 415 && b1.contains("Unsupported Content-Type"))
      // corrupt gzip → 400 decode error
      val conn = new java.net.URL(s"http://127.0.0.1:${rx.port}/v1/logs")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST"); conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/json")
      conn.setRequestProperty("Content-Encoding", "gzip")
      conn.getOutputStream.write("not gzip".getBytes(UTF_8))
      conn.getOutputStream.close()
      assert(conn.getResponseCode == 400)
      conn.disconnect()
      // malformed JSON → 400
      val (c3, _) = OtelReceiver.post(rx.port,
        "{not json".getBytes(UTF_8), "application/json")
      assert(c3 == 400)
      // well-formed but non-OTLP JSON → 400 (the reference's JSON path
      // is protojson.Unmarshal, which rejects unknown fields)
      val (c3b, _) = OtelReceiver.post(rx.port,
        """{"foo":[1,2]}""".getBytes(UTF_8), "application/json")
      assert(c3b == 400)
      val (c3c, _) = OtelReceiver.post(rx.port,
        """{"resourceLogs":{}}""".getBytes(UTF_8), "application/json")
      assert(c3c == 400) // resourceLogs must be an array
      // an empty export request IS valid OTLP
      val (c3d, _) = OtelReceiver.post(rx.port,
        "{}".getBytes(UTF_8), "application/json")
      assert(c3d == 200)
      // gzip WITHOUT Content-Encoding: decodeRequestBody sniffs the
      // 0x1f 0x8b magic and gunzips anyway (otel_handler.go:92-95)
      val gzBody = {
        val o = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(o)
        gz.write("""{"resourceLogs":[]}""".getBytes(UTF_8)); gz.close()
        o.toByteArray
      }
      val (c3e, _) = OtelReceiver.post(rx.port, gzBody, "application/json")
      assert(c3e == 200, "unannounced gzip must be sniffed and accepted")
      // unknown content encoding → 400
      val conn2 = new java.net.URL(s"http://127.0.0.1:${rx.port}/v1/logs")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn2.setRequestMethod("POST"); conn2.setDoOutput(true)
      conn2.setRequestProperty("Content-Type", "application/json")
      conn2.setRequestProperty("Content-Encoding", "br")
      conn2.getOutputStream.write("{}".getBytes(UTF_8))
      conn2.getOutputStream.close()
      assert(conn2.getResponseCode == 400)
      conn2.disconnect()
      // only the two accepted (empty) exports reached the spool —
      // every rejection above spooled nothing
      assert(spool.toFile.listFiles((_, n) => n.endsWith(".body")).length == 2)
    } finally {
      rx.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(spool.toFile)
    }
  }

  // -------------------------------------------------------------- Pub/Sub

  private def gcpEnvelope(project: String, instance: String, ts: String,
      content: String, logName: String = "projects/p/logs/cloudsql.googleapis.com%2Fpostgres.log"): String =
    s"""{"insertId":"i1","logName":"$logName","receiveTimestamp":"$ts",
       |"resource":{"type":"cloudsql_database","labels":{"database_id":"$project:$instance"}},
       |"severity":"INFO","textPayload":"$content","timestamp":"$ts"}"""
      .stripMargin.replace("\n", "")

  test("LIVE Pub/Sub pull: routing policy, nack redelivery, stale discard") {
    val em = new PubSubPull.Emulator()
    val spool = Files.createTempDirectory("graft_pubsub")
    var clock = Instant.parse("2024-01-01T00:10:00Z")
    val puller = new PubSubPull.Puller(
      em.endpoint, "projects/p1/subscriptions/s1",
      Seq(
        PubSubPull.ServerCfg("proj-a", cloudSqlInstanceId = "inst-1"),
        PubSubPull.ServerCfg("proj-b",
          alloyDbClusterId = "cl-1", alloyDbInstanceId = "ai-1")),
      spool, maxAge = Duration.ofMinutes(5), now = () => clock)
    try {
      // 1: matching Cloud SQL server → accepted
      em.publish(gcpEnvelope("proj-a", "inst-1",
        "2024-01-01T00:09:00Z", "LOG: accepted line"))
      // 2: logName without postgres.log suffix → ack-drop
      em.publish(gcpEnvelope("proj-a", "inst-1",
        "2024-01-01T00:09:00Z", "x", logName = "projects/p/logs/other.log"))
      // 3: malformed database_id (two colons) → ack-drop
      em.publish(gcpEnvelope("proj-a", "inst-1:extra",
        "2024-01-01T00:09:00Z", "x"))
      // 4: RECENT message for an unknown server → NACK (redelivered)
      em.publish(gcpEnvelope("proj-other", "inst-9",
        "2024-01-01T00:09:30Z", "someone else's line"))
      // 5: STALE message for an unknown server → ack-discard
      em.publish(gcpEnvelope("proj-other", "inst-9",
        "2024-01-01T00:01:00Z", "too old"))
      // 6: unparseable JSON → ack-drop
      em.publish("{broken")
      // 7: matching AlloyDB instance → accepted
      em.publish(
        """{"insertId":"i7","logName":"projects/p/logs/alloydb.googleapis.com%2Fpostgres.log",
          |"resource":{"type":"alloydb.googleapis.com/Instance",
          |"labels":{"cluster_id":"cl-1","instance_id":"ai-1"}},
          |"labels":{"CONSUMER_PROJECT":"proj-b"},
          |"severity":"INFO","textPayload":"LOG: alloydb line",
          |"timestamp":"2024-01-01T00:09:00Z"}""".stripMargin.replace("\n", ""))
      // 8: unknown resource type → ack-drop
      em.publish("""{"resource":{"type":"gce_instance"},"textPayload":"x"}""")

      val s1 = puller.tick()
      assert(s1 == PubSubPull.PullStats(
        received = 8, accepted = 2, nacked = 1, dropped = 5), s"got $s1")
      // the nacked message is available again; everything else is gone
      assert(em.availableCount == 1)
      assert(em.outstandingCount == 0)

      // second tick, clock past maxAge: the redelivered message is now
      // STALE → acked and discarded (lost and cleaned up)
      clock = Instant.parse("2024-01-01T00:20:00Z")
      val s2 = puller.tick()
      assert(s2 == PubSubPull.PullStats(
        received = 1, accepted = 0, nacked = 0, dropped = 1), s"got $s2")
      assert(em.availableCount == 0 && em.outstandingCount == 0)

      // spool → the distributed envelope parse: ONE line-framed file
      // for tick 1's two acceptances, nothing from tick 2
      val parsed = CloudLogs.gcpLogStream(
        PubSubPull.readSpool(spark, spool), "value")
        .select("project_id", "instance_id", "content").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      // only the Cloud SQL acceptance parses through gcpLogStream (the
      // AlloyDB envelope has no database_id); its spooled LINE is present
      assert(parsed == Set(("proj-a", "inst-1", "LOG: accepted line")))
      assert(spool.toFile.listFiles((_, n) => n.endsWith(".body")).length == 1)
      assert(PubSubPull.readSpool(spark, spool).count() == 2)
    } finally {
      em.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(spool.toFile)
    }
  }

  test("Pub/Sub spool streams: line-framed files drive the streaming parse") {
    val em = new PubSubPull.Emulator()
    val spool = Files.createTempDirectory("graft_pubsub_stream")
    try {
      val puller = new PubSubPull.Puller(
        em.endpoint, "projects/p1/subscriptions/s1",
        Seq(PubSubPull.ServerCfg("proj-a", cloudSqlInstanceId = "inst-1")),
        spool, maxAge = Duration.ofMinutes(5),
        now = () => Instant.parse("2024-01-01T00:10:00Z"))
      em.publish(gcpEnvelope("proj-a", "inst-1",
        "2024-01-01T00:09:00Z", "LOG: s1"))
      puller.tick()
      em.publish(gcpEnvelope("proj-a", "inst-1",
        "2024-01-01T00:09:10Z", "LOG: s2"))
      puller.tick() // second tick → second spool file
      val q = CloudLogs.gcpLogStream(PubSubPull.stream(spark, spool), "value")
        .select("content")
        .writeStream.format("memory").queryName("pubsub_stream")
        .outputMode(OutputMode.Append)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(30000)
      val rows = spark.table("pubsub_stream").collect().map(_.getString(0)).toSet
      assert(rows == Set("LOG: s1", "LOG: s2"))
    } finally {
      em.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(spool.toFile)
    }
  }

  test("Pub/Sub subscription id format is validated") {
    val ex = intercept[IllegalArgumentException] {
      new PubSubPull.Puller("http://127.0.0.1:1", "bad/path",
        Seq.empty, java.nio.file.Paths.get(Harness.scratch("graft_ps_bad")))
    }
    assert(ex.getMessage.contains("unsupported subscription format"))
  }
}
