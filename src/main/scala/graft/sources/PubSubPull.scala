package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.{Duration, Instant}
import java.util.Base64
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.HttpExchange
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.LocalHttp

/** The LIVE transport leg of the Google Cloud SQL / AlloyDB log source
  * (S30, `input/system/google_cloudsql/logs.go:43-191`): a pull
  * subscriber that fetches log envelopes from a Pub/Sub subscription
  * and routes each message through the reference's exact ack/nack
  * policy —
  *   - JSON parse failure → ack (drop, counted);
  *   - `resource.type` not cloudsql/alloydb → ack (drop);
  *   - `logName` without the `postgres.log` suffix → ack (drop);
  *   - malformed `database_id` (cloudsql) or missing
  *     cluster/instance/CONSUMER_PROJECT labels (alloydb) → ack (drop);
  *   - no matching server and the message is RECENT (timestamp + maxAge
  *     after now) → NACK, returning it for a different collector;
  *   - no matching server and stale → ack and discard;
  *   - matching server → spool + ack.
  *
  * The subscription id must be `projects/P/subscriptions/S`
  * (`logs.go:44-48`). Nack maps to `modifyAckDeadline(0)` — the
  * documented wire behavior of the client's Nack, making the message
  * immediately redeliverable, which the spec proves across ticks.
  *
  * Spark shape: the puller is a driver-side loop like [[LogPoller]]
  * (ticked by the Scheduler cadence), bounded per tick by
  * `maxMessages`; accepted envelopes land in a durable spool (tmp-write
  * + atomic move) that Spark tails as a file stream into the
  * DISTRIBUTED envelope parse ([[CloudLogs.gcpLogLines]]) — receive is
  * inherently a subscriber loop in the reference too; the corpus-scale
  * work all happens downstream of the spool. */
object PubSubPull {

  private val mapper = new ObjectMapper()

  /** The per-server GCP identity config the router matches against
    * (`config.ServerConfig` fields used by `logs.go:105-152`). */
  final case class ServerCfg(
      projectId: String,
      cloudSqlInstanceId: String = "",
      alloyDbClusterId: String = "",
      alloyDbInstanceId: String = "")

  final case class PullStats(
      received: Int, accepted: Int, nacked: Int, dropped: Int)

  /** One pull → route → ack/nack round. `now` is injectable so specs
    * can pin the recent/stale boundary. */
  final class Puller(
      endpoint: String, // http://127.0.0.1:port
      subscription: String, // projects/P/subscriptions/S
      servers: Seq[ServerCfg],
      spoolDir: Path,
      maxAge: Duration = Duration.ofMinutes(5),
      now: () => Instant = () => Instant.now(),
      // the OAuth token source ([[GcpOAuth.TokenFetcher.bearer]]): every
      // API call carries `Authorization: Bearer <token>`; None = an
      // unauthenticated emulator (tests that aren't about auth)
      bearer: () => Option[String] = () => None) {
    require(subscription.count(_ == '/') == 3,
      "unsupported subscription format - must be " +
        s""""projects/PROJECT_NAME/subscriptions/SUBSCRIPTION_NAME", got: $subscription""")
    Files.createDirectories(spoolDir)
    private val seq = new AtomicLong(0L)

    def tick(maxMessages: Int = 100): PullStats = {
      val resp = post(s"$endpoint/v1/$subscription:pull",
        s"""{"maxMessages":$maxMessages}""")
      val received = Option(mapper.readTree(resp).get("receivedMessages"))
        .map(_.elements().asScala.toSeq).getOrElse(Seq.empty)
      val ackIds = mutable.ArrayBuffer[String]()
      val nackIds = mutable.ArrayBuffer[String]()
      val acceptedEnvelopes = mutable.ArrayBuffer[String]()
      var dropped = 0
      received.foreach { rm =>
        val ackId = rm.get("ackId").asText()
        val data = Base64.getDecoder.decode(
          rm.get("message").get("data").asText())
        route(data) match {
          case Accept(json) =>
            acceptedEnvelopes += json; ackIds += ackId
          case Drop => dropped += 1; ackIds += ackId
          case Nack => nackIds += ackId
        }
      }
      // ONE spool file per pull round, one envelope per line — a
      // file-per-message spool melts down at real pull volumes (a 100
      // TB day is millions of envelopes); the canonical re-serialized
      // JSON (below) is guaranteed newline-free, so line framing is
      // lossless
      if (acceptedEnvelopes.nonEmpty) spool(acceptedEnvelopes.mkString("\n"))
      if (ackIds.nonEmpty)
        post(s"$endpoint/v1/$subscription:acknowledge",
          mkIds("ackIds", ackIds.toSeq))
      if (nackIds.nonEmpty)
        post(s"$endpoint/v1/$subscription:modifyAckDeadline",
          mkIds("ackIds", nackIds.toSeq).dropRight(1) +
            ""","ackDeadlineSeconds":0}""")
      PullStats(received.size, acceptedEnvelopes.size, nackIds.size, dropped)
    }

    private sealed trait Route
    private final case class Accept(envelopeJson: String) extends Route
    private case object Drop extends Route
    private case object Nack extends Route

    private def route(data: Array[Byte]): Route = {
      val msg =
        try mapper.readTree(data)
        catch { case _: Exception => return Drop } // parse error → ack
      def text(n: JsonNode, f: String): String =
        Option(n).flatMap(x => Option(x.get(f))).map(_.asText()).getOrElse("")
      val logName = text(msg, "logName")
      val resource = msg.get("resource")
      val labels = Option(resource).flatMap(r => Option(r.get("labels")))
      def label(k: String): Option[String] =
        labels.flatMap(l => Option(l.get(k))).map(_.asText())
      // t, _ := time.Parse — a bad timestamp routes as the zero time
      val t =
        try Instant.parse(text(msg, "timestamp"))
        catch { case _: Exception => Instant.EPOCH }
      def noServer(): Route =
        if (t.plus(maxAge).isAfter(now())) Nack else Drop
      text(resource, "type") match {
        case "cloudsql_database" =>
          if (!logName.endsWith("postgres.log")) return Drop
          val databaseId = label("database_id").getOrElse(return Drop)
          if (databaseId.count(_ == ':') != 1) return Drop
          val Array(proj, inst) = databaseId.split(":", 2)
          val hit = servers.exists(s =>
            proj == s.projectId && inst.nonEmpty && inst == s.cloudSqlInstanceId)
          if (!hit) noServer()
          // canonical compact re-serialization: the spool is
          // line-framed, and Jackson's writer never emits raw newlines
          else Accept(mapper.writeValueAsString(msg))
        case "alloydb.googleapis.com/Instance" =>
          if (!logName.endsWith("postgres.log")) return Drop
          val clusterId = label("cluster_id").getOrElse(return Drop)
          val instanceId = label("instance_id").getOrElse(return Drop)
          val consumerProject = Option(msg.get("labels"))
            .flatMap(l => Option(l.get("CONSUMER_PROJECT")))
            .map(_.asText()).getOrElse(return Drop)
          val hit = servers.exists(s =>
            consumerProject == s.projectId && clusterId.nonEmpty &&
              clusterId == s.alloyDbClusterId && instanceId.nonEmpty &&
              instanceId == s.alloyDbInstanceId)
          if (!hit) noServer()
          else Accept(mapper.writeValueAsString(msg))
        case _ => Drop
      }
    }

    private def spool(json: String): Unit = {
      val id = seq.incrementAndGet()
      val tmp = spoolDir.resolve(f"gcp-$id%012d.tmp")
      Files.write(tmp, json.getBytes(UTF_8))
      Files.move(tmp, spoolDir.resolve(f"gcp-$id%012d.body"),
        StandardCopyOption.ATOMIC_MOVE)
    }

    private def mkIds(field: String, ids: Seq[String]): String =
      ids.map(i => "\"" + i + "\"").mkString(s"""{"$field":[""", ",", "]}")

    private def post(url: String, body: String): String = {
      val conn = new java.net.URL(url)
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      try {
        conn.setRequestMethod("POST")
        conn.setDoOutput(true)
        conn.setRequestProperty("Content-Type", "application/json")
        bearer().foreach(t =>
          conn.setRequestProperty("Authorization", s"Bearer $t"))
        val bytes = body.getBytes(UTF_8)
        conn.setFixedLengthStreamingMode(bytes.length)
        conn.getOutputStream.write(bytes)
        conn.getOutputStream.close()
        val in =
          if (conn.getResponseCode < 400) conn.getInputStream
          else conn.getErrorStream
        if (in == null) "" else new String(in.readAllBytes(), UTF_8)
      } finally conn.disconnect()
    }
  }

  /** Tail the spool: LINE-framed (one envelope JSON per line, one file
    * per pull round) — one row per accepted message, input for
    * [[CloudLogs.gcpLogStream]]. */
  def stream(s: SparkSession, spoolDir: Path): DataFrame =
    s.readStream
      .option("pathGlobFilter", "*.body")
      .text(spoolDir.toString)

  /** Batch read of the same spool (for bounded e2e entries). */
  def readSpool(s: SparkSession, spoolDir: Path): DataFrame =
    s.read.option("pathGlobFilter", "*.body").text(spoolDir.toString)

  // ------------------------------------------------------ emulator
  // In-process pull-API double (REST subset: :pull, :acknowledge,
  // :modifyAckDeadline with ackDeadlineSeconds=0 as nack-redeliver) —
  // the same in-process-server posture as SnapshotTransport's spec
  // servers; real lease semantics: pulled messages are outstanding
  // until acked (deleted) or deadline-zeroed (redelivered).
  // `requireBearer`: when set, every call must carry a valid
  // `Authorization: Bearer` token (validated by the hook — wire it to
  // [[GcpOAuth.TokenEndpoint.isValid]]); otherwise 401 UNAUTHENTICATED,
  // Google's surface for missing/invalid credentials.
  final class Emulator(requireBearer: Option[String => Boolean] = None) {
    private final case class Msg(id: Long, data: Array[Byte])
    private val available = mutable.Queue[Msg]()
    private val outstanding = mutable.LinkedHashMap[String, Msg]()
    private val nextId = new AtomicLong(0L)
    private val lock = new Object

    def publish(data: String): Unit = lock.synchronized {
      available.enqueue(Msg(nextId.incrementAndGet(), data.getBytes(UTF_8)))
    }
    def availableCount: Int = lock.synchronized(available.size)
    def outstandingCount: Int = lock.synchronized(outstanding.size)

    private val server = LocalHttp.server()
    val port: Int = server.getAddress.getPort
    val endpoint: String = s"http://127.0.0.1:$port"

    server.createContext("/v1/", (ex: HttpExchange) => {
      val out = new ByteArrayOutputStream()
      val is = ex.getRequestBody
      val buf = new Array[Byte](8192)
      var n = is.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = is.read(buf) }
      val req = mapper.readTree(out.toByteArray)
      val path = ex.getRequestURI.getPath
      val authorized = requireBearer match {
        case None => true
        case Some(check) =>
          Option(ex.getRequestHeaders.getFirst("Authorization"))
            .filter(_.startsWith("Bearer "))
            .exists(h => check(h.substring("Bearer ".length)))
      }
      if (!authorized) {
        val b = ("""{"error":{"code":401,"status":"UNAUTHENTICATED",""" +
          """"message":"Request had invalid authentication credentials."}}""")
          .getBytes(UTF_8)
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(401, b.length.toLong)
        ex.getResponseBody.write(b)
        ex.close()
      } else {
      val resp: String = lock.synchronized {
        if (path.endsWith(":pull")) {
          val max = Option(req.get("maxMessages")).map(_.asInt()).getOrElse(10)
          val root = mapper.createObjectNode()
          val arr = root.putArray("receivedMessages")
          var i = 0
          while (i < max && available.nonEmpty) {
            val m = available.dequeue()
            val ackId = s"ack-${m.id}"
            outstanding(ackId) = m
            val rm = arr.addObject()
            rm.put("ackId", ackId)
            val mm = rm.putObject("message")
            mm.put("data", Base64.getEncoder.encodeToString(m.data))
            mm.put("messageId", m.id.toString)
            mm.put("publishTime", "1970-01-01T00:00:00Z")
            i += 1
          }
          mapper.writeValueAsString(root)
        } else if (path.endsWith(":acknowledge")) {
          req.get("ackIds").elements().asScala
            .foreach(a => outstanding.remove(a.asText()))
          "{}"
        } else if (path.endsWith(":modifyAckDeadline")) {
          val deadline = Option(req.get("ackDeadlineSeconds"))
            .map(_.asInt()).getOrElse(10)
          req.get("ackIds").elements().asScala.foreach { a =>
            outstanding.remove(a.asText()).foreach { m =>
              if (deadline == 0) available.enqueue(m) // nack → redeliver
              else outstanding(a.asText()) = m
            }
          }
          "{}"
        } else "{}"
      }
      val b = resp.getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, b.length.toLong)
      ex.getResponseBody.write(b)
      ex.close()
      }
    })
    server.start()

    def stop(): Unit = server.stop(0)
  }
}
