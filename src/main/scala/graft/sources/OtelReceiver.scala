package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.zip.GZIPInputStream

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.HttpExchange
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.LocalHttp
import graft.sinks.ProtoWire

/** The LIVE transport leg of the OTLP logs endpoint (S28,
  * `input/system/selfhosted/otel_handler.go:29-117`): an HTTP server at
  * `/v1/logs` accepting OTLP log export requests with the reference's
  * exact surface —
  *   - `Content-Encoding: gzip` / `identity` / absent; anything else
  *     (or a corrupt gzip body) → 400 "Could not decode request body";
  *   - `Content-Type: application/json` or `application/x-protobuf`;
  *     anything else → 415 "Unsupported Content-Type";
  *   - malformed payloads → 400; accepted requests → 200 with an empty
  *     `ExportLogsServiceResponse` (`{}`).
  *
  * Protobuf bodies are decoded with the repo's generic wire reader
  * ([[ProtoWire.decode]]) and re-rendered as the OTLP/JSON mapping
  * ([[OtlpWire.requestToJson]]), so BOTH content types funnel into the
  * one spool format the downstream parser reads
  * ([[CloudLogs.otelLogLines]]) — the reference does the same funnel in
  * reverse (`handleOtlpLogsRequestJson` protojson-unmarshals into the
  * identical struct the protobuf path fills).
  *
  * Spark shape: same receiver → durable spool → file stream bridge as
  * [[HttpDrain]] (tmp-write + atomic move; at scale the spool is
  * Kafka/Kinesis), with the bounded-pending drop policy standing in for
  * the reference's bounded channel (`LogStreamBufferLen`). */
object OtelReceiver {

  final class Receiver(spoolDir: Path, maxPending: Int = 64) {
    Files.createDirectories(spoolDir)
    private val server = LocalHttp.server()
    val port: Int = server.getAddress.getPort
    private val seq = new AtomicLong(0L)
    private val droppedCount = new AtomicInteger(0)
    private val mapper = new ObjectMapper()

    server.createContext("/v1/logs", (ex: HttpExchange) => {
      val out = new ByteArrayOutputStream()
      val is = ex.getRequestBody
      val buf = new Array[Byte](8192)
      var n = is.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = is.read(buf) }
      val raw = out.toByteArray

      def respond(code: Int, body: String, ctype: String): Unit = {
        val b = body.getBytes(UTF_8)
        ex.getResponseHeaders.set("Content-Type", ctype)
        ex.sendResponseHeaders(code, if (b.isEmpty) -1L else b.length.toLong)
        if (b.nonEmpty) ex.getResponseBody.write(b)
        ex.close()
      }

      // Content-Encoding first, as in decodeRequestBody
      // (`otel_handler.go:88-99`)
      def gunzip(bytes: Array[Byte]): Either[String, Array[Byte]] =
        try {
          val gz = new GZIPInputStream(
            new java.io.ByteArrayInputStream(bytes))
          val o = new ByteArrayOutputStream()
          val b2 = new Array[Byte](8192)
          var m = gz.read(b2)
          while (m >= 0) { o.write(b2, 0, m); m = gz.read(b2) }
          Right(o.toByteArray)
        } catch {
          case _: Exception => Left("Could not decode request body")
        }
      val decoded: Either[String, Array[Byte]] =
        ex.getRequestHeaders.getFirst("Content-Encoding") match {
          case null | "" | "identity" =>
            // "Some exporters gzip without setting Content-Encoding;
            // valid OTLP never starts with the gzip magic bytes" —
            // sniff 0x1f 0x8b and gunzip anyway (otel_handler.go:92-95)
            if (raw.length >= 2 && raw(0) == 0x1f.toByte &&
                raw(1) == 0x8b.toByte) gunzip(raw)
            else Right(raw)
          case "gzip" => gunzip(raw)
          case _ => Left("Could not decode request body")
        }

      decoded match {
        case Left(err) => respond(400, err, "text/plain")
        case Right(body) =>
          ex.getRequestHeaders.getFirst("Content-Type") match {
            case "application/json" =>
              // the reference's JSON path is protojson.Unmarshal
              // (handleOtlpLogsRequestJson) — it rejects unknown
              // fields and non-OTLP shapes, not just malformed JSON:
              // root must be an object, its only known top-level
              // field is resourceLogs, and that must be an array
              val ok =
                try {
                  val root = mapper.readTree(body)
                  root.isObject && {
                    val names = root.fieldNames()
                    var valid = true
                    while (names.hasNext && valid) {
                      val f = names.next()
                      valid = f == "resourceLogs" && root.get(f).isArray
                    }
                    valid
                  }
                } catch { case _: Exception => false }
              if (!ok) respond(400, "Could not parse request body", "text/plain")
              else { spool(new String(body, UTF_8)); respond(200, "{}", "application/json") }
            case "application/x-protobuf" =>
              try {
                val json = OtlpWire.requestToJson(body)
                spool(json)
                // an empty ExportLogsServiceResponse is zero bytes on
                // the wire — NOT "{}" (that is the protojson rendering)
                respond(200, "", "application/x-protobuf")
              } catch {
                case _: Exception =>
                  respond(400, "Could not parse request body", "text/plain")
              }
            case _ =>
              respond(415,
                "Unsupported Content-Type, must be application/x-protobuf or application/json",
                "text/plain")
          }
      }
    })
    server.start()

    private def spool(json: String): Unit = {
      val pending =
        spoolDir.toFile.listFiles((_, name) => name.endsWith(".body"))
      if (pending != null && pending.length >= maxPending) {
        droppedCount.incrementAndGet()
        ()
      } else {
        val id = seq.incrementAndGet()
        val tmp = spoolDir.resolve(f"otel-$id%012d.tmp")
        Files.write(tmp, json.getBytes(UTF_8))
        Files.move(tmp, spoolDir.resolve(f"otel-$id%012d.body"),
          StandardCopyOption.ATOMIC_MOVE)
      }
    }

    def dropped: Int = droppedCount.get()
    def stop(): Unit = server.stop(0)
  }

  /** Tail the spool: one row (`value` = one OTLP/JSON request body) per
    * accepted export request. */
  def stream(s: SparkSession, spoolDir: Path): DataFrame =
    s.readStream
      .option("wholetext", "true")
      .option("pathGlobFilter", "*.body")
      .text(spoolDir.toString)

  /** POST one export request (test client). Returns (status, body). */
  def post(port: Int, body: Array[Byte], contentType: String,
      gzipBody: Boolean = false): (Int, String) = {
    val conn = new java.net.URL(s"http://127.0.0.1:$port/v1/logs")
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    try {
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", contentType)
      val bytes =
        if (gzipBody) {
          val o = new ByteArrayOutputStream()
          val gz = new java.util.zip.GZIPOutputStream(o)
          gz.write(body); gz.close()
          conn.setRequestProperty("Content-Encoding", "gzip")
          o.toByteArray
        } else body
      conn.setFixedLengthStreamingMode(bytes.length)
      conn.getOutputStream.write(bytes)
      conn.getOutputStream.close()
      val code = conn.getResponseCode
      val in = if (code < 400) conn.getInputStream else conn.getErrorStream
      val resp =
        if (in == null) ""
        else new String(in.readAllBytes(), UTF_8)
      (code, resp)
    } finally conn.disconnect()
  }
}

/** OTLP logs protobuf → OTLP/JSON mapping, for the fields the
  * downstream parser consumes ([[CloudLogs.OtelSchema]]). Field numbers
  * from the public opentelemetry-proto definitions:
  * ExportLogsServiceRequest.resource_logs=1; ResourceLogs.scope_logs=2;
  * ScopeLogs.log_records=2; LogRecord.time_unix_nano=1 (fixed64),
  * .body=5, .event_name=12; AnyValue string=1/int=3/kvlist=6;
  * KeyValueList.values=1; KeyValue key=1/value=2. Int64 and fixed64
  * render as JSON strings, per the protojson mapping the reference's
  * JSON path relies on. */
object OtlpWire {
  import ProtoWire.{decode, VBytes, VInt, V64}

  private val mapper = new ObjectMapper()

  def requestToJson(body: Array[Byte]): String = {
    val root = mapper.createObjectNode()
    val rls = root.putArray("resourceLogs")
    decode(body).foreach {
      case (1, VBytes(rl)) =>
        val rlNode = rls.addObject()
        val sls = rlNode.putArray("scopeLogs")
        decode(rl).foreach {
          case (2, VBytes(sl)) =>
            val slNode = sls.addObject()
            val lrs = slNode.putArray("logRecords")
            decode(sl).foreach {
              case (2, VBytes(lr)) =>
                val lrNode = lrs.addObject()
                decode(lr).foreach {
                  case (1, V64(bits)) =>
                    lrNode.put("timeUnixNano",
                      java.lang.Long.toUnsignedString(bits))
                  case (1, VInt(v)) => // varint encoding also legal upstream
                    lrNode.put("timeUnixNano",
                      java.lang.Long.toUnsignedString(v))
                  case (5, VBytes(av)) =>
                    lrNode.set[com.fasterxml.jackson.databind.JsonNode](
                      "body", anyValue(av))
                  case (12, VBytes(s)) =>
                    lrNode.put("eventName", new String(s, UTF_8))
                  case _ => ()
                }
              case _ => ()
            }
          case _ => ()
        }
      case _ => ()
    }
    mapper.writeValueAsString(root)
  }

  private def anyValue(b: Array[Byte]): com.fasterxml.jackson.databind.node.ObjectNode = {
    val node = mapper.createObjectNode()
    decode(b).foreach {
      case (1, VBytes(s)) => node.put("stringValue", new String(s, UTF_8))
      case (3, VInt(v)) => node.put("intValue", v.toString)
      case (6, VBytes(kvl)) =>
        val kvlNode = node.putObject("kvlistValue")
        val values = kvlNode.putArray("values")
        decode(kvl).foreach {
          case (1, VBytes(kv)) =>
            val kvNode = values.addObject()
            decode(kv).foreach {
              case (1, VBytes(k)) => kvNode.put("key", new String(k, UTF_8))
              case (2, VBytes(v)) =>
                kvNode.set[com.fasterxml.jackson.databind.JsonNode](
                  "value", anyValue(v))
              case _ => ()
            }
          case _ => ()
        }
      case _ => ()
    }
    node
  }
}
