package graft.sinks

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

import com.sun.net.httpserver.HttpExchange
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.LocalHttp
import graft.sinks.SnapshotTransport._

/** The SHIPPED full-snapshot lifecycle — the two gate entries that
  * close the loop the pipelines stop short of: the same wire document
  * as `e2e_full_snapshot`, but decoded from the bytes a real server
  * RECEIVED rather than from the local buffer.
  *
  *   - `e2eHttp`: storage POST (multipart, 201 + XML key) → submission
  *     POST (form, 200) against an in-process HTTP server — the
  *     reference's `uploadSnapshot`/`submitSnapshot` pair
  *     (`output/upload_http_legacy.go:24-170`) — then
  *     [[FullSnapshotPipeline.decodeVerify]] over the file part the
  *     storage endpoint captured.
  *   - `e2eWs`: the websocket path (`output/upload.go:101-113`): one
  *     masked RFC 6455 binary frame into an in-process endpoint, then
  *     decodeVerify over the unmasked payload the server read.
  *
  * Both entries therefore fail — not just log — if the transport
  * corrupts, truncates, or drops the document: decodeVerify re-runs
  * the `verifyIntegrity` checks (`output/full.go:73-97`) on the
  * received bytes, and the DuckDB oracle (shared with
  * e2e_full_snapshot) re-derives every decoded row from the base
  * tables. */
object SnapshotUpload {

  /** Extract the `file` part bytes out of a multipart body (the only
    * part the storage endpoint cares about — `uploadToS3`'s writer). */
  def filePart(body: Array[Byte]): Array[Byte] = {
    val s = new String(body, ISO_8859_1)
    val marker = "application/octet-stream\r\n\r\n"
    val at = s.indexOf(marker)
    require(at >= 0, "multipart body has no application/octet-stream part")
    val start = at + marker.length
    val end = s.indexOf("\r\n--", start)
    require(end >= 0, "multipart file part is not terminated by a boundary")
    body.slice(start, end)
  }

  private def readBody(ex: HttpExchange): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val is = ex.getRequestBody
    val buf = new Array[Byte](8192)
    var n = is.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = is.read(buf) }
    out.toByteArray
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val b = body.getBytes(UTF_8)
    ex.sendResponseHeaders(code, if (b.isEmpty) -1 else b.length)
    if (b.nonEmpty) ex.getResponseBody.write(b)
    ex.close()
  }

  /** HTTP leg — the reference's FULL chain grant→storage→submit
    * (`output/grant.go:82-115` + `upload_http_legacy.go:24-170`): the
    * in-process server issues the grant (API-key checked, invalid key
    * → the error surface), the fetched grant drives the storage POST
    * and submission, and the received bytes decode back. */
  def e2eHttp(s: SparkSession, dir: String): DataFrame = {
    val wire = ProtoWire.zlib(
      FullSnapshotPipeline.encode(FullSnapshotPipeline.assemble(s, dir)))
    var stored: Array[Byte] = null
    var submittedLocation: String = null
    var grantRequests = 0
    val server = LocalHttp.server()
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    server.createContext("/storage", (ex: HttpExchange) => {
      stored = filePart(readBody(ex))
      respond(ex, 201,
        "<PostResponse><Key>snapshots/graft/full.bin</Key></PostResponse>")
    })
    server.createContext("/v2/snapshots", (ex: HttpExchange) => {
      val form = new String(readBody(ex), UTF_8)
      submittedLocation = form.split("&").collectFirst {
        case kv if kv.startsWith("s3_location=") =>
          java.net.URLDecoder.decode(kv.substring("s3_location=".length), "UTF-8")
      }.orNull
      respond(ex, 200, "OK")
    })
    server.createContext("/v2/snapshots/grant", (ex: HttpExchange) => {
      grantRequests += 1
      val key = ex.getRequestHeaders.getFirst("Pganalyze-Api-Key")
      if (key != "gk-valid")
        respond(ex, 401, "Error: Invalid API key")
      else
        respond(ex, 200,
          s"""{"s3_url":"$base/storage","s3_fields":""" +
            """{"key":"snapshots/graft/full.bin"},"local_dir":""}""")
    })
    server.start()
    try {
      // an invalid key must surface the reference's refusal, not a grant
      val refused = new SnapshotTransport.GrantFetcher(base,
        SnapshotTransport.apiHeaders("gk-wrong")).ensureGrant()
      require(refused == Left("Error when getting grant: Error: Invalid API key"),
        s"invalid key not refused: $refused")
      // the real chain: fetch the grant, reuse it while valid
      val fetcher = new SnapshotTransport.GrantFetcher(base,
        SnapshotTransport.apiHeaders("gk-valid", systemId = "graft-e2e"))
      val grant = fetcher.ensureGrant() match {
        case Right(g) => g
        case Left(err) => throw new IllegalStateException(err)
      }
      require(fetcher.ensureGrant() == Right(grant) && grantRequests == 2,
        "a valid grant must be reused without refetching")
      val up = new Uploader(grant, sleep = _ => ())
      up.upload(wire, "graft-full-uuid", 1700000000L, compact = false) match {
        case Submitted(loc, _) =>
          require(loc == "snapshots/graft/full.bin", s"bad key: $loc")
        case Failed(err, n) =>
          throw new IllegalStateException(s"upload failed after $n tries: $err")
      }
      require(submittedLocation == "snapshots/graft/full.bin",
        s"submission did not carry the storage key: $submittedLocation")
      require(stored != null && java.util.Arrays.equals(stored, wire),
        "server-received bytes differ from the wire document")
    } finally server.stop(0)
    FullSnapshotPipeline.decodeVerify(s, stored)
  }

  /** Websocket leg: wire → one masked binary frame → decode the bytes
    * the endpoint unmasked. */
  def e2eWs(s: SparkSession, dir: String): DataFrame = {
    val wire = ProtoWire.zlib(
      FullSnapshotPipeline.encode(FullSnapshotPipeline.assemble(s, dir)))
    val server = new SnapshotWebSocket.SingleServer
    val client = new SnapshotWebSocket.Client(
      () => SnapshotWebSocket.dial("127.0.0.1", server.port, "/websocket"))
    require(client.connect().isRight, "handshake failed")
    val up = new Uploader(Grant(s3Url = "unused", apiBaseUrl = "unused"),
      sleep = _ => ())
    up.uploadViaWebsocketOrHttp(Some(client), requireWebsocket = true,
      wire, "graft-full-uuid", 1700000000L, compact = false) match {
      case Submitted(loc, _) => require(loc == "websocket", s"bad leg: $loc")
      case Failed(err, _) => throw new IllegalStateException(err)
    }
    client.disconnect()
    server.await()
    val got = server.payloads
    require(got.length == 1, s"expected 1 frame, got ${got.length}")
    require(java.util.Arrays.equals(got.head, wire),
      "unmasked frame differs from the wire document")
    FullSnapshotPipeline.decodeVerify(s, got.head)
  }
}
