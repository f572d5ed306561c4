package graft

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

import com.sun.net.httpserver.HttpExchange

import graft.sinks.{FullSnapshotPipeline => FP, ProtoWire}
import graft.sinks.SnapshotTransport
import graft.sinks.SnapshotTransport._

/** The delivery contract (`output/upload.go:26-97`,
  * `upload_http_legacy.go`): golden bytes through a REAL in-process
  * HTTP round-trip (storage POST → key → submission POST), the
  * retryablehttp schedule under failure injection, the local-dir grant
  * fallback, and the compact-submission throttle. */
class SnapshotTransportSpec extends SparkSpec {

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

  /** Extract the `file` part's bytes from the multipart body. */
  private def filePart(body: Array[Byte]): Array[Byte] = {
    val s = new String(body, ISO_8859_1)
    val start = s.indexOf("application/octet-stream\r\n\r\n") +
      "application/octet-stream\r\n\r\n".length
    val end = s.indexOf("\r\n--graftsnapshotboundary--", start)
    body.slice(start, end)
  }

  test("golden bytes survive the real HTTP transport: storage POST -> key -> submission POST") {
    val wire = ProtoWire.zlib(FP.encode(FP.assemble(spark, Sf)))
    var storedBody: Array[Byte] = null
    var storedCt: String = null
    var submitted: String = null
    var submittedPath: String = null
    val server = LocalHttp.server()
    server.createContext("/s3", (ex: HttpExchange) => {
      storedBody = readBody(ex)
      storedCt = ex.getRequestHeaders.getFirst("Content-Type")
      respond(ex, 201,
        "<PostResponse><Location>http://s/k</Location><Bucket>b</Bucket>" +
          "<Key>snapshots/key123</Key></PostResponse>")
    })
    server.createContext("/v2/snapshots", (ex: HttpExchange) => {
      submitted = new String(readBody(ex), UTF_8)
      submittedPath = ex.getRequestURI.getPath
      respond(ex, 200, "")
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val up = new Uploader(Grant(s3Url = s"$base/s3",
        s3Fields = Map("policy" -> "p1", "acl" -> "private"),
        apiBaseUrl = base))
      val out = up.upload(wire, FP.SnapshotUuid, 1234567L, compact = false)
      assert(out === Submitted("snapshots/key123", 2))
      assert(storedCt === MultipartContentType)
      // the file part is byte-identical to what was sent…
      val received = filePart(storedBody)
      assert(received.toSeq === wire.toSeq)
      // …and the grant fields rode along
      val bodyStr = new String(storedBody, ISO_8859_1)
      assert(bodyStr.contains("name=\"policy\"\r\n\r\np1"))
      // …and the received bytes decode + verify integrity end-to-end
      assert(FP.decodeVerify(spark, received).count() > 0)
      // submission posted the storage key + collected_at to /v2/snapshots
      assert(submittedPath === "/v2/snapshots")
      assert(submitted === "s3_location=snapshots%2Fkey123&collected_at=1234567")
    } finally server.stop(0)
  }

  test("compact snapshots submit to /v2/snapshots/compact") {
    var path: String = null
    val server = LocalHttp.server()
    server.createContext("/s3", (ex: HttpExchange) =>
      respond(ex, 201, "<PostResponse><Key>k</Key></PostResponse>"))
    server.createContext("/v2/snapshots", (ex: HttpExchange) => {
      path = ex.getRequestURI.getPath; respond(ex, 200, "")
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val up = new Uploader(Grant(s3Url = s"$base/s3", apiBaseUrl = base))
      assert(up.upload(Array[Byte](1, 2), "u1", 1L, compact = true)
        .isInstanceOf[Submitted])
      assert(path === "/v2/snapshots/compact")
    } finally server.stop(0)
  }

  test("loopback POST round trips do not wait out a delayed ACK") {
    // the server writes response headers and body as two segments; with
    // Nagle on, each round trip stalls ~44 ms (~950 ms for 20)
    val server = LocalHttp.server()
    server.createContext("/v2/snapshots", (ex: HttpExchange) => {
      readBody(ex); respond(ex, 200, "OK")
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/v2/snapshots"
      def post(): Unit = assert(httpPost(url,
        "application/x-www-form-urlencoded", "a=1".getBytes(UTF_8)) ==
        (200, "OK"))
      post() // class loading and the first connection stay out of the timing
      val t0 = System.nanoTime()
      (1 to 20).foreach(_ => post())
      val ms = (System.nanoTime() - t0) / 1000000L
      assert(ms < 200L, s"20 round trips took $ms ms")
    } finally server.stop(0)
  }

  test("failure injection: two 500s then 201 -> success after the 1s/2s backoff steps") {
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    var calls = 0
    val http: Http = (url, _, _) =>
      if (url.endsWith("/s3")) {
        calls += 1
        if (calls <= 2) (500, "boom")
        else (201, "<PostResponse><Key>k7</Key></PostResponse>")
      } else (200, "")
    val up = new Uploader(Grant(s3Url = "x/s3", apiBaseUrl = "x"),
      http = http, sleep = sleeps += _)
    val out = up.upload(Array[Byte](9), "u", 5L, compact = false)
    assert(out === Submitted("k7", 4)) // 3 storage attempts + 1 submit
    assert(sleeps.toSeq === Seq(1000L, 2000L))
  }

  test("retry exhaustion: five attempts (retryMax 4), capped exponential waits, then Failed") {
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val http: Http = (_, _, _) => (503, "unavailable")
    val up = new Uploader(Grant(s3Url = "x/s3", apiBaseUrl = "x"),
      policy = RetryPolicy(retryMax = 4, waitMinMs = 1000, waitMaxMs = 5000),
      http = http, sleep = sleeps += _)
    val out = up.upload(Array[Byte](9), "u", 5L, compact = false)
    assert(out === Failed(
      "Bad S3 upload return code 503 (expected 201 Created), body: unavailable", 5))
    assert(sleeps.toSeq === Seq(1000L, 2000L, 4000L, 5000L)) // capped at waitMax
  }

  test("connection errors retry; 400-class responses do not") {
    var calls = 0
    val flaky: Http = (url, _, _) =>
      if (url.endsWith("/s3")) {
        calls += 1
        if (calls == 1) throw new java.io.IOException("connection refused")
        else (201, "<PostResponse><Key>k</Key></PostResponse>")
      } else (200, "")
    val up = new Uploader(Grant(s3Url = "x/s3", apiBaseUrl = "x"),
      http = flaky, sleep = _ => ())
    assert(up.upload(Array[Byte](1), "u", 1L, compact = false)
      .isInstanceOf[Submitted])

    var badCalls = 0
    val denied: Http = (_, _, _) => { badCalls += 1; (403, "forbidden") }
    val up2 = new Uploader(Grant(s3Url = "x/s3", apiBaseUrl = "x"),
      http = denied, sleep = _ => ())
    val out2 = up2.upload(Array[Byte](1), "u", 1L, compact = false)
    assert(out2.isInstanceOf[Failed] && badCalls === 1) // no retry on 403
  }

  test("local-dir grant writes the file and submits its path (uploadSnapshot:31-45)") {
    val dir = Harness.scratch("graft_upload")
    var submitted: String = null
    val http: Http = (url, _, body) =>
      if (url.contains("/v2/")) { submitted = new String(body, UTF_8); (200, "") }
      else (500, "storage should not be called")
    val up = new Uploader(
      Grant(s3Url = "", localDir = Some(dir), apiBaseUrl = "x"),
      http = http, sleep = _ => ())
    val wire = Array[Byte](1, 2, 3, 4)
    val out = up.upload(wire, "uuid-1", 99L, compact = false)
    assert(out.isInstanceOf[Submitted])
    val written = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "uuid-1"))
    assert(written.toSeq === wire.toSeq)
    assert(submitted.contains("collected_at=99"))
  }

  test("invalid grant refuses to upload") {
    val up = new Uploader(Grant(s3Url = "x", valid = false),
      http = (_, _, _) => fail("no HTTP on invalid grant"), sleep = _ => ())
    assert(up.upload(Array[Byte](1), "u", 1L, compact = false) ===
      Failed("Error - can't upload without valid S3 grant", 0))
  }

  test("compact-submission throttle: one summary line per minute, counts by kind") {
    // minute-aligned start: the reference truncates the window to the
    // minute (upload.go:67), so a mid-minute first submission rolls
    // early — the timeline here starts on a boundary to pin the count
    var t = 1020000L
    val up = new Uploader(Grant(s3Url = "x", apiBaseUrl = "x"),
      http = (_, _, _) => (200, ""), sleep = _ => (), now = () => t)
    assert(up.noteCompactSubmission("activity").isEmpty) // window opens
    t += 10000L
    assert(up.noteCompactSubmission("logs").isEmpty)
    t += 20000L
    assert(up.noteCompactSubmission("activity").isEmpty)
    t += 40000L // 70s past the window start: roll + summarize
    assert(up.noteCompactSubmission("activity") ===
      Some("Submitted compact snapshots successfully: 2 activity, 1 logs"))
    // the roll reset the counts and started a new window
    t += 10000L
    assert(up.noteCompactSubmission("system").isEmpty)
  }

  // ----------------------------------------------------- websocket leg

  test("ws frames round-trip at the 125/126 and 65535/65536 length edges") {
    import graft.sinks.SnapshotWebSocket._
    for (n <- Seq(0, 1, 125, 126, 65535, 65536, 100000)) {
      val payload = Array.tabulate[Byte](n)(i => (i * 131 + 7).toByte)
      val framed = encodeClientBinary(payload, 0xdeadbeef)
      val in = new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(framed))
      val (op, got) = readFrame(in)
      assert(op == 0x2 && java.util.Arrays.equals(got, payload), s"n=$n masked")
      val sframed = encodeServerBinary(payload)
      val sin = new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(sframed))
      val (sop, sgot) = readFrame(sin)
      assert(sop == 0x2 && java.util.Arrays.equals(sgot, payload), s"n=$n plain")
    }
  }

  test("ws handshake computes the RFC 6455 accept key") {
    // the RFC's own worked example (§1.3)
    assert(graft.sinks.SnapshotWebSocket
      .acceptKey("dGhlIHNhbXBsZSBub25jZQ==") ==
      "s3pPLMBiTxaQ9kYGzzhZRbK+xOo=")
  }

  test("ws 4xx handshake rejections rate-limit reconnects (clientErrorTimeout)") {
    import graft.sinks.SnapshotWebSocket.Client
    var t = 0L
    var dials = 0
    val c = new Client(() => { dials += 1; (403, null) },
      clientErrorTimeoutMs = 8 * 60 * 1000L, now = () => t)
    assert(c.connect().isLeft && dials == 1)
    // inside the window: no dial attempted (reconnecting_socket.go:60-66)
    t += 60 * 1000L
    c.tick()
    assert(dials == 1)
    assert(c.connect() ==
      Left("Skipping connection attempt because of previous 4XX error"))
    // past the 8-minute window the next tick dials again
    t += 8 * 60 * 1000L
    c.tick()
    assert(dials == 2)
  }

  test("ws write failure closes the CONNECTION but stays requested; tick reconnects") {
    import graft.sinks.SnapshotWebSocket
    // first dial goes to a server we kill; the retry dial goes to a
    // live replacement — the reference's reconnect loop re-establishes
    // after a write error without a new Connect() call
    val dead = new SnapshotWebSocket.SingleServer
    val live = new SnapshotWebSocket.SingleServer
    var target = dead
    val c = new SnapshotWebSocket.Client(
      () => SnapshotWebSocket.dial("127.0.0.1", target.port, "/websocket"))
    assert(c.connect().isRight && c.connected)
    dead.close()
    // the write eventually surfaces the broken pipe (the first may
    // land in the TCP buffer); bounded loop, then the connection is
    // down but a tick RECONNECTS because requested was not cleared
    var failed = false
    var i = 0
    while (!failed && i < 200) {
      failed = c.writeSnapshot(Array.fill(64 * 1024)(0x61.toByte)).isLeft
      i += 1
      if (!failed) Thread.sleep(5)
    }
    assert(failed && !c.connected)
    target = live
    c.tick()
    assert(c.connected, "tick must reconnect after a write failure")
    // explicit disconnect DOES clear requested: tick stays down
    c.disconnect()
    c.tick()
    assert(!c.connected)
    live.close()
  }

  test("uploadViaWebsocketOrHttp: ws when connected, hard error when required, else http") {
    import graft.sinks.SnapshotWebSocket
    val wire = ProtoWire.zlib(FP.encode(FP.assemble(spark, Sf)))
    // leg 1: connected socket takes the frame
    val server = new SnapshotWebSocket.SingleServer
    val client = new SnapshotWebSocket.Client(
      () => SnapshotWebSocket.dial("127.0.0.1", server.port, "/websocket"))
    assert(client.connect().isRight)
    val upWs = new Uploader(Grant(s3Url = "unused", apiBaseUrl = "unused"),
      sleep = _ => ())
    assert(upWs.uploadViaWebsocketOrHttp(Some(client), requireWebsocket = true,
      wire, "u1", 1L, compact = false) == Submitted("websocket", 1))
    client.disconnect()
    server.await()
    assert(server.payloads.length == 1 &&
      java.util.Arrays.equals(server.payloads.head, wire))
    // leg 2: websocket required but down -> hard error, no http fallback
    var httpCalls = 0
    val upReq = new Uploader(Grant(s3Url = "http://x", apiBaseUrl = "http://x"),
      http = (_, _, _) => { httpCalls += 1; (500, "") }, sleep = _ => ())
    assert(upReq.uploadViaWebsocketOrHttp(None, requireWebsocket = true,
      wire, "u2", 1L, compact = false) ==
      Failed("Error uploading snapshot: WebSocket not connected", 0))
    assert(httpCalls == 0)
    // leg 3: not required and down -> the http path runs
    val upHttp = new Uploader(
      Grant(s3Url = "http://x/up", apiBaseUrl = "http://x",
        s3Fields = Map("key" -> "k")),
      http = (url, _, _) => {
        httpCalls += 1
        if (url.endsWith("/up")) (201, "<Key>k</Key>") else (200, "OK")
      }, sleep = _ => ())
    assert(upHttp.uploadViaWebsocketOrHttp(None, requireWebsocket = false,
      wire, "u3", 1L, compact = false) == Submitted("k", 2))
    assert(httpCalls == 2)
  }

  test("tampered received bytes are rejected (verifyIntegrity on the decode side)") {
    val wire = ProtoWire.zlib(FP.encode(FP.assemble(spark, Sf)))
    // flip one byte mid-payload: zlib inflate or the wire decode or the
    // K3 integrity requires must throw — corruption cannot pass silently
    val bad = wire.clone()
    bad(bad.length / 2) = (bad(bad.length / 2) ^ 0x41).toByte
    intercept[Exception] {
      FP.decodeVerify(spark, bad).collect()
    }
  }

  test("grant fetch: caching, refresh-on-expiry, stale fallback, refusal") {
    // scripted GET + injected clock — no wall time, no sockets
    var clock = 0L
    var calls = 0
    var response: (Int, String) =
      (200, """{"s3_url":"https://s/u","s3_fields":{"key":"k1"},"local_dir":""}""")
    val get: SnapshotTransport.HttpGet = (url, headers) => {
      calls += 1
      assert(url == "https://api/v2/snapshots/grant")
      assert(headers("Pganalyze-Api-Key") == "gk" &&
        headers("Accept") == "application/json")
      response
    }
    val f = new GrantFetcher("https://api", apiHeaders("gk"),
      get = get, now = () => clock, validityMs = 3600000L)
    // first fetch parses the grant
    val g1 = f.ensureGrant().toOption.get
    assert(g1.s3Url == "https://s/u" && g1.s3Fields == Map("key" -> "k1") &&
      g1.localDir.isEmpty && g1.apiBaseUrl == "https://api")
    // inside the validity window: reused, no second GET
    clock = 3599999L
    assert(f.ensureGrant() == Right(g1) && calls == 1)
    // refetchAlways forces a round-trip even while valid
    response = (200,
      """{"s3_url":"https://s/u2","s3_fields":{"key":"k2"},"local_dir":""}""")
    val g2 = f.ensureGrant(refetchAlways = true).toOption.get
    assert(g2.s3Fields == Map("key" -> "k2") && calls == 2)
    // past expiry the next ensure refetches
    clock += 3600001L
    response = (200,
      """{"s3_url":"https://s/u3","s3_fields":{"key":"k3"},"local_dir":"/spool"}""")
    val g3 = f.ensureGrant().toOption.get
    assert(g3.s3Fields == Map("key" -> "k3") && g3.localDir == Some("/spool")
      && calls == 3)
    // fetch error with a STILL-VALID previous grant: reuse it
    // (EnsureGrant:55-59), do not fail
    response = (503, "upstream down")
    assert(f.ensureGrant(refetchAlways = true) == Right(g3) && calls == 4)
    // fetch error past expiry: the error surfaces
    clock += 3600001L
    response = (401, "Error: Invalid API key")
    assert(f.ensureGrant() ==
      Left("Error when getting grant: Error: Invalid API key"))
    // empty 200 body is an error too (grant.go:106-108)
    val f2 = new GrantFetcher("https://api", apiHeaders("gk"),
      get = (_, _) => (200, ""), now = () => clock)
    assert(f2.ensureGrant().isLeft)
  }

}
