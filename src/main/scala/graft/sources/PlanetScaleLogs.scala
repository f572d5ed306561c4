package graft.sources

import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.HttpExchange

import graft.LocalHttp

/** PlanetScale log download — the signature-authenticated logs API
  * (`input/system/planetscale/logs.go`): resolve the branch ID once
  * per collector lifetime (`GET /v1/organizations/O/databases/D/
  * branches/B`, `Authorization: tokenId:tokenSecret`), obtain a log
  * access signature with an expiry (`POST …/logs/signatures`), then
  * page `GET <logsURL>/logs/branch/<id>/query?sig&exp&query&limit`
  * where the query is the fixed selector
  * `planetscale.component:postgres planetscale.role:primary` plus an
  * `_time:><since>` filter and `| sort by (_time)` — NDJSON LogEntry
  * responses, trailing-10 MB parse cap, `since` advancing to the
  * newest `_time` until a short page, 403 clearing the cached
  * signature for refresh next cycle.
  *
  * The in-process [[PlanetScaleLogs.Endpoint]] enforces the service
  * token on the API paths and VERIFIES sig+exp on the logs path the
  * way PlanetScale's log edge does (unknown/expired signatures are
  * 403), so a gate-green download proves the whole chain. */
object PlanetScaleLogs {

  val DefaultQuery = "planetscale.component:postgres planetscale.role:primary"
  val MaxLogParsingSize: Int = 10 * 1024 * 1024
  val PageSize = 1000

  final case class HttpError(statusCode: Int, body: String)
      extends Exception(
        if (body.nonEmpty) s"HTTP $statusCode: $body" else s"HTTP $statusCode")

  final case class LogEntry(time: String, msg: String, component: String,
      role: String, pod: String)

  /** The persisted per-server state (`state.PlanetScaleLogState`):
    * branch id cached forever, signature until expiry, last timestamp
    * as the resume point. */
  final case class PsState(branchId: String = "", signature: String = "",
      expiry: Long = 0L, lastTimestamp: String = "")

  /** (method, url, headers) → (status, body). */
  type Http = (String, String, Map[String, String]) => (Int, String)

  val httpDo: Http = (method, url, headers) => {
    val conn = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    try {
      conn.setRequestMethod(method)
      headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
      if (method == "POST") { conn.setDoOutput(true); conn.getOutputStream.close() }
      val code = conn.getResponseCode
      val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val body = if (is == null) ""
        else try new String(is.readAllBytes(), UTF_8) finally is.close()
      (code, body)
    } finally conn.disconnect()
  }

  final class Client(apiUrl: String, logsUrl: String, tokenId: String,
      tokenSecret: String, http: Http = httpDo) {

    private val mapper = new ObjectMapper()
    private def authHeaders = Map(
      "Authorization" -> s"$tokenId:$tokenSecret",
      "Accept" -> "application/json")

    /** `GetBranchID` (`logs.go:298-332`). */
    def getBranchId(org: String, database: String,
        branch: String): Either[HttpError, String] = {
      val (st, body) = http("GET",
        s"$apiUrl/v1/organizations/$org/databases/$database/branches/$branch",
        authHeaders)
      if (st != 200) Left(HttpError(st, body))
      else Right(mapper.readTree(body).get("id").asText(""))
    }

    /** `GetSignature` (`logs.go:334-372`); `exp` arrives as a string. */
    def getSignature(org: String, database: String,
        branch: String): Either[HttpError, (String, Long)] = {
      val (st, body) = http("POST",
        s"$apiUrl/v1/organizations/$org/databases/$database/branches/$branch/logs/signatures",
        authHeaders)
      if (st != 200) Left(HttpError(st, body))
      else {
        val n = mapper.readTree(body)
        Right((n.get("sig").asText(""), n.get("exp").asText("0").toLong))
      }
    }

    /** `QueryLogs` (`logs.go:374-426`): one NDJSON page. Unparseable
      * lines are skipped but COUNTED — the reference surfaces parse
      * errors, so a malformed page must not vanish silently; the count
      * rides the page like W7's DISCARDED channel. */
    def queryLogs(branchId: String, sig: String, expiry: Long,
        since: String, limit: Int): Either[HttpError, Page] = {
      val query = new StringBuilder(DefaultQuery)
      if (since.nonEmpty) query ++= s" _time:>$since"
      query ++= " | sort by (_time)"
      val enc = (s: String) => java.net.URLEncoder.encode(s, "UTF-8")
      val url = s"$logsUrl/logs/branch/$branchId/query?" +
        s"sig=${enc(sig)}&exp=$expiry&query=${enc(query.toString)}&limit=$limit"
      val (st, body) = http("GET", url, Map.empty)
      if (st != 200) Left(HttpError(st, body))
      else {
        var discarded = 0
        val entries = body.linesIterator.filter(_.nonEmpty).flatMap { line =>
          try {
            val n = mapper.readTree(line)
            if (n == null || !n.isObject) { discarded += 1; None }
            else {
              def f(k: String) = Option(n.get(k)).map(_.asText("")).getOrElse("")
              Some(LogEntry(f("_time"), f("_msg"),
                f("planetscale.component"), f("planetscale.role"),
                f("planetscale.pod")))
            }
          } catch { case _: Exception => discarded += 1; None }
        }.toSeq
        Right(Page(entries, discarded))
      }
    }
  }

  /** One NDJSON page: the parsed entries plus the count of lines the
    * parser had to drop (malformed JSON / non-object lines). */
  final case class Page(entries: Seq[LogEntry], discarded: Int)

  final case class Download(state: PsState, content: String, pages: Int,
      discarded: Int = 0)

  /** `DownloadLogFiles` (`logs.go:140-296`): branch-id cache,
    * signature refresh on expiry, the 2-minute recency floor on the
    * resume point, page loop advancing `since` to the newest `_time`
    * until a short page, per-message trailing-cap logic, messages
    * newline-terminated, 403 clearing the cached signature. */
  def downloadLogFiles(client: Client, st0: PsState, org: String,
      database: String, branch: String, nowEpochSecs: Long,
      linesNewerThan: String, maxParse: Int = MaxLogParsingSize,
      pageSize: Int = PageSize): Either[(String, PsState), Download] = {
    var st = st0
    if (st.branchId.isEmpty) {
      client.getBranchId(org, database, branch) match {
        case Left(e) =>
          return Left((s"failed to get branch ID: ${e.getMessage}", st))
        case Right(id) => st = st.copy(branchId = id)
      }
    }
    if (st.signature.isEmpty || st.expiry <= nowEpochSecs) {
      client.getSignature(org, database, branch) match {
        case Left(e) =>
          return Left((s"failed to get signature: ${e.getMessage}", st))
        case Right((sig, exp)) => st = st.copy(signature = sig, expiry = exp)
      }
    }
    var since = st.lastTimestamp
    if (since < linesNewerThan) since = linesNewerThan
    // trailing-maxParse accumulator: a deque of whole messages plus a
    // char offset into the oldest one — byte-identical to keeping the
    // last maxParse chars, but trimming is amortized O(total bytes). A
    // StringBuilder.delete(0, overflow) here shifted the whole capped
    // buffer per entry once the cap was reached — O(n·cap) memmove,
    // measured 80 s of the 81.6 s sf10 wall of s37_planetscale_live.
    val tail = scala.collection.mutable.ArrayDeque.empty[String]
    var tailChars = 0L // live chars = tailChars - headDrop
    var headDrop = 0L  // chars already trimmed off tail.head
    def appendCapped(msg: String): Unit = {
      if (msg.length > maxParse) {
        tail.clear(); tailChars = 0L; headDrop = 0L
        tail += msg.substring(msg.length - maxParse)
        tailChars = maxParse.toLong
      } else {
        tail += msg
        tailChars += msg.length
        var need = tailChars - headDrop - maxParse
        while (need > 0) {
          val headLive = tail.head.length - headDrop
          if (headLive <= need) {
            tailChars -= tail.head.length
            tail.removeHead()
            headDrop = 0L
            need -= headLive
          } else { headDrop += need; need = 0L }
        }
      }
    }
    var newest = ""
    var pages = 0
    var discarded = 0
    var done = false
    while (!done) {
      client.queryLogs(st.branchId, st.signature, st.expiry, since,
          pageSize) match {
        case Left(e) =>
          // a 403 clears the cached signature for refresh next cycle
          if (e.statusCode == 403)
            st = st.copy(signature = "", expiry = 0L)
          return Left((s"failed to query logs: ${e.getMessage}", st))
        case Right(Page(entries, pageDiscarded)) =>
          pages += 1
          discarded += pageDiscarded
          entries.foreach { e =>
            val msg = if (e.msg.endsWith("\n")) e.msg else e.msg + "\n"
            appendCapped(msg)
            if (e.time > newest) newest = e.time
          }
          if (entries.length < pageSize || newest == since) done = true
          else since = newest
      }
    }
    val content = new StringBuilder
    tail.zipWithIndex.foreach { case (m, i) =>
      if (i == 0) content ++= m.substring(headDrop.toInt) else content ++= m
    }
    val st1 = if (newest.nonEmpty) st.copy(lastTimestamp = newest) else st
    Right(Download(st1, content.toString, pages, discarded))
  }

  // ------------------------------------------------------- the endpoint

  /** In-process PlanetScale API + logs edge: the API paths check the
    * service token, the signatures endpoint mints (sig, exp) pairs it
    * remembers, and the logs path serves only requests whose sig was
    * minted AND whose exp is in the future — 403 otherwise, like the
    * real log edge. Entries are (timeRfc3339, msg) pairs, selector-
    * filtered, `_time:>` filtered, sorted, limited. */
  /** Emulator-side entry store: pages (timestamp, message) entries
    * newer than a cursor. [[EntrySource.Mem]] is the small-fixture
    * form; [[EntrySource.Spool]] streams page windows off a
    * pre-sorted tab-separated disk file, so the emulator's corpus
    * never sits in a driver collection (r10 verdict, wrong #2). */
  sealed trait EntrySource {
    def page(since: String, limit: Int): Seq[(String, String)]
  }
  object EntrySource {
    final case class Mem(entries: Seq[(String, String)]) extends EntrySource {
      def page(since: String, limit: Int): Seq[(String, String)] =
        entries.filter(_._1 > since).sortBy(_._1).take(limit)
    }
    /** `path` holds `timestamp<TAB>message` lines sorted by timestamp
      * (timestamps never contain tabs; the split is at the first). */
    final case class Spool(path: java.nio.file.Path) extends EntrySource {
      def page(since: String, limit: Int): Seq[(String, String)] = {
        val in = java.nio.file.Files.newBufferedReader(path)
        try {
          val out = Seq.newBuilder[(String, String)]
          var taken = 0
          var line = in.readLine()
          while (line != null && taken < limit) {
            val cut = line.indexOf('\t')
            val t = if (cut < 0) line else line.substring(0, cut)
            if (t > since) {
              out += ((t, if (cut < 0) "" else line.substring(cut + 1)))
              taken += 1
            }
            line = in.readLine()
          }
          out.result()
        } finally in.close()
      }
    }
  }

  final class Endpoint(tokenId: String, tokenSecret: String, org: String,
      database: String, branch: String, branchId: String,
      entries: EntrySource,
      nowEpochSecs: () => Long = () => 1700000000L,
      sigTtlSecs: Long = 3600L) {

    private val mapper = new ObjectMapper()
    private var sigCounter = 0
    private val minted = scala.collection.mutable.Map.empty[String, Long]
    var branchCalls = 0
    var signatureCalls = 0

    private val server = LocalHttp.server()
    val port: Int = server.getAddress.getPort
    val url: String = s"http://127.0.0.1:$port"

    server.createContext("/", (ex: HttpExchange) => {
      def respond(code: Int, text: String): Unit = {
        val b = text.getBytes(UTF_8)
        ex.sendResponseHeaders(code, if (b.isEmpty) -1L else b.length.toLong)
        if (b.nonEmpty) ex.getResponseBody.write(b)
        ex.close()
      }
      val path = ex.getRequestURI.getPath
      val auth = Option(ex.getRequestHeaders.getFirst("Authorization"))
        .getOrElse("")
      val apiBase = s"/v1/organizations/$org/databases/$database/branches/$branch"
      if (path == apiBase || path == s"$apiBase/logs/signatures") {
        if (auth != s"$tokenId:$tokenSecret") respond(401, "unauthorized")
        else if (path == apiBase) {
          this.synchronized { branchCalls += 1 }
          respond(200, s"""{"id":"$branchId","name":"$branch"}""")
        } else {
          val (sig, exp) = this.synchronized {
            signatureCalls += 1
            sigCounter += 1
            val s = s"ps-sig-$sigCounter"
            val e = nowEpochSecs() + sigTtlSecs
            minted(s) = e
            (s, e)
          }
          respond(200, s"""{"sig":"$sig","exp":"$exp"}""")
        }
      } else if (path == s"/logs/branch/$branchId/query") {
        val params = Option(ex.getRequestURI.getRawQuery).getOrElse("")
          .split("&").toSeq.map(_.split("=", 2))
          .map(a => java.net.URLDecoder.decode(a(0), "UTF-8") ->
            (if (a.length > 1) java.net.URLDecoder.decode(a(1), "UTF-8")
             else "")).toMap
        val sig = params.getOrElse("sig", "")
        val exp = params.getOrElse("exp", "0").toLong
        val valid = this.synchronized {
          minted.get(sig).contains(exp) && exp > nowEpochSecs()
        }
        if (!valid) respond(403, "signature invalid or expired")
        else {
          val q = params.getOrElse("query", "")
          if (!q.startsWith(DefaultQuery)) respond(400, "bad selector")
          else {
            val since = " _time:>([^ ]+)".r.findFirstMatchIn(q)
              .map(_.group(1)).getOrElse("")
            val limit = params.getOrElse("limit", "1000").toInt
            val page = entries.page(since, limit)
            val body = page.map { case (t, m) =>
              val n = mapper.createObjectNode()
              n.put("_time", t)
              n.put("_stream_id", "st-1")
              n.put("_msg", m)
              n.put("planetscale.component", "postgres")
              n.put("planetscale.role", "primary")
              n.put("planetscale.pod", "pg-primary-0")
              mapper.writeValueAsString(n)
            }.mkString("\n")
            respond(200, body)
          }
        }
      } else respond(404, "not found")
    })
    server.start()

    def stop(): Unit = server.stop(0)
  }
}
