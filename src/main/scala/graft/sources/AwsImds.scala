package graft.sources

import java.io.ByteArrayOutputStream
import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.HttpExchange

import graft.LocalHttp

/** EC2 Instance Metadata Service v2 — the last arm of the SDK default
  * credential chain `GetAwsConfig` relies on
  * (`util/awsutil/amazon.go:62-69`, which pins a DEDICATED 1 s-timeout
  * HTTP client per `config/read.go:521-527` so a collector that is NOT
  * on EC2 fails fast instead of hanging the general client).
  *
  * The protocol is the public IMDSv2 flow:
  *
  *  1. `PUT /latest/api/token` with `X-aws-ec2-metadata-token-ttl-
  *     seconds` → a session token (v2 REQUIRES this hop; the
  *     reference's SDK sends it first and falls back only on explicit
  *     v1 opt-in, which we do not implement);
  *  2. `GET /latest/meta-data/iam/security-credentials/` with
  *     `X-aws-ec2-metadata-token` → the attached instance-role name
  *     (first line);
  *  3. `GET /latest/meta-data/iam/security-credentials/{role}` → a
  *     JSON document with `AccessKeyId` / `SecretAccessKey` / `Token`
  *     / `Expiration`.
  *
  * [[AwsImds.Client.credentials]] is the pluggable
  * `imds: () => Option[Creds]` arm of
  * [[AwsCredentials.defaultChain]]: ANY failure (connect refused,
  * timeout, missing role) resolves to `None` so the chain reports
  * "no EC2 IMDS role found" exactly like the SDK off-EC2. The
  * in-process [[AwsImds.Endpoint]] enforces v2 semantics: metadata
  * GETs without a valid session token are 401, token PUTs without the
  * TTL header are 400. */
object AwsImds {

  import AwsCredentials.Creds

  private val mapper = new ObjectMapper()

  /** Parse the `iam/security-credentials/{role}` JSON document. */
  def parseSecurityCredentials(json: String): Either[String, Creds] =
    try {
      val n = mapper.readTree(json)
      if (n.path("Code").asText("") != "Success")
        Left(s"IMDS credential document not Success: $json")
      else {
        val c = Creds(n.path("AccessKeyId").asText(""),
          n.path("SecretAccessKey").asText(""),
          n.path("Token").asText(""))
        if (c.accessKeyId.isEmpty || c.secretAccessKey.isEmpty)
          Left(s"incomplete IMDS credential document: $json")
        else Right(c)
      }
    } catch { case e: Exception => Left(s"bad IMDS JSON: ${e.getMessage}") }

  /** IMDSv2 client with the reference's fail-fast timeout
    * (`config/read.go:524-526` — 1 s, matching aws-sdk-go#3066). */
  final class Client(baseUrl: String, timeoutMs: Int = 1000) {

    private def http(method: String, path: String,
        headers: Map[String, String]): Either[String, (Int, String)] =
      try {
        val conn = new URL(baseUrl.stripSuffix("/") + path)
          .openConnection().asInstanceOf[HttpURLConnection]
        conn.setConnectTimeout(timeoutMs)
        conn.setReadTimeout(timeoutMs)
        conn.setRequestMethod(method)
        headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
        if (method == "PUT") { conn.setDoOutput(true); conn.getOutputStream.close() }
        val st = conn.getResponseCode
        val is = if (st >= 400) conn.getErrorStream else conn.getInputStream
        val out = new ByteArrayOutputStream()
        if (is != null) {
          val buf = new Array[Byte](8192)
          var n = is.read(buf)
          while (n >= 0) { out.write(buf, 0, n); n = is.read(buf) }
          is.close()
        }
        Right((st, new String(out.toByteArray, UTF_8)))
      } catch { case e: Exception => Left(s"IMDS unreachable: ${e.getMessage}") }

    def fetchToken(ttlSeconds: Int = 21600): Either[String, String] =
      http("PUT", "/latest/api/token",
        Map("X-aws-ec2-metadata-token-ttl-seconds" -> ttlSeconds.toString))
        .flatMap {
          case (200, tok) if tok.nonEmpty => Right(tok)
          case (st, body) => Left(s"IMDS token HTTP $st: $body")
        }

    private def metaGet(token: String, path: String): Either[String, String] =
      http("GET", path, Map("X-aws-ec2-metadata-token" -> token)).flatMap {
        case (200, body) => Right(body)
        case (st, body) => Left(s"IMDS HTTP $st at $path: $body")
      }

    /** The attached instance role (first line of the listing). */
    def roleName(token: String): Either[String, String] =
      metaGet(token, "/latest/meta-data/iam/security-credentials/")
        .flatMap { body =>
          body.linesIterator.find(_.nonEmpty)
            .toRight("no IAM role attached to instance")
        }

    def roleCredentials(token: String, role: String): Either[String, Creds] =
      metaGet(token, s"/latest/meta-data/iam/security-credentials/$role")
        .flatMap(parseSecurityCredentials)

    /** The full token → role → credentials hop as a default-chain arm:
      * `None` on ANY failure (fail fast off-EC2, `amazon.go:61-63`). */
    def credentials(): Option[Creds] =
      (for {
        tok <- fetchToken()
        role <- roleName(tok)
        creds <- roleCredentials(tok, role)
      } yield creds).toOption
  }

  /** In-process IMDSv2 double: v2-only (401 without a minted token),
    * TTL header required on the token hop (400 without), one attached
    * role whose temporary credentials carry a session token. */
  final class Endpoint(role: String, creds: Creds) {

    private var counter = 0
    private val minted = scala.collection.mutable.Set.empty[String]
    @volatile var tokenRequests = 0
    @volatile var credentialRequests = 0

    private val server = LocalHttp.server()
    val port: Int = server.getAddress.getPort
    val url: String = s"http://127.0.0.1:$port"

    private def respond(ex: HttpExchange, code: Int, text: String): Unit = {
      val b = text.getBytes(UTF_8)
      ex.sendResponseHeaders(code, if (b.isEmpty) -1L else b.length.toLong)
      if (b.nonEmpty) ex.getResponseBody.write(b)
      ex.close()
    }

    server.createContext("/", (ex: HttpExchange) => {
      val path = ex.getRequestURI.getPath
      val h = ex.getRequestHeaders
      (ex.getRequestMethod, path) match {
        case ("PUT", "/latest/api/token") =>
          synchronized { tokenRequests += 1 }
          val ttl = Option(h.getFirst("X-aws-ec2-metadata-token-ttl-seconds"))
          if (ttl.forall(t => t.isEmpty || t.toIntOption.isEmpty))
            respond(ex, 400, "missing or bad token TTL header")
          else synchronized {
            counter += 1
            val tok = s"graft-imds-token-$counter"
            minted += tok
            respond(ex, 200, tok)
          }
        case ("GET", p) if p.startsWith("/latest/meta-data/") =>
          val tok = Option(h.getFirst("X-aws-ec2-metadata-token")).getOrElse("")
          if (!synchronized(minted.contains(tok)))
            respond(ex, 401, "IMDSv2 session token required")
          else if (p == "/latest/meta-data/iam/security-credentials/")
            respond(ex, 200, role + "\n")
          else if (p == s"/latest/meta-data/iam/security-credentials/$role") {
            synchronized { credentialRequests += 1 }
            respond(ex, 200,
              s"""{"Code":"Success","LastUpdated":"2026-01-01T00:00:00Z",
                 |"Type":"AWS-HMAC","AccessKeyId":"${creds.accessKeyId}",
                 |"SecretAccessKey":"${creds.secretAccessKey}",
                 |"Token":"${creds.sessionToken}",
                 |"Expiration":"2026-01-02T00:00:00Z"}""".stripMargin)
          } else respond(ex, 404, "not found")
        case _ => respond(ex, 405, "method not allowed")
      }
    })
    server.start()

    def stop(): Unit = server.stop(0)
  }
}
