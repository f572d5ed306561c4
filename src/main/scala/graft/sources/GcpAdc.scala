package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.HttpExchange

import graft.LocalHttp

/** GCP Application Default Credentials — the discovery strategy the
  * google SDK runs when the reference passes no explicit key file
  * (`input/system/google_cloudsql/logs.go:51-57` — "No GCP credentials
  * file provided; assuming GKE workload identity or VM-associated
  * service account"). The PUBLIC ADC order:
  *
  *  1. `GOOGLE_APPLICATION_CREDENTIALS` — path to a credential JSON;
  *  2. the gcloud well-known file
  *     (`$CLOUDSDK_CONFIG/application_default_credentials.json`, else
  *     `$HOME/.config/gcloud/application_default_credentials.json`);
  *  3. the GCE/GKE metadata server:
  *     `GET /computeMetadata/v1/instance/service-accounts/default/token`
  *     with `Metadata-Flavor: Google` (the VM-associated service
  *     account), fail-fast when not on GCP.
  *
  * Credential JSONs dispatch on `type`: `service_account` runs the
  * RFC 7523 JWT-bearer grant ([[GcpOAuth.TokenFetcher]]);
  * `authorized_user` (what `gcloud auth application-default login`
  * writes) runs the OAuth2 `refresh_token` grant. Either way the
  * result is a cached bearer supplier pluggable into
  * [[PubSubPull.Puller]]. */
object GcpAdc {

  private val mapper = new ObjectMapper()

  /** A resolved credential: where it came from (for the reference's
    * verbose logging surface) and a refreshing bearer supplier. */
  final case class Resolved(origin: String,
      bearer: () => Either[String, String])

  /** The gcloud config dir rule: `CLOUDSDK_CONFIG` overrides
    * `$HOME/.config/gcloud`. */
  def wellKnownPath(env: Map[String, String], home: String): String =
    env.get("CLOUDSDK_CONFIG").filter(_.nonEmpty)
      .getOrElse(s"$home/.config/gcloud") +
      "/application_default_credentials.json"

  /** OAuth2 `refresh_token` grant with the same cache/refresh contract
    * as [[GcpOAuth.TokenFetcher]] (60 s expiry skew). */
  final class UserTokenFetcher(
      tokenUri: String,
      clientId: String,
      clientSecret: String,
      refreshToken: String,
      now: () => Long = () => System.currentTimeMillis() / 1000L,
      post: (String, String) => (Int, String) = GcpOAuth.postForm) {

    private var cached: Option[(String, Long)] = None

    def bearer(): Either[String, String] = cached match {
      case Some((tok, until)) if until - 60 > now() => Right(tok)
      case _ =>
        def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
        val body = s"grant_type=refresh_token&refresh_token=${enc(refreshToken)}" +
          s"&client_id=${enc(clientId)}&client_secret=${enc(clientSecret)}"
        val (st, resp) = post(tokenUri, body)
        if (st != 200) Left(s"refresh grant failed: HTTP $st $resp")
        else {
          val root = mapper.readTree(resp)
          val tok = root.path("access_token").asText("")
          val ttl = root.path("expires_in").asLong(0L)
          if (tok.isEmpty) Left(s"refresh grant returned no token: $resp")
          else { cached = Some((tok, now() + ttl)); Right(tok) }
        }
    }
  }

  /** Credential-JSON dispatch on `type` (the two formats ADC loads
    * from files). `scope` applies to the service-account grant. */
  def fromCredentialJson(json: String, scope: String,
      now: () => Long = () => System.currentTimeMillis() / 1000L,
      post: Option[(String, String) => (Int, String)] = None)
      : Either[String, Resolved] = {
    val typ =
      try mapper.readTree(json).path("type").asText("")
      catch { case e: Exception => return Left(s"bad credential JSON: ${e.getMessage}") }
    typ match {
      case "service_account" =>
        GcpOAuth.parseServiceAccountJson(json).map { case (email, uri, key) =>
          val f = post match {
            case Some(p) => new GcpOAuth.TokenFetcher(uri, email, scope, key,
              now = now, post = p)
            case None => new GcpOAuth.TokenFetcher(uri, email, scope, key,
              now = now)
          }
          Resolved("service_account", () => f.bearer())
        }
      case "authorized_user" =>
        val root = mapper.readTree(json)
        def f(k: String): String = root.path(k).asText("")
        if (f("client_id").isEmpty || f("client_secret").isEmpty ||
            f("refresh_token").isEmpty)
          Left("authorized_user file missing client_id/client_secret/refresh_token")
        else {
          val uri = if (f("token_uri").nonEmpty) f("token_uri")
            else "https://oauth2.googleapis.com/token"
          val fetcher = post match {
            case Some(p) => new UserTokenFetcher(uri, f("client_id"),
              f("client_secret"), f("refresh_token"), now = now, post = p)
            case None => new UserTokenFetcher(uri, f("client_id"),
              f("client_secret"), f("refresh_token"), now = now)
          }
          Right(Resolved("authorized_user", () => fetcher.bearer()))
        }
      case other => Left(s"unsupported credential type: '$other'")
    }
  }

  /** Metadata-server token client (the VM-associated service account),
    * with the fail-fast timeout posture of [[AwsImds.Client]]. */
  final class MetadataClient(baseUrl: String, timeoutMs: Int = 1000,
      now: () => Long = () => System.currentTimeMillis() / 1000L) {

    private var cached: Option[(String, Long)] = None

    def fetch(): Either[String, (String, Long)] =
      try {
        val conn = new java.net.URL(baseUrl.stripSuffix("/") +
          "/computeMetadata/v1/instance/service-accounts/default/token")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setConnectTimeout(timeoutMs)
        conn.setReadTimeout(timeoutMs)
        conn.setRequestProperty("Metadata-Flavor", "Google")
        val st = conn.getResponseCode
        val is = if (st >= 400) conn.getErrorStream else conn.getInputStream
        val body = if (is == null) ""
          else try new String(is.readAllBytes(), UTF_8) finally is.close()
        if (st != 200) Left(s"metadata server HTTP $st: $body")
        else {
          val root = mapper.readTree(body)
          val tok = root.path("access_token").asText("")
          if (tok.isEmpty) Left(s"metadata token response empty: $body")
          else Right((tok, root.path("expires_in").asLong(0L)))
        }
      } catch { case e: Exception =>
        Left(s"metadata server unreachable: ${e.getMessage}")
      }

    def bearer(): Either[String, String] = cached match {
      case Some((tok, until)) if until - 60 > now() => Right(tok)
      case _ => fetch().map { case (tok, ttl) =>
        cached = Some((tok, now() + ttl)); tok
      }
    }
  }

  /** The ADC resolution order, driven by injected env/file readers so
    * entries and specs pin every arm. The metadata arm is only probed
    * when both file arms miss — and its client fails fast off-GCP. */
  def discover(env: Map[String, String],
      readFile: String => Option[String],
      home: String,
      scope: String,
      metadata: Option[MetadataClient] = None,
      now: () => Long = () => System.currentTimeMillis() / 1000L,
      post: Option[(String, String) => (Int, String)] = None)
      : Either[String, Resolved] = {
    val explicit = env.get("GOOGLE_APPLICATION_CREDENTIALS").filter(_.nonEmpty)
    explicit match {
      case Some(path) =>
        // an explicit path that does not load is an ERROR, not a
        // fall-through (the SDK surfaces it the same way)
        readFile(path)
          .toRight(s"GOOGLE_APPLICATION_CREDENTIALS file not readable: $path")
          .flatMap(fromCredentialJson(_, scope, now, post))
          .map(r => r.copy(origin = s"env:${r.origin}"))
      case None =>
        readFile(wellKnownPath(env, home)) match {
          case Some(json) =>
            fromCredentialJson(json, scope, now, post)
              .map(r => r.copy(origin = s"well_known:${r.origin}"))
          case None =>
            metadata.flatMap { m =>
              m.fetch().toOption.map(_ =>
                Resolved("metadata", () => m.bearer()))
            }.toRight("no ADC credentials found (no env var, no " +
              "well-known file, metadata server unreachable)")
        }
    }
  }

  /** In-process GCE metadata double: the `Metadata-Flavor: Google`
    * header is REQUIRED (403 without — the real server's SSRF guard);
    * issued tokens are recorded for resource-server introspection. */
  final class MetadataEndpoint(expiresInSecs: Long = 3600L) {
    private val issuedTokens = scala.collection.mutable.Set.empty[String]
    private var counter = 0
    @volatile var tokenRequests = 0

    private val server = LocalHttp.server()
    val port: Int = server.getAddress.getPort
    val url: String = s"http://127.0.0.1:$port"

    server.createContext(
      "/computeMetadata/v1/instance/service-accounts/default/token",
      (ex: HttpExchange) => {
        def respond(code: Int, text: String): Unit = {
          val b = text.getBytes(UTF_8)
          ex.sendResponseHeaders(code, b.length.toLong)
          ex.getResponseBody.write(b)
          ex.close()
        }
        synchronized { tokenRequests += 1 }
        if (Option(ex.getRequestHeaders.getFirst("Metadata-Flavor"))
            .getOrElse("") != "Google")
          respond(403, "Missing Metadata-Flavor:Google header.")
        else synchronized {
          counter += 1
          val tok = s"graft-gce-tok-$counter"
          issuedTokens += tok
          respond(200, s"""{"access_token":"$tok","expires_in":$expiresInSecs,"token_type":"Bearer"}""")
        }
      })
    server.start()

    def isValid(token: String): Boolean =
      synchronized(issuedTokens.contains(token))
    def stop(): Unit = server.stop(0)
  }
}
