package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.security.{MessageDigest, PrivateKey, Signature}
import java.security.cert.{CertificateFactory, X509Certificate}
import java.util.Base64

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.HttpExchange
import java.io.ByteArrayOutputStream

import graft.LocalHttp

/** Azure AD (Entra) token acquisition — the credential selection and
  * OAuth2 protocols behind `getAzureCredential`
  * (`input/system/azure/logs.go:66-120`), re-expressed over the
  * public Microsoft identity platform wire formats:
  *
  *  - client secret → the OAuth2 client-credentials grant (form POST
  *    to `/{tenant}/oauth2/v2.0/token`);
  *  - client certificate → the same grant with a `private_key_jwt`
  *    client assertion (RFC 7523; RS256, `x5t#S256` thumbprint
  *    header, iss = sub = client id, aud = the token endpoint);
  *  - otherwise the chained credential: workload identity first, then
  *    managed identity (both environment-backed, injected here), with
  *    the reference's aggregated error surface.
  *
  * The in-process [[AzureAad.TokenEndpoint]] validates exactly what
  * AAD validates (tenant path, client id, secret match or assertion
  * signature against the REGISTERED certificate) and mints bearer
  * tokens the Event Hub broker can require. */
object AzureAad {

  private val mapper = new ObjectMapper()
  private def b64url(b: Array[Byte]): String =
    Base64.getUrlEncoder.withoutPadding().encodeToString(b)

  /** A source of bearer tokens (azcore.TokenCredential). */
  type TokenSource = () => Either[String, String]

  // ----------------------------------------------------- PEM parsing

  /** PEM `CERTIFICATE` + PKCS#8 `PRIVATE KEY` blocks (the format
    * azidentity.ParseCertificates accepts for unencrypted input). */
  def parsePemCertAndKey(pem: String): Either[String, (X509Certificate, PrivateKey)] =
    try {
      def block(tag: String): Option[Array[Byte]] = {
        val m = s"-----BEGIN $tag-----([A-Za-z0-9+/=\\s]+)-----END $tag-----".r
        m.findFirstMatchIn(pem).map(g =>
          Base64.getMimeDecoder.decode(g.group(1)))
      }
      val cert = block("CERTIFICATE").toRight("no CERTIFICATE block")
      val key = block("PRIVATE KEY").toRight("no PRIVATE KEY block")
      for {
        c <- cert
        k <- key
      } yield {
        val x509 = CertificateFactory.getInstance("X.509")
          .generateCertificate(new java.io.ByteArrayInputStream(c))
          .asInstanceOf[X509Certificate]
        val priv = java.security.KeyFactory.getInstance("RSA")
          .generatePrivate(new java.security.spec.PKCS8EncodedKeySpec(k))
        (x509, priv)
      }
    } catch { case e: Exception =>
      Left(s"could not parse Azure AD certificate: ${e.getMessage}")
    }

  // ------------------------------------------------ client assertion

  /** The certificate credential's `private_key_jwt` client assertion:
    * RS256 over header `{alg, typ, x5t#S256}` and claims
    * `{iss, sub, aud, iat, exp, jti}`. */
  def clientAssertion(clientId: String, tokenUrl: String,
      cert: X509Certificate, key: PrivateKey, nowSecs: Long,
      jti: String = "graft-jti"): String = {
    val thumb = b64url(MessageDigest.getInstance("SHA-256")
      .digest(cert.getEncoded))
    val header = b64url(
      s"""{"alg":"RS256","typ":"JWT","x5t#S256":"$thumb"}""".getBytes(UTF_8))
    val claims = b64url(
      (s"""{"iss":"$clientId","sub":"$clientId","aud":"$tokenUrl",""" +
        s""""iat":$nowSecs,"exp":${nowSecs + 600},"jti":"$jti"}""")
        .getBytes(UTF_8))
    val signingInput = s"$header.$claims"
    val sig = Signature.getInstance("SHA256withRSA")
    sig.initSign(key)
    sig.update(signingInput.getBytes(UTF_8))
    s"$signingInput.${b64url(sig.sign())}"
  }

  // -------------------------------------------------- token fetchers

  /** Client-credentials token source with refresh-before-expiry
    * (60 s skew, like [[GcpOAuth.TokenFetcher]]). `assertion`
    * non-empty switches the grant to the certificate flow. */
  final class TokenFetcher(tokenUrl: String, clientId: String,
      scope: String,
      clientSecret: String = "",
      assertion: () => String = () => "",
      now: () => Long = () => System.currentTimeMillis() / 1000L,
      post: (String, String) => (Int, String) = postForm) {

    private var cached: Option[(String, Long)] = None

    def bearer(): Either[String, String] = cached match {
      case Some((tok, until)) if until - 60 > now() => Right(tok)
      case _ =>
        val enc = (s: String) => java.net.URLEncoder.encode(s, "UTF-8")
        val base = s"grant_type=client_credentials&client_id=${enc(clientId)}" +
          s"&scope=${enc(scope)}"
        val body =
          if (clientSecret.nonEmpty) s"$base&client_secret=${enc(clientSecret)}"
          else base +
            "&client_assertion_type=" +
            enc("urn:ietf:params:oauth:client-assertion-type:jwt-bearer") +
            s"&client_assertion=${enc(assertion())}"
        val (st, resp) = post(tokenUrl, body)
        if (st != 200) Left(s"token request failed: HTTP $st $resp")
        else {
          val root = mapper.readTree(resp)
          val tok = Option(root.get("access_token")).map(_.asText(""))
            .getOrElse("")
          val ttl = Option(root.get("expires_in")).map(_.asLong(0L))
            .getOrElse(0L)
          if (tok.isEmpty) Left(s"token response had no access_token: $resp")
          else { cached = Some((tok, now() + ttl)); Right(tok) }
        }
    }
  }

  private def postForm(url: String, body: String): (Int, String) = {
    val conn = new java.net.URL(url).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    try {
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type",
        "application/x-www-form-urlencoded")
      conn.getOutputStream.write(body.getBytes(UTF_8))
      conn.getOutputStream.close()
      val code = conn.getResponseCode
      val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val resp = if (is == null) ""
        else try new String(is.readAllBytes(), UTF_8) finally is.close()
      (code, resp)
    } finally conn.disconnect()
  }

  // ------------------------------------------------- credential chain

  /** `getAzureCredential` (`logs.go:66-120`): client secret wins, then
    * certificate path, then the workload-identity → managed-identity
    * chain with the aggregated error format. The certificate file
    * content and the two environment-backed credentials are
    * injected. */
  def credentialChain(
      adTenantId: String, adClientId: String, adClientSecret: String,
      adCertificatePath: String,
      readFile: String => Either[String, String],
      secretSource: (String, String, String) => Either[String, TokenSource],
      certSource: (String, String, X509Certificate, PrivateKey) => Either[String, TokenSource],
      workloadIdentity: () => Either[String, TokenSource],
      managedIdentity: Option[String] => Either[String, TokenSource])
      : Either[String, TokenSource] =
    if (adClientSecret.nonEmpty)
      secretSource(adTenantId, adClientId, adClientSecret).left.map(e =>
        s"failed to set up client secret Azure credentials: $e")
    else if (adCertificatePath.nonEmpty)
      for {
        data <- readFile(adCertificatePath).left.map(e =>
          s"could not read Azure AD certificate at path $adCertificatePath: $e")
        parsed <- parsePemCertAndKey(data).left.map(e =>
          s"could not parse Azure AD certificate: $e")
        src <- certSource(adTenantId, adClientId, parsed._1, parsed._2)
          .left.map(e =>
            s"failed to set up client secret Azure credentials: $e")
      } yield src
    else {
      val errs = scala.collection.mutable.ArrayBuffer[String]()
      val sources = scala.collection.mutable.ArrayBuffer[TokenSource]()
      workloadIdentity() match {
        case Right(s) => sources += s
        case Left(e) => errs += s"WorkloadIdentityCredential: $e"
      }
      managedIdentity(Option(adClientId).filter(_.nonEmpty)) match {
        case Right(s) => sources += s
        case Left(e) => errs += s"ManagedIdentityCredential: $e"
      }
      if (sources.isEmpty)
        Left("failed to set up Azure credentials:\n\t" +
          errs.mkString("\n\t"))
      else
        // chained credential: first source that yields a token wins
        Right(() => {
          var last: Either[String, String] = Left("no sources")
          val it = sources.iterator
          while (it.hasNext && last.isLeft) last = it.next()()
          last
        })
    }

  // ---------------------------------------------------- the AAD double

  /** In-process token endpoint for one (tenant, client): validates the
    * client-credentials grant — secret match, or assertion signature
    * against the registered certificate's public key + audience +
    * expiry — and mints bearer tokens. Path shape is
    * `/{tenant}/oauth2/v2.0/token`. */
  final class TokenEndpoint(tenantId: String, clientId: String,
      clientSecret: String = "",
      certificate: Option[X509Certificate] = None,
      nowSecs: () => Long = () => 1700000000L) {

    private var counter = 0
    private val issuedTokens = scala.collection.mutable.Set.empty[String]
    def isValid(token: String): Boolean = issuedTokens.synchronized {
      issuedTokens.contains(token)
    }

    private val server = LocalHttp.server()
    val port: Int = server.getAddress.getPort
    val tokenUrl: String =
      s"http://127.0.0.1:$port/$tenantId/oauth2/v2.0/token"

    server.createContext("/", (ex: HttpExchange) => {
      val out = new ByteArrayOutputStream()
      val is = ex.getRequestBody
      val buf = new Array[Byte](8192)
      var n = is.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = is.read(buf) }

      def respond(code: Int, text: String): Unit = {
        val b = text.getBytes(UTF_8)
        ex.sendResponseHeaders(code, if (b.isEmpty) -1L else b.length.toLong)
        if (b.nonEmpty) ex.getResponseBody.write(b)
        ex.close()
      }
      def err(code: String): Unit = respond(400, s"""{"error":"$code"}""")

      val params = new String(out.toByteArray, UTF_8).split("&").toSeq
        .map(_.split("=", 2))
        .map(a => java.net.URLDecoder.decode(a(0), "UTF-8") ->
          (if (a.length > 1) java.net.URLDecoder.decode(a(1), "UTF-8")
           else "")).toMap

      if (ex.getRequestURI.getPath != s"/$tenantId/oauth2/v2.0/token")
        err("invalid_tenant")
      else if (params.getOrElse("grant_type", "") != "client_credentials")
        err("unsupported_grant_type")
      else if (params.getOrElse("client_id", "") != clientId)
        err("unauthorized_client")
      else {
        val ok =
          if (clientSecret.nonEmpty)
            params.get("client_secret").contains(clientSecret)
          else certificate.exists { cert =>
            GcpOAuth.verifyJwt(params.getOrElse("client_assertion", ""),
              cert.getPublicKey, tokenUrl, nowSecs()).isRight
          }
        if (!ok) err("invalid_client")
        else {
          val tok = issuedTokens.synchronized {
            counter += 1
            val t = s"aad-token-$counter"
            issuedTokens += t
            t
          }
          respond(200,
            s"""{"token_type":"Bearer","expires_in":3599,"access_token":"$tok"}""")
        }
      }
    })
    server.start()

    def stop(): Unit = server.stop(0)
  }
}
