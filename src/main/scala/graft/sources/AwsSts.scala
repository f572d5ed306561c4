package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.HttpExchange

import javax.xml.parsers.DocumentBuilderFactory
import org.w3c.dom.Element

import graft.LocalHttp

/** AWS STS at the protocol level — the two temporary-credential
  * exchanges `GetAwsConfig` wires through `stscreds`
  * (`util/awsutil/amazon.go:85-103`), as signed query-protocol calls:
  *
  *  - `AssumeRole` — SigV4-signed with the CALLER's long-lived
  *    credentials; returns temporary (key id, secret, session token);
  *  - `AssumeRoleWithWebIdentity` — UNSIGNED (the identity is the
  *    OIDC JWT itself, which the service validates against the
  *    provider's public key).
  *
  * Responses are the public XML shapes
  * (`AssumeRoleResponse/AssumeRoleResult/Credentials/...`). The
  * in-process [[AwsSts.Endpoint]] verifies callers the way AWS does
  * (SigV4 recompute for AssumeRole, RS256 JWT verification for the
  * web-identity path — reusing [[GcpOAuth.verifyJwt]]'s checks) and
  * records every session token it issues so downstream service
  * doubles ([[RdsLogs.Endpoint]]) can refuse tokens STS never
  * minted. */
object AwsSts {

  val ApiVersion = "2011-06-15"

  import AwsCredentials.Creds

  private def formEncode(params: Seq[(String, String)]): String =
    params.map { case (k, v) =>
      AwsSigV4.uriEncode(k) + "=" + AwsSigV4.uriEncode(v)
    }.mkString("&")

  /** Extract `<Credentials>` from either response document. */
  def parseCredentials(xml: String): Either[String, Creds] =
    try {
      val doc = DocumentBuilderFactory.newInstance().newDocumentBuilder()
        .parse(new java.io.ByteArrayInputStream(xml.getBytes(UTF_8)))
      val creds = doc.getElementsByTagName("Credentials")
      if (creds.getLength == 0) Left(s"no Credentials element in: $xml")
      else {
        val el = creds.item(0).asInstanceOf[Element]
        def f(tag: String): String = {
          val n = el.getElementsByTagName(tag)
          if (n.getLength == 0) "" else n.item(0).getTextContent
        }
        val c = Creds(f("AccessKeyId"), f("SecretAccessKey"),
          f("SessionToken"))
        if (c.accessKeyId.isEmpty || c.secretAccessKey.isEmpty)
          Left(s"incomplete Credentials in: $xml")
        else Right(c)
      }
    } catch { case e: Exception => Left(s"bad STS XML: ${e.getMessage}") }

  /** Query-protocol STS client. Both actions POST form bodies to `/`;
    * only AssumeRole signs. */
  final class Client(endpoint: String, host: String, region: String,
      amzDate: () => String,
      post: RdsLogs.HttpP = RdsLogs.httpPost) {

    private def call(signing: Option[AwsSigV4.Credentials],
        sessionToken: String,
        params: Seq[(String, String)]): Either[String, Creds] = {
      val bytes = formEncode(params).getBytes(UTF_8)
      val date = amzDate()
      val base = Seq(
        "Host" -> host,
        "X-Amz-Date" -> date,
        "Content-Type" -> "application/x-www-form-urlencoded; charset=utf-8")
      val signedHeaders =
        if (sessionToken.nonEmpty)
          base :+ ("X-Amz-Security-Token" -> sessionToken)
        else base
      val headers = signing match {
        case Some(c) =>
          val auth = AwsSigV4.authorization(c, region, "sts", date,
            "POST", "/", Nil, signedHeaders, bytes)
          signedHeaders.toMap + ("Authorization" -> auth)
        case None => signedHeaders.toMap
      }
      val (st, resp) = post(endpoint, headers, bytes)
      if (st != 200) Left(s"STS HTTP $st: $resp")
      else parseCredentials(resp)
    }

    /** `AssumeRole`, signed by `caller` (session token forwarded when
      * the caller itself holds temporary credentials — role
      * chaining). */
    def assumeRole(caller: Creds, roleArn: String,
        roleSessionName: String): Either[String, Creds] =
      call(Some(caller.toSigV4), caller.sessionToken, Seq(
        "Action" -> "AssumeRole", "Version" -> ApiVersion,
        "RoleArn" -> roleArn, "RoleSessionName" -> roleSessionName))

    /** `AssumeRoleWithWebIdentity`, unsigned. */
    def assumeRoleWithWebIdentity(roleArn: String, roleSessionName: String,
        webIdentityToken: String): Either[String, Creds] =
      call(None, "", Seq(
        "Action" -> "AssumeRoleWithWebIdentity", "Version" -> ApiVersion,
        "RoleArn" -> roleArn, "RoleSessionName" -> roleSessionName,
        "WebIdentityToken" -> webIdentityToken))
  }

  /** In-process STS double.
    *
    * @param accounts    long-lived access key id → secret (the caller
    *                    identities AssumeRole verifies against)
    * @param oidcKey     the web-identity provider's RSA public key +
    *                    expected audience, for the unsigned path
    * @param trustedRoles role ARNs this "account" may assume; anything
    *                    else is AccessDenied
    */
  final class Endpoint(region: String,
      accounts: Map[String, String],
      trustedRoles: Set[String],
      oidcKey: Option[(java.security.PublicKey, String)] = None,
      nowSecs: () => Long = () => 1700000000L) {

    private var counter = 0
    private val issuedTokens = scala.collection.mutable.Map.empty[String, Creds]

    /** Lookup for downstream service doubles: session token →
      * the temporary credentials STS minted for it. */
    def issued(token: String): Option[Creds] = issuedTokens.synchronized {
      issuedTokens.get(token)
    }

    private def mint(): Creds = issuedTokens.synchronized {
      counter += 1
      val c = Creds(s"ASIAGRAFT$counter", s"temp-secret-$counter",
        s"graft-session-token-$counter")
      issuedTokens(c.sessionToken) = c
      c
    }

    private def credsXml(wrapper: String, c: Creds): String =
      s"""<${wrapper}Response xmlns="https://sts.amazonaws.com/doc/2011-06-15/">
         |  <${wrapper}Result>
         |    <Credentials>
         |      <AccessKeyId>${c.accessKeyId}</AccessKeyId>
         |      <SecretAccessKey>${c.secretAccessKey}</SecretAccessKey>
         |      <SessionToken>${c.sessionToken}</SessionToken>
         |      <Expiration>2026-01-01T00:00:00Z</Expiration>
         |    </Credentials>
         |  </${wrapper}Result>
         |</${wrapper}Response>""".stripMargin

    private def errorXml(code: String): String =
      s"""<ErrorResponse><Error><Type>Sender</Type><Code>$code</Code></Error></ErrorResponse>"""

    private val server = LocalHttp.server()
    val port: Int = server.getAddress.getPort
    val host: String = s"127.0.0.1:$port"
    val url: String = s"http://$host/"

    server.createContext("/", (ex: HttpExchange) => {
      val out = new ByteArrayOutputStream()
      val is = ex.getRequestBody
      val buf = new Array[Byte](8192)
      var n = is.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = is.read(buf) }
      val body = out.toByteArray

      def respond(code: Int, text: String): Unit = {
        val b = text.getBytes(UTF_8)
        ex.sendResponseHeaders(code, if (b.isEmpty) -1L else b.length.toLong)
        if (b.nonEmpty) ex.getResponseBody.write(b)
        ex.close()
      }

      val params = new String(body, UTF_8).split("&").toSeq
        .map(_.split("=", 2))
        .map(a => java.net.URLDecoder.decode(a(0), "UTF-8") ->
          (if (a.length > 1) java.net.URLDecoder.decode(a(1), "UTF-8")
           else "")).toMap
      val roleArn = params.getOrElse("RoleArn", "")

      params.getOrElse("Action", "") match {
        case "AssumeRole" =>
          val h = ex.getRequestHeaders
          val date = Option(h.getFirst("X-Amz-Date")).getOrElse("")
          val auth = Option(h.getFirst("Authorization")).getOrElse("")
          // resolve the caller's key id from the Credential= scope
          val akid = "Credential=([^/,]+)/".r.findFirstMatchIn(auth)
            .map(_.group(1)).getOrElse("")
          val token = Option(h.getFirst("X-Amz-Security-Token")).getOrElse("")
          val secret = accounts.get(akid).orElse(
            // role chaining: a temporary key id signs with its temp
            // secret, and the presented session token must be one WE
            // issued for that key
            issued(token).collect {
              case c if c.accessKeyId == akid => c.secretAccessKey
            })
          val base = Seq(
            "Host" -> Option(h.getFirst("Host")).getOrElse(""),
            "X-Amz-Date" -> date,
            "Content-Type" -> Option(h.getFirst("Content-Type")).getOrElse(""))
          val signedHeaders =
            if (token.nonEmpty) base :+ ("X-Amz-Security-Token" -> token)
            else base
          secret match {
            case None => respond(403, errorXml("InvalidClientTokenId"))
            case Some(sec) if !AwsSigV4.verify(
                AwsSigV4.Credentials(akid, sec), region, "sts", date,
                "POST", "/", Nil, signedHeaders, body, auth) =>
              respond(403, errorXml("SignatureDoesNotMatch"))
            case Some(_) if !trustedRoles.contains(roleArn) =>
              respond(403, errorXml("AccessDenied"))
            case Some(_) =>
              respond(200, credsXml("AssumeRole", mint()))
          }
        case "AssumeRoleWithWebIdentity" =>
          oidcKey match {
            case None => respond(403, errorXml("InvalidIdentityToken"))
            case Some((pub, aud)) =>
              GcpOAuth.verifyJwt(
                params.getOrElse("WebIdentityToken", ""), pub, aud,
                nowSecs()) match {
                case Left(_) => respond(400, errorXml("InvalidIdentityToken"))
                case Right(_) if !trustedRoles.contains(roleArn) =>
                  respond(403, errorXml("AccessDenied"))
                case Right(_) =>
                  respond(200, credsXml("AssumeRoleWithWebIdentity", mint()))
              }
          }
        case other =>
          respond(400, errorXml(s"InvalidAction:$other"))
      }
    })
    server.start()

    def stop(): Unit = server.stop(0)
  }
}
