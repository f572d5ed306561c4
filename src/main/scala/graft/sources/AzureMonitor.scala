package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.HttpExchange

import graft.LocalHttp

/** Azure Monitor system metrics (`input/system/azure/system.go:18-290`):
  * the collector resolves its database's ARM resource by listing the
  * subscription's PostgreSQL Flexible Servers (paged) and matching
  * `azure_db_server_name`, falling back to the Cosmos-DB-for-PostgreSQL
  * cluster list (`serverGroupsv2`), then queries Azure Monitor for a
  * 1-minute average of the metric-name set — the base five for any
  * resource plus six disk/txlog metrics that exist only on Flexible
  * Server (`system.go:182-186`) — and maps them onto the system state:
  *
  *   - `cpu_percent` → the pre-diffed CPU user percent,
  *   - `memory_percent` → SKIPPED (total memory is not listed, so the
  *     percent cannot be turned into bytes — `system.go:222-225`),
  *   - `network_bytes_egress` / `_ingress` are 1-minute TOTALS →
  *     `uint64(avg / 60)` bytes per second (`system.go:228-233`),
  *   - `txlogs_storage_used` → xlog bytes (uint64 trunc),
  *   - `read/write_iops`, `read/write_throughput` → doubles;
  *     `disk_queue_depth` → int32 trunc,
  *   - `storage_used` → the "/" partition's used bytes against the
  *     resolve-time ceiling: `storageSizeGB · 2^30` on Flexible,
  *     `coordinatorStorageQuotaInMb · 2^20` on Cosmos
  *     (`system.go:243-262`),
  *   - a metric whose first time series has no points is skipped
  *     (`getFirstMetricValue`, `system.go:284-289`) — the mapped field
  *     keeps its zero default.
  *
  * The driver resolves and fetches (one bounded HTTP exchange per
  * monitored server, the reference's own cadence); the metric-response
  * JSON → state mapping runs DISTRIBUTED over the per-server rows.
  */
object AzureMonitor {

  val BaseMetrics: Seq[String] = Seq("cpu_percent", "memory_percent",
    "network_bytes_egress", "network_bytes_ingress", "storage_used")

  /** Flexible-Server-only additions (`system.go:183-186`). */
  val FlexibleExtraMetrics: Seq[String] = Seq("txlogs_storage_used",
    "read_iops", "write_iops", "disk_queue_depth", "read_throughput",
    "write_throughput")

  // ------------------------------------------------------- resource ids

  /** `arm.ParseResourceID`'s slice of the format:
    * `/subscriptions/S/resourceGroups/G/providers/NS/TYPE/NAME`. */
  final case class ResourceId(subscriptionId: String, resourceGroup: String,
      provider: String, resourceType: String, name: String)

  def parseResourceId(id: String): Either[String, ResourceId] = {
    val parts = id.stripPrefix("/").split("/")
    // Child/nested ARM resources append (type, name) pairs after the
    // top-level pair; arm.ParseResourceID resolves to the LAST pair, so
    // the trailing segments must pair up and the trailing pair names the
    // resource itself.
    if (parts.length < 8 || parts.length % 2 != 0 ||
        parts(0) != "subscriptions" || parts(2) != "resourceGroups" ||
        parts(4) != "providers")
      Left(s"invalid resource ID: $id")
    else Right(ResourceId(parts(1), parts(3), parts(5),
      parts(parts.length - 2), parts(parts.length - 1)))
  }

  /** The resolve-time server info the metric mapping needs
    * (`state.SystemInfoAzure` slice). */
  final case class AzureInfo(
      resourceId: String,
      resourceType: String, // "flexibleServers" | "serverGroupsv2"
      name: String,
      resourceGroup: String,
      clusterId: String,
      location: String,
      state: String,
      skuName: String = "", // Flexible only
      storageGB: Int = 0, // Flexible only
      haMode: String = "", // Flexible only
      citusVersion: String = "", // Cosmos only
      haEnabled: Boolean = false, // Cosmos only
      coordinatorStorageMB: Int = 0, // Cosmos only
      nodeCount: Int = 0) { // Cosmos only
    def isFlexible: Boolean = resourceType.equalsIgnoreCase("flexibleServers")
    /** The "/" partition ceiling (`system.go:245-260`). */
    def storageTotalBytes: Long =
      if (storageGB != 0) storageGB.toLong * 1024 * 1024 * 1024
      else coordinatorStorageMB.toLong * 1024 * 1024
  }

  // ------------------------------------------------------------- client

  type Http = PlanetScaleLogs.Http

  final class Client(armUrl: String, bearer: () => Either[String, String],
      http: Http = PlanetScaleLogs.httpDo) {

    private val mapper = new ObjectMapper()

    private def get(url: String): Either[String, String] =
      bearer().flatMap { tok =>
        val (st, body) = http("GET", url,
          Map("Authorization" -> s"Bearer $tok", "Accept" -> "application/json"))
        if (st != 200) Left(s"HTTP $st: $body") else Right(body)
      }

    /** One ARM list, following `nextLink` pages (the SDK pager). */
    private def listPaged(url0: String): Either[String, Seq[JsonNode]] = {
      var url = url0
      val out = Seq.newBuilder[JsonNode]
      while (url.nonEmpty) {
        get(url) match {
          case Left(e) => return Left(e)
          case Right(body) =>
            val root = mapper.readTree(body)
            val vs = Option(root.get("value")).toSeq.flatMap(v =>
              (0 until v.size()).map(v.get))
            out ++= vs
            url = Option(root.get("nextLink")).map(_.asText("")).getOrElse("")
        }
      }
      Right(out.result())
    }

    def listFlexibleServers(sub: String): Either[String, Seq[JsonNode]] =
      listPaged(s"$armUrl/subscriptions/$sub/providers/" +
        "Microsoft.DBforPostgreSQL/flexibleServers?api-version=2024-08-01")
        .left.map(e => s"error advancing page of Flexible Server list: $e")

    def listCosmosClusters(sub: String): Either[String, Seq[JsonNode]] =
      listPaged(s"$armUrl/subscriptions/$sub/providers/" +
        "Microsoft.DBforPostgreSQL/serverGroupsv2?api-version=2023-03-02-preview")
        .left.map(e => s"error advancing page of Cosmos DB cluster list: $e")

    /** Azure Monitor 1-min average query (`system.go:187-201`); returns
      * the raw response body — the distributed side parses it. */
    def queryMetrics(resourceId: String,
        names: Seq[String]): Either[String, String] = {
      val enc = java.net.URLEncoder.encode(names.mkString(","), "UTF-8")
      get(s"$armUrl$resourceId/providers/Microsoft.Insights/metrics?" +
        s"metricnames=$enc&aggregation=Average&interval=PT1M&" +
        "timespan=PT1M&api-version=2018-01-01")
        .left.map(e => s"error getting server metrics: $e")
    }

    private def txt(n: JsonNode, path: String*): String = {
      var cur = n
      path.foreach { p => if (cur != null) cur = cur.get(p) }
      if (cur == null) "" else cur.asText("")
    }
    private def int(n: JsonNode, path: String*): Int = {
      var cur = n
      path.foreach { p => if (cur != null) cur = cur.get(p) }
      if (cur == null) 0 else cur.asInt(0)
    }

    /** The resolve half of `GetSystemState`: Flexible Server list
      * first, Cosmos cluster list when not found there, the
      * `"unable to find the database server info"` warning when
      * neither matches (`system.go:36-171`). */
    def resolve(sub: String, serverName: String): Either[String, AzureInfo] = {
      listFlexibleServers(sub).flatMap { flex =>
        val hit = flex.iterator.flatMap { v =>
          val id = txt(v, "id")
          parseResourceId(id).toOption.filter(_.name == serverName).map { r =>
            // ClusterID: the replication source when present AND
            // parseable; absent source → self; present-but-malformed
            // source → empty, like the reference, which only assigns
            // ClusterID inside the successful-parse branch
            // (`system.go:66-74`)
            val srcId = txt(v, "properties", "sourceServerResourceID")
            val cluster =
              if (srcId.isEmpty) s"${r.resourceGroup}/${r.name}"
              else parseResourceId(srcId).toOption match {
                case Some(src) => s"${src.resourceGroup}/${src.name}"
                case None => ""
              }
            AzureInfo(id, r.resourceType, r.name, r.resourceGroup, cluster,
              txt(v, "location"), txt(v, "properties", "state"),
              skuName = txt(v, "sku", "name"),
              storageGB = int(v, "properties", "storage", "storageSizeGB"),
              haMode = txt(v, "properties", "highAvailability", "mode"))
          }
        }.nextOption()
        hit match {
          case Some(i) => Right(i)
          case None => listCosmosClusters(sub).flatMap { cosmos =>
            cosmos.iterator.flatMap { v =>
              val id = txt(v, "id")
              parseResourceId(id).toOption.filter(_.name == serverName)
                .map { r =>
                  AzureInfo(id, r.resourceType, r.name, r.resourceGroup,
                    s"${r.resourceGroup}/${r.name}",
                    txt(v, "location"), txt(v, "properties", "state"),
                    citusVersion = txt(v, "properties", "citusVersion"),
                    haEnabled = Option(v.get("properties"))
                      .flatMap(p => Option(p.get("enableHa")))
                      .exists(_.asBoolean(false)),
                    coordinatorStorageMB =
                      int(v, "properties", "coordinatorStorageQuotaInMb"),
                    nodeCount = int(v, "properties", "nodeCount"))
                }
            }.nextOption() match {
              case Some(i) => Right(i)
              case None => Left("unable to find the database server info")
            }
          }
        }
      }
    }

    /** Which metric names this resource gets (`system.go:181-186`). */
    def metricNames(info: AzureInfo): Seq[String] =
      if (info.isFlexible) BaseMetrics ++ FlexibleExtraMetrics
      else BaseMetrics
  }

  // ------------------------------------------------------- the endpoint

  /** In-process ARM + Azure Monitor double: list endpoints page with
    * `nextLink`, every path requires a Bearer token the injected
    * validator accepts (401 otherwise — the managed-identity refusal),
    * and the metrics path answers only the requested `metricnames`,
    * serving each from the per-resource series map (None = a series
    * with no points, the skip case). */
  final class Endpoint(isValidToken: String => Boolean, sub: String,
      flexList: Seq[String], cosmosList: Seq[String],
      metrics: Map[String, Map[String, Option[Double]]],
      pageSize: Int = 4) {

    var flexPageCalls = 0
    var cosmosPageCalls = 0
    var metricCalls = 0

    private val server = LocalHttp.server()
    val port: Int = server.getAddress.getPort
    val url: String = s"http://127.0.0.1:$port"

    private def pageOf(items: Seq[String], page: Int,
        basePath: String): String = {
      val slice = items.slice(page * pageSize, (page + 1) * pageSize)
      val next =
        if ((page + 1) * pageSize < items.length)
          s""","nextLink":"$url$basePath?api-version=x&page=${page + 1}""""
        else ""
      s"""{"value":[${slice.mkString(",")}]$next}"""
    }

    server.createContext("/", (ex: HttpExchange) => {
      def respond(code: Int, text: String): Unit = {
        val b = text.getBytes(UTF_8)
        ex.sendResponseHeaders(code, if (b.isEmpty) -1L else b.length.toLong)
        if (b.nonEmpty) ex.getResponseBody.write(b)
        ex.close()
      }
      val path = ex.getRequestURI.getPath
      val params = Option(ex.getRequestURI.getRawQuery).getOrElse("")
        .split("&").toSeq.filter(_.nonEmpty).map(_.split("=", 2))
        .map(a => java.net.URLDecoder.decode(a(0), "UTF-8") ->
          (if (a.length > 1) java.net.URLDecoder.decode(a(1), "UTF-8")
           else "")).toMap
      val auth = Option(ex.getRequestHeaders.getFirst("Authorization"))
        .getOrElse("")
      if (!auth.startsWith("Bearer ") ||
          !isValidToken(auth.stripPrefix("Bearer "))) {
        respond(401, """{"error":{"code":"InvalidAuthenticationToken"}}""")
      } else {
        val flexPath = s"/subscriptions/$sub/providers/" +
          "Microsoft.DBforPostgreSQL/flexibleServers"
        val cosmosPath = s"/subscriptions/$sub/providers/" +
          "Microsoft.DBforPostgreSQL/serverGroupsv2"
        val page = params.getOrElse("page", "0").toInt
        if (path == flexPath) {
          this.synchronized { flexPageCalls += 1 }
          respond(200, pageOf(flexList, page, flexPath))
        } else if (path == cosmosPath) {
          this.synchronized { cosmosPageCalls += 1 }
          respond(200, pageOf(cosmosList, page, cosmosPath))
        } else if (path.endsWith("/providers/Microsoft.Insights/metrics")) {
          val resourceId =
            path.stripSuffix("/providers/Microsoft.Insights/metrics")
          metrics.get(resourceId) match {
            case None => respond(404, """{"error":{"code":"ResourceNotFound"}}""")
            case Some(series) =>
              this.synchronized { metricCalls += 1 }
              val requested = params.getOrElse("metricnames", "").split(",")
              val body = requested.toSeq.map { name =>
                val data = series.get(name) match {
                  case Some(Some(avg)) =>
                    s"""[{"timeStamp":"2024-01-01T00:00:00Z","average":$avg}]"""
                  case _ => "[]" // a series with no points → skipped
                }
                s"""{"name":{"value":"$name"},"timeseries":[{"data":$data}]}"""
              }.mkString(",")
              respond(200, s"""{"value":[$body]}""")
          }
        } else respond(404, """{"error":{"code":"NotFound"}}""")
      }
    })
    server.start()

    def stop(): Unit = server.stop(0)
  }
}
