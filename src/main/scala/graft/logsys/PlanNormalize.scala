package graft.logsys

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode, TextNode}

import graft.functions.PgNormalize

/** EXPLAIN-JSON normalization (X12) and auto_explain → query-sample
  * extraction (X11), the engine form of the reference's
  * `logs/querysample/normalize.go` and `querysample.go:17-151`.
  *
  * The plan tree is walked with the reference's 102-field plan-node
  * schema contract: whitelisted fields pass through, expression fields
  * (deparse_expression / show_*_qual output) are normalized by wrapping
  * in `SELECT ` (or `SELECT ORDER BY ` for sort keys, which may carry
  * direction suffixes) and running the [[PgNormalize]] scanner, then
  * stripping the wrapper — unparsable expressions collapse to the
  * `<unparsable query>` sentinel. Unknown fields are dropped, exactly
  * like the reference's struct unmarshal/marshal round-trip. Recursion
  * covers `Plans`, `Workers` and `Grouping Sets`.
  */
object PlanNormalize {

  private val mapper = new ObjectMapper()

  // field sets from the reference planNode struct (normalize.go:24-127)
  val ExprFields: Set[String] = Set(
    "Cache Key", "Conflict Filter", "Filter", "Function Call", "Hash Cond",
    "Index Cond", "Join Filter", "Merge Cond", "One-Time Filter", "Order By",
    "Recheck Cond", "Repeatable Seed", "Table Function Call", "TID Cond")

  val ExprArrayFields: Set[String] = Set(
    "Group Key", "Output", "Presorted Key", "Sampling Parameters")

  val PassFields: Set[String] = Set(
    "Actual Loops", "Actual Rows", "Actual Startup Time", "Actual Total Time",
    "Alias", "Async Capable", "Cache Evictions", "Cache Hits", "Cache Misses",
    "Cache Mode", "Cache Overflows", "CTE Name", "Command",
    "Conflict Arbiter Indexes", "Conflict Resolution", "Conflicting Tuples",
    "Custom Plan Provider", "Disk Usage", "Exact Heap Blocks", "Function Name",
    "Full-sort Groups", "HashAgg Batches", "Hash Batches", "Hash Buckets",
    "Heap Fetches", "I/O Read Time", "I/O Write Time", "Index Name",
    "Inner Unique", "Join Type", "Local Dirtied Blocks", "Local Hit Blocks",
    "Local Read Blocks", "Local Written Blocks", "Lossy Heap Blocks",
    "Node Type", "Operation", "Original Hash Batches", "Original Hash Buckets",
    "Parallel Aware", "Params Evaluated", "Parent Relationship", "Partial Mode",
    "Peak Memory Usage", "Plan Rows", "Plan Width", "Planned Partitions",
    "Pre-sorted Groups", "Relation Name", "Rows Removed by Conflict Filter",
    "Rows Removed by Filter", "Rows Removed by Index Recheck",
    "Rows Removed by Join Filter", "Sampling Method", "Scan Direction",
    "Schema", "Shared Dirtied Blocks", "Shared Hit Blocks",
    "Shared Read Blocks", "Shared Written Blocks", "Single Copy",
    "Sort Method", "Sort Space Type", "Sort Space Used", "Startup Cost",
    "Strategy", "Subplan Name", "Subplans Removed", "Table Function Name",
    "Temp Read Blocks", "Temp Written Blocks", "Tuplestore Name", "Total Cost",
    "Tuples Inserted", "WAL Bytes", "WAL FPI", "WAL Records", "Worker Number",
    "Workers Launched", "Workers Planned")

  private val ContainerFields: Seq[String] = Seq(
    "Execution Time", "JIT", "Plan", "Planning", "Planning Time",
    "Query Identifier", "Settings", "Triggers", "Query Parameters")

  def normalizeExprStr(e: String): String = {
    val res = PgNormalize.normalize("SELECT " + e, "unparsable", -1,
      strictExpr = true)
    if (res == PgNormalize.QueryTextUnparsable) res
    else res.stripPrefix("SELECT ")
  }

  def normalizeSortKeyStr(e: String): String = {
    val res = PgNormalize.normalize("SELECT ORDER BY " + e, "unparsable", -1,
      strictExpr = true)
    if (res == PgNormalize.QueryTextUnparsable) res
    else res.stripPrefix("SELECT ORDER BY ")
  }

  private def normArray(arr: JsonNode, f: String => String): ArrayNode = {
    val out = mapper.createArrayNode()
    arr.elements().asScala.foreach { e => out.add(new TextNode(f(e.asText()))) }
    out
  }

  private def filterGroupingSet(n: JsonNode, normalize: Boolean): ObjectNode = {
    val out = mapper.createObjectNode()
    def fn(s: String) = if (normalize) normalizeExprStr(s) else s
    Option(n.get("Group Keys")).foreach { gks =>
      val arr = mapper.createArrayNode()
      gks.elements().asScala.foreach(gk => arr.add(normArray(gk, fn)))
      out.set[JsonNode]("Group Keys", arr)
    }
    Option(n.get("Hash Keys")).foreach { hks =>
      val arr = mapper.createArrayNode()
      hks.elements().asScala.foreach(hk => arr.add(normArray(hk, fn)))
      out.set[JsonNode]("Hash Keys", arr)
    }
    Option(n.get("Sort Key")).foreach { sk =>
      out.set[JsonNode]("Sort Key", normArray(sk, fn))
    }
    out
  }

  /** Whitelist-filter (and optionally normalize) one plan node. */
  def filterPlanNode(n: JsonNode, normalize: Boolean): ObjectNode = {
    val out = mapper.createObjectNode()
    n.fields().asScala.foreach { e =>
      val (name, v) = (e.getKey, e.getValue)
      if (ExprFields.contains(name)) {
        out.set[JsonNode](name,
          if (normalize) new TextNode(normalizeExprStr(v.asText())) else v)
      } else if (ExprArrayFields.contains(name)) {
        out.set[JsonNode](name,
          if (normalize) normArray(v, normalizeExprStr) else v)
      } else if (name == "Sort Key") {
        out.set[JsonNode](name,
          if (normalize) normArray(v, normalizeSortKeyStr) else v)
      } else if (name == "Grouping Sets") {
        val arr = mapper.createArrayNode()
        v.elements().asScala.foreach(gs => arr.add(filterGroupingSet(gs, normalize)))
        out.set[JsonNode](name, arr)
      } else if (name == "Plans" || name == "Workers") {
        val arr = mapper.createArrayNode()
        v.elements().asScala.foreach(p => arr.add(filterPlanNode(p, normalize)))
        out.set[JsonNode](name, arr)
      } else if (PassFields.contains(name)) {
        out.set[JsonNode](name, v)
      } // unknown fields dropped (struct contract)
    }
    out
  }

  /** ExplainPlanContainer round-trip: known container fields only,
    * `Query Text` removed (lifted into the sample). The Plan stays raw
    * (json.RawMessage) unless normalizing — only NormalizeExplainJSON's
    * planNode round-trip drops unknown plan fields. */
  def filterContainer(n: JsonNode, normalize: Boolean): ObjectNode = {
    val out = mapper.createObjectNode()
    ContainerFields.foreach { name =>
      Option(n.get(name)).foreach { v =>
        if (name == "Plan" && normalize)
          out.set[JsonNode](name, filterPlanNode(v, normalize))
        else out.set[JsonNode](name, v)
      }
    }
    if (!out.has("Plan")) out.set[JsonNode]("Plan", mapper.nullNode())
    out
  }

  /** auto_explain JSON → (query text, runtime container). */
  def transformAutoExplainJson(text: String, normalize: Boolean): (String, ObjectNode) = {
    val root = mapper.readTree(text)
    val query = Option(root.get("Query Text")).map(_.asText().trim).getOrElse("")
    (query, filterContainer(root, normalize))
  }

  /** Canonical JSON: objects with sorted keys, arrays in order — the
    * deterministic comparison form for goldens and oracles. */
  def canonical(n: JsonNode): String = {
    val sb = new StringBuilder
    def walk(x: JsonNode): Unit = x match {
      case o: ObjectNode =>
        sb.append('{')
        val names = o.fieldNames().asScala.toSeq.sorted
        names.zipWithIndex.foreach { case (name, i) =>
          if (i > 0) sb.append(',')
          sb.append(mapper.writeValueAsString(name)).append(':')
          walk(o.get(name))
        }
        sb.append('}')
      case a: ArrayNode =>
        sb.append('[')
        a.elements().asScala.zipWithIndex.foreach { case (e, i) =>
          if (i > 0) sb.append(',')
          walk(e)
        }
        sb.append(']')
      case v if v.isNumber =>
        // Go's encoding/json renders integral floats without a decimal
        // point (0.00 → 0); fold both representations to one form
        if (v.isIntegralNumber) sb.append(v.asText())
        else {
          val d = v.asDouble()
          if (d == Math.rint(d) && !d.isInfinite && Math.abs(d) < 1e15)
            sb.append(d.toLong.toString)
          else sb.append(d.toString)
        }
      case v => sb.append(mapper.writeValueAsString(v))
    }
    walk(n)
    sb.toString
  }

  def parse(text: String): JsonNode = mapper.readTree(text)

  /** One-call form for the column expression: auto_explain JSON text →
    * canonical JSON of the normalized container. */
  def normalizedCanonical(text: String): String = {
    val (_, c) = transformAutoExplainJson(text, normalize = true)
    canonical(c)
  }

  // ------------------------------------------------- text-format extraction

  private val textWithParams = java.util.regex.Pattern.compile(
    "^Query Text: ([\\s\\S]+)\\r?\\n\\s*Query Parameters: (.+)\\r?\\n\\s*([\\s\\S]+)")
  private val textWithCosts = java.util.regex.Pattern.compile(
    "^Query Text: ([\\s\\S]+?)\\r?\\n\\s*([\\S ]+  \\(cost=\\d+\\.\\d+\\.\\.\\d+\\.\\d+ rows=\\d+ width=\\d+\\)[\\s\\S]+)")
  private val valueRx = java.util.regex.Pattern.compile(
    "(?:(NULL)|'((?:[^']|'')*)')")

  final case class TextSample(query: String, explainText: String,
      parameters: Seq[Option[String]])

  /** auto_explain text format → (query, explain body, parameters)
    * (`querysample.go:75-101`). */
  def transformAutoExplainText(text: String): Option[TextSample] = {
    val mp = textWithParams.matcher(text)
    if (mp.find()) {
      return Some(TextSample(mp.group(1), mp.group(3), findQueryParameters(mp.group(2))))
    }
    val mc = textWithCosts.matcher(text)
    if (mc.find()) Some(TextSample(mc.group(1), mc.group(2), Nil))
    else None
  }

  /** `$1 = 'foo', $2 = NULL` → values (`querysample.go:137-151`). */
  def findQueryParameters(paramText: String): Seq[Option[String]] = {
    val out = Seq.newBuilder[Option[String]]
    val m = valueRx.matcher(paramText)
    while (m.find()) {
      if (m.group(1) != null) out += None
      else out += Some(m.group(2))
    }
    out.result()
  }

  // ------------------------------------------------ Heroku repair (X18/X19)

  private val herokuQueryText = java.util.regex.Pattern.compile(
    "(?s)(\"Query Text\"\\s*:\\s*\")(.*?)\"")
  private val newlines = java.util.regex.Pattern.compile("[\\r\\n]+")

  /** Heroku logplex flattens auto_explain JSON onto one line but keeps
    * raw newlines inside the "Query Text" value — invalid JSON. Replace
    * them with spaces (`querysample.go:36-48`). */
  def herokuRepair(text: String): String = {
    val m = herokuQueryText.matcher(text)
    val sb = new StringBuffer
    while (m.find()) {
      val cleaned = newlines.matcher(m.group(2)).replaceAll(" ")
      m.appendReplacement(sb, java.util.regex.Matcher.quoteReplacement(
        m.group(1) + cleaned + "\""))
    }
    m.appendTail(sb)
    sb.toString
  }

  val TruncationMarker = "[Your log message was truncated]"

  // --------------------------------------------------- sqlcommenter (X13)

  /** sqlcommenter / marginalia query tags from SQL comments
    * (`logs/querysample/tags.go:14-77`): `key='value'` pairs (percent-
    * decoded, backslash-unescaped) and `key:value` marginalia pairs. */
  def parseTags(query: String): Map[String, String] = {
    val tags = scala.collection.mutable.LinkedHashMap.empty[String, String]
    PgNormalize.comments(query).foreach { comment =>
      comment.trim.split(",", -1).foreach { part =>
        val eq = part.split("=", 2)
        if (eq.length == 2 && !eq(0).contains(":")) {
          var value = eq(1).trim
          if (value.length >= 2 && value.startsWith("'") && value.endsWith("'"))
            value = value.substring(1, value.length - 1)
          tags(decodeTag(eq(0).trim)) = decodeTag(value)
        } else if (part.contains(":")) {
          val kv = part.split(":", 2)
          tags(kv(0).trim) = kv(1).trim
        }
      }
    }
    tags.toMap
  }

  private def decodeTag(s: String): String = {
    val unescaped = s.replaceAll("\\\\(.)", "$1")
    try java.net.URLDecoder.decode(unescaped, "UTF-8")
    catch { case _: Exception => unescaped }
  }
}
