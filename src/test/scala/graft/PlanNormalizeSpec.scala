package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.logsys.PlanNormalize

/** EXPLAIN-JSON normalization against the reference's 25 golden plan
  * fixtures in `logs/querysample/testdata` (each `NAME.in.json` vs
  * `NAME.out_normalize.json` and `NAME.out_passthrough.json`): grouping
  * sets, incremental sort, memoize, parallel workers, FDW, JIT, custom
  * plans, tablesample, tid range scans, triggers, …
  */
class PlanNormalizeSpec extends AnyFunSuite {

  private val dir = Paths.get("/root/reference/logs/querysample/testdata")

  private def fixtures: Seq[String] = {
    assume(Files.exists(dir), "reference fixtures not present")
    Files.list(dir).iterator().asScala
      .map(_.getFileName.toString)
      .filter(_.endsWith(".in.json"))
      .map(_.stripSuffix(".in.json"))
      .filter { name => // only JSON-format fixtures have plan goldens
        Files.exists(dir.resolve(s"$name.out_normalize.json"))
      }
      .toSeq.sorted
  }

  test("all golden fixtures: normalize variant matches") {
    val names = fixtures
    assume(names.nonEmpty)
    val fails = names.flatMap { name =>
      val in = Files.readString(dir.resolve(s"$name.in.json"))
      val golden = PlanNormalize.parse(
        Files.readString(dir.resolve(s"$name.out_normalize.json")))
      val (_, container) = PlanNormalize.transformAutoExplainJson(in, normalize = true)
      // golden files wrap the container in a one-element array
      val got = PlanNormalize.canonical(container)
      val want = PlanNormalize.canonical(golden.get(0))
      if (got != want) Some(s"$name:\n  got=${got.take(400)}\n  want=${want.take(400)}")
      else None
    }
    assert(fails.isEmpty, s"${fails.size} fixture mismatches:\n${fails.mkString("\n")}")
  }

  test("all golden fixtures: passthrough variant matches") {
    val names = fixtures
    assume(names.nonEmpty)
    val fails = names.flatMap { name =>
      val in = Files.readString(dir.resolve(s"$name.in.json"))
      val golden = PlanNormalize.parse(
        Files.readString(dir.resolve(s"$name.out_passthrough.json")))
      val (_, container) = PlanNormalize.transformAutoExplainJson(in, normalize = false)
      val got = PlanNormalize.canonical(container)
      val want = PlanNormalize.canonical(golden.get(0))
      if (got != want) Some(name) else None
    }
    assert(fails.isEmpty, s"mismatches: $fails")
  }

  test("normalized query text matches all reference expectations") {
    assume(Files.exists(dir), "reference fixtures not present")
    // querysample/normalize_test.go's expected normalized texts,
    // extracted to querysample_normalize_goldens.tsv
    val res = getClass.getResourceAsStream("/querysample_normalize_goldens.tsv")
    assert(res != null)
    val goldens = scala.io.Source.fromInputStream(res, "UTF-8").getLines()
      .map { l =>
        val Array(name, esc) = l.split("\t", 2)
        name -> esc.replace("\\n", "\n").replace("\\t", "\t")
          .replace("\\\\", "\\")
      }.toSeq
    assert(goldens.size >= 24)
    val fails = goldens.flatMap { case (name, want) =>
      val in = Files.readString(dir.resolve(s"$name.in.json"))
      val (q, _) = PlanNormalize.transformAutoExplainJson(in, normalize = true)
      val got = graft.functions.PgNormalize.normalize(q, "unparseable", -1)
      if (got != want) Some(s"$name:\n  got =$got\n  want=$want") else None
    }
    assert(fails.isEmpty, s"${fails.size} mismatches:\n${fails.mkString("\n")}")
  }

  test("text-format auto_explain extraction with parameters") {
    val text = "Query Text: SELECT * FROM t WHERE a = $1\n" +
      "Query Parameters: $1 = 'x', $2 = NULL\n" +
      "Seq Scan on t  (cost=0.00..35.50 rows=2550 width=4)"
    val s = PlanNormalize.transformAutoExplainText(text).get
    assert(s.query == "SELECT * FROM t WHERE a = $1")
    assert(s.parameters == Seq(Some("x"), None))
    assert(s.explainText.startsWith("Seq Scan on t"))
  }

  test("text-format auto_explain extraction without parameters") {
    val text = "Query Text: SELECT 1\n" +
      "Result  (cost=0.00..0.01 rows=1 width=4)\n  Output: 1"
    val s = PlanNormalize.transformAutoExplainText(text).get
    assert(s.query == "SELECT 1")
    assert(s.parameters.isEmpty)
  }

  test("sqlcommenter and marginalia tags parse with decoding") {
    val tags = PlanNormalize.parseTags(
      "SELECT 1 /*app='myapp',controller='dash%2Fboard',route:index*/")
    assert(tags("app") == "myapp")
    assert(tags("controller") == "dash/board")
    assert(tags("route") == "index")
  }

  test("reference parseTags corpus (querysample/tags_test.go)") {
    val cases: Seq[(String, String, Map[String, String])] = Seq(
      ("no tags", "SELECT 1", Map.empty),
      ("marginalia", "SELECT 1 /* abc:123, def:456 */",
        Map("abc" -> "123", "def" -> "456")),
      ("complex marginalia",
        """SELECT 1 /*controller_with_namespace:Api::V1::SubmittedInspectionFormsController,action:index,line:/config/initializers/kaminari_total_count.rb:60:in `total_count'*/""",
        Map(
          "controller_with_namespace" -> "Api::V1::SubmittedInspectionFormsController",
          "action" -> "index",
          "line" -> "/config/initializers/kaminari_total_count.rb:60:in `total_count'")),
      ("key=value", "SELECT 1 /* abc=123,def=456 */",
        Map("abc" -> "123", "def" -> "456")),
      ("valueless key ignored", "SELECT 1 /* hello=world,foo */",
        Map("hello" -> "world")),
      ("valueless key in middle", "SELECT 1 /* hello: world, foo, bar: 123 */",
        Map("hello" -> "world", "bar" -> "123")),
      ("comment inside string", "SELECT '/* not a comment */' /* a:42 */",
        Map("a" -> "42")),
      ("multiple comments", "/* a:1,b:2 */ SELECT 1 /* c:3,d:4 */",
        Map("a" -> "1", "b" -> "2", "c" -> "3", "d" -> "4")),
      ("conflicting keys: last wins", "/* a:1,b:2 */ SELECT 1 /* c:3,a:4 */",
        Map("a" -> "4", "b" -> "2", "c" -> "3")),
      ("sqlcommenter", "SELECT 1 /* foo='bar%20quux' */",
        Map("foo" -> "bar quux")),
      ("complex sqlcommenter",
        """SELECT 1, 'string', '/* ignore */' /* foo='bar%20quux',fred='http://example.org/a%20b%20c\'',thud%20thud%25thud\'='\'%25%20%25 %20' */""",
        Map(
          "foo" -> "bar quux",
          "fred" -> "http://example.org/a b c'",
          "thud thud%thud'" -> "'% %  ")),
      ("marginalia traceparent",
        "SELECT 1 /* traceparent:00-7dd3a87ae5bdacc0c56f3ba452a22fed-b39c2eabd3993833-01,tracestate:pganalyze=t:1701420562.550783 */",
        Map(
          "traceparent" -> "00-7dd3a87ae5bdacc0c56f3ba452a22fed-b39c2eabd3993833-01",
          "tracestate" -> "pganalyze=t:1701420562.550783")),
      ("sqlcommenter traceparent",
        "SELECT 1 /* traceparent='00-7dd3a87ae5bdacc0c56f3ba452a22fed-b39c2eabd3993833-01',tracestate='pganalyze=t:1701420562.550783' */",
        Map(
          "traceparent" -> "00-7dd3a87ae5bdacc0c56f3ba452a22fed-b39c2eabd3993833-01",
          "tracestate" -> "pganalyze=t:1701420562.550783")),
      ("sqlcommenter traceparent url-escaped",
        "SELECT 1 /* traceparent='00-7dd3a87ae5bdacc0c56f3ba452a22fed-b39c2eabd3993833-01',tracestate='pganalyze%3Dt%3A1701420562.550783' */",
        Map(
          "traceparent" -> "00-7dd3a87ae5bdacc0c56f3ba452a22fed-b39c2eabd3993833-01",
          "tracestate" -> "pganalyze=t:1701420562.550783")))
    val fails = cases.flatMap { case (name, q, want) =>
      val got = PlanNormalize.parseTags(q)
      if (got != want) Some(s"$name: got=$got want=$want") else None
    }
    assert(fails.isEmpty, fails.mkString("\n"))
  }
}
