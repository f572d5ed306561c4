package graft.logsys

import java.util.regex.Pattern

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftNative
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Secret marking and splice redaction (X8/X9): a port of the
  * reference's span semantics — `logs/analyze.go:2078-2235`
  * (matchLogLineCommon's marker emission), `state/logs.go:59-95` (the 7
  * secret kinds), `logs/replace.go:13-42` (ReplaceSecrets splice).
  *
  * Markers are (start, end, kind) spans over the content:
  *  - content before the regex match start → UNIDENTIFIED
  *  - each capture group with a non-zero kind in the matcher's
  *    `groupSecrets` → that kind; groups beyond the secrets list →
  *    UNIDENTIFIED
  *  - content after the match end → the matcher's `remainderKind`
  *    (e.g. the statement text after `duration: … ms  statement: `),
  *    else UNIDENTIFIED; trailing newline excluded
  *  - prefix-only matchers mark everything after the prefix UNIDENTIFIED
  *
  * Redaction splices `[redacted]` over every marker whose kind is in the
  * filter set; lines never reviewed (no matcher matched) are replaced
  * wholesale when UNIDENTIFIED is filtered.
  */
object LogSecrets {

  val Credential = 1
  val ParsingError = 2
  val StatementText = 3
  val StatementParameter = 4
  val TableData = 5
  val Ops = 6
  val Unidentified = 7
  val AllKinds: Seq[Int] = 1 to 7

  val Replacement = "[redacted]"

  final case class Marker(start: Int, end: Int, kind: Int)

  /** duration.detail — `parameters: $1 = '…', $2 = NULL` value spans
    * (kind STATEMENT_PARAMETER), matched repeatedly (`matchAll`). */
  private val paramsPattern = Pattern.compile(
    "(?:parameters: |, )\\$\\d+ = (?:(NULL)|'((?:[^']|'')*)')")

  /** One secondary-line matcher. `pattern == null` ⇒ prefix-only
    * (reviewed; remainder after prefix marked UNIDENTIFIED, mirroring
    * `matchLogLineCommon`'s nil-regexp branch). When a pattern is set,
    * `prefixes` is an optional cheap prefilter (empty = always try). */
  private final case class SecMatcher(prefixes: Seq[String], pattern: Pattern,
      kinds: Seq[Int], matchAll: Boolean = false)

  private def sec(re: String, kinds: Seq[Int], prefixes: Seq[String] = Nil,
      matchAll: Boolean = false): SecMatcher =
    SecMatcher(prefixes, Pattern.compile(re), kinds, matchAll)

  private def secPrefix(ps: String*): SecMatcher = SecMatcher(ps, null, Nil)

  /** Secondary-line (DETAIL/HINT/CONTEXT) matchers — the flat union of
    * the reference's per-class `detail:`/`hint:` matchers
    * (`logs/analyze.go:50-1120`) plus `otherContextPatterns`
    * (`analyze.go:1150-1180`); kind 0 = reviewed but not secret.
    * The reference dispatches these per-classification; the flat union
    * is equivalent here because the patterns are mutually exclusive on
    * real Postgres message text (asserted by LogSecretCorpusSpec). */
  private val secondaryMatchers: Seq[SecMatcher] = Seq(
    // duration.detail / statementLog.detail parameter values (matchAll)
    SecMatcher(Seq("parameters: "), paramsPattern,
      Seq(StatementParameter, StatementParameter), matchAll = true),
    sec("^prepare: (.+)", Seq(StatementText)),
    sec("^Key \\((.+)\\)=\\((.+)\\) already exists\\.", Seq(0, TableData)),
    sec("^Key \\((.+)\\)=\\((.+)\\) is not present in table \"(.+)\"\\.",
      Seq(0, TableData, 0)),
    sec("^Key \\((.+)\\)=\\((.+)\\) is still referenced from table \"(.+)\"\\.",
      Seq(0, TableData, 0)),
    sec("^Key \\([^)]+\\)=\\((.+)\\) conflicts with existing key \\([^)]+\\)=\\((.+)\\)\\.",
      Seq(TableData, TableData)),
    sec("^Failing row contains \\((.+)\\)\\.", Seq(TableData)),
    sec("^Failed process was running: (.*)", Seq(StatementText)),
    sec("^The failed archive command was: (.+)", Seq(Ops)),
    sec("^(?:(?:Role|User|Password does not match for user|Password of user) " +
      "\"([^\"]+)\" ?(?:does not have a valid SCRAM secret|does not exist|" +
      "has no password assigned|has an expired password|" +
      "has a password that cannot be used with MD5 authentication|" +
      "is in unrecognized format)?\\.\\s+)?" +
      "Connection matched pg_hba.conf line \\d+: \"([^\"]+)\"", Seq(0, Ops)),
    sec("^Escape sequence \"(.+)\" is invalid\\.", Seq(TableData)),
    sec("^JSON data, line (\\d+): (.+)", Seq(0, TableData)),
    // lockWait.detail (analyze.go:380-383)
    sec("^Process(?:es)? holding the lock: ([\\d, ]+). Wait queue: ([\\d, ]+)\\.?",
      Seq(0, 0)),
    // deadlock.detail (analyze.go:392-395) — matchAll, multi-line; each
    // `Process N: <query>` tail is statement text
    sec("(?m)^Process (\\d+)(?: waits for \\w+ on transaction \\d+; " +
      "blocked by process \\d+.\\s+|: (.+))", Seq(0, StatementText),
      matchAll = true),
    // restartpointAt.detail (analyze.go:160-163)
    sec("^last completed transaction was at log time " +
      "(\\d+-\\d+-\\d+ \\d+:\\d+:\\d+\\.\\d+[\\d:+-]+)", Seq(0),
      prefixes = Seq("last completed transaction was at log time ")),
    // serverOutOfMemory.detail (analyze.go:475-477)
    sec("^Failed on request of size (\\d+)\\.", Seq(0)),
    // wraparoundWarning.hint (analyze.go:413-416)
    sec("^To avoid a database shutdown, execute a full-database VACUUM in " +
      "\"(.+)\".\\s+You might also need to commit or roll back old prepared " +
      "transactions.", Seq(0),
      prefixes = Seq("To avoid a database shutdown, execute a full-database VACUUM in")),
    // dependentObjectsStillExist.detail (analyze.go:983-985)
    sec("^\\w+ (.+) depends on \\w+ (.+)", Seq(0, 0)),
    // otherContextPatterns (analyze.go:1150-1180), all matchAll
    sec("^COPY \\w+, line \\d+(?:, column \\w+)?", Nil,
      prefixes = Seq("COPY"), matchAll = true),
    sec("PL/pgSQL function (?:[^(]+\\([^)]+\\)|inline_code_block)(.*)",
      Seq(0), matchAll = true),
    sec("while updating tuple \\(\\d+,\\d+\\) in relation \"([^\"]+)\"",
      Seq(0), matchAll = true),
    sec("while inserting index tuple \\(\\d+,\\d+\\) in relation \"([^\"]+)\"",
      Seq(0), matchAll = true),
    sec("(?:(?:unnamed portal|portal \\\"(.+)\\\") with parameters: |, )" +
      "\\$\\d+ = (?:(NULL)|'((?:[^']|'')*)')",
      Seq(0, StatementParameter, StatementParameter),
      prefixes = Seq("portal \"", "unnamed portal "), matchAll = true),
    // prefix-only detail/hint matchers (reviewed, kind-0): crash
    // recovery, serialization reason codes, array/int parse hints,
    // checkpoint/deadlock/wraparound/corruption/cast hints
    secPrefix(
      "The postmaster has commanded this server process to roll back the " +
        "current transaction and exit, because another server process " +
        "exited abnormally and possibly corrupted shared memory.",
      "In a moment you should be able to reconnect to the database and " +
        "repeat your command.",
      "User query might have needed to see row versions that must be removed.",
      "Value must be an integer.",
      "Array value must start with \"{\" or dimension information.",
      "Unexpected array element.",
      "Reason code: Canceled on identification as a pivot, during conflict out checking.",
      "Reason code: Canceled on identification as a pivot, during conflict in checking.",
      "Reason code: Canceled on identification as a pivot, during write.",
      "Reason code: Canceled on identification as a pivot, during commit attempt.",
      "Reason code: Canceled on conflict out to pivot",
      "Consider increasing the configuration parameter \"max_wal_size\".",
      "See server log for query details.",
      "Stop the postmaster and use a standalone backend to vacuum that " +
        "database. You might also need to commit or roll back old prepared " +
        "transactions.",
      "This probably means that some data is corrupted and you will have " +
        "to use the last backup for recovery.",
      "If this has occurred more than once some data might be corrupted " +
        "and you might need to choose an earlier recovery target.",
      "No function matches the given name and argument types. You might " +
        "need to add explicit type casts.",
      "For example, FROM (SELECT ...) [AS] foo.",
      "No operator matches the given name and argument type(s). You might " +
        "need to add explicit type casts.",
      "Ensure that no rows proposed for insertion within the same command " +
        "have duplicate constrained values.",
      "Use DROP ... CASCADE to drop the dependent objects too.",
      "The transaction might succeed if retried."))

  /** `matchLogLineCommon` (analyze.go:2078-2193) for one secondary
    * matcher: leading content before the first match, gaps (≥2 chars)
    * between matchAll matches and the remainder after the last match are
    * UNIDENTIFIED; capture groups carry their configured kind (kind 0 =
    * reviewed, no marker; groups beyond the kinds list = UNIDENTIFIED).
    * Returns None when the matcher doesn't review the line. */
  private def markWith(content: String, m: SecMatcher): Option[List[Marker]] = {
    if (m.pattern == null) {
      return m.prefixes.find(content.startsWith(_)).map { prefix =>
        val out = ListBuffer.empty[Marker]
        if (prefix.length < content.length) {
          var end = content.length
          if (content.charAt(end - 1) == '\n') end -= 1
          if (end - prefix.length > 0) out += Marker(prefix.length, end, Unidentified)
        }
        out.toList
      }
    }
    if (m.prefixes.nonEmpty && !m.prefixes.exists(content.startsWith(_)))
      return None
    val mt = m.pattern.matcher(content)
    if (!mt.find()) return None
    val out = ListBuffer.empty[Marker]
    var first = true
    var prevEnd = 0
    var more = true
    while (more) {
      if (first && mt.start > 0) out += Marker(0, mt.start, Unidentified)
      if (!first && prevEnd < mt.start - 1) out += Marker(prevEnd, mt.start, Unidentified)
      var g = 0
      while (g < mt.groupCount()) {
        val s = mt.start(g + 1)
        if (s >= 0) {
          if (g >= m.kinds.length) out += Marker(s, mt.end(g + 1), Unidentified)
          else if (m.kinds(g) != 0) out += Marker(s, mt.end(g + 1), m.kinds(g))
        }
        g += 1
      }
      prevEnd = mt.end
      first = false
      more = m.matchAll && mt.find()
    }
    if (prevEnd < content.length - 1) {
      var end = content.length
      if (content.charAt(end - 1) == '\n') end -= 1
      if (end - prevEnd > 0) out += Marker(prevEnd, end, Unidentified)
    }
    Some(out.toList)
  }

  /** Mark a DETAIL/HINT/CONTEXT line against the flat secondary table;
    * None = no matcher reviewed it. */
  def secondaryMark(content: String): Option[List[Marker]] = {
    secondaryMatchers.foreach { m =>
      val r = markWith(content, m)
      if (r.isDefined) return r
    }
    None
  }

  /** Primary-line marking: (reviewedForSecrets, classification, markers). */
  def primaryMark(content: String): (Boolean, Int, List[Marker]) = {
    val m = LogClassify.winningMatcher(content)
    if (m == null) return (false, 0, Nil)
    val out = ListBuffer.empty[Marker]
    if (m.pattern == null) {
      // prefix-only matcher: remainder after prefix is unidentified
      val prefix = m.prefixes.find(content.startsWith(_)).get
      var end = content.length
      if (end > 0 && content.charAt(end - 1) == '\n') end -= 1
      if (prefix.length < content.length && end - prefix.length > 0)
        out += Marker(prefix.length, end, Unidentified)
      return (true, m.cid, out.toList)
    }
    val mt = m.pattern.matcher(content)
    if (!mt.find()) {
      // classify-on-prefix matchers can classify without marking
      return (false, if (m.classifyOnPrefix) m.cid else 0, Nil)
    }
    if (mt.start > 0) out += Marker(0, mt.start, Unidentified)
    var g = 0
    while (g < mt.groupCount()) {
      val s = mt.start(g + 1)
      if (s >= 0) {
        if (g >= m.groupSecrets.length) out += Marker(s, mt.end(g + 1), Unidentified)
        else if (m.groupSecrets(g) != 0) out += Marker(s, mt.end(g + 1), m.groupSecrets(g))
      }
      g += 1
    }
    if (mt.end < content.length - 1) {
      val kind = if (m.remainderKind != 0) m.remainderKind else Unidentified
      var end = content.length
      if (content.charAt(end - 1) == '\n') end -= 1
      if (end - mt.end > 0) out += Marker(mt.end, end, kind)
    }
    markUtilityCredential(content, out)
    (true, m.cid, out.toList)
  }

  /** `markUtilitySecret` (analyze.go:2320-2337): a statement-text span
    * whose text is a utility statement that normalization would change
    * (i.e. it carries literals — ALTER ROLE … PASSWORD '…') gets an
    * overlapping CREDENTIAL marker, so credential-only redaction strips
    * it even when statement text is kept. */
  private def markUtilityCredential(content: String, out: ListBuffer[Marker]): Unit = {
    val stmts = out.filter(_.kind == StatementText).toList
    stmts.foreach { m =>
      val q = content.substring(m.start, m.end)
      if (graft.functions.PgNormalize.utilityCredentialRisk(q))
        out += Marker(m.start, m.end, Credential)
    }
  }

  /** STATEMENT/QUERY context lines: whole content is statement text
    * (`markLineAsSecret`, analyze.go:2226-2233). When the associated
    * primary line is a SYNTAX_ERROR, the same span additionally gets a
    * PARSING_ERROR marker so both filters redact it
    * (analyze.go:1303-1317). The reference then runs `markUtilitySecret`
    * over the statement line too (analyze.go:2298-2299), so a utility
    * statement carrying a credential literal also gets an overlapping
    * CREDENTIAL marker. */
  def statementLineMark(content: String,
      primarySyntaxError: Boolean = false): List[Marker] = {
    val out = ListBuffer.empty[Marker]
    out += Marker(0, content.length, StatementText)
    if (primarySyntaxError) out += Marker(0, content.length, ParsingError)
    markUtilityCredential(content, out)
    out.toList
  }

  /** ReplaceSecrets splice for one line (`logs/replace.go:20-42`). */
  def replace(content: String, reviewed: Boolean, classification: Int,
      hasParent: Boolean, markers: List[Marker], kinds: Set[Int]): String = {
    if (kinds.contains(Unidentified) &&
        (!reviewed || (classification == 0 && !hasParent)))
      return Replacement + "\n"
    val sorted = markers.sortBy(_.start)
    val sb = new StringBuilder(content)
    var bytesChecked = -1
    var offset = 0
    sorted.foreach { m =>
      if (kinds.contains(m.kind) && m.start > bytesChecked) {
        sb.replace(m.start - offset, m.end - offset, Replacement)
        bytesChecked = m.end
        offset += (m.end - m.start) - Replacement.length
      }
    }
    sb.toString
  }

  /** Full per-line redaction by log level: DETAIL `parameters:` lines use
    * the parameter matcher, STATEMENT/QUERY lines are whole-statement
    * secrets, everything else goes through the primary matcher table.
    * Continuation levels count as having a parent (the reference only
    * wholesale-redacts unidentified lines with no ParentUUID). */
  def redactLine(content: String, level: String, kinds: Set[Int]): String = {
    val continuation = level == "DETAIL" || level == "STATEMENT" ||
      level == "QUERY" || level == "CONTEXT" || level == "HINT"
    if (level == "STATEMENT" || level == "QUERY")
      replace(content, reviewed = true, classification = 0, hasParent = true,
        statementLineMark(content), kinds)
    else if (level == "DETAIL" || level == "HINT" || level == "CONTEXT") {
      secondaryMark(content) match {
        case Some(ms) =>
          replace(content, reviewed = true, classification = 0,
            hasParent = true, ms, kinds)
        case None =>
          val (reviewed, cls, ms) = primaryMark(content)
          replace(content, reviewed, cls, hasParent = true, ms, kinds)
      }
    } else {
      val (reviewed, cls, ms) = primaryMark(content)
      replace(content, reviewed, cls, continuation, ms, kinds)
    }
  }

  /** markers as an array<struct<start,end,kind>> column. */
  def markers(content: Column): Column =
    GraftNative.column(SecretMarkersExpr(GraftNative.expression(content)))

  /** redacted content column for (content, level), filtering `kinds`. */
  def redact(content: Column, level: Column, kinds: Seq[Int] = AllKinds): Column =
    GraftNative.column(RedactSecretsExpr(
      GraftNative.expression(content), GraftNative.expression(level), kinds))
}

case class SecretMarkersExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("start", IntegerType, nullable = false),
    StructField("end", IntegerType, nullable = false),
    StructField("kind", IntegerType, nullable = false))), containsNull = false)
  override def nullSafeEval(input: Any): Any =
    SecretMarkersExpr.markersArray(input.asInstanceOf[UTF8String])
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.logsys.SecretMarkersExpr.markersArray($c)")
  override protected def withNewChildInternal(newChild: Expression): SecretMarkersExpr =
    copy(child = newChild)
}

object SecretMarkersExpr {
  /** Static per-row kernel shared by eval and generated code. */
  def markersArray(input: UTF8String): GenericArrayData = {
    val (_, _, ms) = LogSecrets.primaryMark(input.toString)
    new GenericArrayData(ms.map(m => InternalRow(m.start, m.end, m.kind)).toArray[Any])
  }
}

case class RedactSecretsExpr(left: Expression, right: Expression, kinds: Seq[Int])
    extends BinaryExpression {
  private lazy val kindSet = kinds.toSet
  override def dataType: DataType = StringType
  override def nullSafeEval(content: Any, level: Any): Any =
    RedactSecretsExpr.redactU(content.asInstanceOf[UTF8String],
      level.asInstanceOf[UTF8String], kindSet)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    // the filter-kind set rides along as a reference object
    val kindsRef = ctx.addReferenceObj("graftSecretKinds", kindSet,
      "scala.collection.immutable.Set")
    defineCodeGen(ctx, ev, (c, l) =>
      s"graft.logsys.RedactSecretsExpr.redactU($c, $l, $kindsRef)")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RedactSecretsExpr =
    copy(left = newLeft, right = newRight)
}

object RedactSecretsExpr {
  def redactU(content: UTF8String, level: UTF8String,
      kinds: Set[Int]): UTF8String =
    UTF8String.fromString(LogSecrets.redactLine(
      content.toString, level.toString, kinds))
}
