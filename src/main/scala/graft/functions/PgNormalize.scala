package graft.functions

import scala.collection.mutable.ArrayBuffer

/** Lexer-based SQL query normalization with pg_query/pg_stat_statements
  * semantics (reference `util/normalize.go:13-32`, `util/fingerprint.go:13-48`,
  * `util/query_text.go:5-40`; validated against the reference's own
  * integration goldens `integration_test/pg10.expected…pg17.expected`).
  *
  * Instead of binding libpg_query (no JNI in this container), this is a
  * faithful PostgreSQL *scanner*: it tokenizes the raw text (strings with
  * '' doubling, E'…' backslash strings, dollar-quoted bodies, quoted
  * identifiers, nested block comments, numeric literals incl. PG16
  * hex/octal/binary and underscore separators, `$n` params) and replaces
  * each constant token with `$n`, numbering sequentially after the
  * highest pre-existing parameter — exactly what pg_query's normalize
  * does with parse-tree constant locations, for the token-expressible
  * subset. Keyword case, whitespace and comments are preserved verbatim,
  * matching the goldens.
  *
  * Failure/repair semantics mirror the reference exactly:
  * unparsable input (unterminated string/comment/dollar-quote, unbalanced
  * parens) is repaired by `fixTruncated` (append odd quote, close
  * parens — `util/query_text.go:26-40`), marked with the
  * truncated-query comment prefix on success, else collapsed to the
  * `<truncated query>` / `<unparsable query>` sentinels.
  */
object PgNormalize {

  val TruncatedQueryMarker = "/* truncated-query */ "
  val QueryTextTruncated = "<truncated query>"
  val QueryTextUnparsable = "<unparsable query>"

  // token types
  private final val TConst = 0
  private final val TParam = 1
  private final val TWord = 2
  private final val TQuotedIdent = 3
  private final val TOp = 4 // single operator/punct char

  private final case class Tok(kind: Int, start: Int, end: Int)

  private final case class Lexed(
      toks: ArrayBuffer[Tok], maxParam: Int, parens: Int, ok: Boolean)

  /** Words that end a *value* (so a following `-` is binary); keywords
    * after which `-` is unary minus and folds into a numeric constant,
    * the way PG's doNegate folds `-1`. */
  private val operatorKeywords: Set[String] = Set(
    "select", "from", "where", "and", "or", "not", "in", "like", "ilike",
    "between", "limit", "offset", "when", "then", "else", "case", "end",
    "by", "on", "set", "values", "returning", "having", "union",
    "intersect", "except", "all", "distinct", "as", "default", "is",
    "escape", "similar", "to", "symmetric", "asymmetric", "array", "row")

  private def isWordStart(c: Char) = Character.isLetter(c) || c == '_'
  private def isWordChar(c: Char) =
    Character.isLetterOrDigit(c) || c == '_' || c == '$'
  private def isDigitOrSep(c: Char) = (c >= '0' && c <= '9') || c == '_'

  // scan a plain '...' body from `i` (after the opening quote); returns
  // index after the closing quote, or -1 if unterminated. '' doubling.
  private def scanPlainString(q: String, i0: Int): Int = {
    var i = i0
    val n = q.length
    while (i < n) {
      if (q(i) == '\'') {
        if (i + 1 < n && q(i + 1) == '\'') i += 2
        else return i + 1
      } else i += 1
    }
    -1
  }

  // E'...' body: backslash escapes \' and \\ don't terminate
  private def scanEscapeString(q: String, i0: Int): Int = {
    var i = i0
    val n = q.length
    while (i < n) {
      q(i) match {
        case '\\' => i += 2
        case '\'' =>
          if (i + 1 < n && q(i + 1) == '\'') i += 2
          else return i + 1
        case _ => i += 1
      }
    }
    -1
  }

  private def scanQuotedIdent(q: String, i0: Int): Int = {
    var i = i0
    val n = q.length
    while (i < n) {
      if (q(i) == '"') {
        if (i + 1 < n && q(i + 1) == '"') i += 2
        else return i + 1
      } else i += 1
    }
    -1
  }

  // number starting at q(i) (digit or '.'): PG numerics incl. 1_000,
  // 1.5e-3, 0x1F, 0o17, 0b101
  private def scanNumber(q: String, i0: Int): Int = {
    val n = q.length
    var i = i0
    if (q(i) == '0' && i + 1 < n &&
        (q(i + 1) == 'x' || q(i + 1) == 'X' || q(i + 1) == 'o' ||
          q(i + 1) == 'O' || q(i + 1) == 'b' || q(i + 1) == 'B')) {
      i += 2
      while (i < n && (Character.digit(q(i), 16) >= 0 || q(i) == '_')) i += 1
      return i
    }
    while (i < n && isDigitOrSep(q(i))) i += 1
    if (i < n && q(i) == '.') {
      i += 1
      while (i < n && isDigitOrSep(q(i))) i += 1
    }
    if (i < n && (q(i) == 'e' || q(i) == 'E')) {
      var j = i + 1
      if (j < n && (q(j) == '+' || q(j) == '-')) j += 1
      if (j < n && Character.isDigit(q(j))) {
        i = j
        while (i < n && isDigitOrSep(q(i))) i += 1
      }
    }
    i
  }

  /** Clause keywords that end a GROUP BY / ORDER BY target list (for
    * ordinal preservation). */
  private val ordinalExitKeywords: Set[String] = Set(
    "limit", "offset", "having", "window", "union", "intersect", "except",
    "returning", "for", "fetch", "from", "where", "into", "values", "select")

  /** Words that may follow an ordinal inside the target list. */
  private val ordinalFollowKeywords: Set[String] = Set(
    "asc", "desc", "nulls", "using") ++ ordinalExitKeywords ++ Set("order", "group")

  /** Keywords (plus multi-word type-name tokens) after/before which bare
    * word adjacency is grammatical — used by strict expression mode to
    * detect plan-only constructs a real parser rejects (`SubPlan 1`,
    * `XMLTABLE(... COLUMNS id integer PATH ...)`). */
  private val adjacencyKeywords: Set[String] = Set(
    "select", "as", "from", "where", "and", "or", "not", "case", "when",
    "then", "else", "end", "distinct", "all", "by", "group", "order",
    "having", "limit", "offset", "union", "intersect", "except", "on",
    "using", "join", "inner", "left", "right", "full", "outer", "cross",
    "lateral", "natural", "in", "is", "null", "true", "false", "between",
    "symmetric", "asymmetric", "like", "ilike", "similar", "to", "escape",
    "collate", "filter", "over", "partition", "range", "rows", "groups",
    "window", "array", "row", "interval", "cast", "exists", "any", "some",
    "nulls", "first", "last", "asc", "desc", "with", "recursive", "values",
    "insert", "update", "delete", "set", "returning", "conflict", "do",
    "nothing", "at", "time", "zone", "precision", "varying", "without",
    "local", "double", "character", "bit", "for", "search", "depth",
    "breadth", "cycle", "current_timestamp", "current_date", "current_time",
    "localtime", "localtimestamp", "preceding", "following", "unbounded",
    "current")

  /** `strictExpr` approximates a real parser's rejection of plan-only
    * constructs inside wrapped expressions (`SubPlan 1`, XMLTABLE column
    * clauses): two value tokens juxtaposed inside parens — outside a
    * `::` type-name context and not licensed by a keyword — are not
    * expression grammar, so the lex is marked failed and normalize
    * collapses to the unparsable sentinel, matching pg_query. */
  private def lex(q: String, strictExpr: Boolean = false): Lexed = {
    val toks = new ArrayBuffer[Tok]
    val n = q.length
    var i = 0
    var maxParam = 0
    var parens = 0
    var ok = true
    // context for unary-sign folding and IS/NOT guards
    var prevValue = false // last significant token can end a value
    var prevWord = "" // last bare word, lowercased
    // GROUP BY / ORDER BY ordinal preservation (PG16+ pg_stat_statements
    // keeps `GROUP BY 1, 2` ordinals — see the reference's pg17 golden):
    // active at the paren depth where BY was seen; bare integers that
    // stand alone as list elements stay verbatim.
    var ordinalDepth = -1
    var prevSignificant = "" // last significant token text (for ',' check)
    // strict expression mode: adjacency validity tracking
    var adjPrev = false   // last token was value-like (word/number/string/`)`)
    var afterCast = false // inside a `::` type-name word sequence
    def push(kind: Int, s: Int, e: Int): Unit = toks += Tok(kind, s, e)

    // is the token starting at j (after an ordinal number) a legal
    // ordinal follower — ',' or clause end / direction keyword?
    def ordinalFollows(j0: Int): Boolean = {
      var j = j0
      while (j < n && Character.isWhitespace(q(j))) j += 1
      if (j >= n) return true
      val c = q(j)
      if (c == ',' || c == ')' || c == ';') return true
      if (isWordStart(c)) {
        var k = j + 1
        while (k < n && isWordChar(q(k))) k += 1
        return ordinalFollowKeywords.contains(q.substring(j, k).toLowerCase)
      }
      false
    }

    while (i < n && ok) {
      val c = q(i)
      if (c == '-' && i + 1 < n && q(i + 1) == '-') {
        val j = q.indexOf('\n', i)
        i = if (j < 0) n else j + 1 // comment = whitespace; context kept
      } else if (c == '/' && i + 1 < n && q(i + 1) == '*') {
        var depth = 1
        var j = i + 2
        while (j < n && depth > 0) {
          if (j + 1 < n && q(j) == '/' && q(j + 1) == '*') { depth += 1; j += 2 }
          else if (j + 1 < n && q(j) == '*' && q(j + 1) == '/') { depth -= 1; j += 2 }
          else j += 1
        }
        if (depth > 0) { ok = false } else i = j
      } else if (c == '\'') {
        val e = scanPlainString(q, i + 1)
        if (e < 0) ok = false
        else { push(TConst, i, e); prevValue = true; prevWord = ""; prevSignificant = "v"; adjPrev = true; afterCast = false; i = e }
      } else if ((c == 'e' || c == 'E') && i + 1 < n && q(i + 1) == '\'') {
        val e = scanEscapeString(q, i + 2)
        if (e < 0) ok = false
        else { push(TConst, i, e); prevValue = true; prevWord = ""; prevSignificant = "v"; adjPrev = true; afterCast = false; i = e }
      } else if ((c == 'b' || c == 'B' || c == 'x' || c == 'X') &&
          i + 1 < n && q(i + 1) == '\'') {
        val e = scanPlainString(q, i + 2)
        if (e < 0) ok = false
        else { push(TConst, i, e); prevValue = true; prevWord = ""; prevSignificant = "v"; adjPrev = true; afterCast = false; i = e }
      } else if ((c == 'u' || c == 'U') && i + 2 < n && q(i + 1) == '&' &&
          q(i + 2) == '\'') {
        val e = scanEscapeString(q, i + 3)
        if (e < 0) ok = false
        else { push(TConst, i, e); prevValue = true; prevWord = ""; prevSignificant = "v"; adjPrev = true; afterCast = false; i = e }
      } else if (c == '"') {
        val e = scanQuotedIdent(q, i + 1)
        if (e < 0) ok = false
        else { push(TQuotedIdent, i, e); prevValue = true; prevWord = ""; prevSignificant = "v"; adjPrev = true; afterCast = false; i = e }
      } else if (c == '$') {
        if (i + 1 < n && Character.isDigit(q(i + 1))) {
          var j = i + 1
          while (j < n && Character.isDigit(q(j))) j += 1
          val num = q.substring(i + 1, j).toInt
          if (num > maxParam) maxParam = num
          push(TParam, i, j); prevValue = true; prevWord = ""
          prevSignificant = "v"; adjPrev = false; afterCast = false
          i = j
        } else {
          // dollar-quote $tag$ ... $tag$
          var j = i + 1
          while (j < n && (isWordStart(q(j)) || Character.isDigit(q(j)))) j += 1
          if (j < n && q(j) == '$') {
            val tag = q.substring(i, j + 1)
            val close = q.indexOf(tag, j + 1)
            if (close < 0) ok = false
            else {
              val e = close + tag.length
              push(TConst, i, e); prevValue = true; prevWord = ""
              prevSignificant = "v"; adjPrev = true; afterCast = false
              i = e
            }
          } else {
            push(TOp, i, i + 1); prevValue = false; prevWord = ""
            prevSignificant = "$"
            i += 1
          }
        }
      } else if (Character.isDigit(c) ||
          (c == '.' && i + 1 < n && Character.isDigit(q(i + 1)))) {
        val e = scanNumber(q, i)
        if (strictExpr && parens > 0 && adjPrev && !afterCast) ok = false
        val isOrdinal = ordinalDepth == parens &&
          (prevSignificant == "," || prevWord == "by") &&
          q.substring(i, e).forall(Character.isDigit) && ordinalFollows(e)
        push(if (isOrdinal) TWord else TConst, i, e)
        prevValue = true; prevWord = ""; prevSignificant = "#"
        adjPrev = true; afterCast = false
        i = e
      } else if ((c == '-' || c == '+') && i + 1 < n &&
          (Character.isDigit(q(i + 1)) ||
            (q(i + 1) == '.' && i + 2 < n && Character.isDigit(q(i + 2)))) &&
          !prevValue) {
        // unary sign folds into the numeric constant (PG doNegate)
        val e = scanNumber(q, i + 1)
        push(TConst, i, e); prevValue = true; prevWord = ""
        prevSignificant = "v"
        i = e
      } else if (isWordStart(c)) {
        var j = i + 1
        while (j < n && isWordChar(q(j))) j += 1
        val w = q.substring(i, j).toLowerCase
        if (strictExpr && parens > 0 && adjPrev && !afterCast &&
            !adjacencyKeywords.contains(w)) ok = false
        if ((w == "true" || w == "false" || w == "null") &&
            prevWord != "is" && prevWord != "not") {
          push(TConst, i, j)
          prevValue = true; prevWord = ""
          adjPrev = true
        } else {
          push(TWord, i, j)
          if (w == "by" && (prevWord == "group" || prevWord == "order"))
            ordinalDepth = parens
          else if (ordinalDepth == parens && ordinalExitKeywords.contains(w))
            ordinalDepth = -1
          prevValue = !operatorKeywords.contains(w)
          prevWord = w
          adjPrev = !afterCast && !adjacencyKeywords.contains(w)
        }
        prevSignificant = "w"
        i = j
      } else if (c == '(' || c == '[') {
        if (c == '(') parens += 1
        push(TOp, i, i + 1); prevValue = false; prevWord = ""
        prevSignificant = c.toString
        adjPrev = false; afterCast = false
        i += 1
      } else if (c == ')' || c == ']') {
        if (c == ')') { parens -= 1; if (parens < ordinalDepth) ordinalDepth = -1 }
        push(TOp, i, i + 1); prevValue = true; prevWord = ""
        prevSignificant = c.toString
        adjPrev = true; afterCast = false
        i += 1
      } else if (Character.isWhitespace(c)) {
        i += 1
      } else if (c == ':' && i + 1 < n && q(i + 1) == ':') {
        push(TOp, i, i + 2); prevValue = false; prevWord = ""
        prevSignificant = "::"
        adjPrev = false; afterCast = true
        i += 2
      } else {
        push(TOp, i, i + 1); prevValue = false; prevWord = ""
        prevSignificant = c.toString
        adjPrev = false; afterCast = false
        i += 1
      }
    }
    Lexed(toks, maxParam, parens, ok && parens == 0)
  }

  /** Statement verbs that parse to plannable (non-utility) statements —
    * everything else goes through ProcessUtility in PG. */
  private val dmlVerbs: Set[String] =
    Set("select", "insert", "update", "delete", "merge", "table", "values")

  /** First significant statement verb, with parser-like handling the
    * leading-keyword regex got wrong (X3, `statements.go:431-450`):
    * comments and whitespace are skipped by the lexer, leading `(` is
    * stripped (a parenthesized statement parses as its body), and a
    * `WITH [RECURSIVE] …` CTE chain resolves to the MAIN statement's
    * verb — the first DML verb token back at the CTE-list paren depth
    * (CTE names cannot be bare reserved words, so no false hit).
    * Returns "" for empty/unlexable input. */
  def statementVerb(q: String): String = {
    val lx = lex(q)
    val toks = lx.toks
    var i = 0
    while (i < toks.length && toks(i).kind == TOp && q(toks(i).start) == '(')
      i += 1
    if (i >= toks.length || toks(i).kind != TWord) return ""
    val first = q.substring(toks(i).start, toks(i).end).toLowerCase
    if (first != "with") return first
    var depth = 0
    i += 1
    while (i < toks.length) {
      val tk = toks(i)
      if (tk.kind == TOp) {
        val c = q(tk.start)
        if (c == '(') depth += 1 else if (c == ')') depth -= 1
      } else if (tk.kind == TWord && depth <= 0) {
        val w = q.substring(tk.start, tk.end).toLowerCase
        if (dmlVerbs.contains(w)) return w
      }
      i += 1
    }
    "with"
  }

  /** pg_query `IsUtilityStmt` semantics over the scanner (X3): utility =
    * any statement whose main verb is not a plannable DML verb; empty or
    * unlexable input is not utility (the reference returns the parse
    * error and treats it as non-utility). */
  def isUtilityStatement(q: String): Boolean = {
    val v = statementVerb(q)
    v.nonEmpty && v != "with" && !dmlVerbs.contains(v)
  }

  /** Functions the query-run guard rejects anywhere in a statement
    * (`explain_analyze.go:88-99`): exfiltration (dblink family) and
    * nested-SQL-execution (crosstab/xpath_table) risks. */
  private val blockedFunctions: Set[String] = Set(
    "dblink", "dblink_connect", "dblink_exec",
    "crosstab", "crosstab2", "crosstab3", "crosstab4", "xpath_table")

  /** The on-demand query-run guard (`validateQuery`,
    * `explain_analyze.go:60-117`) over the scanner: a single parseable
    * statement whose main verb is a SELECT form (TABLE/VALUES parse as
    * SelectStmt in PG and are allowed; wCTEs are permitted like the
    * reference, which relies on the read-only transaction instead),
    * with no blocked function call anywhere. Returns the reference's
    * rejection category: ok | parse | multi | dml | utility |
    * blocked_function (MERGE hits the reference's default branch →
    * utility, exactly as pg_query's switch does). */
  def queryRunGuard(q: String): String = {
    val lx = lex(q)
    if (!lx.ok || lx.parens != 0) return "parse"
    val toks = lx.toks
    if (toks.isEmpty) return "parse"
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (t.kind == TOp && q.charAt(t.start) == ';' && i + 1 < toks.length)
        return "multi"
      i += 1
    }
    val v = statementVerb(q)
    if (v.isEmpty || v == "with") return "parse"
    if (v == "insert" || v == "update" || v == "delete") return "dml"
    if (v != "select" && v != "table" && v != "values") return "utility"
    i = 0
    while (i < toks.length) {
      val t = toks(i)
      val name =
        if (t.kind == TWord) q.substring(t.start, t.end).toLowerCase
        else if (t.kind == TQuotedIdent) q.substring(t.start + 1, t.end - 1)
        else null
      if (name != null && blockedFunctions.contains(name) &&
          i + 1 < toks.length && toks(i + 1).kind == TOp &&
          q.charAt(toks(i + 1).start) == '(')
        return "blocked_function"
      i += 1
    }
    "ok"
  }

  /** `markUtilitySecret`'s NormalizeUtility-changed predicate, reduced to
    * the node types pg_query's utility-only normalization actually
    * rewrites (`pg_query_normalize.c:414-447`): role/user/group options,
    * subscription conninfo, user mappings — i.e. a CREATE/ALTER
    * ROLE/USER/GROUP/SUBSCRIPTION statement carrying a string literal
    * (the password/conninfo). EXECUTE/EXPLAIN/etc. constants are NOT
    * rewritten in utility-only mode, so they carry no credential risk. */
  /** Does `pg_query.NormalizeUtility` rewrite this statement? Per the
    * reference's normalizer (`parser/pg_query_normalize.c:398-450`),
    * utility-only normalization records constants ONLY for: Create/Alter
    * RoleStmt option DefElems whose arg is a *String* (PASSWORD '…',
    * VALID UNTIL '…' — Integer args like CONNECTION LIMIT 10 are never
    * recorded), Create/AlterSubscriptionStmt conninfo, and Create/Alter
    * UserMappingStmt options. `ALTER ROLE … SET cfg = '…'` is an
    * AlterRoleSetStmt (→ VariableSetStmt, skipped under utility-only)
    * and `ALTER ROLE x RENAME TO y` is a RenameStmt — neither is
    * rewritten, so neither is credential risk. */
  def utilityCredentialRisk(q: String): Boolean = {
    val lx = lex(q)
    if (!lx.ok) return false
    val ws = lx.toks.iterator.filter(_.kind == TWord).take(6)
      .map(t => q.substring(t.start, t.end).toLowerCase).toSeq
    if (ws.length < 2) return false
    if (ws.head != "create" && ws.head != "alter") return false
    if (!Set("role", "user", "group", "subscription").contains(ws(1))) return false
    val rest = ws.drop(2)
    val userMapping = ws(1) == "user" && rest.headOption.contains("mapping")
    if (!userMapping) {
      // AlterRoleSetStmt / RenameStmt forms are not normalized
      // `… <name> SET/RESET/RENAME …` and `… ALL IN DATABASE … SET …`
      if (ws.head == "alter" && ws(1) != "subscription" &&
          rest.take(2).exists(w =>
            w == "set" || w == "reset" || w == "rename" || w == "in"))
        return false
      // only the conninfo string of a subscription is recorded
      if (ws(1) == "subscription" && !rest.contains("connection")) return false
    }
    lx.toks.exists { t =>
      t.kind == TConst && (q.charAt(t.start) == '\'' ||
        (t.start + 1 < q.length && q.charAt(t.start + 1) == '\''))
    }
  }

  /** Replace constant tokens with sequential `$n` (continuing after the
    * highest existing parameter); everything else verbatim. */
  private def replace(q: String, lx: Lexed): String = {
    val sb = new StringBuilder(q.length)
    var pos = 0
    var next = lx.maxParam + 1
    lx.toks.foreach { t =>
      if (t.kind == TConst) {
        sb.append(q.substring(pos, t.start)).append('$').append(next)
        next += 1
        pos = t.end
      }
    }
    sb.append(q.substring(pos))
    sb.toString
  }

  /** Comment bodies in lexical order (delimiters stripped; nested block
    * comments kept as one body) — string-aware, for query-tag parsing. */
  def comments(q: String): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    val n = q.length
    var i = 0
    while (i < n) {
      val c = q(i)
      if (c == '-' && i + 1 < n && q(i + 1) == '-') {
        val j = q.indexOf('\n', i)
        val end = if (j < 0) n else j
        out += q.substring(i + 2, end)
        i = end
      } else if (c == '/' && i + 1 < n && q(i + 1) == '*') {
        var depth = 1
        var j = i + 2
        while (j < n && depth > 0) {
          if (j + 1 < n && q(j) == '/' && q(j + 1) == '*') { depth += 1; j += 2 }
          else if (j + 1 < n && q(j) == '*' && q(j + 1) == '/') { depth -= 1; j += 2 }
          else j += 1
        }
        out += q.substring(i + 2, math.max(i + 2, j - 2))
        i = j
      } else if (c == '\'') {
        val e = scanPlainString(q, i + 1)
        i = if (e < 0) n else e
      } else if (c == '"') {
        val e = scanQuotedIdent(q, i + 1)
        i = if (e < 0) n else e
      } else i += 1
    }
    out.toSeq
  }

  /** `fixTruncatedQuery` (`util/query_text.go:26-40`): counts RAW quote
    * chars (including escaped ones), appends the odd quote and closing
    * parens — deliberately crude, mirrored exactly. */
  def fixTruncated(q: String): String = {
    var out = q
    if (q.count(_ == '\'') % 2 == 1) out += "'"
    if (q.count(_ == '"') % 2 == 1) out += "\""
    val open = q.count(_ == '(') - q.count(_ == ')')
    if (open > 0) out += ")" * open
    out
  }

  /** NormalizeQuery (`util/normalize.go:13-32`). */
  def normalize(q: String, filterQueryText: String = "normal",
      trackActivityQuerySize: Int = 1024,
      strictExpr: Boolean = false): String = {
    val lx = lex(q, strictExpr)
    if (lx.ok && q.trim.nonEmpty) replace(q, lx)
    else {
      val fixed = fixTruncated(q)
      val lx2 = lex(fixed, strictExpr)
      if (lx2.ok && fixed.trim.nonEmpty) TruncatedQueryMarker + replace(fixed, lx2)
      else if (filterQueryText == "none") q
      else if (q.length == trackActivityQuerySize - 1) QueryTextTruncated
      else QueryTextUnparsable
    }
  }

  /** Canonical grouping form for fingerprinting: keyword/identifier case
    * folded, comments/whitespace collapsed, every param to `$`, and
    * comma-lists of params collapsed to one — so `IN (1,2,3)` and
    * `IN (4)` fingerprint identically, the pg_query parse-tree-hash
    * behavior (constants are dropped from the tree). */
  def canonical(q: String): String = {
    val normalized = normalize(q)
    val lx = lex(normalized)
    val parts = new ArrayBuffer[String](lx.toks.length)
    lx.toks.foreach { t =>
      val s = normalized.substring(t.start, t.end)
      parts += (t.kind match {
        case TParam | TConst => "$"
        case TWord => s.toLowerCase
        case TQuotedIdent =>
          // a quoted identifier that needs no quoting is the same
          // parse-tree node as its bare form: strip the quotes
          // (mixed-case / escaped / non-identifier content keeps them)
          val inner = s.substring(1, s.length - 1)
          if (inner.matches("[a-z_][a-z0-9_]*")) inner else s
        case _ => s
      })
    }
    // parse-tree-parity rewrites (the lexically-closable slice of the
    // pg_query fingerprint's tree-level collapses, see PgNormalizeSpec
    // "parse-tree gap" table): `!=` scans to the same operator as `<>`
    // in the Postgres grammar; `AS`, `INNER` (before JOIN) and `OUTER`
    // (after LEFT/RIGHT/FULL) are grammar sugar absent from the parse
    // tree; trailing semicolons delimit nothing.
    val rw = new ArrayBuffer[String](parts.length)
    var j = 0
    while (j < parts.length) {
      val p = parts(j)
      val next = if (j + 1 < parts.length) parts(j + 1) else ""
      val prev = if (rw.nonEmpty) rw.last else ""
      p match {
        case "!=" => rw += "<>"
        case "!" if next == "=" => rw += "<>"; j += 1
        case "<" if next == ">" => rw += "<>"; j += 1
        case "as" => ()
        case "inner" if next == "join" => ()
        case "outer" if prev == "left" || prev == "right" || prev == "full" => ()
        case _ => rw += p
      }
      j += 1
    }
    while (rw.nonEmpty && rw.last == ";") rw.remove(rw.length - 1)
    val rw2 = stripTableAliases(rw)
    // collapse runs: $ , $ , ... , $ → $
    val out = new ArrayBuffer[String](rw2.length)
    var i = 0
    while (i < rw2.length) {
      out += rw2(i)
      if (rw2(i) == "$") {
        while (i + 2 < rw2.length && rw2(i + 1) == "," && rw2(i + 2) == "$")
          i += 2
      }
      i += 1
    }
    out.mkString(" ")
  }

  /** Words that can follow a FROM-item without being its alias — the
    * stop set for [[stripTableAliases]]' alias candidacy. */
  private val aliasStopKeywords: Set[String] = Set(
    "on", "using", "join", "left", "right", "full", "cross", "natural",
    "where", "group", "order", "having", "limit", "offset", "union",
    "intersect", "except", "returning", "window", "for", "fetch", "into",
    "set", "values", "select", "from", "with", "tablesample", "when",
    "then", "else", "end", "and", "or", "not", "distinct", "lateral",
    "only", "asc", "desc", "nulls", "first", "last", "is", "in", "like",
    "ilike", "between", "update", "delete", "insert", "do")

  /** Parse-tree parity for table aliases: pg_query's fingerprint skips
    * Alias nodes entirely (`util/fingerprint.go:13-48` via libpg_query's
    * fingerprint defs — a RangeVar's alias and its column list never
    * reach the hash), so `FROM t x`, `FROM t y` and `FROM t` all
    * fingerprint identically while qualifier REFERENCES (`x.a`, a
    * ColumnRef string) still count. Lexical emulation: a paren-aware
    * FROM/UPDATE-clause state machine drops the alias identifier (and
    * its column-alias list) at the definition site only. States:
    * 0 outside, 1 expecting a FROM item, 2 after a primary (alias may
    * follow), 3 after the alias, 4 inside ON/USING, 5 inside a
    * join-keyword run. Parens push the state; the close-paren of a
    * paren opened at state 1/2 resumes state 2 (subquery/function
    * primaries), any other resumes its opener's state. */
  private def stripTableAliases(toks: ArrayBuffer[String]): ArrayBuffer[String] = {
    val out = new ArrayBuffer[String](toks.length)
    var state = 0
    // stack entries: resume state on close-paren (-1 = resume as
    // AFTER_PRIMARY because the group itself is/completes a primary)
    val stack = new ArrayBuffer[Int]
    def isIdentLike(s: String): Boolean =
      s.nonEmpty && (s.head == '"' || s.head == '_' || s.head.isLetter) &&
        !aliasStopKeywords.contains(s)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      var emit = true
      t match {
        case "(" =>
          if (state == 3) {
            // column-alias list of the alias just stripped: part of the
            // Alias node, skip the balanced group entirely
            var depth = 1; emit = false
            while (i + 1 < toks.length && depth > 0) {
              i += 1
              if (toks(i) == "(") depth += 1
              else if (toks(i) == ")") depth -= 1
            }
          } else {
            stack += (if (state == 1 || state == 2) -1 else state)
            state = 0
          }
        case ")" =>
          if (stack.nonEmpty) {
            val s0 = stack.remove(stack.length - 1)
            state = if (s0 == -1) 2 else s0
          }
        case "from" => state = 1
        case "update" if state == 0 && stack.isEmpty => state = 1
        case "," if state == 2 || state == 3 || state == 4 => state = 1
        case "join" if state >= 2 => state = 1
        case "left" | "right" | "full" | "cross" | "natural"
            if state >= 2 => state = 5
        case "on" | "using" if state == 2 || state == 3 => state = 4
        case kw if state != 0 && aliasStopKeywords.contains(kw) =>
          state = state match {
            case 1 if kw == "only" || kw == "lateral" => 1
            case _ if kw == "where" || kw == "group" || kw == "order" ||
              kw == "having" || kw == "limit" || kw == "offset" ||
              kw == "union" || kw == "intersect" || kw == "except" ||
              kw == "returning" || kw == "window" || kw == "for" ||
              kw == "fetch" || kw == "set" || kw == "select" => 0
            case s => s
          }
        case "." if state == 2 => () // qualified name continues
        case w if state == 1 && isIdentLike(w) => state = 2
        case w if state == 2 && isIdentLike(w) &&
            i > 0 && toks(i - 1) == "." => () // qualified-name part
        case w if state == 2 && isIdentLike(w) =>
          emit = false; state = 3 // the alias definition site
        case _ if state == 1 => state = 0 // not a table item: bail
        case _ => ()
      }
      if (emit) out += t
      i += 1
    }
    out
  }

  /** 64-bit grouping fingerprint of the canonical form (engine-owned
    * FNV-1a; the reference's XXH3-of-parse-tree is pg_query-internal). */
  def fingerprint(q: String): Long = Hashing.fnv1a64(canonical(q))
}
