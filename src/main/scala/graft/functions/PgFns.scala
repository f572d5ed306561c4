package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar functions mirroring the reference's query-text and filter
  * helpers, expressed as codegen'd `functions._` compositions (no UDFs in
  * the hot path).
  */
object PgFns {

  /** Glob → anchored Java/RE2-compatible regex, the reference's
    * `ignore_table_pattern` filter (`input/full.go:200-216`, F1): `*` and
    * `?` wildcards, everything else literal. Kept to a regex subset that
    * behaves identically in Spark (java.util.regex) and DuckDB (RE2). */
  def globToRegex(glob: String): String = {
    val sb = new StringBuilder("^")
    glob.foreach {
      case '*' => sb.append(".*")
      case '?' => sb.append(".")
      case c if "\\.[]{}()+-^$|".contains(c) => sb.append("\\").append(c)
      case c => sb.append(c)
    }
    sb.append("$").toString
  }

  /** Query-text normalization, the spirit of the reference's pg_query
    * normalize (`util/normalize.go:13-32`, X2): numeric and string
    * literals replaced by `?`. A reduced-scope normalizer (no parse tree);
    * the regexes are deliberately RE2-safe so a DuckDB oracle can apply
    * the identical rewrite. */
  def normalizeQuery(c: Column): Column = {
    val noStrings = regexp_replace(c, "'[^']*'", "?")
    regexp_replace(noStrings, "[0-9]+(\\.[0-9]+)?", "?")
  }

  /** Query fingerprint (`util/fingerprint.go:13-48`, X1): stable digest of
    * the normalized text. md5 hex — identical builtin in DuckDB, so the
    * oracle can reproduce it. */
  def fingerprint(c: Column): Column = md5(normalizeQuery(c))

  /** pg_query-parity normalization (X1/X2): lexer-based constant→`$n`
    * replacement with truncation repair — see [[PgNormalize]]. Validated
    * against the reference's integration goldens. */
  def pgNormalize(c: Column): Column =
    org.apache.spark.sql.GraftNative.column(
      graft.functions.expressions.PgNormalizeQueryExpr(
        org.apache.spark.sql.GraftNative.expression(c)))

  /** 64-bit grouping fingerprint with pg_query semantics: literals,
    * params and IN-list arity collapse to one key; keyword case and
    * whitespace are insignificant. */
  def pgFingerprint(c: Column): Column =
    org.apache.spark.sql.GraftNative.column(
      graft.functions.expressions.PgFingerprintExpr(
        org.apache.spark.sql.GraftNative.expression(c)))

  /** sqlcommenter query-tag map (X13, `logs/querysample/tags.go`). */
  def queryTags(c: Column): Column =
    org.apache.spark.sql.GraftNative.column(
      graft.functions.expressions.QueryTagsExpr(
        org.apache.spark.sql.GraftNative.expression(c)))

  /** Utility-statement detection (`input/postgres/statements.go:431-450`,
    * X3): scanner-driven — the [[PgNormalize]] lexer skips comments,
    * strips parenthesized wrappers, and resolves `WITH … INSERT` CTE
    * chains to the main statement verb, matching pg_query's
    * IsUtilityStmt semantics instead of a leading-keyword guess. */
  def isUtilityStatement(c: Column): Column =
    org.apache.spark.sql.GraftNative.column(
      graft.functions.expressions.IsUtilityExpr(
        org.apache.spark.sql.GraftNative.expression(c)))

  /** `{1,2,3}` oid-array unpack (`relations.go:234-249`, X15). */
  def parseOidArray(c: Column): Column =
    transform(split(regexp_replace(c, "^\\{|\\}$", ""), ","),
      x => trim(x).cast("long"))

  /** `1 2 3` int2vector unpack (`input/postgres/helpers.go`, X15). */
  def parseIntVector(c: Column): Column =
    transform(split(c, " "), x => x.cast("int"))

  /** xid → xid8 widening with wraparound repair (`state/util.go:27-44`,
    * X16): epoch = (currentXid8 − xid) >> 32 — the GENERAL distance form,
    * not a one-wrap special case — and the reference's zero guard (xmin
    * horizons and currentXactId are legitimately 0 on replicas). */
  def xidToXid8(xid: Column, currentXid8: Column): Column =
    when(xid === 0 || currentXid8 === 0, lit(0L))
      .otherwise(
        shiftleft(shiftrightunsigned(currentXid8 - xid, 32), 32)
          .bitwiseOR(xid))

  /** Secret-span redaction (`logs/replace.go:13-42`, X9) — reduced scope:
    * redact quoted literals wholesale. */
  def redactLiterals(c: Column): Column =
    regexp_replace(c, "'[^']*'", "[redacted]")
}
