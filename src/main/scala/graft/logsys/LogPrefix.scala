package graft.logsys

/** log_line_prefix → regex compiler, mirroring the reference's
  * `EscapeMatchers` table and `parsePrefix` (`logs/parse.go:59-184,
  * 376-432`, X4 in SURVEY §2.8): each `%x` escape becomes a capture
  * group (optional escapes get a trailing `?`), literal text is
  * regex-quoted, unknown escapes are ignored, and the first `%q` wraps
  * the remainder in one optional non-capturing group. The line regex
  * appends the 15-value level alternation and a dot-all content group,
  * exactly like `NewLogParser` (`parse.go:211-213`).
  */
object LogPrefix {

  /** The publicly-documented log_line_prefix formats the reference
    * recognizes (`logs/parse.go:20-47`) — public Postgres configuration
    * strings, not code. */
  val AmazonRds = "%t:%r:%u@%d:[%p]:"
  val Azure = "%t-%c-"
  val Custom1 = "%m [%p][%v] : [%l-1] %q[app=%a] "
  val Custom2 = "%t [%p-%l] %q%u@%d "
  val Custom3 = "%m [%p] %q[user=%u,db=%d,app=%a] "
  val Custom4 = "%m [%p] %q[user=%u,db=%d,app=%a,host=%h] "
  val Custom5 = "%t [%p]: [%l-1] user=%u,db=%d - PG-%e "
  val Custom6 = "%t [%p]: [%l-1] user=%u,db=%d,app=%a,client=%h "
  val Custom7 = "%t [%p]: [%l-1] [trx_id=%x] user=%u,db=%d "
  val Custom8 = "[%p]: [%l-1] db=%d,user=%u "
  val Custom9 = "%m %r %u %a [%c] [%p] "
  val Custom10 = "%m [%p]: [%l-1] db=%d,user=%u "
  val Custom11 = "pid=%p,user=%u,db=%d,app=%a,client=%h "
  val Custom12 = "user=%u,db=%d,app=%a,client=%h "
  val Custom13 = "%p-%s-%c-%l-%h-%u-%d-%m "
  val Custom14 = "%m [%p][%b][%v][%x] %q[user=%u,db=%d,app=%a] "
  val Custom15 = "%m [%p] %q%u@%d "
  val Custom16 = "%t [%p] %q%u@%d %h "
  val Simple = "%m [%p] "
  val Heroku1 = " sql_error_code = %e "
  val Heroku2 = " sql_error_code = %e time_ms = \"%m\" pid=\"%p\" " +
    "proc_start_time=\"%s\" session_id=\"%c\" vtid=\"%v\" tid=\"%x\" " +
    "log_line=\"%l\" %qdatabase=\"%d\" connection_source=\"%r\" " +
    "user=\"%u\" application_name=\"%a\" "

  val byName: Map[String, String] = Map(
    "LogPrefixAmazonRds" -> AmazonRds, "LogPrefixAzure" -> Azure,
    "LogPrefixCustom1" -> Custom1, "LogPrefixCustom2" -> Custom2,
    "LogPrefixCustom3" -> Custom3, "LogPrefixCustom4" -> Custom4,
    "LogPrefixCustom5" -> Custom5, "LogPrefixCustom6" -> Custom6,
    "LogPrefixCustom7" -> Custom7, "LogPrefixCustom8" -> Custom8,
    "LogPrefixCustom9" -> Custom9, "LogPrefixCustom10" -> Custom10,
    "LogPrefixCustom11" -> Custom11, "LogPrefixCustom12" -> Custom12,
    "LogPrefixCustom13" -> Custom13, "LogPrefixCustom14" -> Custom14,
    "LogPrefixCustom15" -> Custom15, "LogPrefixCustom16" -> Custom16,
    "LogPrefixSimple" -> Simple, "LogPrefixHeroku1" -> Heroku1,
    "LogPrefixHeroku2" -> Heroku2)

  final case class Escape(name: String, regex: String, optional: Boolean)

  /** escape → (fieldName, fragment, optional) — `logs/parse.go:59-184`. */
  val EscapeMatchers: Map[Char, Escape] = Map(
    'a' -> Escape("application", ".{1,63}?", optional = true),
    'u' -> Escape("username", ".{1,63}?", optional = true),
    'd' -> Escape("database", ".{1,63}?", optional = true),
    'r' -> Escape("host_port", "[a-zA-Z0-9:.-]+\\(\\d{1,5}\\)|\\[local\\]", optional = true),
    'h' -> Escape("host", "[a-zA-Z0-9:.-]+|\\[local\\]", optional = true),
    'b' -> Escape("backend_type", "[a-z ]+", optional = false),
    'p' -> Escape("pid", "\\d+", optional = false),
    'P' -> Escape("leader_pid", "\\d+", optional = true),
    't' -> Escape("log_time", "\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2} (?:[A-Z]{1,4}|[+-]\\d+)", optional = false),
    'm' -> Escape("log_time_ms", "\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}\\.\\d{3} (?:[A-Z]{1,4}|[+-]\\d+)", optional = false),
    'n' -> Escape("epoch", "\\d+\\.\\d+", optional = false),
    'i' -> Escape("command_tag", "[A-Z_ ]+", optional = true),
    'e' -> Escape("sqlstate", "[0-9A-Z]{5}", optional = false),
    'c' -> Escape("session_id", "[0-9a-f]{1,8}\\.[0-9a-f]{1,8}", optional = true),
    'l' -> Escape("log_line_no", "\\d+", optional = false),
    's' -> Escape("session_start", "\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2} (?:[A-Z]{1,4}|[+-]\\d+)", optional = false),
    'v' -> Escape("virtual_txid", "\\d+\\/\\d+", optional = true),
    'x' -> Escape("txid", "\\d+", optional = true),
    'Q' -> Escape("query_id", "-?\\d+", optional = false))

  private val quotable = ".[]{}()*+-?^$|\\"

  /** Compiled prefix: anchored regex over "prefix LEVEL: content" and the
    * ordered field names, with `log_level` and `content` always the last
    * two groups. */
  final case class Compiled(regex: String, fields: Seq[String]) {
    def groupOf(field: String): Int = fields.indexOf(field) + 1
  }

  /** The 15-value level alternation (`parse.go:212`). */
  val LevelAlternation: String =
    "(DEBUG|INFO|NOTICE|WARNING|ERROR|LOG|FATAL|PANIC|DETAIL|HINT|CONTEXT|STATEMENT|QUERY|LOCATION|BACKTRACE)"

  private val PrimaryLevels = Set(
    "ERROR", "LOG", "FATAL", "PANIC", "WARNING", "NOTICE", "INFO", "DEBUG")

  def compile(prefix: String): Compiled = {
    val sb = new StringBuilder("^")
    val fields = scala.collection.mutable.ArrayBuffer[String]()
    var pastQ = false
    var i = 0
    while (i < prefix.length) {
      val c = prefix.charAt(i)
      if (c == '%' && i + 1 < prefix.length) {
        val esc = prefix.charAt(i + 1)
        if (esc == '%') sb.append("%")
        else if (esc == 'q' && !pastQ) {
          // %q: the rest of the prefix only appears for non-daemon lines
          pastQ = true
          sb.append("(?:")
        } else EscapeMatchers.get(esc) match {
          case Some(e) =>
            fields += e.name
            sb.append("(").append(e.regex).append(")")
            if (e.optional) sb.append("?")
          case None => // unknown escapes are ignored (parse.go:411-414)
        }
        i += 2
      } else {
        if (quotable.contains(c)) sb.append('\\')
        sb.append(c)
        i += 1
      }
    }
    if (pastQ) sb.append(")?")
    sb.append(LevelAlternation).append(":\\s+((?s).*)$")
    fields += "log_level"
    fields += "content"
    Compiled(sb.toString, fields.toSeq)
  }

  /** Typed parse result (subset of the reference's LogLine). */
  final case class ParsedLine(
      occurredAtMicros: Option[Long], username: String, database: String,
      pid: Option[Long], logLineNumber: Option[Long], application: String,
      logLevel: String, content: String)

  /** Parse one rendered line against a compiled prefix, resolving the
    * timestamp with [[LogTimestamp]] (X6) and mapping `[unknown]`
    * user/db/app to empty, `parse.go:346-374`. In verbose mode
    * (log_error_verbosity) the 5-char SQLSTATE prefix is stripped from
    * primary-level content. Returns None when the prefix does not match
    * (continuation lines etc.). */
  def parseLine(c: Compiled, line: String,
      configuredTz: Option[java.time.ZoneId] = None,
      verbose: Boolean = false): Option[ParsedLine] = {
    val m = java.util.regex.Pattern.compile(c.regex).matcher(line)
    if (!m.find()) return None
    def g(f: String): String = {
      val i = c.fields.indexOf(f)
      if (i < 0) "" else Option(m.group(i + 1)).getOrElse("")
    }
    def known(s: String): String = if (s == "[unknown]") "" else s
    val timePart =
      if (c.fields.contains("log_time_ms")) g("log_time_ms") else g("log_time")
    val ts =
      if (timePart.isEmpty) None
      else LogTimestamp.parse(timePart, configuredTz)
    val level = g("log_level")
    var content = g("content")
    if (verbose && PrimaryLevels.contains(level))
      content = content.replaceFirst("^[0-9A-Z]{5}: ", "")
    Some(ParsedLine(
      ts, known(g("username")), known(g("database")),
      Option(g("pid")).filter(_.nonEmpty).map(_.toLong),
      Option(g("log_line_no")).filter(_.nonEmpty).map(_.toLong),
      known(g("application")), level, content))
  }
}

/** log_timezone-aware timestamp resolution (X6, `logs/parse.go:288-344`):
  *
  *  - a configured zone overrides the line's zone token: the token is
  *    stripped and the local time interpreted in the configured zone
  *    (DST-aware — `ParseInLocation` semantics);
  *  - otherwise the token resolves as a numeric offset (`+0100`, `-03`),
  *    `UTC`/`GMT`, a bare hour number, or a zone name: legacy fixed
  *    abbreviations (EST/MST/HST, the Go `LoadLocation` behavior) and
  *    region names (`CET`, `Europe/London`) with DST applied;
  *  - unknown names fail the line (zero time in the reference).
  */
object LogTimestamp {

  private val LocalRx = java.util.regex.Pattern.compile(
    "^(\\d{4})-(\\d{2})-(\\d{2}) (\\d{2}):(\\d{2}):(\\d{2})(\\.\\d+)?$")

  private val ShortZones: Map[String, java.time.ZoneId] = Map(
    "EST" -> java.time.ZoneOffset.ofHours(-5),
    "MST" -> java.time.ZoneOffset.ofHours(-7),
    "HST" -> java.time.ZoneOffset.ofHours(-10))

  private def local(part: String): Option[(java.time.LocalDateTime, Int)] = {
    val m = LocalRx.matcher(part)
    if (!m.find()) return None
    val nanos = Option(m.group(7))
      .map(f => (f.toDouble * 1e9).round.toInt).getOrElse(0)
    Some((java.time.LocalDateTime.of(
      m.group(1).toInt, m.group(2).toInt, m.group(3).toInt,
      m.group(4).toInt, m.group(5).toInt, m.group(6).toInt), nanos))
  }

  private def toMicros(ldt: java.time.LocalDateTime, nanos: Int,
      zone: java.time.ZoneId): Long = {
    val inst = ldt.atZone(zone).toInstant
    inst.getEpochSecond * 1000000L + (nanos / 1000)
  }

  def zoneFor(token: String): Option[java.time.ZoneId] = {
    if (token == "UTC" || token == "GMT" || token == "Z")
      return Some(java.time.ZoneOffset.UTC)
    if (token.matches("[+-]\\d{4}"))
      return Some(java.time.ZoneOffset.ofHoursMinutes(
        token.substring(0, 3).toInt,
        token.take(1).concat(token.substring(3)).toInt))
    if (token.matches("[+-]?\\d{1,2}"))
      return Some(java.time.ZoneOffset.ofHours(token.toInt))
    if (token.matches("[+-]\\d{2}:\\d{2}"))
      return Some(java.time.ZoneOffset.of(token))
    ShortZones.get(token).orElse(
      try Some(java.time.ZoneId.of(token)) catch { case _: Exception => None })
  }

  /** → epoch micros, or None when the zone/format is unresolvable. */
  def parse(timePart: String, configuredTz: Option[java.time.ZoneId]): Option[Long] = {
    configuredTz match {
      case Some(zone) =>
        val idx = timePart.lastIndexOf(' ')
        if (idx < 0) return None
        local(timePart.substring(0, idx)).map { case (ldt, ns) =>
          toMicros(ldt, ns, zone)
        }
      case None =>
        val idx = timePart.lastIndexOf(' ')
        if (idx < 0) return None
        val (dtPart, zonePart) = (timePart.substring(0, idx), timePart.substring(idx + 1))
        for {
          (ldt, ns) <- local(dtPart)
          zone <- zoneFor(zonePart)
        } yield toMicros(ldt, ns, zone)
    }
  }
}
