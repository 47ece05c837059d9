package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** The zed scalar-function surface (reference dispatch:
  * runtime/sam/expr/function/function.go:28-169; per-family files cited on
  * each group) re-expressed over Spark built-ins — every function here
  * compiles to Catalyst expressions (whole-stage codegen), no UDFs.
  *
  * Functions whose zed result is `error("missing")` return SQL NULL here —
  * the engine's error-value convention (SURVEY.md §1.4).
  */
object ZedFunctions {

  // ---- math (reference function/math.go) ----------------------------------
  // abs/ceil/floor/round/sqrt/pow/log are Spark built-ins used directly.
  // zed min/max are SCALAR n-ary functions (not aggregates):
  def minScalar(cols: Column*): Column = least(cols: _*)
  def maxScalar(cols: Column*): Column = greatest(cols: _*)

  // ---- string (reference function/string.go) ------------------------------
  // lower/upper/trim/replace/split/levenshtein are built-ins.
  /** zed `join(arr [, sep])` — array of strings to string. */
  def joinStr(arr: Column, sep: String = ""): Column = array_join(arr, sep)

  /** zed `rune_len(s)` — count of unicode code points (Spark's length on
    * strings is already character-based, not bytes).
    */
  def runeLen(s: Column): Column = length(s)

  // ---- regexp (reference function/regexp.go) -------------------------------

  /** Count capture groups in a Java regex (unescaped `(` not followed by
    * `?`) — lets `regexp` build its submatch array at plan time.
    */
  private[graft] def groupCount(re: String): Int = {
    var n = 0; var i = 0; var inClass = false
    while (i < re.length) {
      re.charAt(i) match {
        case '\\' => i += 1
        case '[' if !inClass => inClass = true
        case ']' if inClass => inClass = false
        case '(' if !inClass =>
          // `(?` is non-capturing — except named groups `(?<name>…`, which
          // capture (but lookbehind `(?<=` / `(?<!` does not)
          if (i + 1 >= re.length || re.charAt(i + 1) != '?') n += 1
          else if (i + 2 < re.length && re.charAt(i + 2) == '<' &&
                   i + 3 < re.length && re.charAt(i + 3) != '=' && re.charAt(i + 3) != '!')
            n += 1
        case _ =>
      }
      i += 1
    }
    n
  }

  /** zed `regexp(re, s)` — array of [match, group1, …] of the FIRST match
    * (Go FindStringSubmatch); NULL (zed: error("missing")) when no match.
    */
  def regexpMatch(re: String, s: Column): Column = {
    val groups = (0 to groupCount(re)).map(i => regexp_extract(s, re, i))
    when(s.rlike(re), array(groups: _*)).otherwise(lit(null))
  }
  // regexp_replace is the built-in (zed semantics match: replace all)

  // ---- grep (reference function/grep.go) -----------------------------------

  /** zed `grep(pattern, e…)` — substring match over the string form of the
    * given values (zed matches over the whole nested value; pass the
    * columns to search, or a single to_json(struct(...)) for whole-record).
    */
  def grep(pattern: String, in: Column*): Column =
    // zed keyword/grep matching is case-insensitive substring search
    // (docs/language ztests: "WiDgEt" matches widget)
    in.map(c => coalesce(
      lower(c.cast("string")).contains(lit(pattern.toLowerCase)), lit(false)))
      .reduce(_ || _)

  // ---- time (reference function/time.go) -----------------------------------
  // now() = current_timestamp(); bucket/every live in ZedOps.timeBucket*.

  /** C-strftime → Java DateTimeFormatter pattern (the zed strftime surface;
    * reference function/time.go strftime). Unsupported codes throw at plan
    * time rather than silently mis-formatting.
    */
  private[graft] def strftimeToJava(fmt: String): String = {
    val sb = new StringBuilder
    var i = 0
    def quote(s: String): String = if (s.isEmpty) "" else "'" + s.replace("'", "''") + "'"
    var literal = new StringBuilder
    def flush(): Unit = { sb.append(quote(literal.toString)); literal = new StringBuilder }
    while (i < fmt.length) {
      if (fmt.charAt(i) == '%' && i + 1 < fmt.length) {
        flush()
        fmt.charAt(i + 1) match {
          case 'Y' => sb.append("yyyy"); case 'y' => sb.append("yy")
          case 'm' => sb.append("MM");   case 'd' => sb.append("dd")
          case 'e' => sb.append("d")
          case 'H' => sb.append("HH");   case 'I' => sb.append("hh")
          case 'M' => sb.append("mm");   case 'S' => sb.append("ss")
          case 'j' => sb.append("DDD")
          case 'b' => sb.append("MMM");  case 'B' => sb.append("MMMM")
          case 'a' => sb.append("EEE");  case 'A' => sb.append("EEEE")
          case 'p' => sb.append("a")
          case 'Z' => sb.append("zz");   case 'z' => sb.append("xx")
          case 'T' => sb.append("HH:mm:ss")
          case 'D' => sb.append("MM/dd/yy")
          case 'F' => sb.append("yyyy-MM-dd")
          case '%' => literal.append('%')
          case c => throw new IllegalArgumentException(s"strftime: unsupported %$c")
        }
        i += 2
      } else { literal.append(fmt.charAt(i)); i += 1 }
    }
    flush()
    sb.toString
  }

  /** zed `strftime(fmt, t)` over a Spark timestamp column. The cast makes
    * TIMESTAMP_NTZ carriers (parquet `timestamp[us]` without the UTC flag —
    * what pandas writes) work too: session TZ is pinned UTC
    * (GraftSession), so NTZ→TIMESTAMP is exact; on TIMESTAMP it's a no-op.
    */
  def strftime(fmt: String, t: Column): Column =
    date_format(t.cast(TimestampType), strftimeToJava(fmt))

  /** Same over the engine's ns-since-epoch long time columns. */
  def strftimeNs(fmt: String, tsNs: Column): Column =
    strftime(fmt, timestamp_micros(Bridge.intDiv(tsNs, lit(1000L))))

  // ---- time carriers (reference nano.Ts — value.go:84) ---------------------
  // The engine meets three Spark time carriers: LongType ns (parquet
  // TIMESTAMP(NANOS) under nanosAsLong), TIMESTAMP, and TIMESTAMP_NTZ
  // (any parquet timestamp[us/ms] lacking isAdjustedToUTC). Session TZ is
  // pinned UTC, so NTZ↔TIMESTAMP casts are exact wall-clock moves.

  /** Any time carrier → ns-since-epoch long (exact under the UTC session). */
  def toNs(c: Column, dt: DataType): Column = dt match {
    case LongType => c
    case TimestampNTZType => unix_micros(c.cast(TimestampType)) * 1000L
    case _ => unix_micros(c) * 1000L
  }

  /** Any time carrier → a session-TZ TIMESTAMP column. */
  def asTs(c: Column, dt: DataType): Column = dt match {
    case LongType => timestamp_micros(Bridge.intDiv(c, lit(1000L)))
    case TimestampType => c
    case _ => c.cast(TimestampType)
  }

  /** True for the timestamp-typed carriers (ns-long is LongType, not this). */
  def isTimeDt(dt: DataType): Boolean =
    dt == TimestampType || dt == TimestampNTZType

  // ---- parsing (reference function/parse.go, function/grok.go) -------------

  /** Result of the Go-semantics URL parse: every component optional,
    * query a key→values multimap in first-appearance order.
    */
  final case class GoUrl(scheme: Option[String], opaque: Option[String],
                         user: Option[String], password: Option[String],
                         host: Option[String], port: Option[String],
                         path: Option[String],
                         query: Vector[(String, Vector[String])],
                         fragment: Option[String])

  /** net/url.Parse semantics (the subset parse_uri exercises): scheme
    * validation with Go's error text, authority with userinfo/host/port,
    * opaque form, query multimap, fragment. Left = Go's error message.
    */
  def goUrlParse(raw: String): Either[String, GoUrl] = {
    def opt(s: String): Option[String] = Option(s).filter(_.nonEmpty)
    // fragment splits first (url.Parse → parse(u, false) after Cut on '#')
    val hashIdx = raw.indexOf('#')
    val (noFrag, fragment) =
      if (hashIdx < 0) (raw, None) else (raw.substring(0, hashIdx), opt(raw.substring(hashIdx + 1)))
    // getScheme (net/url/url.go): letters then alnum+.-, terminated by ':'
    var scheme: Option[String] = None
    var rest = noFrag
    var i = 0
    var done = false
    while (!done && i < noFrag.length) {
      val c = noFrag.charAt(i)
      if (c.isLetter) i += 1
      else if ((c.isDigit || c == '+' || c == '-' || c == '.') && i > 0) i += 1
      else if (c == ':') {
        if (i == 0) return Left(s"""parse "$raw": missing protocol scheme""")
        scheme = Some(noFrag.substring(0, i).toLowerCase)
        rest = noFrag.substring(i + 1)
        done = true
      } else done = true
    }
    // query splits at the FIRST '?' (strings.Cut)
    val qIdx = rest.indexOf('?')
    val (restNoQ, rawQuery) =
      if (qIdx < 0) (rest, "") else (rest.substring(0, qIdx), rest.substring(qIdx + 1))
    var opaque: Option[String] = None
    var user: Option[String] = None
    var password: Option[String] = None
    var host: Option[String] = None
    var port: Option[String] = None
    var path: Option[String] = None
    if (restNoQ.startsWith("//")) {
      val afterSlashes = restNoQ.substring(2)
      val slash = afterSlashes.indexOf('/')
      val (auth, p) =
        if (slash < 0) (afterSlashes, "") else (afterSlashes.substring(0, slash), afterSlashes.substring(slash))
      path = opt(p)
      val at = auth.lastIndexOf('@')
      val (userinfo, hostport) =
        if (at < 0) ("", auth) else (auth.substring(0, at), auth.substring(at + 1))
      if (userinfo.nonEmpty) {
        val colon = userinfo.indexOf(':')
        if (colon < 0) user = opt(userinfo)
        else { user = opt(userinfo.substring(0, colon)); password = Some(userinfo.substring(colon + 1)) }
      }
      // validOptionalPort: ':' + one-or-more digits after the LAST ':'
      // outside any [v6] bracket
      val bracketEnd = hostport.lastIndexOf(']')
      val colon = hostport.lastIndexOf(':')
      if (colon > bracketEnd && hostport.substring(colon + 1).nonEmpty &&
          hostport.substring(colon + 1).forall(_.isDigit)) {
        host = opt(hostport.substring(0, colon).stripPrefix("[").stripSuffix("]"))
        port = Some(hostport.substring(colon + 1))
      } else host = opt(hostport.stripPrefix("[").stripSuffix("]"))
    } else if (scheme.nonEmpty && restNoQ.nonEmpty && !restNoQ.startsWith("/")) {
      opaque = Some(restNoQ)
    } else {
      path = opt(restNoQ)
    }
    // ParseQuery: '&'-separated k=v, '+' → space; %-escapes via URLDecoder
    val query = Vector.newBuilder[(String, Vector[String])]
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, Vector[String]]
    if (rawQuery.nonEmpty) {
      def unesc(s: String): String =
        try java.net.URLDecoder.decode(s, "UTF-8") catch { case _: Exception => s }
      for (part <- rawQuery.split("&", -1) if part.nonEmpty) {
        val eq = part.indexOf('=')
        val (k, v) = if (eq < 0) (unesc(part), "") else (unesc(part.substring(0, eq)), unesc(part.substring(eq + 1)))
        seen(k) = seen.getOrElse(k, Vector.empty) :+ v
      }
    }
    seen.foreach { case (k, vs) => query += (k -> vs) }
    Right(GoUrl(scheme, opaque, user, password, host, port, path, query.result(), fragment))
  }

  /** Relational parse_uri: the reference record shape (parse.go ParseURI)
    * as a typed struct; rows that the reference maps to error values come
    * back NULL here (error values need the typed/variant stream — the
    * query-language frontend routes there).
    */
  def parseUri(s: Column): Column = {
    val u = udf((raw: String) => {
      if (raw == null) None
      else goUrlParse(raw) match {
        case Left(_) => None
        case Right(g) =>
          val portNum = g.port.flatMap(p =>
            try { val n = p.toLong; if (n <= 65535) Some(n.toInt) else None }
            catch { case _: Exception => None })
          if (g.port.nonEmpty && portNum.isEmpty) None // invalid port → error in zed
          else Some((g.scheme.orNull, g.opaque.orNull, g.user.orNull,
            g.password.orNull, g.host.orNull, portNum,
            g.path.orNull,
            if (g.query.isEmpty) None else Some(g.query.map { case (k, v) => k -> v }.toMap),
            g.fragment.orNull))
      }
    })
    u(s).cast(
      "struct<scheme:string,opaque:string,user:string,password:string," +
        "host:string,port:int,path:string,query:map<string,array<string>>,fragment:string>")
  }

  // grok: the reference's full base-pattern dictionary, ported from
  // pkg/grok/base.go (itself adapted from the public grokky/logstash
  // pattern set). Pattern language: %{PATTERN} / %{PATTERN:field}, with
  // patterns referencing each other recursively.
  private val grokBase: Map[String, String] = Map(
    "USERNAME" -> "[a-zA-Z0-9._-]+",
    "USER" -> "%{USERNAME}",
    "EMAILLOCALPART" -> "[a-zA-Z][a-zA-Z0-9_.+-=:]+",
    "HOSTNAME" -> "\\b[0-9A-Za-z][0-9A-Za-z-]{0,62}(?:\\.[0-9A-Za-z][0-9A-Za-z-]{0,62})*(\\.?|\\b)",
    "EMAILADDRESS" -> "%{EMAILLOCALPART}@%{HOSTNAME}",
    "HTTPDUSER" -> "%{EMAILADDRESS}|%{USER}",
    "INT" -> "[+-]?(?:[0-9]+)",
    "BASE10NUM" -> "[+-]?(?:(?:[0-9]+(?:\\.[0-9]+)?)|(?:\\.[0-9]+))",
    "NUMBER" -> "%{BASE10NUM}",
    "BASE16NUM" -> "[+-]?(?:0x)?(?:[0-9A-Fa-f]+)",
    "BASE16FLOAT" -> "\\b[+-]?(?:0x)?(?:(?:[0-9A-Fa-f]+(?:\\.[0-9A-Fa-f]*)?)|(?:\\.[0-9A-Fa-f]+))\\b",
    "POSINT" -> "\\b[1-9][0-9]*\\b",
    "NONNEGINT" -> "\\b[0-9]+\\b",
    "WORD" -> "\\b\\w+\\b",
    "NOTSPACE" -> "\\S+",
    "SPACE" -> "\\s*",
    "DATA" -> ".*?",
    "GREEDYDATA" -> ".*",
    "QUOTEDSTRING" -> "(\"(\\\\.|[^\\\\\"]+)+\")|\"\"|('(\\\\.|[^\\\\']+)+')|''|(`(\\\\.|[^\\\\`]+)+`)|``",
    "UUID" -> "[A-Fa-f0-9]{8}-(?:[A-Fa-f0-9]{4}-){3}[A-Fa-f0-9]{12}",
    "CISCOMAC" -> "(?:[A-Fa-f0-9]{4}\\.){2}[A-Fa-f0-9]{4}",
    "WINDOWSMAC" -> "(?:[A-Fa-f0-9]{2}-){5}[A-Fa-f0-9]{2}",
    "COMMONMAC" -> "(?:[A-Fa-f0-9]{2}:){5}[A-Fa-f0-9]{2}",
    "MAC" -> "%{CISCOMAC}|%{WINDOWSMAC}|%{COMMONMAC}",
    "IPV6" -> "((([0-9A-Fa-f]{1,4}:){7}([0-9A-Fa-f]{1,4}|:))|(([0-9A-Fa-f]{1,4}:){6}(:[0-9A-Fa-f]{1,4}|((25[0-5]|2[0-4]\\d|1\\d\\d|[1-9]?\\d)(\\.(25[0-5]|2[0-4]\\d|1\\d\\d|[1-9]?\\d)){3})|:))|(([0-9A-Fa-f]{1,4}:){5}(((:[0-9A-Fa-f]{1,4}){1,2})|:((25[0-5]|2[0-4]\\d|1\\d\\d|[1-9]?\\d)(\\.(25[0-5]|2[0-4]\\d|1\\d\\d|[1-9]?\\d)){3})|:))|(([0-9A-Fa-f]{1,4}:){4}(((:[0-9A-Fa-f]{1,4}){1,3})|((:[0-9A-Fa-f]{1,4})?:((25[0-5]|2[0-4]\\d|1\\d\\d|[1-9]?\\d)(\\.(25[0-5]|2[0-4]\\d|1\\d\\d|[1-9]?\\d)){3}))|:))|(([0-9A-Fa-f]{1,4}:){3}(((:[0-9A-Fa-f]{1,4}){1,4})|((:[0-9A-Fa-f]{1,4}){0,2}:((25[0-5]|2[0-4]\\d|1\\d\\d|[1-9]?\\d)(\\.(25[0-5]|2[0-4]\\d|1\\d\\d|[1-9]?\\d)){3}))|:))|(([0-9A-Fa-f]{1,4}:){2}(((:[0-9A-Fa-f]{1,4}){1,5})|((:[0-9A-Fa-f]{1,4}){0,3}:((25[0-5]|2[0-4]\\d|1\\d\\d|[1-9]?\\d)(\\.(25[0-5]|2[0-4]\\d|1\\d\\d|[1-9]?\\d)){3}))|:))|(([0-9A-Fa-f]{1,4}:){1}(((:[0-9A-Fa-f]{1,4}){1,6})|((:[0-9A-Fa-f]{1,4}){0,4}:((25[0-5]|2[0-4]\\d|1\\d\\d|[1-9]?\\d)(\\.(25[0-5]|2[0-4]\\d|1\\d\\d|[1-9]?\\d)){3}))|:))|(:(((:[0-9A-Fa-f]{1,4}){1,7})|((:[0-9A-Fa-f]{1,4}){0,5}:((25[0-5]|2[0-4]\\d|1\\d\\d|[1-9]?\\d)(\\.(25[0-5]|2[0-4]\\d|1\\d\\d|[1-9]?\\d)){3}))|:)))(%.+)?",
    "IPV4" -> "(?:(?:[0-1]?[0-9]{1,2}|2[0-4][0-9]|25[0-5])[.](?:[0-1]?[0-9]{1,2}|2[0-4][0-9]|25[0-5])[.](?:[0-1]?[0-9]{1,2}|2[0-4][0-9]|25[0-5])[.](?:[0-1]?[0-9]{1,2}|2[0-4][0-9]|25[0-5]))",
    "IP" -> "%{IPV6}|%{IPV4}",
    "IPORHOST" -> "%{IP}|%{HOSTNAME}",
    "HOSTPORT" -> "%{IPORHOST}:%{POSINT}",
    "UNIXPATH" -> "(/([\\w_%!$@:.,~-]+|\\\\.)*)+",
    "TTY" -> "/dev/(pts|tty([pq])?)(\\w+)?/?(?:[0-9]+)",
    "WINPATH" -> "(?:[A-Za-z]+:|\\\\)(?:\\\\[^\\\\?*]*)+",
    "PATH" -> "%{UNIXPATH}|%{WINPATH}",
    "URIPROTO" -> "[A-Za-z]+(\\+[A-Za-z+]+)?",
    "URIHOST" -> "%{IPORHOST}(?::%{POSINT:port})?",
    "URIPATH" -> "(?:/[A-Za-z0-9$.+!*'(){},~:;=@#%_\\-]*)+",
    "URIPARAM" -> "\\?[A-Za-z0-9$.+!*'|(){},~@#%&/=:;_?\\-\\[\\]<>]*",
    "URIPATHPARAM" -> "%{URIPATH}(?:%{URIPARAM})?",
    "URI" -> "%{URIPROTO}://(?:%{USER}(?::[^@]*)?@)?(?:%{URIHOST})?(?:%{URIPATHPARAM})?",
    "MONTH" -> "\\bJan(?:uary|uar)?|Feb(?:ruary|ruar)?|M(?:a|ä)?r(?:ch|z)?|Apr(?:il)?|Ma(?:y|i)?|Jun(?:e|i)?|Jul(?:y)?|Aug(?:ust)?|Sep(?:tember)?|O(?:c|k)?t(?:ober)?|Nov(?:ember)?|De(?:c|z)(?:ember)?\\b",
    "MONTHNUM" -> "0?[1-9]|1[0-2]",
    "MONTHNUM2" -> "0[1-9]|1[0-2]",
    "MONTHDAY" -> "(?:0[1-9])|(?:[12][0-9])|(?:3[01])|[1-9]",
    "DAY" -> "Mon(?:day)?|Tue(?:sday)?|Wed(?:nesday)?|Thu(?:rsday)?|Fri(?:day)?|Sat(?:urday)?|Sun(?:day)?",
    "YEAR" -> "(?:\\d\\d){1,2}",
    "HOUR" -> "2[0123]|[01]?[0-9]",
    "MINUTE" -> "[0-5][0-9]",
    "SECOND" -> "(?:[0-5]?[0-9]|60)(?:[:.,][0-9]+)?",
    "TIME" -> "%{HOUR}:%{MINUTE}:%{SECOND}",
    "DATE_US" -> "%{MONTHNUM}[/-]%{MONTHDAY}[/-]%{YEAR}",
    "DATE_EU" -> "%{MONTHDAY}[./-]%{MONTHNUM}[./-]%{YEAR}",
    "DATE_X" -> "%{YEAR}/%{MONTHNUM2}/%{MONTHDAY}",
    "ISO8601_TIMEZONE" -> "Z|[+-]%{HOUR}(?::?%{MINUTE})",
    "ISO8601_SECOND" -> "%{SECOND}|60",
    "DATESTAMP_ISO8601" -> "%{YEAR}-%{MONTHNUM}-%{MONTHDAY}",
    "TIMESTAMP_ISO8601" -> "%{DATESTAMP_ISO8601}[T ]%{HOUR}:?%{MINUTE}(?::?%{SECOND})?%{ISO8601_TIMEZONE}?",
    "DATE" -> "%{DATE_US}|%{DATE_EU}|%{DATE_X}",
    "DATESTAMP" -> "%{DATE}[- ]%{TIME}",
    "TZ" -> "[A-Z]{3}",
    "NUMTZ" -> "[+-]\\d{4}",
    "DATESTAMP_RFC822" -> "%{DAY} %{MONTH} %{MONTHDAY} %{YEAR} %{TIME} %{TZ}",
    "DATESTAMP_RFC2822" -> "%{DAY}, %{MONTHDAY} %{MONTH} %{YEAR} %{TIME} %{ISO8601_TIMEZONE}",
    "DATESTAMP_OTHER" -> "%{DAY} %{MONTH} %{MONTHDAY} %{TIME} %{TZ} %{YEAR}",
    "DATESTAMP_EVENTLOG" -> "%{YEAR}%{MONTHNUM2}%{MONTHDAY}%{HOUR}%{MINUTE}%{SECOND}",
    "HTTPDERROR_DATE" -> "%{DAY} %{MONTH} %{MONTHDAY} %{TIME} %{YEAR}",
    "ANSIC" -> "%{DAY} %{MONTH} [_123]\\d %{TIME} %{YEAR}\"",
    "UNIXDATE" -> "%{DAY} %{MONTH} [_123]\\d %{TIME} %{TZ} %{YEAR}",
    "RUBYDATE" -> "%{DAY} %{MONTH} [0-3]\\d %{TIME} %{NUMTZ} %{YEAR}",
    "RFC822Z" -> "[0-3]\\d %{MONTH} %{YEAR} %{TIME} %{NUMTZ}",
    "RFC850" -> "%{DAY}, [0-3]\\d-%{MONTH}-%{YEAR} %{TIME} %{TZ}",
    "RFC1123" -> "%{DAY}, [0-3]\\d %{MONTH} %{YEAR} %{TIME} %{TZ}",
    "RFC1123Z" -> "%{DAY}, [0-3]\\d %{MONTH} %{YEAR} %{TIME} %{NUMTZ}",
    "RFC3339" -> "%{YEAR}-[01]\\d-[0-3]\\dT%{TIME}%{ISO8601_TIMEZONE}",
    "RFC3339NANO" -> "%{YEAR}-[01]\\d-[0-3]\\dT%{TIME}\\.\\d{9}%{ISO8601_TIMEZONE}",
    "KITCHEN" -> "\\d{1,2}:\\d{2}(AM|PM|am|pm)",
    "SYSLOGTIMESTAMP" -> "%{MONTH} +%{MONTHDAY} %{TIME}",
    "PROG" -> "[\\x21-\\x5a\\x5c\\x5e-\\x7e]+",
    "SYSLOGPROG" -> "%{PROG:program}(?:\\[%{POSINT:pid}\\])?",
    "SYSLOGHOST" -> "%{IPORHOST}",
    "SYSLOGFACILITY" -> "<%{NONNEGINT:facility}.%{NONNEGINT:priority}>",
    "HTTPDATE" -> "%{MONTHDAY}/%{MONTH}/%{YEAR}:%{TIME} %{INT}",
    "QS" -> "%{QUOTEDSTRING}",
    "LOGLEVEL" -> "[Aa]lert|ALERT|[Tt]race|TRACE|[Dd]ebug|DEBUG|[Nn]otice|NOTICE|[Ii]nfo|INFO|[Ww]arn?(?:ing)?|WARN?(?:ING)?|[Ee]rr?(?:or)?|ERR?(?:OR)?|[Cc]rit?(?:ical)?|CRIT?(?:ICAL)?|[Ff]atal|FATAL|[Ss]evere|SEVERE|EMERG(?:ENCY)?|[Ee]merg(?:ency)?",
    "SYSLOGBASE" -> "%{SYSLOGTIMESTAMP:timestamp} (?:%{SYSLOGFACILITY} )?%{SYSLOGHOST:logsource} %{SYSLOGPROG}:",
    "COMMONAPACHELOG" -> "%{IPORHOST:clientip} %{HTTPDUSER:ident} %{USER:auth} \\[%{HTTPDATE:timestamp}\\] \"(?:%{WORD:verb} %{NOTSPACE:request}(?: HTTP/%{NUMBER:httpversion})?|%{DATA:rawrequest})\" %{NUMBER:response} (?:%{NUMBER:bytes}|-)",
    "COMBINEDAPACHELOG" -> "%{COMMONAPACHELOG} %{QS:referrer} %{QS:agent}",
    "HTTPD20_ERRORLOG" -> "\\[%{HTTPDERROR_DATE:timestamp}\\] \\[%{LOGLEVEL:loglevel}\\] (?:\\[client %{IPORHOST:clientip}\\] ){0,1}%{GREEDYDATA:errormsg}",
    "HTTPD24_ERRORLOG" -> "\\[%{HTTPDERROR_DATE:timestamp}\\] \\[%{WORD:module}:%{LOGLEVEL:loglevel}\\] \\[pid %{POSINT:pid}:tid %{NUMBER:tid}\\]( \\(%{POSINT:proxy_errorcode}\\)%{DATA:proxy_errormessage}:)?( \\[client %{IPORHOST:client}:%{POSINT:clientport}\\])? %{DATA:errorcode}: %{GREEDYDATA:message}",
    "HTTPD_ERRORLOG" -> "%{HTTPD20_ERRORLOG}|%{HTTPD24_ERRORLOG}",
  )

  /** Compile a grok pattern to (java regex, captured field names in
    * group order). Base patterns expand RECURSIVELY, captures inside
    * them (e.g. SYSLOGPROG's program/pid) surface as fields, and every
    * literal group in pattern text is neutralized to (?:...) so group
    * numbering matches the fields exactly (pkg/grok/grok.go semantics).
    */
  private[graft] def grokCompile(pattern: String, defs: String = ""): (String, Seq[String]) = {
    val custom: Map[String, String] = defs.linesIterator
      .map(_.trim).filter(_.nonEmpty)
      .flatMap { l =>
        val ix = l.indexWhere(_.isWhitespace)
        if (ix < 0) None else Some(l.take(ix) -> l.drop(ix).trim)
      }.toMap
    val dict = grokBase ++ custom
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    def compileText(p: String): String = {
      val sb = new StringBuilder
      var i = 0
      var inClass = false // '(' inside [...] is a literal, never a group
      while (i < p.length) {
        if (inClass) {
          p.charAt(i) match {
            case '\\' if i + 1 < p.length =>
              sb.append(p.charAt(i)).append(p.charAt(i + 1)); i += 2
            case ']' => inClass = false; sb.append(']'); i += 1
            case c => sb.append(c); i += 1
          }
        } else if (p.startsWith("%{", i)) {
          val close = p.indexOf('}', i)
          require(close > 0, s"grok: unterminated %{ in $p")
          val body = p.substring(i + 2, close)
          val (name, field) = body.indexOf(':') match {
            case -1 => (body, None)
            case c => (body.take(c), Some(body.drop(c + 1)))
          }
          val base = dict.getOrElse(name,
            throw new IllegalArgumentException(s"grok: unknown pattern %{$name}"))
          field match {
            case Some(f) =>
              // a :type annotation after the field name is IGNORED
              // (grok.yaml: %{INT:int:int64} captures plain string "int")
              names += f.takeWhile(_ != ':')
              sb.append("(").append(compileText(base)).append(")")
            case None =>
              sb.append("(?:").append(compileText(base)).append(")")
          }
          i = close + 1
        } else p.charAt(i) match {
          case '\\' if i + 1 < p.length =>
            sb.append(p.charAt(i)).append(p.charAt(i + 1)); i += 2
          case '[' => inClass = true; sb.append('['); i += 1
          case '(' if i + 1 < p.length && p.charAt(i + 1) == '?' =>
            sb.append('('); i += 1
          case '(' => // literal group -> non-capturing, keeps numbering ours
            sb.append("(?:"); i += 1
          case c => sb.append(c); i += 1
        }
      }
      sb.toString
    }
    (compileText(pattern), names.toSeq)
  }

  /** zed `grok(pattern, s[, definitions])` -> record of captured fields
    * (strings); NULL when the pattern does not match.
    */
  def grok(pattern: String, s: Column, defs: String = ""): Column = {
    val (re, names) = grokCompile(pattern, defs)
    require(names.nonEmpty, "grok pattern captures no fields")
    // ONE regex execution per row (vs K regexp_extracts), and
    // non-participating optional groups come back null — the reference
    // omits them from the per-row record (grok.go ParseKeyValues), which
    // a null field matches at render/compare time
    val p = java.util.regex.Pattern.compile(re)
    val n = names.length
    val u = udf((in: String) =>
      if (in == null) null
      else {
        val m = p.matcher(in)
        if (!m.find()) null else (1 to n).map(m.group).toArray
      })
    val arr = u(s)
    val rec = struct(names.zipWithIndex.map { case (nm, i) =>
      element_at(arr, i + 1).as(nm)
    }: _*)
    when(arr.isNotNull, rec).otherwise(lit(null))
  }

  // ---- bytes / encoding (reference function/bytes.go) -----------------------
  // base64/unbase64/hex/unhex are built-ins used directly.

  // ---- network (reference function/ip.go) -----------------------------------
  // IPv4 only; ip/net travel as strings (SURVEY.md §1.4 mapping).

  /** Dotted-quad string → uint32-as-long. NULL for malformed input. */
  def ip4ToLong(ip: Column): Column = {
    val p = split(ip, "\\.")
    when(size(p) === 4,
      element_at(p, 1).cast("long") * 16777216L +
        element_at(p, 2).cast("long") * 65536L +
        element_at(p, 3).cast("long") * 256L +
        element_at(p, 4).cast("long"))
      .otherwise(lit(null))
  }

  private def long4ToIp(v: Column): Column =
    concat_ws(".",
      shiftright(v, 24).bitwiseAND(lit(255L)).cast("string"),
      shiftright(v, 16).bitwiseAND(lit(255L)).cast("string"),
      shiftright(v, 8).bitwiseAND(lit(255L)).cast("string"),
      v.bitwiseAND(lit(255L)).cast("string"))

  /** Network mask for a prefix length column (2^32 − 2^(32−p)). */
  private def maskOf(prefix: Column): Column =
    lit(4294967296L) - pow(lit(2.0), lit(32) - prefix).cast("long")

  /** zed `cidr_match(net, ip)` — is ip within the CIDR block? Both sides
    * may be columns; net is "a.b.c.d/p".
    */
  def cidrMatch(net: Column, ip: Column): Column = {
    val base = ip4ToLong(split(net, "/").getItem(0))
    val prefix = split(net, "/").getItem(1).cast("int")
    val m = maskOf(prefix)
    (ip4ToLong(ip).bitwiseAND(m)) === (base.bitwiseAND(m))
  }

  /** zed `network_of(ip [, prefixlen])` → "a.b.c.0/p" network string.
    * One-arg form uses classful defaults (A/B/C), like the reference.
    */
  def networkOf(ip: Column, prefix: Column): Column =
    concat(long4ToIp(ip4ToLong(ip).bitwiseAND(maskOf(prefix))), lit("/"),
      prefix.cast("string"))

  def networkOf(ip: Column): Column = {
    val first = element_at(split(ip, "\\."), 1).cast("int")
    val classful = when(first < 128, 8).when(first < 192, 16).otherwise(24)
    networkOf(ip, classful)
  }

  // ---- full network_of with reference error payloads (function/ip.go) -------

  /** Is the text a valid v4/v6 address? (shared by the typed ip caster) */
  def isIpText(s: String): Boolean = parseIpBytes(s) != null

  /** Binary sort key giving ADDRESS order for both families (v4 before
    * v6, then bytewise — netip.Addr.Compare semantics). Null for text
    * that isn't an address, so malformed keys sort last, not as 0.0.0.0.
    */
  def ipSortKey(s: String): Array[Byte] = {
    val b = parseIpBytes(s)
    if (b == null) null
    else {
      val out = new Array[Byte](b.length + 1)
      out(0) = if (b.length == 4) 0.toByte else 1.toByte
      System.arraycopy(b, 0, out, 1, b.length)
      out
    }
  }

  private def parseIpBytes(s: String): Array[Byte] = {
    if (s == null) return null
    val v4 = s.matches("""\d{1,3}(\.\d{1,3}){3}""")
    val v6 = s.contains(":") && s.matches("""[0-9a-fA-F:]+""")
    if (!v4 && !v6) return null
    try java.net.InetAddress.getByName(s).getAddress
    catch { case _: Exception => null }
  }

  private def maskBytes(len: Int, bits: Int): Array[Byte] = {
    val out = new Array[Byte](len)
    for (i <- out.indices) {
      val keep = math.max(0, math.min(8, bits - i * 8))
      out(i) = (if (keep == 0) 0 else (0xff << (8 - keep)) & 0xff).toByte
    }
    out
  }

  /** Canonical text of an address (compressed ipv6, like the reference). */
  private def ipText(b: Array[Byte]): String = graft.sources.ZngIO.addrText(b, net = false)

  /** Canonical text of a CIDR net: the address is masked to the prefix
    * (zed renders `1::/8` as `::/8` — netip.Prefix.Masked semantics).
    */
  def canonNetText(s: String): String = {
    val slash = s.lastIndexOf('/')
    if (slash < 0) return s
    val addr = parseIpBytes(s.substring(0, slash))
    val bits = try s.substring(slash + 1).toInt catch { case _: Exception => -1 }
    if (addr == null || bits < 0 || bits > addr.length * 8) return s
    val m = maskBytes(addr.length, bits)
    val net = addr.zip(m).map { case (a, b) => (a & b).toByte }
    s"${ipText(net)}/$bits"
  }

  /** zed network_of with mask-arg dispatch and the reference's error
    * payloads (function/ip.go NetworkOf). `kind` is "none" | "int" |
    * "ip" | "string"; returns (net, errZson) — exactly one non-null.
    */
  private[graft] def networkOfZed(ipS: String, mask: String, kind: String,
      onText: String = null): (String, String) = {
    def err(msg: String, on: String) = (null: String, s"""{message:"$msg",on:$on}""")
    val addr = parseIpBytes(ipS)
    if (addr == null)
      // the error payload echoes the ORIGINAL value with its type
      // (network_of.md: on:1, not on:"1")
      return err("network_of: not an IP",
        if (onText != null) onText
        else if (ipS == null) "null" else "\"" + ipS + "\"")
    def prefix(bits: Int): (String, String) = {
      val m = maskBytes(addr.length, bits)
      val net = addr.zip(m).map { case (a, b) => (a & b).toByte }
      (ipText(net) + "/" + bits, null)
    }
    kind match {
      case "none" =>
        if (addr.length != 4) err("network_of: not an IPv4 address", ipS)
        else {
          val b0 = addr(0) & 0xff
          prefix(if (b0 < 0x80) 8 else if (b0 < 0xc0) 16 else 24)
        }
      case "int" =>
        val bits = try mask.toDouble.toInt catch { case _: Exception => -1 }
        if (bits < 0 || bits > 128 || (bits > 32 && addr.length == 4))
          err("network_of: CIDR bit count out of range", s"{address:$ipS,mask:$mask}")
        else prefix(bits)
      case "ip" =>
        val mb = parseIpBytes(mask)
        if (mb == null) err("network_of: bad arg for CIDR mask", "\"" + mask + "\"")
        else if (mb.length != addr.length)
          err("network_of: address and mask have different lengths",
            s"{address:$ipS,mask:$mask}")
        else {
          val bits = graft.sources.ZngIO.leadingOnes(mb, 0, mb.length)
          if (!maskBytes(mb.length, bits).sameElements(mb))
            err("network_of: mask is non-contiguous", mask)
          else prefix(bits)
        }
      case _ => err("network_of: bad arg for CIDR mask",
        if (mask == null) "null" else "\"" + mask + "\"")
    }
  }

  // ---- misc (reference coalesce.go, len.go, compare.go) ----------------------
  // coalesce is the built-in; len: use size() for arrays/maps and length()
  // for strings (dispatch at plan time by the column's type).

  /** zed `compare(a, b[, nullsMax])` → -1/0/1 as int64 (compare.go:35
    * NewInt64; nullsMax defaults true).
    */
  def compareVals(a: Column, b: Column, nullsMax: Boolean = true): Column =
    when(a.isNull && b.isNull, 0L)
      .when(a.isNull, if (nullsMax) 1L else -1L)
      .when(b.isNull, if (nullsMax) -1L else 1L)
      .when(a < b, -1L).when(a > b, 1L).otherwise(0L)
}
