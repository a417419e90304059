package graft.streaming

/** Cloud-structured log-line formatting — the Spark-side analog of the
  * reference's GCP logging shim (`gcpLogging.ts:1-117`): map logger
  * levels to LogEntry severities, emit one JSON object per line with
  * `message` as the message key and `serviceContext.service` set, tag
  * error/fatal entries with the error-reporting `@type`, and attach
  * `stack_trace` when a throwable is present.
  *
  * This is a FORMATTER, not a logging framework: Spark apps already log
  * through log4j2, so the intended wiring is a log4j2 layout / a
  * `StreamingQueryListener` that emits these lines for progress and
  * failure events. Keeping it pure (String in/out, no appender state)
  * makes the severity table and JSON shape spec-checkable without
  * touching global log config.
  */
object StructuredLog {

  /** LogEntry severities (the reference enumerates the same table from
    * the public LogSeverity doc, gcpLogging.ts:12-35). */
  val Severities: Seq[String] = Seq("DEFAULT", "DEBUG", "INFO", "NOTICE",
    "WARNING", "ERROR", "CRITICAL", "ALERT", "EMERGENCY")

  /** Level → severity, exactly the reference's mapping
    * (`changePinoLevelToGcpLogSeverity`, gcpLogging.ts:37-58): trace
    * and debug fold to DEBUG, warn to WARNING, fatal to CRITICAL,
    * silent/unknown to DEFAULT. Case-insensitive on the way in —
    * log4j2 levels arrive upper-case. Locale.ROOT: a Turkish default
    * locale lowercases "INFO" to dotless-ı "ınfo", misclassifying it. */
  def severityOf(level: String): String =
    level.toLowerCase(java.util.Locale.ROOT) match {
    case "trace" | "debug" => "DEBUG"
    case "info"            => "INFO"
    case "warn"            => "WARNING"
    case "error"           => "ERROR"
    case "fatal"           => "CRITICAL"
    case _                 => "DEFAULT"
  }

  /** The error-reporting marker the reference attaches to error/fatal
    * entries so they are tracked even without a stack trace
    * (gcpLogging.ts:88-96). */
  val ErrorEventType =
    "type.googleapis.com/google.devtools.clouderrorreporting.v1beta1.ReportedErrorEvent"

  /** The body of a JSON string literal: backslash, quote and ALL
    * control characters (< 0x20) escaped. */
  private[graft] def jsonEscape(s: String): String = s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  }

  /** One structured log line: level + severity + message-key `message`
    * + serviceContext + ISO-8601 time, `@type` on error/fatal, and
    * `stack_trace` when a throwable rode along — field-for-field the
    * reference logger's output object (gcpLogging.ts:70-110; `pid`
    * redaction maps to simply never emitting a pid). */
  def line(service: String, level: String, message: String,
           err: Option[Throwable] = None,
           timeMillis: Long = System.currentTimeMillis()): String = {
    val sev = severityOf(level)
    val iso = java.time.Instant.ofEpochMilli(timeMillis).toString
    val lvl = level.toLowerCase(java.util.Locale.ROOT)
    val typeProperty =
      if (lvl == "error" || lvl == "fatal")
        s""","@type":"${ErrorEventType}""""
      else ""
    val stackProperty = err.map { e =>
      val sw = new java.io.StringWriter
      e.printStackTrace(new java.io.PrintWriter(sw))
      s""","stack_trace":"${jsonEscape(sw.toString)}""""
    }.getOrElse("")
    s"""{"time":"$iso","level":"$lvl","severity":"$sev"$typeProperty""" +
      s""","serviceContext":{"service":"${jsonEscape(service)}"}""" +
      s""","message":"${jsonEscape(message)}"$stackProperty}"""
  }
}
