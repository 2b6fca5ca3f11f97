package graft.ops

/** Structured JSON run-logging (reference O-14,
  * utils/log_support.py:8-46): the reference emits
  * {message, date, level, time, epoch_time, +context fields} per
  * pipeline step with identity fields injected via `extra`.
  *
  * Here: a tiny allocation-light formatter the pipeline driver uses
  * for its per-table progress lines. Cluster deployments would route
  * the same fields through log4j2's JsonTemplateLayout + MDC; this
  * keeps the field contract testable without binding to a logger impl.
  */
final case class LogContext(jobName: String, runId: Long,
                            fields: Map[String, String] = Map.empty)

object JsonLog {

  /** JSON string escape (backslash, quote, all control chars) — the
    * single shared implementation; Verify's artifact lines use it
    * too, so an escaping fix lands everywhere at once.
    */
  private[graft] def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** One JSON log line with the reference's field set. */
  def line(ctx: LogContext, level: String, message: String,
           epochMillis: Long = System.currentTimeMillis()): String = {
    val instant = java.time.Instant.ofEpochMilli(epochMillis)
    val base = Seq(
      "message" -> message,
      "level" -> level,
      "date" -> instant.toString.take(10),
      "time" -> instant.toString,
      "epoch_time" -> epochMillis.toString,
      "job_name" -> ctx.jobName,
      "run_id" -> ctx.runId.toString)
    (base ++ ctx.fields.toSeq.sortBy(_._1))
      .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
      .mkString("{", ",", "}")
  }
}
