package graft.ingest

import java.time.Instant

/** Structured JSON logging (reference `main.py:22-61`: every log record is
  * one JSON object on stdout via `json_logging.init_non_web`, and the
  * per-document actions log with the document id in context).
  *
  * Dependency-free by design: this runs inside executor tasks on a shared
  * Spark JVM, where re-configuring log4j2 would fight the host platform's
  * logging config (and no JSON-layout artifacts resolve offline). One
  * emitted line ≙ one event: `written_at`, `level`, `logger`, `msg`, plus
  * any structured props (`document_id` at every per-document site).
  *
  * The sink is swappable so specs capture lines in-process; the default
  * writes to stdout like the reference. Executors on a real cluster each
  * re-initialize the object with the stdout default — per-executor stdout
  * is exactly where cluster log collectors expect task logs.
  */
object JsonLog extends Serializable {

  /** Where emitted lines go. Volatile so a spec's capture sink is seen by
    * local-mode task threads immediately.
    */
  @volatile var sink: String => Unit = line => Console.out.println(line)

  def info(logger: String, msg: String, props: (String, String)*): Unit =
    emit("INFO", logger, msg, props)

  def error(logger: String, msg: String, props: (String, String)*): Unit =
    emit("ERROR", logger, msg, props)

  private def emit(level: String, logger: String, msg: String,
      props: Seq[(String, String)]): Unit = {
    val fields =
      Seq("written_at" -> Instant.now().toString, "level" -> level,
        "logger" -> logger, "msg" -> msg) ++ props
    sink(fields.map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
      .mkString("{", ",", "}"))
  }

  private[graft] def esc(s: String): String = {
    val sb = new StringBuilder
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }
}
