package graft

/** What the Verify and Bench mains share: the JSON string escape of their
  * artifacts and the parsing of their env knobs. */
object MainEnv {

  /** `s` as a JSON string literal: quote, backslash and ALL control chars
    * (< 0x20) escaped — a tab or CR in SQL or an error message would
    * otherwise make the consumer's json.load fail. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The query names listed (comma-separated) in env var `name`, or None
    * when it is unset: run every query. Dev loop: `*_ONLY=q01,d12`. */
  def only(name: String): Option[Set[String]] =
    sys.env.get(name).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  /** A positive int from env var `name`, else `default` (unset or not a
    * positive int). */
  def positiveInt(name: String, default: Int): Int =
    sys.env.get(name).flatMap(_.toIntOption).filter(_ > 0).getOrElse(default)
}
