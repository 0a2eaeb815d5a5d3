package graft

/** The JSON string literal the mains write into their artifacts. */
object Json {
  /** Full escape, control chars included: Spark exception messages carry
    * newlines (plan dumps, stage failures) and builder-authored SQL can
    * carry tabs, and one unescaped control char invalidates the file. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
