package graft

/** JSON text for the tools' machine-read output files and lines. */
private[graft] object Json {

  /** `s` as a JSON string literal: quote, backslash and every control
    * character escaped, so any path, SQL text or error message parses. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
