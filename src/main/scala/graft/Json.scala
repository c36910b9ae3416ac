package graft

/** The one JSON string escaper for hand-written JSON: cursor metadata,
  * job stats, CLI output, and the Verify, Bench and rehearsal lines.
  * Explorer messages and operator arguments are free text.
  */
object Json {

  /** `v` as a JSON string literal: quotes, backslashes and every
    * control char escaped.
    */
  def str(v: String): String = "\"" + v.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
