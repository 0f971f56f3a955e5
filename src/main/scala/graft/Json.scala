package graft

/** JSON string literals for the JSON the engine writes by hand (verify
  * artifacts, HTTP replies, webhook payloads). */
object Json {

  /** `s` as the body of a JSON string: quote, backslash, newline, return
    * and tab as two-character escapes, every other control character
    * (< 0x20) as `\u00XX`, everything else verbatim. */
  def escape(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** `s` as a quoted JSON string. */
  def quote(s: String): String = "\"" + escape(s) + "\""
}
