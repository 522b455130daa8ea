package graft.util

object Json {
  /** `s` as a JSON string literal: quote and backslash escaped, and every
    * control character (< 0x20) as `\u00XX`, so any text parses back. */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
