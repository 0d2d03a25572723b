package graft.core

/** The one JSON string escaper for the lines and files the mains emit. */
object Json {
  /** `s` as a JSON string literal: backslash, quote and ALL control chars
   *  (< 0x20) escaped — a tab or CR in hand-written SQL or a path
   *  would otherwise make a consumer's json.load fail. */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
