package graft

/** The one JSON string escaper of the machine-read lines and payloads:
  * Bench's and StreamBench's result lines, Verify's `oracle_sql.json` and
  * ServeMain's REST responses. */
object Json {
  /** `s` as a JSON string literal: quote and backslash escaped, every
    * control character (< 0x20, newline and tab included) as its
    * four-hex-digit unicode escape, so a path, SQL text or request value
    * cannot break the line a parser reads. */
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString()
  }
}
