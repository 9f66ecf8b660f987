package graft

/** The one JSON string encoder behind every hand-built JSON document the
  * engine emits (Verify's oracle map, Bench's record line, the webhook
  * payload, the query/user API responses, the rehearsal lines). */
object Json {

  /** `s` as a JSON string literal: quote and backslash escaped, and ALL
    * control characters (< 0x20) — a tab, CR or other control character
    * in a query's SQL or an error message would otherwise make the
    * consumer's JSON parse fail. */
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
