package graft

/** JSON string literal for the harness outputs (Bench's line, Verify's
  * oracle_sql.json, QueryProfile's records). Escapes backslash, quote and
  * ALL control characters: exception messages and hand-written oracle SQL
  * can carry tabs or CRs, which would otherwise make a consumer's parse
  * fail.
  */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
