package graft

/** The JSON text the mains write (Bench's contract line, Verify's
  * oracle_sql.json, DumpRaw's dumps). */
object Json {
  /** `s` as a quoted JSON string: quote, backslash and every char below
    * 0x20 escaped, so a stray tab in SQL or a regex fragment in an error
    * message cannot make the reader's parse fail. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
