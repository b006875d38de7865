package graft

/** The JSON string literal the mains write into their JSON files and
  * lines. */
object Json {
  /** Escapes backslash, quote and ALL control chars (< 0x20): a tab or
    * CR in a query's SQL or a data path would otherwise make a reader's
    * `json.load` fail on the whole file. */
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
