package graft

import java.util.Locale

/** The JSON string escaper Bench's result lines and Verify's
  * oracle_sql.json share. */
object Json {

  /** `s` as a quoted JSON string literal. Escapes the quote, the backslash
    * and every control char below 0x20: a tab or CR left raw in a query's
    * SQL or an error message would make the whole document unparseable. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => "\\u%04x".formatLocal(Locale.ROOT, c.toInt)
    case c => c.toString
  } + "\""
}
