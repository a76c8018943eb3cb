package graft

/** JSON text helpers for the harness outputs (`Bench`, `Verify`,
  * `Counts`), which write their few JSON files by hand. */
object Json {

  /** `s` as a JSON string literal: backslash, quote and ALL control
    * chars (< 0x20) escaped — a tab or CR in an error message or in
    * builder-authored SQL would otherwise make a reader's json.load fail.
    */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A JSON object from already-rendered values, keys escaped. */
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
