package graft

import scala.util.matching.Regex

/** JSON string literals for the hand-written JSON files (Verify's
  * oracle_sql.json, Lineage's manifest); no external deps.
  */
object Json {

  /** Quote and escape: backslash, quote, and ALL control chars (< 0x20) —
    * a tab or CR left raw makes a strict reader (Python's json.load) fail.
    */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Regex source of one quoted string; group 1 is the still-escaped body. */
  val StringRe: String = """"((?:[^"\\]++|\\.)*+)""""

  /** Inverse of `quote` on the body between the quotes. */
  def unquote(body: String): String =
    """(?s)\\(u[0-9a-fA-F]{4}|.)""".r.replaceAllIn(body, m => Regex.quoteReplacement(
      m.group(1) match {
        case "n" => "\n"
        case "r" => "\r"
        case "t" => "\t"
        case u if u.length == 5 => Integer.parseInt(u.tail, 16).toChar.toString
        case c => c
      }))
}
