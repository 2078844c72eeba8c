package graft

/** The one JSON string escaper behind every driver-facing JSON line
  * (Verify's oracle dump, Bench's and SkewBench's metric lines). Escapes
  * backslash, quote, and ALL control characters — a newline inside an
  * exception message must never break the one-line-JSON contract —
  * plus the compact object and array renderers those lines are built
  * from. */
private[graft] object JsonOut {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** `{"k":v,...}` from keys and already-rendered JSON values. */
  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  /** `[v,...]` from already-rendered JSON values. */
  def arr(items: Iterable[String]): String = items.mkString("[", ",", "]")
}
