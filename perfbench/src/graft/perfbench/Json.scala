package graft.perfbench

/** Minimal JSON writer for the run's result file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  /** `{"name": {"value": v, "unit": u}, ...}` */
  def metrics(ms: Seq[(String, Double, String)]): String =
    obj(ms.map { case (n, v, u) => n -> obj(Seq("value" -> num(v), "unit" -> str(u))) })

  def writeFile(path: String, s: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
}
