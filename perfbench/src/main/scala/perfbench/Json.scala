package perfbench

/** Minimal JSON writer for the run record (values: strings, numbers,
  * booleans, nested objects and arrays). */
object Json {
  final case class Raw(s: String) { override def toString: String = s }

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${quote(k)}:${value(v)}" }.mkString("{", ",", "}"))

  def arr(xs: Iterable[Any]): Raw = Raw(xs.map(value).mkString("[", ",", "]"))

  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => quote(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case None | null => "null"
    case Some(x) => value(x)
    case xs: Iterable[_] => arr(xs).s
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
