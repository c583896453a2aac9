package e2ebench

/** Minimal JSON writer for the benchmark's result and span files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null                      => "null"
    case s: String                 => str(s)
    case d: Double if d.isNaN || d.isInfinite => "null"
    case b: Boolean                => b.toString
    case n: Int                    => n.toString
    case n: Long                   => n.toString
    case d: Double                 => d.toString
    case m: Map[_, _]              => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_]           => xs.map(value).mkString("[", ",", "]")
    case other                     => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
