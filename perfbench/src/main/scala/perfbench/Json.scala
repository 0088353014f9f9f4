package perfbench

/** Minimal JSON rendering for the benchmark's records (no dependency). */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    } + "\""

  def value(v: Any): String = v match {
    case null                        => "null"
    case s: String                   => str(s)
    case b: Boolean                  => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double                   => java.lang.Double.toString(d)
    case n: Int                      => n.toString
    case n: Long                     => n.toString
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]             => xs.map(value).mkString("[", ",", "]")
    case other                       => str(other.toString)
  }

  def obj(kv: (String, Any)*): String = value(scala.collection.immutable.ListMap(kv: _*))
}
