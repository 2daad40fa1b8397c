package graft.perfbench

/** Minimal JSON writer: every string goes through one escaper that
  * handles quotes, backslashes and all control characters, and
  * non-finite numbers are refused instead of printed as bare `NaN`. */
object Json {

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' || c == '\u2028' || c == '\u2029' =>
        b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(x: Double): String = {
    require(!x.isNaN && !x.isInfinite, s"non-finite number $x")
    if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else x.toString
  }

  /** Renders Map / Seq / String / Boolean / Int / Long / Double / null. */
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(
      s"cannot render ${other.getClass.getName} as JSON")
  }
}
