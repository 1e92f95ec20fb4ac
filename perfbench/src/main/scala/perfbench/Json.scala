package perfbench

/** Minimal JSON writer for the result line and the detail file. Values are
  * Map (keys kept in insertion order when a ListMap is given), Seq, String,
  * Boolean, whole numbers, Double and None/null.
  */
object Json {
  def write(v: Any): String = v match {
    case null | None         => "null"
    case Some(x)             => write(x)
    case s: String           => quote(s)
    case b: Boolean          => b.toString
    case i: Int              => i.toString
    case l: Long             => l.toString
    case d: Double           =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d cannot be written as JSON")
      // full precision: a timing rounded to a few digits can repeat exactly across runs
      java.lang.Double.toString(d)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]     => xs.map(write).mkString("[", ",", "]")
    case other               => throw new IllegalArgumentException(s"cannot write ${other.getClass} as JSON")
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    b += '"'
    b.toString
  }
}
