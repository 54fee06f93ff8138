package perfbench

/** Minimal JSON writer for the result line and the run records. */
object Json {
  def write(v: Any): String = {
    val b = new StringBuilder
    def str(s: String): Unit = {
      b += '"'
      s.foreach {
        case '"' => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case '\n' => b ++= "\\n"
        case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
        case c => b += c
      }
      b += '"'
    }
    def go(x: Any): Unit = x match {
      case null | None => b ++= "null"
      case Some(y) => go(y)
      case s: String => str(s)
      case d: Double => if (d.isNaN || d.isInfinite) b ++= "null" else b ++= d.toString
      case f: Float => go(f.toDouble)
      case n @ (_: Int | _: Long | _: Short | _: Byte) => b ++= n.toString
      case z: Boolean => b ++= z.toString
      case m: scala.collection.Map[_, _] =>
        b += '{'
        m.iterator.zipWithIndex.foreach { case ((k, y), i) =>
          if (i > 0) b ++= ", "
          str(k.toString); b ++= ": "; go(y)
        }
        b += '}'
      case xs: Iterable[_] =>
        b += '['
        xs.iterator.zipWithIndex.foreach { case (y, i) => if (i > 0) b ++= ", "; go(y) }
        b += ']'
      case a: Array[_] => go(a.toSeq)
      case p: Product if p.productArity > 0 => go(p.productIterator.toSeq)
      case other => str(other.toString)
    }
    go(v)
    b.toString
  }

  /** The `value` of metric `name` in a record written by [[write]]. */
  def number(text: String, name: String): Double =
    ("\"" + java.util.regex.Pattern.quote(name) + "\": \\{\"value\": ([-+0-9.eE]+)").r
      .findFirstMatchIn(text).map(_.group(1).toDouble).getOrElse(Double.NaN)
}
