package perfbench

/** Minimal JSON writer for the raw result file (numbers, strings, booleans,
  * sequences and string-keyed maps). */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    }
    def num(d: Double): Unit =
      if (d.isNaN || d.isInfinite) sb ++= "null" else sb ++= d.toString
    def go(x: Any): Unit = x match {
      case null | None => sb ++= "null"
      case Some(y) => go(y)
      case s: String => str(s)
      case b: Boolean => sb ++= b.toString
      case i: Int => sb ++= i.toString
      case l: Long => sb ++= l.toString
      case d: Double => num(d)
      case f: Float => num(f.toDouble)
      case m: scala.collection.Map[_, _] =>
        sb += '{'
        var first = true
        m.foreach { case (k, y) =>
          if (!first) sb += ','
          first = false
          str(k.toString); sb += ':'; go(y)
        }
        sb += '}'
      case a: Array[_] => go(a.toSeq)
      case s: Iterable[_] =>
        sb += '['
        var first = true
        s.foreach { y => if (!first) sb += ','; first = false; go(y) }
        sb += ']'
      case p: Product => go(p.productIterator.toSeq)
      case other => throw new IllegalArgumentException(s"not JSON: $other")
    }
    go(v)
    sb.toString
  }
}
