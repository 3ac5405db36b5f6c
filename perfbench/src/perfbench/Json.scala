package perfbench

/** Minimal JSON writer for the raw result file (maps, sequences, numbers,
  * strings, booleans). Non-finite doubles are written as null. */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def go(x: Any): Unit = x match {
      case null | None => sb.append("null")
      case Some(y) => go(y)
      case s: String => str(s)
      case b: Boolean => sb.append(b)
      case d: Double => if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
      case f: Float => go(f.toDouble)
      case n: Int => sb.append(n)
      case n: Long => sb.append(n)
      case m: scala.collection.Map[_, _] =>
        sb.append('{')
        var first = true
        m.foreach { case (k, v) =>
          if (!first) sb.append(','); first = false
          str(k.toString); sb.append(':'); go(v)
        }
        sb.append('}')
      case it: Iterable[_] =>
        sb.append('[')
        var first = true
        it.foreach { e => if (!first) sb.append(','); first = false; go(e) }
        sb.append(']')
      case a: Array[_] => go(a.toSeq)
      case other => str(other.toString)
    }
    def str(s: String): Unit = {
      sb.append('"')
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"')
    }
    go(v)
    sb.toString
  }
}
