package perfbench

/** Minimal JSON writer for the run's result and span files. */
final class Json {
  private val sb = new StringBuilder
  private var first = true

  private def sep(): Unit = { if (!first) sb.append(','); first = false }

  private def str(s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }

  private def value(v: Any): Unit = v match {
    case s: String => str(s)
    case b: Boolean => sb.append(b)
    case d: Double => sb.append(if (d.isNaN || d.isInfinite) "null" else d.toString)
    case n => sb.append(n.toString)
  }

  def key(k: String): Unit = { sep(); str(k); sb.append(':'); first = true }

  def field(k: String, v: Any): Unit = { key(k); value(v); first = false }

  def obj(body: => Unit): Unit = {
    sep(); sb.append('{'); first = true; body; sb.append('}'); first = false
  }

  def list[A](xs: Seq[A])(f: A => Unit): Unit = {
    sep(); sb.append('['); first = true; xs.foreach(f); sb.append(']'); first = false
  }

  def strs(k: String, xs: Seq[String]): Unit = { key(k); list(xs)(x => { sep(); str(x) }) }

  override def toString: String = sb.toString
}
