package perfbench

/** Minimal streaming JSON writer for the harness's raw-sample file. */
final class Json {
  private val sb = new StringBuilder
  private var first = true

  private def sep(): Unit = { if (!first) sb += ','; first = false }
  private def str(s: String): Unit = sb ++= graft.JsonOut.quote(s)

  def key(k: String): Unit = { sep(); str(k); sb += ':'; first = true }
  def obj(body: => Unit): Unit = { if (!first) sb += ','; sb += '{'; first = true; body; sb += '}'; first = false }
  def arr(body: => Unit): Unit = { if (!first) sb += ','; sb += '['; first = true; body; sb += ']'; first = false }
  def value(v: Any): Unit = {
    sep()
    v match {
      case s: String => str(s)
      case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
      case b: Boolean => sb ++= b.toString
      case n: Number => sb ++= n.toString
      case other => str(String.valueOf(other))
    }
  }
  def field(k: String, v: Any): Unit = { key(k); value(v) }
  override def toString: String = sb.toString
}
