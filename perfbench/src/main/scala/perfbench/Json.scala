package perfbench

/** Minimal JSON rendering that keeps key order (records and the summary
  * line). Values: Map/Seq of values, String, numbers, Boolean, Option. */
object Json {
  def obj(kvs: (String, Any)*): Seq[(String, Any)] = kvs

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => render(m.toSeq.map { case (k, x) => (k.toString, x) })
    case kvs: Seq[_] if kvs.forall(_.isInstanceOf[(_, _)]) && kvs.nonEmpty &&
        kvs.forall(_.asInstanceOf[(Any, Any)]._1.isInstanceOf[String]) =>
      kvs.map { case (k: String, x) => s"${quote(k)}:${render(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
