package perfbench

/** Minimal JSON writer for the run record (maps, sequences, strings, numbers, booleans). */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => graft.JsonEscape.quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, x) => s"${write(k.toString)}: ${write(x)}" }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.iterator.map(write).mkString("[", ", ", "]")
    case other => write(other.toString)
  }
}
