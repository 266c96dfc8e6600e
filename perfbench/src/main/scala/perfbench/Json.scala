package perfbench

/** Minimal JSON writer for the runner's result and span files, so the
  * runner needs nothing beyond the project's own classpath. */
object Json {
  /** A JSON object with its keys in the given order. */
  final case class Obj(kv: (String, Any)*)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Obj => o.kv.map { case (k, x) => str(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case m: Map[_, _] => apply(Obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*))
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
