package graft.perfbench

/** Just enough JSON to write the result file the Python side reads. */
object Json {

  sealed trait Value { def render: String }
  final case class Obj(fields: (String, Any)*) extends Value {
    def render: String =
      fields.map { case (k, v) => s"${str(k)}:${of(v).render}" }.mkString("{", ",", "}")
  }
  final case class Arr(items: Seq[Any]) extends Value {
    def render: String = items.map(of(_).render).mkString("[", ",", "]")
  }
  private final case class Raw(render: String) extends Value

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  private def of(v: Any): Value = v match {
    case j: Value => j
    case s: String => Raw(str(s))
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"not a JSON number: $d")
      Raw(d.toString)
    case n @ (_: Int | _: Long) => Raw(n.toString)
    case b: Boolean => Raw(b.toString)
    case xs: Seq[_] => Arr(xs)
    case other => throw new IllegalArgumentException(s"not JSON: $other")
  }
}
