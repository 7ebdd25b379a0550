package graft.perfbench

/** Minimal JSON writer and reader for the benchmark's own files. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def parse(s: String): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(s)

  def str(s: String): String = mapper.writeValueAsString(s)

  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${write(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
