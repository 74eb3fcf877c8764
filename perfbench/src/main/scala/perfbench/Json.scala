package perfbench

/** Minimal JSON rendering and parsing for the benchmark's own files. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else java.math.BigDecimal.valueOf(d).toPlainString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case x => quote(x.toString)
  }

  def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  /** Parses JSON into Map / Seq / String / Double / Boolean / null, via
    * the Jackson parser Spark ships. */
  def parse(text: String): Any = {
    import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
    import scala.jdk.CollectionConverters._
    def conv(n: JsonNode): Any =
      if (n.isObject) n.fields().asScala.map(e => e.getKey -> conv(e.getValue)).toMap
      else if (n.isArray) n.elements().asScala.map(conv).toList
      else if (n.isNumber) n.asDouble()
      else if (n.isBoolean) n.asBoolean()
      else if (n.isNull) null
      else n.asText()
    conv(new ObjectMapper().readTree(text))
  }
}
