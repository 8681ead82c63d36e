package graft.perfbench

/** Minimal JSON writer and reader for the result and expectation files. */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: java.math.BigDecimal => n.toPlainString
    case n: BigDecimal => n.bigDecimal.toPlainString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + write(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case a: Array[_] => write(a.toSeq)
    case o => quote(o.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Parse into nested java Maps/Lists via Spark's bundled Jackson. */
  def read(path: String): Any = toScala(mapper.readTree(new java.io.File(path)))

  private def toScala(n: com.fasterxml.jackson.databind.JsonNode): Any = {
    import scala.jdk.CollectionConverters._
    if (n.isObject) n.fields().asScala.map(e => e.getKey -> toScala(e.getValue)).toMap
    else if (n.isArray) n.elements().asScala.map(toScala).toVector
    else if (n.isIntegralNumber) n.bigIntegerValue().toString
    else if (n.isNumber) n.doubleValue()
    else if (n.isBoolean) n.booleanValue()
    else if (n.isNull) null
    else n.asText()
  }
}
