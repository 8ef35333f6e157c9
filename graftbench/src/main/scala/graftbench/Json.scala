package graftbench

/** Minimal JSON rendering for the run record (the JVM side only
  * writes JSON; the harness reads it back with Python's json). */
object Json {

  def render(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.toString
  }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => write(sb, x)
    case s: String => quote(sb, s)
    case b: Boolean => sb.append(b)
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
    case f: Float => write(sb, f.toDouble)
    case n: Int => sb.append(n)
    case n: Long => sb.append(n)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(',')
        first = false
        quote(sb, k.toString); sb.append(':'); write(sb, x)
      }
      sb.append('}')
    case xs: Iterable[_] =>
      sb.append('[')
      var first = true
      xs.foreach { x =>
        if (!first) sb.append(',')
        first = false
        write(sb, x)
      }
      sb.append(']')
    case xs: Array[_] => write(sb, xs.toSeq)
    case other => quote(sb, other.toString)
  }

  private def quote(sb: StringBuilder, s: String): Unit = {
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

  /** Parse a JSON file into Scala maps/seqs/strings/doubles. */
  def parseFile(path: String): Any = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path))
    fromNode(node)
  }

  private def fromNode(n: com.fasterxml.jackson.databind.JsonNode): Any = {
    import scala.jdk.CollectionConverters._
    if (n.isObject)
      n.properties().asScala.map(e => e.getKey -> fromNode(e.getValue))
        .toSeq.sortBy(_._1).toMap
    else if (n.isArray) n.elements().asScala.map(fromNode).toVector
    else if (n.isTextual) n.asText()
    else if (n.isBoolean) n.asBoolean()
    else if (n.isNumber) n.asDouble()
    else null
  }
}
