package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Minimal JSON for the run record: Scala maps, sequences, strings,
  * numbers, booleans and null in; Jackson trees out. */
object Json {
  private val mapper = new ObjectMapper()

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = sb.append(mapper.writeValueAsString(s))
    def go(x: Any): Unit = x match {
      case null | None => sb.append("null")
      case Some(y) => go(y)
      case s: String => str(s)
      case b: Boolean => sb.append(b)
      case d: Double =>
        if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
      case f: Float => go(f.toDouble)
      case n: Int => sb.append(n)
      case n: Long => sb.append(n)
      case n: Short => sb.append(n)
      case n: Byte => sb.append(n)
      case n: java.math.BigDecimal => sb.append(n.toPlainString)
      case m: scala.collection.Map[_, _] =>
        sb.append('{')
        var first = true
        m.foreach { case (k, v) =>
          if (!first) sb.append(','); first = false
          str(k.toString); sb.append(':'); go(v)
        }
        sb.append('}')
      case s: Iterable[_] =>
        sb.append('[')
        var first = true
        s.foreach { v => if (!first) sb.append(','); first = false; go(v) }
        sb.append(']')
      case a: Array[_] => go(a.toSeq)
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }

  def text(n: JsonNode, field: String): Option[String] =
    Option(n.get(field)).filterNot(_.isNull).map(_.asText)
}
