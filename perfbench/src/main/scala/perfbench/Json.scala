package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Minimal JSON I/O: Jackson (shipped with Spark) to read the generated
  * plans, a small writer for results (maps, sequences, numbers, strings).
  */
object Json {
  private val mapper = new ObjectMapper()

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    }
    def go(x: Any): Unit = x match {
      case null | None => sb ++= "null"
      case Some(y) => go(y)
      case s: String => str(s)
      case b: Boolean => sb ++= b.toString
      case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
      case f: Float => go(f.toDouble)
      case n: Int => sb ++= n.toString
      case n: Long => sb ++= n.toString
      case n: Short => sb ++= n.toString
      case n: Byte => sb ++= n.toString
      case n: java.math.BigDecimal => sb ++= n.toPlainString
      case n: BigDecimal => sb ++= n.bigDecimal.toPlainString
      case t: java.time.LocalDateTime => str(t.toString)
      case t: java.sql.Timestamp => str(t.toLocalDateTime.toString)
      case t: java.time.LocalDate => str(t.toString)
      case t: java.sql.Date => str(t.toLocalDate.toString)
      case m: scala.collection.Map[_, _] =>
        sb += '{'
        var first = true
        m.foreach { case (k, v) =>
          if (!first) sb += ','
          first = false
          str(k.toString); sb += ':'; go(v)
        }
        sb += '}'
      case s: Iterable[_] =>
        sb += '['
        var first = true
        s.foreach { v => if (!first) sb += ','; first = false; go(v) }
        sb += ']'
      case a: Array[_] => go(a.toSeq)
      case r: org.apache.spark.sql.Row => go(r.toSeq)
      case n: JsonNode => sb ++= n.toString
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}
