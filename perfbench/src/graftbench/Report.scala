package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** Result documents, built and written with Jackson: numbers are rendered
  * by Jackson's own formatter, never by the JVM locale, and every name is
  * escaped, whatever it contains. */
object Report {
  val mapper = new ObjectMapper()

  def obj(fields: (String, Any)*): ObjectNode = {
    val n = mapper.createObjectNode()
    fields.foreach { case (k, v) => put(n, k, v) }
    n
  }

  def put(n: ObjectNode, k: String, v: Any): Unit = v match {
    case null | None => n.putNull(k)
    case Some(x) => put(n, k, x)
    case x: ObjectNode => n.set[ObjectNode](k, x)
    case x: Double if x.isNaN || x.isInfinite => n.putNull(k)
    case x: Double => n.put(k, x)
    case x: Float => n.put(k, x.toDouble)
    case x: Long => n.put(k, x)
    case x: Int => n.put(k, x)
    case x: Boolean => n.put(k, x)
    case x: String => n.put(k, x)
    case x: scala.collection.Map[_, _] =>
      val c = n.putObject(k)
      x.toSeq.sortBy(_._1.toString).foreach { case (kk, vv) => put(c, kk.toString, vv) }
    case x: Iterable[_] =>
      val a = n.putArray(k)
      x.foreach {
        case o: ObjectNode => a.add(o)
        case d: Double => a.add(d)
        case l: Long => a.add(l)
        case i: Int => a.add(i)
        case other => a.add(String.valueOf(other))
      }
    case x => n.put(k, String.valueOf(x))
  }

  /** A metric entry as the contract line carries it. */
  def metric(value: Double, unit: String): ObjectNode = obj("value" -> value, "unit" -> unit)

  def render(n: ObjectNode): String = mapper.writeValueAsString(n)
}
