package perfbench

import java.io.File

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.jdk.CollectionConverters._

/** JSON reading and writing with Jackson, from Spark's jars. */
object Json {
  private val mapper = new ObjectMapper()

  def read(file: File): JsonNode = mapper.readTree(file)

  def strings(node: JsonNode): Seq[String] =
    node.elements().asScala.map(_.asText()).toSeq

  def fields(node: JsonNode): Seq[(String, JsonNode)] =
    node.fields().asScala.map(e => e.getKey -> e.getValue).toSeq

  /** Render Scala values with the same mapper: Map (insertion order
    * kept for ListMap), Seq, Option, String, numbers and Boolean; NaN
    * and infinities become null. */
  def render(v: Any): String = mapper.writeValueAsString(toJava(v))

  private def toJava(v: Any): Any = v match {
    case None => null
    case Some(x) => toJava(x)
    case d: Double if d.isNaN || d.isInfinite => null
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case xs: Iterable[_] => xs.map(toJava).toSeq.asJava
    case other => other
  }

  def obj(kvs: (String, Any)*): scala.collection.immutable.ListMap[String, Any] =
    scala.collection.immutable.ListMap(kvs: _*)
}
