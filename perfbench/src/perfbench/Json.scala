package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Plan in, result out: plain JSON through the Jackson that ships with
  * Spark. */
object Json {
  private val mapper = new ObjectMapper()

  def readFile(path: String): Map[String, Any] =
    toScala(mapper.readValue(new java.io.File(path), classOf[java.util.Map[String, Any]]))
      .asInstanceOf[Map[String, Any]]

  def writeFile(path: String, value: Any): Unit =
    mapper.writeValue(new java.io.File(path), toJava(value))

  private def toScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] => m.asScala.map { case (k, x) => k.toString -> toScala(x) }.toMap
    case l: java.util.List[_] => l.asScala.map(toScala).toList
    case other => other
  }

  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => k.toString -> toJava(x) }.toMap.asJava
    case s: Iterable[_] => s.map(toJava).toList.asJava
    case a: Array[_] => a.map(toJava).toList.asJava
    case o: Option[_] => o.map(toJava).orNull
    case other => other
  }
}
