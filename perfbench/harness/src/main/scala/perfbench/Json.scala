package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{ObjectMapper, SerializationFeature}

/** JSON in and out through the Jackson that ships with Spark. Scala maps
  * and sequences are converted to Java collections; key order is kept. */
object Json {
  private val mapper = new ObjectMapper()
    .configure(SerializationFeature.INDENT_OUTPUT, true)

  private def toJava(v: Any): AnyRef = v match {
    case null => null
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }

  def write(path: String, v: Any): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    mapper.writeValue(f, toJava(v))
  }

  def read(path: String): Map[String, Any] = {
    def fromJava(v: Any): Any = v match {
      case m: java.util.Map[_, _] =>
        m.asScala.map { case (k, x) => k.toString -> fromJava(x) }.toMap
      case l: java.util.List[_] => l.asScala.map(fromJava).toSeq
      case x => x
    }
    fromJava(mapper.readValue(new java.io.File(path), classOf[java.util.Map[String, Any]]))
      .asInstanceOf[Map[String, Any]]
  }
}
