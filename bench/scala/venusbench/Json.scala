package venusbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Minimal JSON in and out over Jackson (shipped with Spark): objects read
  * as Scala maps, arrays as vectors; Scala collections written as JSON. */
object Json {
  private val mapper = new ObjectMapper()

  def read(path: String): Any = toScala(mapper.readValue(new File(path), classOf[Object]))
  def parse(text: String): Any = toScala(mapper.readValue(text, classOf[Object]))

  private def toScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.iterator.map { case (k, x) => k.toString -> toScala(x) }.toMap
    case l: java.util.List[_] => l.asScala.iterator.map(toScala).toVector
    case x => x
  }

  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.iterator.map(toJava).toVector.asJava
    case a: Array[_] => a.iterator.map(toJava).toVector.asJava
    case o: Option[_] => o.map(toJava).orNull
    case x => x
  }

  def write(path: String, v: Any): Unit = mapper.writeValue(new File(path), toJava(v))
}

/** Typed accessors over a parsed JSON object. */
final case class Obj(m: Map[String, Any]) {
  def apply(k: String): Any = m.getOrElse(k, sys.error(s"missing key $k"))
  def str(k: String): String = apply(k).toString
  def long(k: String): Long = apply(k).asInstanceOf[Number].longValue
  def int(k: String): Int = long(k).toInt
  def dbl(k: String): Double = apply(k).asInstanceOf[Number].doubleValue
  def bool(k: String): Boolean = apply(k).asInstanceOf[Boolean]
  def obj(k: String): Obj = Obj(apply(k).asInstanceOf[Map[String, Any]])
  def seq(k: String): Vector[Any] = apply(k).asInstanceOf[Vector[Any]]
  def objs(k: String): Vector[Obj] = seq(k).map(x => Obj(x.asInstanceOf[Map[String, Any]]))
  def has(k: String): Boolean = m.contains(k)
}
