package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper

/** Scala values → JSON text through the Jackson already on the classpath. */
object Json {
  private val mapper = new ObjectMapper()

  private def toJava(v: Any): AnyRef = v match {
    case null | None => null
    case Some(x) => toJava(x)
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] =>
      val out = new java.util.ArrayList[AnyRef]()
      s.foreach(x => out.add(toJava(x)))
      out
    case d: Double => java.lang.Double.valueOf(d)
    case l: Long => java.lang.Long.valueOf(l)
    case i: Int => java.lang.Integer.valueOf(i)
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case x: AnyRef => x
  }

  def write(v: Any): String = mapper.writeValueAsString(toJava(v))

  def writeFile(path: String, v: Any): Unit = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(p,
      write(v).getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
