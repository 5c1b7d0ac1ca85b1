package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON in and out of the benchmark's files (Jackson ships with Spark). */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(v: Any): String = mapper.writeValueAsString(v)

  def read(s: String): Map[String, Any] = mapper.readValue(s, classOf[Map[String, Any]])

  def readFile(p: java.nio.file.Path): Map[String, Any] = read(java.nio.file.Files.readString(p))

  def writeFile(p: java.nio.file.Path, v: Any): Unit = {
    java.nio.file.Files.createDirectories(p.toAbsolutePath.getParent)
    java.nio.file.Files.writeString(p, write(v) + "\n")
  }

  def num(v: Any): Double = v.asInstanceOf[Number].doubleValue

  def obj(v: Any): Map[String, Any] = v.asInstanceOf[Map[String, Any]]
}
