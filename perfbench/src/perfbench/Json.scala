package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The one JSON codec of the benchmark: jackson from the Spark classpath.
  * Values are plain Scala collections, Options and numbers.
  */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(v: Any): String = mapper.writeValueAsString(v)

  def writeFile(path: java.nio.file.Path, v: Any): Unit = {
    Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
    mapper.writerWithDefaultPrettyPrinter().writeValue(path.toFile, v)
  }

  def parseFile(path: java.nio.file.Path): JsonNode =
    mapper.readTree(path.toFile)

  /** Parses a line that should hold one JSON object; None otherwise. */
  def parseObject(line: String): Option[JsonNode] =
    if (!line.trim.startsWith("{")) None
    else
      try Some(mapper.readTree(line)).filter(_.isObject)
      catch { case _: Exception => None }
}
