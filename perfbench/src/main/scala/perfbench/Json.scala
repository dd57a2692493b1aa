package perfbench

import java.io.File

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON I/O for the runner's input and result files. Results are Scala
  * maps and sequences of strings, numbers, booleans and null. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def read(path: String): JsonNode = mapper.readTree(new File(path))

  def parse(text: String): JsonNode = mapper.readTree(text)

  def write(path: String, v: Any): Unit = mapper.writeValue(new File(path), v)
}
