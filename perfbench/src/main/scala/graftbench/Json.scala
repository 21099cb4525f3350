package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  def write(path: String, value: Any): Unit =
    mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(path), value)
}
