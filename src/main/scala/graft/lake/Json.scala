package graft.lake

import com.fasterxml.jackson.annotation.JsonInclude
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.fasterxml.jackson.module.scala.{ClassTagExtensions, DefaultScalaModule, JavaTypeable}

/** The one JSON codec for driver-side metadata (small files, never the data
  * path), over the jackson-databind and Scala module that ship with Spark.
  * The tables' metadata files are the case classes of `Metadata.scala`,
  * written with the default pretty printer; a `None` field is left out.
  * The tree helpers serve the archive's index (the reference's wire format)
  * and the commit store's version-only read.
  */
object Json {
  val mapper: ObjectMapper with ClassTagExtensions = {
    val m = new ObjectMapper() with ClassTagExtensions
    m.registerModule(DefaultScalaModule)
    m.setDefaultPropertyInclusion(JsonInclude.Include.NON_ABSENT)
    m
  }

  def read[T: JavaTypeable](s: String): T = mapper.readValue[T](s)
  def write(value: Any): String =
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(value)

  def obj(): ObjectNode = mapper.createObjectNode()
  def arr(): ArrayNode = mapper.createArrayNode()
  def parse(s: String): JsonNode = mapper.readTree(s)
}
