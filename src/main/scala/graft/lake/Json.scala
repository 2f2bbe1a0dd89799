package graft.lake

import com.fasterxml.jackson.annotation.JsonInclude
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.{ClassTagExtensions, DefaultScalaModule, JavaTypeable}

/** The one JSON codec for driver-side metadata (small files, never the data
  * path), over the jackson-databind and Scala module that ship with Spark.
  * The tables' metadata files are the case classes of `Metadata.scala`,
  * written with the default pretty printer; a `None` field is left out.
  * The archive's index (the reference's wire format) is a case class of
  * `GzArchive` on the same mapper, written on one line; only the commit
  * store's version-only read walks a tree.
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

  def parse(s: String): JsonNode = mapper.readTree(s)
}
