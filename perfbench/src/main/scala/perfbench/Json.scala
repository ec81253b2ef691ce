package perfbench

import java.io.File
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** JSON in and out, on the Jackson that ships with Spark. */
object Json {
  private val mapper = new ObjectMapper()

  def parseFile(path: String): JsonNode = mapper.readTree(new File(path))

  def str(s: String): String = mapper.writeValueAsString(s)

  /** All digits as measured; non-finite values have no JSON form. */
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
