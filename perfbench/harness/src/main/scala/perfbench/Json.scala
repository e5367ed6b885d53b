package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The result file's JSON: ordered objects written with Spark's Jackson. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)

  /** An ordered object. */
  def obj(kv: (String, Any)*): scala.collection.Map[String, Any] =
    scala.collection.mutable.LinkedHashMap(kv: _*)
}
