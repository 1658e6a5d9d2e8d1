package perfbench

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON rendering for the run artifacts, by the Jackson that Spark ships. */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def apply(v: Any): String = mapper.writeValueAsString(v)
}
