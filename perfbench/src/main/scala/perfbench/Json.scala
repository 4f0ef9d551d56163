package perfbench

import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON output of the result and artifact files, with the Jackson that
  * Spark already puts on the classpath. A NaN is written as the string
  * "NaN", which the runner refuses as a metric value. */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def str(v: Any): String = mapper.writeValueAsString(v)

  def write(path: Path, v: Any): Unit = Files.write(path, str(v).getBytes("UTF-8"))
}
