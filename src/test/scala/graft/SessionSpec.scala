package graft

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** [[graft.Session]] is the only way a session gets built, and it is the
  * session the benchmark measures and the specs run under. */
class SessionSpec extends SparkSpec {

  test("Session.fixed equals the conf map in perfbench/session.json") {
    val conf = new ObjectMapper().readTree(new java.io.File("perfbench/session.json")).get("conf")
    val bench = conf.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
    assert(bench == Session.fixed)
  }

  test("the shared spec session carries the extensions and the codegen cache size") {
    // a new session shares the construction-time extensions but none of
    // the functions another spec may have registered at run time
    val r = spark.newSession()
      .sql("SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D))").head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "8192")
  }

  test("no source file but graft/Session.scala builds a SparkSession") {
    val needle = "SparkSession" + ".builder"
    val builders = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => Files.isRegularFile(p))
      .filter(p => Files.readString(p).contains(needle))
      .map(_.toString).toSeq
    assert(builders == Seq(Paths.get("src/main/scala/graft/Session.scala").toString))
  }
}
