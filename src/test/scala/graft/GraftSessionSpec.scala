package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** The benchmark harness builds its own session from
  * perfbench/spec.json's `session` map, which that file calls "the
  * builder settings of graft.Bench.main". Bench, the other mains and
  * the test suite all run on GraftSession, so checking the map against
  * the test session keeps the benchmark, the tests and the product on
  * one configuration. */
class GraftSessionSpec extends AnyFunSuite {
  implicit val formats: Formats = DefaultFormats

  test("the test session carries every setting of the benchmark's session") {
    val spec = parse(new String(Files.readAllBytes(Paths.get("perfbench/spec.json")), "UTF-8"))
    val session = (spec \ "session").extract[Map[String, String]]
    assert(session.nonEmpty)
    session.foreach { case (k, v) =>
      // TestSpark runs local[4]
      assert(TestSpark.spark.conf.getOption(k) == Some(v.replace("{cores}", "4")), k)
    }
  }
}
