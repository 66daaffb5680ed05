package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** `perfbench/run.py --trace 1` splits a merge into layers by the call
  * stacks of its Spark jobs: `trace_rules` name graft methods, and
  * `trace_anchors` name source lines by their text. A renamed method or
  * a rewritten anchor line silently zeroes a layer, or fails the traced
  * run outright, so both are checked against the code here (the file is
  * only read). */
class PerfbenchTraceSpec extends AnyFunSuite {
  implicit val formats: Formats = DefaultFormats
  private lazy val spec =
    parse(new String(Files.readAllBytes(Paths.get("perfbench/spec.json")), "UTF-8"))

  test("every trace anchor's text is on a line of its file") {
    val anchors = (spec \ "trace_anchors").extract[Map[String, Map[String, JValue]]]
    assert(anchors.nonEmpty)
    anchors.foreach { case (metric, a) =>
      val file = a("file").extract[String]
      val text = a("text").extract[String]
      val lines = Files.readAllLines(Paths.get(file)).toArray(Array.empty[String])
      assert(lines.exists(_.contains(text)), s"$metric: '$text' is not in $file")
    }
  }

  test("every graft method a trace rule names exists on its object") {
    val rules = (spec \ "trace_rules").extract[Map[String, String]]
    // a rule's frame: graft.<pkg>.<Object>$.<method>(, regex-escaped
    val frame = """(graft(?:\.\w+)+\$)\.(\w+)\(""".r
    val named = rules.toSeq.flatMap { case (metric, rx) =>
      frame.findAllMatchIn(rx.replace("\\", "")).map(m => (metric, m.group(1), m.group(2)))
    }
    assert(named.map(_._1).toSet == Set("sources.publish_s", "merge.skew_audit_s",
      "merge.maxid_s", "merge.idmap_s", "merge.uuid_s"))
    named.foreach { case (metric, cls, method) =>
      val methods = Class.forName(cls).getDeclaredMethods.map(_.getName)
      assert(methods.contains(method), s"$metric: $cls has no method $method")
    }
  }
}
