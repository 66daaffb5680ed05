package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** graft.Bench's stdout contract: one JSON line that fits the
  * harness's ~2000-char output tail and still names every failure. */
class BenchSpec extends AnyFunSuite {
  implicit val formats: Formats = DefaultFormats

  test("the metric line is one JSON object of at most 1800 chars that keeps every failure") {
    val failed = Set(5, 77, 200)
    val results = (0 until 256).map { i =>
      f"q$i%03d_a_long_query_name_that_overflows_the_budget" ->
        (if (failed(i)) -1.0 else 0.01 * (i + 1))
    }
    val line = Bench.metricLine(results, "/data/sf0.1")
    assert(line.startsWith("{"))
    assert(line.length <= 1800, s"${line.length} chars")
    val js = parse(line)
    assert((js \ "metric").extract[String] == "total")
    val kept = (js \ "queries").extract[Map[String, Double]]
    failed.foreach(i => assert(kept(results(i)._1) == -1.0))
    assert(kept.size < results.size)
    assert((js \ "dropped").extract[Int] == results.size - kept.size)
    // the trimmed entries are the fastest ones
    val (keptOk, droppedOk) = results.filter(_._2 >= 0).partition(r => kept.contains(r._1))
    assert(keptOk.map(_._2).min > droppedOk.map(_._2).max)
  }
}
