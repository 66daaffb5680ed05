package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** graft.Bench's stdout contract: one JSON line that fits the
  * harness's ~2000-char output tail and still names every failure.
  * And its `_artifacts` phase: one dependency graph over the memo
  * steps, checked without running a step. */
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

  test("the artifact steps are one acyclic graph over unique names, with the memo edges") {
    val steps = Bench.artifactSteps
    val names = steps.map(_.name)
    assert(names.distinct == names, s"duplicate step names in $names")
    steps.foreach(s => s.after.foreach(u =>
      assert(names.contains(u), s"step '${s.name}' waits on unknown step '$u'")))
    val tables = graft.merge.OrchestratorQueries.specs.map(_.name)
    assert(names.toSet == Set("sig_index", "d2_pairs", "d7_clusters", "g3_labels",
      "shingle_sets", "c1_curation", "kmeans", "ivfpq_books", "d5_pairs", "s1_exact",
      "pq_codebooks", "walk_adj", "walk_fadj", "mm_tower", "walk_madj", "walk_cadj",
      "walk_adj8", "walk_adj16", "walk_adj16r2", "m13_run", "bpe_table", "g6_copairs") ++
      tables.map("m13_run/" + _))
    val edges = steps.flatMap(s => s.after.map(_ -> s.name)).toSet
    val memoEdges = Set("sig_index" -> "d2_pairs", "d2_pairs" -> "d7_clusters",
      "d2_pairs" -> "g3_labels", "shingle_sets" -> "c1_curation", "kmeans" -> "ivfpq_books",
      "walk_adj16" -> "walk_adj16r2") ++ tables.map(t => "m13_run" -> s"m13_run/$t")
    assert(memoEdges.subsetOf(edges), s"missing: ${memoEdges -- edges}")
    // Overlap.dag rejects a cycle before it runs anything
    graft.operators.Overlap.dag[String, Unit](names, n => steps(names.indexOf(n)).after)((_, _) => ())
  }

  test("a failing artifact step reads -1 for the phase and the steps after it still run") {
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def ok(n: String, after: String*) = Bench.Step(n, after, (_, _) => ran.add(n))
    val steps = Seq(
      Bench.Step("a", Nil, (_, _) => throw new IllegalStateException("forced")),
      ok("b", "a"), ok("c"), ok("d", "b", "c"))
    val (phase, secs) = Bench.runArtifacts(steps, null, "unused", 8)
    assert(phase == -1.0)
    assert(ran.toArray.toSet == Set("b", "c", "d"))
    assert(secs.map(_._1) == Seq("a", "b", "c", "d") && secs.forall(_._2 >= 0))
    val (fine, _) = Bench.runArtifacts(steps.tail.map(s => s.copy(after = Nil)), null, "unused", 8)
    assert(fine >= 0)
  }

  test("a family head's time runs to the end of its last part") {
    val steps = Seq(Bench.Step("p", Nil, (_, _) => ()),
      Bench.Step("p/a", Seq("p"), (_, _) => Thread.sleep(200)),
      Bench.Step("q", Nil, (_, _) => ()))
    val secs = Bench.runArtifacts(steps, null, "unused", 8)._2.toMap
    assert(secs("p") >= secs("p/a") && secs("p/a") >= 0.2)
    assert(secs("q") < 0.2)
  }
}
