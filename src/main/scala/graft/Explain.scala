package graft

import org.apache.spark.sql.execution.{FormattedMode, SimpleMode}
import java.nio.file.{Files, Paths}

/** Plan-audit tool: print the physical plan of registered queries.
  * `runMain graft.Explain [query ...]` (default: all). Set
  * SPARK_GRAFT_SF_DIR to pick the scale. The per-operator scale notes
  * in SURVEY §2 are kept honest against these plans.
  *
  * SPARK_GRAFT_PLAN_DIR: when set, each query's `explain("formatted")`
  * output is ALSO written to `$SPARK_GRAFT_PLAN_DIR/<query>_<suffix>.txt`
  * (suffix from SPARK_GRAFT_PLAN_SUFFIX, default "plan") — the
  * committed plan evidence for optimization rounds. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "plan")
    val spark = GraftSession("local[4]")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    planDir.foreach(d => Files.createDirectories(Paths.get(d)))
    names.foreach { n =>
      println(s"\n======== $n ========")
      val qe = SparkEntry.queries(n)(spark, sfDir).queryExecution
      println(qe.explainString(SimpleMode))
      planDir.foreach { d =>
        Files.writeString(Paths.get(d, s"${n}_$suffix.txt"),
          qe.explainString(FormattedMode) + "\n")
      }
    }
    spark.stop()
  }
}
