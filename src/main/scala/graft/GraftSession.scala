package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session builder: every graft main and the test suite
  * run on the same configuration (the benchmark harness mirrors it in
  * perfbench/spec.json's `session`, and GraftSessionSpec checks the two
  * agree). The master URL is the only parameter. Shuffle partitions
  * follow a `local[n]` master's n; any other master keeps the
  * deployment's value, so a spark-submit setting is never overridden. */
object GraftSession {
  private val LocalN = """local\[(\d+)\]""".r

  def apply(master: String): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.maxPlanStringLength", 1000000)
      // e9's optimizer rule (and the SQL function surface) live in the
      // extensions — without this line e9 runs the nested loop it
      // exists to eliminate
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS); Spark reads them as
      // long nanos with this flag (Tables.events converts back)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // MIN/MAX/COUNT from parquet footers — DSv2 scans only; parquet
      // reads take Spark's default V1 path, so no graft plan uses it
      // yet (perfbench/spec.json's session sets it too)
      .config("spark.sql.parquet.aggregatePushDown", "true")
      .config("spark.ui.enabled", "false")
    master match {
      case LocalN(n) => b.config("spark.sql.shuffle.partitions", n)
      case _ =>
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // WindowExec's "No Partition Defined for Window" WARN is pinned to
    // PrefixSum.blockCum's deliberate ≤#blocks offset window (see its
    // scaladoc + the PropertySpec gate) — drop that one logger so run
    // logs don't read like a scale hazard
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
