package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local
    // iteration only — the driver always passes exactly two)
    val Array(sfDir, outDir) = args.take(2)
    val only: Set[String] = args.drop(2).headOption
      .map(_.split(",").toSet).getOrElse(Set.empty)
    // a typo'd filter would run ZERO queries yet still write a full
    // oracle_sql.json — a later compare over that outDir would skip
    // everything and look clean; fail loudly instead
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s) in filter: ${unknown.toSeq.sorted.mkString(",")}")
    def selected(name: String) = only.isEmpty || only(name)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession(s"local[$cpus]")
    new java.io.File(outDir).mkdirs()
    // ORACLE-ORDERING CONTRACT: registered operators return UNORDERED
    // frames (a 100 TB caller must not pay a corpus-wide sort for
    // determinism only this harness needs); the deterministic total
    // order for the driver's hash compare is imposed HERE, once, on
    // every orderable column. Non-orderable columns (maps) are left
    // out of the key — the compare itself is row-sorted as well, so
    // ties are safe.
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val keys = df.schema.fields.filter(f =>
          org.apache.spark.sql.catalyst.expressions.RowOrdering
            .isOrderable(f.dataType)).map(f => org.apache.spark.sql.functions.col(f.name))
        val ordered = if (keys.isEmpty) df else df.orderBy(keys.toIndexedSeq: _*)
        ordered.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // ALWAYS the full map, even under a query filter: a later DuckDB
    // compare over this outDir would otherwise silently check only the
    // filtered subset and report green on 1/N queries. (The compare
    // skips oracle entries with no result dir, so extra keys are safe;
    // a missing key would be an unchecked result.)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
