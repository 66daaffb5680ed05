package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sf1 scale-up generator (test-scope tooling, not library surface):
  * tiles sf0.1 ×N with FK-CONSISTENT id offsets — every id column
  * moves by `copyIdx × step(family)` where the step is shared across
  * a key family (o_custkey moves exactly as c_custkey does), so joins,
  * merges and integrity checks behave as on real data. Non-key
  * columns are untouched: the time range keeps its span (10× density
  * per hour — how real growth looks), text/embedding payloads repeat
  * verbatim (10-clone dup families: a deliberately HOT-BUCKET stress
  * for the LSH self-joins and AQE skew handling — every clone shares
  * all bands with its 9 siblings).
  *
  * Usage: Test/runMain graft.GenSf1 [srcDir] [outDir] [copies]
  */
object GenSf1 {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.drop(1).headOption.getOrElse("target/sf1")
    val copies = args.drop(2).headOption.map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = GraftSession(s"local[$cpus]")

    def maxOf(table: String, col0: String): Long =
      spark.read.parquet(s"$src/$table.parquet")
        .agg(max(col(col0))).head.getLong(0)
    def pow10Ceil(n: Long): Long = {
      var s = 1L; while (s <= n) s *= 10L; s
    }
    // one step per KEY FAMILY, shared by every column referencing it
    val step = Map(
      "cust" -> pow10Ceil(maxOf("customer", "c_custkey")),
      "ord" -> pow10Ceil(maxOf("orders", "o_orderkey")),
      "part" -> pow10Ceil(maxOf("part", "p_partkey")),
      "supp" -> pow10Ceil(maxOf("supplier", "s_suppkey")),
      "event" -> pow10Ceil(maxOf("events", "event_id")),
      "user" -> pow10Ceil(maxOf("events", "user_id")),
      "doc" -> pow10Ceil(maxOf("documents", "doc_id")),
      "vec" -> pow10Ceil(maxOf("embeddings", "vec_id")))
    val fams: Map[String, Map[String, String]] = Map(
      "customer" -> Map("c_custkey" -> "cust"),
      "supplier" -> Map("s_suppkey" -> "supp"),
      "part" -> Map("p_partkey" -> "part"),
      "orders" -> Map("o_orderkey" -> "ord", "o_custkey" -> "cust"),
      "lineitem" -> Map("l_orderkey" -> "ord", "l_partkey" -> "part",
        "l_suppkey" -> "supp"),
      "events" -> Map("event_id" -> "event", "user_id" -> "user"),
      "documents" -> Map("doc_id" -> "doc"),
      "embeddings" -> Map("vec_id" -> "vec"))

    for (t <- Seq("region", "nation")) // dims: constants of the schema
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    fams.foreach { case (t, keyFam) =>
      val base = spark.read.parquet(s"$src/$t.parquet")
      def copy(i: Int): DataFrame = base.select(base.columns.toIndexedSeq.map { c =>
        keyFam.get(c) match {
          case Some(f) => (col(c) + lit(i.toLong * step(f))).as(c)
          case None    => col(c)
        }
      }: _*)
      (1 until copies).map(copy).foldLeft(copy(0))(_ unionAll _)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      System.err.println(s"[gensf1] $t x$copies done")
    }
    spark.stop()
  }
}
