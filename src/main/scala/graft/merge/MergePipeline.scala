package graft.merge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.sources.Tables

/** m7 — the flagship composed merge (SURVEY §2), mirroring the
  * reference's whole pipeline shape (orchestrator.js:66-94): parents
  * are consolidated first, children follow with their FKs rewritten
  * through the parents' id map and their own ids re-sequenced onto the
  * destination's AUTO_INCREMENT (utils.js:161).
  *
  * Here: customers (parent) consolidate by natural key; src-instance
  * orders (children) get contiguous new order ids past the dest max
  * and their o_custkey rewritten; output is the merged orders table.
  *
  * Plan shape at scale: one broadcast of the (small, cut) id map into
  * the orders join when it fits, one lazy block-rank numbering for id
  * assignment ([[MergeOps.assignSequentialIds]]), one union — no
  * driver-side state. The merged output is memoized whole.
  */
object MergePipeline {

  /** The merged-orders output as a session artifact: a production
    * merge PUBLISHES this table once (AtomicSnapshot) and every
    * downstream consumer — m7's registered query, m25's re-merge
    * audit — reads the published artifact, never re-executes the
    * pipeline. The memo is the session-scope stand-in. */
  def m7MergeCore(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Indexes.memo(s"m7_merged:$dir")(m7MergeCoreCompute(spark, dir))

  private def m7MergeCoreCompute(spark: SparkSession, dir: String): DataFrame = {
    val customer = Tables.read(spark, dir, "customer")
    val srcCust = customer.filter(col("c_custkey") % 3 =!= 0)
    val destCust = customer.filter(col("c_custkey") % 2 === 0)
    val orders = Tables.read(spark, dir, "orders")

    // Phase 1: consolidate parents → src_id → dest_id map (MergeOps.consolidate)
    val idMap = MergeOps.consolidate(srcCust, destCust, Seq("c_name"), "c_custkey")

    // Phase 2: destination keeps its rows and ids verbatim
    val destOrders = orders.filter(col("o_custkey") % 2 === 0)
      .select(
        col("o_orderkey").as("new_orderkey"),
        col("o_custkey").cast(LongType).as("new_custkey"),
        col("o_orderkey").as("src_orderkey"),
        lit("dest").as("instance"),
        col("o_totalprice"), col("o_orderdate"))

    // Phase 3: src children NOT already in the destination (beehive's
    // "not moved if already in destination" rule, preparation.js —
    // without the anti-join, overlapping orders would be emitted twice
    // under two different new ids), re-sequenced past dest max id,
    // FKs remapped
    val maxOrderId = orders.filter(col("o_custkey") % 2 === 0)
      .agg(coalesce(max(col("o_orderkey")), lit(0L)).cast(LongType)).head().getLong(0)
    val srcOrders = orders.filter(col("o_custkey") % 3 =!= 0)
      .join(destOrders.select(col("src_orderkey").as("o_orderkey")), Seq("o_orderkey"), "left_anti")
    val reseq = MergeOps.assignSequentialIds(srcOrders, "o_orderkey", "new_orderkey", maxOrderId)
    val remapped = MergeOps.remapFk(reseq, "o_custkey", idMap, "new_custkey")
      .select(col("new_orderkey"), col("new_custkey"),
        col("o_orderkey").as("src_orderkey"), lit("src").as("instance"),
        col("o_totalprice"), col("o_orderdate"))

    destOrders.unionAll(remapped)
      .select(col("new_orderkey"), col("new_custkey"), col("src_orderkey"), col("instance"),
        round(col("o_totalprice").cast("double"), 2).as("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"))
  }

  /** Driver-registered m7: [[m7MergeCore]] plus the PRESENTATION sort
    * the oracle compare convention wants. The sort is not part of the
    * operator — a production merge writes [[m7MergeCore]]'s output
    * (partitioned, unsorted); a global total sort of the merged fact
    * table would be pure waste at scale. */
  def m7Merge(spark: SparkSession, dir: String): DataFrame =
    m7MergeCore(spark, dir)

  /** Integrity-gated merge (reference orchestrator.js: the pipeline
    * REFUSES to run when any FK relation has orphans — "integrity
    * checks" precede every mover). The orphan scan is one action over
    * anti-join counts; only if every relation is clean does the merge
    * plan execute. Throws [[IntegrityViolation]] otherwise, listing
    * the broken relations — the driver-side abort the reference
    * implements with transaction rollback. */
  final case class IntegrityViolation(relations: Seq[(String, Long)])
      extends RuntimeException(
        s"orphaned foreign keys detected: ${relations.map { case (r, n) => s"$r=$n" }.mkString(", ")}")

  def m7MergeGated(spark: SparkSession, dir: String,
                   relations: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame = {
    val orphans = MergeOps.orphanCheck(relations)
      .filter(col("orphan_count") > 0)
      .collect()
      .map(r => (r.getAs[String]("relation"), r.getAs[Long]("orphan_count")))
    if (orphans.nonEmpty) throw IntegrityViolation(orphans.toSeq)
    m7MergeCore(spark, dir)
  }

  /** m25: RE-MERGE IDEMPOTENCY audit — the closure property the
    * reference relies on but never checks: offering an ALREADY-MERGED
    * source to the merged destination must move NOTHING (every src
    * customer matches the post-merge registry by natural key; every
    * src order's provenance key is already present — preparation.js's
    * "already in destination" exclusion is what makes re-runs safe).
    * Output: one row per table with (offered, matched, new); a
    * non-zero n_new means a re-run would duplicate rows — the audit a
    * steward runs BEFORE re-executing a crashed merge. m14 rehearses
    * the FIRST run's counts; m25 proves the SECOND run is a no-op.
    *
    * Scale shape: the customer check is a semi-join of src keys
    * against the merged registry's natural-key index; the order check
    * semi-joins provenance keys against the merged fact table's
    * src_orderkey column (carried exactly for this). Each rollup is a
    * 1-row aggregate; the 1-row × 1-row crossJoins follow the m6
    * scalar-frame convention. */
  def m25RemergeIdempotency(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count => cnt}
    val customer = Tables.read(spark, dir, "customer")
    val srcCust = customer.filter(col("c_custkey") % 3 =!= 0)
    val destCust = customer.filter(col("c_custkey") % 2 === 0)
    // post-merge natural-key registry: dest names ∪ consolidated src
    // names (consolidate maps matches and inserts the rest, so the
    // registry's key set is exactly the union) — published once with
    // the merge, memoized here like the merged table itself
    val mergedNames = graft.operators.Indexes.memo(s"m7_registry:$dir") {
      destCust.select(col("c_name"))
        .unionAll(srcCust.select(col("c_name"))).distinct()
    }
    val cMatched = srcCust.join(mergedNames, Seq("c_name"), "left_semi")
    val custRow = srcCust.agg(cnt(lit(1)).as("n_offered"))
      .crossJoin(cMatched.agg(cnt(lit(1)).as("n_matched")))
      .select(lit("customer").as("table_name"), col("n_offered"), col("n_matched"),
        (col("n_offered") - col("n_matched")).as("n_new"))
    val merged = m7MergeCore(spark, dir)
    val srcOrders = Tables.read(spark, dir, "orders")
      .filter(col("o_custkey") % 3 =!= 0)
    val oMatched = srcOrders.join(
      merged.select(col("src_orderkey").as("o_orderkey")), Seq("o_orderkey"), "left_semi")
    val orderRow = srcOrders.agg(cnt(lit(1)).as("n_offered"))
      .crossJoin(oMatched.agg(cnt(lit(1)).as("n_matched")))
      .select(lit("orders").as("table_name"), col("n_offered"), col("n_matched"),
        (col("n_offered") - col("n_matched")).as("n_new"))
    custRow.unionAll(orderRow).orderBy("table_name")
  }

  /** m25 oracle: m7's CTE chain re-used verbatim; the re-offer
    * matches against the merged registry / provenance keys. */
  // def: reads m7Ctes, declared below (val would read null at init)
  def m25Sql: String =
    s"""WITH $m7Ctes,
       |merged AS (SELECT * FROM desto UNION ALL SELECT * FROM srcm),
       |regnames AS (
       |  SELECT DISTINCT c_name FROM destc
       |  UNION SELECT DISTINCT c_name FROM srcc),
       |crow AS (
       |  SELECT 'customer' AS table_name,
       |    (SELECT count(*) FROM srcc) AS n_offered,
       |    (SELECT count(*) FROM srcc s WHERE EXISTS
       |       (SELECT 1 FROM regnames r WHERE r.c_name = s.c_name)) AS n_matched),
       |orow AS (
       |  SELECT 'orders' AS table_name,
       |    (SELECT count(*) FROM orders WHERE o_custkey % 3 <> 0) AS n_offered,
       |    (SELECT count(*) FROM orders o WHERE o.o_custkey % 3 <> 0 AND EXISTS
       |       (SELECT 1 FROM merged m WHERE m.src_orderkey = o.o_orderkey)) AS n_matched)
       |SELECT table_name, n_offered, n_matched,
       |  CAST(n_offered - n_matched AS BIGINT) AS n_new
       |FROM (SELECT * FROM crow UNION ALL SELECT * FROM orow)
       |ORDER BY table_name""".stripMargin

  /** The m7 pipeline as a CTE chain — shared by [[m7Sql]] and
    * [[m25Sql]] exactly as `m7MergeCore` is shared on the Scala
    * side. */
  private val m7Ctes: String =
    """srcc AS (SELECT * FROM customer WHERE c_custkey % 3 <> 0),
      |destc AS (SELECT * FROM customer WHERE c_custkey % 2 = 0),
      |destk AS (SELECT c_name, min(c_custkey) AS dest_id FROM destc GROUP BY c_name),
      |mx AS (SELECT coalesce(max(c_custkey), 0) AS m FROM destc),
      |idmap AS (
      |  SELECT s.c_custkey AS src_id, k.dest_id FROM srcc s JOIN destk k ON s.c_name = k.c_name
      |  UNION ALL
      |  SELECT s.c_custkey, (SELECT m FROM mx) + row_number() OVER (ORDER BY s.c_custkey)
      |  FROM srcc s WHERE NOT EXISTS (SELECT 1 FROM destk k WHERE k.c_name = s.c_name)),
      |desto AS (
      |  SELECT o_orderkey AS new_orderkey, o_custkey AS new_custkey,
      |         o_orderkey AS src_orderkey, 'dest' AS instance, o_totalprice, o_orderdate
      |  FROM orders WHERE o_custkey % 2 = 0),
      |mxo AS (SELECT coalesce(max(o_orderkey), 0) AS m FROM orders WHERE o_custkey % 2 = 0),
      |srco AS (
      |  SELECT (SELECT m FROM mxo) + row_number() OVER (ORDER BY o_orderkey) AS new_orderkey,
      |         o_custkey, o_orderkey, o_totalprice, o_orderdate
      |  FROM orders o WHERE o_custkey % 3 <> 0
      |    AND NOT EXISTS (SELECT 1 FROM desto d WHERE d.src_orderkey = o.o_orderkey)),
      |srcm AS (
      |  SELECT s.new_orderkey, i.dest_id AS new_custkey, s.o_orderkey AS src_orderkey,
      |         'src' AS instance, s.o_totalprice, s.o_orderdate
      |  FROM srco s JOIN idmap i ON s.o_custkey = i.src_id)""".stripMargin

  def m7Sql: String =
    s"""WITH $m7Ctes
       |SELECT new_orderkey, new_custkey, src_orderkey, instance,
       |  round(CAST(o_totalprice AS DOUBLE), 2) AS o_totalprice,
       |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate
       |FROM (SELECT * FROM desto UNION ALL SELECT * FROM srcm) m
       |ORDER BY instance, new_orderkey""".stripMargin
}
