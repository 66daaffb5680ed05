package graft.merge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.sources.Tables
import Orchestrator.{MergeMode, TableSpec}

/** Driver-facing wrappers for the generic N-table orchestrator
  * (SURVEY §2 block A): the full beehive pipeline shape — a 3-level
  * parent→child→grandchild chain with a self-FK — declared as
  * `TableSpec`s and executed by [[Orchestrator.run]].
  *
  * Instance simulation follows [[MergeQueries]]: src = keys % 3 ≠ 0,
  * dest = keys % 2 = 0, overlap ≡ {2,4} mod 6 present in both.
  * `referred_by` (a customer self-FK, the reference's changed_by /
  * parent_location shape) is synthesized per instance with `lag` —
  * test-fixture synthesis, not part of the operator (real data carries
  * its own self-FK column); the single-partition lag window is fixture
  * cost only. `l_lineid` realizes lineitem's composite key
  * (l_orderkey, l_linenumber) as one unique long (linenumber ≤ 7).
  */
object OrchestratorQueries {

  private val SourceTag = "instanceB"

  private def specs: Seq[TableSpec] = Seq(
    TableSpec("customer", "c_custkey", Seq("c_name"), MergeMode.Consolidate,
      selfFks = Seq("referred_by")),
    TableSpec("orders", "o_orderkey", Seq("o_orderkey"), MergeMode.Move,
      fks = Map("o_custkey" -> "customer")),
    TableSpec("lineitem", "l_lineid", Seq("l_orderkey", "l_linenumber"), MergeMode.Move,
      fks = Map("l_orderkey" -> "orders")))

  /** The src/dest instance-simulation convention, in ONE place (m13
    * and m16 must simulate the SAME two instances): src = keys % 3 ≠ 0,
    * dest = keys % 2 = 0. */
  private def keepPred(isSrc: Boolean): org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    k => if (isSrc) k % 3 =!= 0 else k % 2 === 0

  /** Per-instance table reader: filters + the synthesized self-FK /
    * composite-key columns. `private[graft]` so the live-JDBC
    * integration spec can seed its databases with the SAME simulated
    * instances and assert parity against this parquet path. */
  private[graft] def instance(spark: SparkSession, dir: String, isSrc: Boolean)(name: String): DataFrame = {
    val keep = keepPred(isSrc)
    name match {
      case "customer" =>
        Tables.read(spark, dir, "customer").filter(keep(col("c_custkey")))
          .select(col("c_custkey"), col("c_name"))
          .withColumn("referred_by", lag(col("c_custkey"), 1).over(Window.orderBy("c_custkey")))
      case "orders" =>
        Tables.read(spark, dir, "orders").filter(keep(col("o_custkey")))
          .select(col("o_orderkey"), col("o_custkey"))
      case "lineitem" =>
        val orderSide = Tables.read(spark, dir, "orders").filter(keep(col("o_custkey")))
          .select(col("o_orderkey"))
        // the synthetic lineitem does NOT enforce the TPC-H composite
        // key (up to 6 duplicate (l_orderkey, l_linenumber) pairs) —
        // distinct() first so l_lineid is a real primary key
        Tables.read(spark, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber")).distinct()
          .join(orderSide, col("l_orderkey") === col("o_orderkey"), "left_semi")
          .withColumn("l_lineid", (col("l_orderkey") * 8 + col("l_linenumber")).cast(LongType))
    }
  }

  /** m13: full pipeline over customer → orders → lineitem. Output is
    * all three merged tables projected to one narrow lineage schema:
    * (table_name, instance, merge_source, new_id, src_id, new_fk,
    * new_selffk) — new ids contiguous past each destination's max,
    * FKs resolved through the parents' maps, the customer self-FK
    * through customer's own completed map, provenance on every row. */
  /** The m13-family pipeline run is IDENTICAL for every consumer
    * (m13's merged export, m23's provenance export), and construction
    * itself performs driver actions (dest max-id lookups), so one
    * orchestrator execution per input dir is cached for the session;
    * each frame rides [[graft.operators.Indexes.memo]] so consumers
    * pay marginal projection cost only (warmed in Bench's
    * `_artifacts` — the shared-artifact accounting every memo family
    * follows). */
  /** Per-session run state: a session-scope token (threaded into the
    * Indexes.memo keys so two sessions sharing a dir cannot inherit
    * each other's frames one layer down) + the per-dir raw runs. */
  private case class SessionRuns(token: String,
    runs: scala.collection.concurrent.TrieMap[String, Map[String, Orchestrator.MergedTable]])
  // Keyed by the session OBJECT: frames are bound to the session that
  // built them, and a second session in the same JVM must not inherit
  // another's (possibly stopped) lineage — identityHashCode-keying
  // could collide with a GC'd session's hash. SparkSession doesn't
  // override equals, so WeakHashMap's equals-based lookup IS identity
  // here. Weak keys alone do NOT free anything (the value's DataFrames
  // strongly reference their session, keeping the key reachable), so
  // every access also PURGES entries whose context has stopped — the
  // explicit eviction; the weak map is just collision-proof identity.
  private val runCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, SessionRuns]())
  private def sessionRuns(spark: SparkSession): SessionRuns =
    runCache.synchronized {
      runCache.entrySet().removeIf(e => e.getKey.sparkContext.isStopped)
      val cur = runCache.get(spark)
      if (cur != null) cur
      else {
        val sr = SessionRuns(java.util.UUID.randomUUID().toString.take(8),
          scala.collection.concurrent.TrieMap.empty)
        runCache.put(spark, sr); sr
      }
    }
  private[graft] def sharedRun(spark: SparkSession, dir: String)
  : Map[String, Orchestrator.MergedTable] = {
    // The memo calls sit OUTSIDE the construction cache so an
    // Indexes.drop/clear is healed by re-registration on the next
    // call rather than silently bypassed forever.
    val sr = sessionRuns(spark)
    val raw = sr.runs.getOrElseUpdate(dir, {
      Orchestrator.run(specs,
        instance(spark, dir, isSrc = true), instance(spark, dir, isSrc = false), SourceTag)
    })
    raw.map { case (t, mt) => t -> mt.copy(
      merged = graft.operators.Indexes.memo(s"m13run:${sr.token}:$dir:$t:merged")(mt.merged),
      idMap = graft.operators.Indexes.memo(s"m13run:${sr.token}:$dir:$t:idmap")(mt.idMap)) }
  }

  def m13FullPipeline(spark: SparkSession, dir: String): DataFrame = {
    val r = sharedRun(spark, dir)
    val nullFk = lit(null).cast(LongType)
    val c = r("customer").merged.select(
      lit("customer").as("table_name"), col("instance"), col("merge_source"),
      col("c_custkey").cast(LongType).as("new_id"),
      col("src_c_custkey").cast(LongType).as("src_id"),
      nullFk.as("new_fk"), col("referred_by").cast(LongType).as("new_selffk"))
    val o = r("orders").merged.select(
      lit("orders").as("table_name"), col("instance"), col("merge_source"),
      col("o_orderkey").cast(LongType).as("new_id"),
      col("src_o_orderkey").cast(LongType).as("src_id"),
      col("o_custkey").cast(LongType).as("new_fk"), nullFk.as("new_selffk"))
    val l = r("lineitem").merged.select(
      lit("lineitem").as("table_name"), col("instance"), col("merge_source"),
      col("l_lineid").cast(LongType).as("new_id"),
      col("src_l_lineid").cast(LongType).as("src_id"),
      col("l_orderkey").cast(LongType).as("new_fk"), nullFk.as("new_selffk"))
    c.unionAll(o).unionAll(l)
  }

  /** Shared oracle CTEs: both instances of all three tables plus the
    * three id maps, mirroring the orchestrator's exact assignment
    * (already-present rows map to the dest counterpart; new rows get
    * row_number past dest max, ordered by src id — the
    * assignSequentialIds contract). */
  private val mapCtes: String =
    """srcc AS (
      |  SELECT c_custkey, c_name, lag(c_custkey) OVER (ORDER BY c_custkey) AS referred_by
      |  FROM customer WHERE c_custkey % 3 <> 0),
      |destc AS (
      |  SELECT c_custkey, c_name, lag(c_custkey) OVER (ORDER BY c_custkey) AS referred_by
      |  FROM customer WHERE c_custkey % 2 = 0),
      |destck AS (SELECT c_name, min(c_custkey) AS dest_id FROM destc GROUP BY c_name),
      |mxc AS (SELECT coalesce(max(c_custkey), 0) AS m FROM destc),
      |cmap AS (
      |  SELECT s.c_custkey AS src_id, k.dest_id, 0 AS is_new
      |  FROM srcc s JOIN destck k ON s.c_name = k.c_name
      |  UNION ALL
      |  SELECT s.c_custkey, (SELECT m FROM mxc) + row_number() OVER (ORDER BY s.c_custkey), 1
      |  FROM srcc s WHERE NOT EXISTS (SELECT 1 FROM destck k WHERE k.c_name = s.c_name)),
      |desto AS (SELECT o_orderkey, o_custkey FROM orders WHERE o_custkey % 2 = 0),
      |srco AS (SELECT o_orderkey, o_custkey FROM orders WHERE o_custkey % 3 <> 0),
      |mxo AS (SELECT coalesce(max(o_orderkey), 0) AS m FROM desto),
      |omap AS (
      |  SELECT s.o_orderkey AS src_id, d.o_orderkey AS dest_id, 0 AS is_new
      |  FROM srco s JOIN desto d ON d.o_orderkey = s.o_orderkey
      |  UNION ALL
      |  SELECT s.o_orderkey, (SELECT m FROM mxo) + row_number() OVER (ORDER BY s.o_orderkey), 1
      |  FROM srco s WHERE NOT EXISTS (SELECT 1 FROM desto d WHERE d.o_orderkey = s.o_orderkey)),
      |destl AS (
      |  SELECT DISTINCT l_orderkey * 8 + l_linenumber AS l_lineid, l_orderkey, l_linenumber
      |  FROM lineitem WHERE EXISTS (SELECT 1 FROM desto d WHERE d.o_orderkey = l_orderkey)),
      |srcl AS (
      |  SELECT DISTINCT l_orderkey * 8 + l_linenumber AS l_lineid, l_orderkey, l_linenumber
      |  FROM lineitem WHERE EXISTS (SELECT 1 FROM srco s WHERE s.o_orderkey = l_orderkey)),
      |mxl AS (SELECT coalesce(max(l_lineid), 0) AS m FROM destl),
      |lmap AS (
      |  SELECT s.l_lineid AS src_id, d.l_lineid AS dest_id, 0 AS is_new
      |  FROM srcl s JOIN destl d
      |    ON d.l_orderkey = s.l_orderkey AND d.l_linenumber = s.l_linenumber
      |  UNION ALL
      |  SELECT s.l_lineid, (SELECT m FROM mxl) + row_number() OVER (ORDER BY s.l_lineid), 1
      |  FROM srcl s WHERE NOT EXISTS (SELECT 1 FROM destl d
      |    WHERE d.l_orderkey = s.l_orderkey AND d.l_linenumber = s.l_linenumber))""".stripMargin

  val m13Sql: String =
    s"""WITH $mapCtes,
       |cust_out AS (
       |  SELECT 'dest' AS instance, 'dest' AS merge_source,
       |         CAST(c_custkey AS BIGINT) AS new_id, CAST(c_custkey AS BIGINT) AS src_id,
       |         CAST(referred_by AS BIGINT) AS new_selffk
       |  FROM destc
       |  UNION ALL
       |  SELECT 'src', '$SourceTag', m.dest_id, s.c_custkey, rm.dest_id
       |  FROM srcc s
       |  JOIN cmap m ON m.src_id = s.c_custkey AND m.is_new = 1
       |  LEFT JOIN cmap rm ON rm.src_id = s.referred_by),
       |orders_out AS (
       |  SELECT 'dest' AS instance, 'dest' AS merge_source,
       |         CAST(o_orderkey AS BIGINT) AS new_id, CAST(o_orderkey AS BIGINT) AS src_id,
       |         CAST(o_custkey AS BIGINT) AS new_fk
       |  FROM desto
       |  UNION ALL
       |  SELECT 'src', '$SourceTag', m.dest_id, s.o_orderkey, cm.dest_id
       |  FROM srco s
       |  JOIN omap m ON m.src_id = s.o_orderkey AND m.is_new = 1
       |  JOIN cmap cm ON cm.src_id = s.o_custkey),
       |li_out AS (
       |  SELECT 'dest' AS instance, 'dest' AS merge_source,
       |         CAST(l_lineid AS BIGINT) AS new_id, CAST(l_lineid AS BIGINT) AS src_id,
       |         CAST(l_orderkey AS BIGINT) AS new_fk
       |  FROM destl
       |  UNION ALL
       |  SELECT 'src', '$SourceTag', m.dest_id, s.l_lineid, om.dest_id
       |  FROM srcl s
       |  JOIN lmap m ON m.src_id = s.l_lineid AND m.is_new = 1
       |  JOIN omap om ON om.src_id = s.l_orderkey)
       |SELECT 'customer' AS table_name, instance, merge_source, new_id, src_id,
       |       CAST(NULL AS BIGINT) AS new_fk, new_selffk
       |FROM cust_out
       |UNION ALL
       |SELECT 'orders', instance, merge_source, new_id, src_id, new_fk, CAST(NULL AS BIGINT)
       |FROM orders_out
       |UNION ALL
       |SELECT 'lineitem', instance, merge_source, new_id, src_id, new_fk, CAST(NULL AS BIGINT)
       |FROM li_out
       |ORDER BY table_name, instance, new_id""".stripMargin

  /** m14: dry-run rehearsal report — per-table would-happen counts,
    * zero writes (orchestrator.js:26 --dry-run). */
  def m14DryRun(spark: SparkSession, dir: String): DataFrame =
    Orchestrator.dryRun(specs,
        instance(spark, dir, isSrc = true), instance(spark, dir, isSrc = false))
      .orderBy("table_name")

  val m14Sql: String =
    s"""WITH $mapCtes
       |SELECT 'customer' AS table_name, 'consolidate' AS mode, count(*) AS src_rows,
       |       CAST(sum(CASE WHEN is_new = 0 THEN 1 ELSE 0 END) AS BIGINT) AS already_in_dest,
       |       CAST(sum(CASE WHEN is_new = 1 THEN 1 ELSE 0 END) AS BIGINT) AS would_insert
       |FROM cmap
       |UNION ALL
       |SELECT 'orders', 'move', count(*),
       |       CAST(sum(CASE WHEN is_new = 0 THEN 1 ELSE 0 END) AS BIGINT),
       |       CAST(sum(CASE WHEN is_new = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |FROM omap
       |UNION ALL
       |SELECT 'lineitem', 'move', count(*),
       |       CAST(sum(CASE WHEN is_new = 0 THEN 1 ELSE 0 END) AS BIGINT),
       |       CAST(sum(CASE WHEN is_new = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |FROM lmap
       |ORDER BY table_name""".stripMargin

  /** m16: MUTUALLY-referential tables — the reference's hardest pair.
    * OpenMRS person ⇄ users is a genuine FK cycle (users.person_id →
    * person; person.creator/changed_by → users); beehive breaks it by
    * moving persons with audit columns unresolved, then back-filling
    * them after the users map completes (person-users.js:307). Here
    * the cycle is customer ⇄ orders: orders.o_custkey → customer is a
    * hard edge, and customer.first_order → orders (each customer's
    * earliest order, synthesized per instance — nullable: customers
    * with no orders carry null) is a `deferredFks` column resolved in
    * the orchestrator's second pass. Declaring it as a plain fk would
    * (correctly) throw "cyclic fk dependencies". Output = the merged
    * customer table with the deferred column in dest id space. */
  def m16CircularFk(spark: SparkSession, dir: String): DataFrame = {
    // same simulated instances as m13 (shared keepPred; orders branch
    // reused verbatim) — only customer differs: first_order replaces
    // the referred_by self-FK
    def inst(isSrc: Boolean)(name: String): DataFrame = name match {
      case "customer" =>
        val keep = keepPred(isSrc)
        val c = Tables.read(spark, dir, "customer").filter(keep(col("c_custkey")))
          .select(col("c_custkey"), col("c_name"))
        val fo = Tables.read(spark, dir, "orders").filter(keep(col("o_custkey")))
          .groupBy(col("o_custkey")).agg(min(col("o_orderkey")).as("first_order"))
        c.join(fo, c("c_custkey") === fo("o_custkey"), "left").drop("o_custkey")
      case other => instance(spark, dir, isSrc)(other)
    }
    val circular = Seq(
      TableSpec("customer", "c_custkey", Seq("c_name"), MergeMode.Consolidate,
        deferredFks = Map("first_order" -> "orders")),
      TableSpec("orders", "o_orderkey", Seq("o_orderkey"), MergeMode.Move,
        fks = Map("o_custkey" -> "customer")))
    val r = Orchestrator.run(circular, inst(isSrc = true), inst(isSrc = false), SourceTag)
    r("customer").merged.select(
        col("instance"), col("merge_source"),
        col("c_custkey").cast(LongType).as("new_id"),
        col("src_c_custkey").cast(LongType).as("src_id"),
        col("first_order").cast(LongType).as("new_first_order"))
  }

  // The deferred-FK CASE mirrors the engine's STRICT semantics: a
  // non-null first_order missing from the orders map raises in BOTH
  // engines (DuckDB error() ≙ Spark raise_error) instead of the plain
  // LEFT JOIN's silent null — keeps the oracle from diverging if a
  // fixture change ever produces a dangling deferred reference.
  val m16Sql: String =
    s"""WITH srco AS (SELECT o_orderkey, o_custkey FROM orders WHERE o_custkey % 3 <> 0),
       |desto AS (SELECT o_orderkey, o_custkey FROM orders WHERE o_custkey % 2 = 0),
       |srcc AS (
       |  SELECT c_custkey, c_name,
       |    (SELECT min(o_orderkey) FROM srco o WHERE o.o_custkey = c.c_custkey) AS first_order
       |  FROM customer c WHERE c_custkey % 3 <> 0),
       |destc AS (
       |  SELECT c_custkey, c_name,
       |    (SELECT min(o_orderkey) FROM desto o WHERE o.o_custkey = c.c_custkey) AS first_order
       |  FROM customer c WHERE c_custkey % 2 = 0),
       |destck AS (SELECT c_name, min(c_custkey) AS dest_id FROM destc GROUP BY c_name),
       |mxc AS (SELECT coalesce(max(c_custkey), 0) AS m FROM destc),
       |cmap AS (
       |  SELECT s.c_custkey AS src_id, k.dest_id, 0 AS is_new
       |  FROM srcc s JOIN destck k ON s.c_name = k.c_name
       |  UNION ALL
       |  SELECT s.c_custkey, (SELECT m FROM mxc) + row_number() OVER (ORDER BY s.c_custkey), 1
       |  FROM srcc s WHERE NOT EXISTS (SELECT 1 FROM destck k WHERE k.c_name = s.c_name)),
       |mxo AS (SELECT coalesce(max(o_orderkey), 0) AS m FROM desto),
       |omap AS (
       |  SELECT s.o_orderkey AS src_id, d.o_orderkey AS dest_id, 0 AS is_new
       |  FROM srco s JOIN desto d ON d.o_orderkey = s.o_orderkey
       |  UNION ALL
       |  SELECT s.o_orderkey, (SELECT m FROM mxo) + row_number() OVER (ORDER BY s.o_orderkey), 1
       |  FROM srco s WHERE NOT EXISTS (SELECT 1 FROM desto d WHERE d.o_orderkey = s.o_orderkey))
       |SELECT 'dest' AS instance, 'dest' AS merge_source,
       |       CAST(c_custkey AS BIGINT) AS new_id, CAST(c_custkey AS BIGINT) AS src_id,
       |       CAST(first_order AS BIGINT) AS new_first_order
       |FROM destc
       |UNION ALL
       |SELECT 'src', '$SourceTag', m.dest_id, s.c_custkey,
       |  CASE WHEN s.first_order IS NOT NULL AND om.dest_id IS NULL
       |       THEN CAST(error('unresolvable deferred FK') AS BIGINT)
       |       ELSE om.dest_id END
       |FROM srcc s
       |JOIN cmap m ON m.src_id = s.c_custkey AND m.is_new = 1
       |LEFT JOIN omap om ON om.src_id = s.first_order
       |ORDER BY instance, new_id""".stripMargin

  /** m15: generateNewUuids mode — EVERY moved row's uuid regenerated
    * (reference utils.js:55), with the initial→final uuid report the
    * reference's uuid-checks.js returns per table. uuid is simulated
    * as md5(c_name) like m3. */
  def m15UuidRegen(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.read(spark, dir, "customer").filter(col("c_custkey") % 3 =!= 0)
      .withColumn("uuid", md5(col("c_name")))
    val d = Tables.read(spark, dir, "customer").filter(col("c_custkey") % 2 === 0)
      .withColumn("uuid", md5(col("c_name")))
    Orchestrator.uuidRemapReport(s, d, "c_custkey", "uuid", generateNewUuids = true)
  }

  val m15Sql: String =
    """WITH srcc AS (SELECT c_custkey, md5(c_name) AS uuid FROM customer WHERE c_custkey % 3 <> 0),
      |remap AS (SELECT c_custkey, uuid, md5('graft-remap:' || uuid) AS h FROM srcc)
      |SELECT c_custkey AS src_id, uuid AS initial_uuid,
      |  concat_ws('-', substring(h,1,8), substring(h,9,4), substring(h,13,4),
      |            substring(h,17,4), substring(h,21,12)) AS final_uuid,
      |  1 AS regenerated
      |FROM remap ORDER BY src_id""".stripMargin

  /** m23: the merge PROVENANCE export — every table's complete
    * src-id → merged-id map with the decision that produced it. The
    * reference builds exactly these maps (`beehive.personMap`,
    * `locationMap`, `obsMap`, …, preparation.js:10) but keeps them in
    * PROCESS MEMORY: when the CLI exits, the record of where every
    * source row went is gone, and any post-merge reconciliation
    * (patient lookups by old id, audit of a disputed consolidation,
    * incremental re-merge) has to re-derive them. This makes the maps
    * a durable, queryable artifact — one row per source row per
    * table: (table, src_id, dest_id, decision).
    *
    * Shape: the maps ALREADY exist as frames inside the orchestrator
    * run ([[Orchestrator.MergedTable]].idMap — consolidation emits
    * matched-vs-new, move emits sequential assignments); this query
    * is a zero-extra-shuffle projection + union of those per-table
    * frames. At 100 TB the maps are the size of the source instance's
    * keys — write them next to the merged output, exactly what the
    * reference cannot do. */
  def m23Provenance(spark: SparkSession, dir: String): DataFrame = {
    val r = sharedRun(spark, dir)
    Seq("customer", "orders", "lineitem").map { t =>
      r(t).idMap.select(lit(t).as("table_name"),
        col("src_id"), col("dest_id"),
        col("is_new").cast(LongType).as("is_new"),
        when(col("is_new") === 1, "inserted")
          .otherwise("mapped_to_existing").as("decision"))
    }.reduce(_ unionAll _)
  }

  /** m30: SHARED-PK (PK-is-FK) table through the pipeline — the
    * reference's person→patient shape (patient.js:9
    * `preparePatientInsert`: the patient's primary key IS the person
    * FK, rewritten through `beehive.personMap`, never allocated;
    * patients of persons already in the destination are excluded).
    * Simulated: person = the customer instances (Consolidate on
    * c_name), patient = the %7<3 subset of each instance's customers
    * with a payload column (tribe := c_mktsegment, the reference
    * patient table's own column). Output = the merged patient table:
    * dest patients verbatim, src patients of MOVED persons under the
    * person map's new ids. */
  def m30SharedPk(spark: SparkSession, dir: String): DataFrame = {
    def inst(isSrc: Boolean)(name: String): DataFrame = {
      val keep = keepPred(isSrc)
      val cust = Tables.read(spark, dir, "customer").filter(keep(col("c_custkey")))
      name match {
        case "person" => cust.select(col("c_custkey"), col("c_name"))
        case "patient" => cust.filter(col("c_custkey") % 7 < 3)
          .select(col("c_custkey").as("patient_id"), col("c_mktsegment").as("tribe"))
      }
    }
    val specs = Seq(
      TableSpec("person", "c_custkey", Seq("c_name"), MergeMode.Consolidate),
      TableSpec("patient", "patient_id", Nil, MergeMode.SharedPk("person")))
    val r = Orchestrator.run(specs, inst(isSrc = true), inst(isSrc = false), SourceTag)
    r("patient").merged.select(
      col("instance"), col("merge_source"),
      col("patient_id").cast(LongType).as("new_id"),
      col("src_patient_id").cast(LongType).as("src_id"),
      col("tribe"))
  }

  val m30Sql: String =
    s"""WITH srcp AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 3 <> 0),
       |destp AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 2 = 0),
       |destk AS (SELECT c_name, min(c_custkey) AS dest_id FROM destp GROUP BY c_name),
       |mx AS (SELECT coalesce(max(c_custkey), 0) AS m FROM destp),
       |pmap AS (
       |  SELECT s.c_custkey AS src_id, k.dest_id, 0 AS is_new
       |  FROM srcp s JOIN destk k ON s.c_name = k.c_name
       |  UNION ALL
       |  SELECT s.c_custkey, (SELECT m FROM mx) + row_number() OVER (ORDER BY s.c_custkey), 1
       |  FROM srcp s WHERE NOT EXISTS (SELECT 1 FROM destk k WHERE k.c_name = s.c_name)),
       |srcpat AS (SELECT c_custkey AS patient_id, c_mktsegment AS tribe FROM customer
       |           WHERE c_custkey % 3 <> 0 AND c_custkey % 7 < 3),
       |destpat AS (SELECT c_custkey AS patient_id, c_mktsegment AS tribe FROM customer
       |            WHERE c_custkey % 2 = 0 AND c_custkey % 7 < 3)
       |SELECT 'dest' AS instance, 'dest' AS merge_source,
       |       CAST(patient_id AS BIGINT) AS new_id, CAST(patient_id AS BIGINT) AS src_id, tribe
       |FROM destpat
       |UNION ALL
       |SELECT 'src', '$SourceTag', m.dest_id, p.patient_id, p.tribe
       |FROM srcpat p JOIN pmap m ON m.src_id = p.patient_id AND m.is_new = 1
       |ORDER BY instance, new_id""".stripMargin

  /** m31: KEYLESS association table carried INSIDE a pipeline — the
    * reference's no-own-id shapes (person-users.js:359 `INSERT IGNORE
    * role_privilege(role, privilege)`: composite PK, every column FK
    * or key; gaac.js:100 gaac_member: the INSERT carries no id at
    * all). Simulated: customer consolidates; cust_pri — the distinct
    * (o_custkey, o_orderpriority) association of each instance — is a
    * Keyless table whose FK rides the customer map and whose full-row
    * composite key set-union-dedups against the destination. Output =
    * the merged association. */
  def m31AssocMove(spark: SparkSession, dir: String): DataFrame = {
    def inst(isSrc: Boolean)(name: String): DataFrame = {
      val keep = keepPred(isSrc)
      name match {
        case "customer" => Tables.read(spark, dir, "customer")
          .filter(keep(col("c_custkey"))).select(col("c_custkey"), col("c_name"))
        case "cust_pri" => Tables.read(spark, dir, "orders")
          .filter(keep(col("o_custkey")))
          .select(col("o_custkey"), col("o_orderpriority")).distinct()
      }
    }
    val specs = Seq(
      TableSpec("customer", "c_custkey", Seq("c_name"), MergeMode.Consolidate),
      TableSpec("cust_pri", "", Seq("o_custkey", "o_orderpriority"), MergeMode.Keyless,
        fks = Map("o_custkey" -> "customer")))
    val r = Orchestrator.run(specs, inst(isSrc = true), inst(isSrc = false), SourceTag)
    r("cust_pri").merged.select(
      col("instance"), col("merge_source"),
      col("o_custkey").cast(LongType).as("new_cust"),
      col("o_orderpriority"))
  }

  val m31Sql: String =
    s"""WITH srcc AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 3 <> 0),
       |destc AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 2 = 0),
       |destck AS (SELECT c_name, min(c_custkey) AS dest_id FROM destc GROUP BY c_name),
       |mxc AS (SELECT coalesce(max(c_custkey), 0) AS m FROM destc),
       |cmap AS (
       |  SELECT s.c_custkey AS src_id, k.dest_id, 0 AS is_new
       |  FROM srcc s JOIN destck k ON s.c_name = k.c_name
       |  UNION ALL
       |  SELECT s.c_custkey, (SELECT m FROM mxc) + row_number() OVER (ORDER BY s.c_custkey), 1
       |  FROM srcc s WHERE NOT EXISTS (SELECT 1 FROM destck k WHERE k.c_name = s.c_name)),
       |srca AS (SELECT DISTINCT o_custkey, o_orderpriority FROM orders WHERE o_custkey % 3 <> 0),
       |desta AS (SELECT DISTINCT o_custkey, o_orderpriority FROM orders WHERE o_custkey % 2 = 0),
       |mapped AS (SELECT m.dest_id AS o_custkey, s.o_orderpriority
       |           FROM srca s JOIN cmap m ON m.src_id = s.o_custkey),
       |ins AS (SELECT DISTINCT o_custkey, o_orderpriority FROM mapped m
       |        WHERE NOT EXISTS (SELECT 1 FROM desta d
       |          WHERE d.o_custkey = m.o_custkey AND d.o_orderpriority = m.o_orderpriority))
       |SELECT 'dest' AS instance, 'dest' AS merge_source,
       |       CAST(o_custkey AS BIGINT) AS new_cust, o_orderpriority
       |FROM desta
       |UNION ALL
       |SELECT 'src', '$SourceTag', o_custkey, o_orderpriority FROM ins
       |ORDER BY instance, new_cust, o_orderpriority""".stripMargin

  /** m23 oracle: the shared id-map CTEs, stacked and labeled. */
  val m23Sql: String =
    s"""WITH $mapCtes
       |SELECT table_name, src_id, dest_id, CAST(is_new AS BIGINT) AS is_new,
       |  CASE WHEN is_new = 1 THEN 'inserted' ELSE 'mapped_to_existing' END AS decision
       |FROM (
       |  SELECT 'customer' AS table_name, src_id, dest_id, is_new FROM cmap
       |  UNION ALL SELECT 'orders', src_id, dest_id, is_new FROM omap
       |  UNION ALL SELECT 'lineitem', src_id, dest_id, is_new FROM lmap)
       |ORDER BY table_name, src_id""".stripMargin

  /** m32: MERGE ROLLBACK PLAN — the UNDO pre-flight the reference
    * never had (and every operator who has run a bad merge wants):
    * reverting a committed merge means DELETING exactly the
    * destination rows the merge INSERTED (is_new in the published id
    * maps — mapped_to_existing rows pre-existed and must survive),
    * children before parents (the FK-safe REVERSE topological order,
    * m26's cascade direction). One row per table: deletion step,
    * rows to delete, rows whose mapping simply evaporates. The plan
    * is derived from the merge's own published artifacts — nothing
    * is re-diffed against the destination, so it stays correct even
    * after later unrelated writes.
    *
    * Cost: a groupBy over the memoized shared-run id maps (m23's
    * artifact) — zero new table reads. */
  def m32RollbackPlan(spark: SparkSession, dir: String): DataFrame = {
    val step = when(col("table_name") === "lineitem", 1L)
      .when(col("table_name") === "orders", 2L).otherwise(3L)
    m23Provenance(spark, dir)
      .groupBy(col("table_name"))
      .agg(sum(col("is_new")).as("n_delete"),
        sum(lit(1L) - col("is_new")).as("n_unmap_only"))
      .select(step.as("step"), col("table_name"), col("n_delete"),
        col("n_unmap_only"))
      .orderBy(col("step"))
  }

  /** m32 oracle: m23's provenance rollup under the reverse-topo step
    * labels. */
  val m32Sql: String =
    s"""WITH prov AS ($m23Sql)
       |SELECT CASE table_name WHEN 'lineitem' THEN 1 WHEN 'orders' THEN 2
       |       ELSE 3 END AS step, table_name,
       |  CAST(sum(is_new) AS BIGINT) AS n_delete,
       |  CAST(sum(1 - is_new) AS BIGINT) AS n_unmap_only
       |FROM prov GROUP BY table_name ORDER BY step""".stripMargin
}
