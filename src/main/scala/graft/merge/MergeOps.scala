package graft.merge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The reference engine's merge primitives, re-expressed as
  * declarative Spark plans (SURVEY §2 block A).
  *
  * beehive keeps `src_id → dest_id` maps in driver-side JS `Map`s and
  * loops row-by-row over JDBC batches (reference utils.js:83,161;
  * person-users.js; preparation.js:134). At 100 TB those maps and that
  * loop are the bottleneck, so here:
  *
  *   - id maps ARE DataFrames — joined (broadcast when small, shuffle
  *     otherwise), never collected;
  *   - "next AUTO_INCREMENT" id assignment is a deterministic
  *     two-level prefix rank (value blocks + block offsets, the
  *     PrefixSum convention): one shuffle, no single-partition window,
  *     no skew;
  *   - the match decision is one pass of src left-joined to per-key
  *     destination aggregates; the integrity and uuid rules are
  *     semi/anti-joins Catalyst can push down and reorder.
  */
object MergeOps {

  /** Contiguous id assignment, AUTO_INCREMENT semantics at scale
    * (reference utils.js:11 getNextAutoIncrementId + utils.js:161
    * moveAllTableRecords's `ORDER BY id` batching).
    *
    * One lazy two-level prefix rank (the
    * [[graft.operators.PrefixSum.blockCum]] convention): arithmetic-shift
    * value blocks tile the integral sort key's order, and id = start +
    * exclusive block offset + rank within block. One hash shuffle on the
    * block key, a #blocks-sized offsets window, a broadcast join — no
    * sampling pass, no eager job.
    *
    * DETERMINISM: the blocks are arithmetic, not sampled, so the offsets
    * branch and the numbering branch agree however often either
    * re-derives the input. That is why the numbering can stay lazy: a
    * caller that wants the ids read once cuts the frame it builds from
    * them ([[consolidate]], [[Orchestrator.idMaps]]). The sort key must
    * be integral and unique for the numbering to be deterministic, and
    * non-null: a NULL key fails the job (raise_error in the block-key
    * projection) instead of silently losing its row to the offsets join.
    * Each block holds at most 2^22 rows, so no window partition exceeds
    * ~4.2M rows whatever the data size.
    *
    * KEY DENSITY: the cost assumes dense keys. The partition-less
    * offsets window and `broadcast(offs)` are sized by the number of
    * 2^22-wide value blocks the keys touch — rows / 4M for
    * auto-increment-style ids, the merge's case. Sparse keys (hash-
    * derived, or spread across ±2^40) touch about one block per row,
    * so the window becomes a single-partition pass over ~all rows and
    * the broadcast a rows-sized table. The numbering stays correct
    * either way (PropertySpec covers sparse keys); only the cost
    * changes.
    */
  def assignSequentialIds(df: DataFrame, sortCol: String, idName: String, start: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val blockShift = 22
    val blk = when(col(sortCol).isNull,
        raise_error(lit(s"assignSequentialIds: NULL sort key in column '$sortCol'")))
      .otherwise(shiftright(col(sortCol).cast(LongType), blockShift))
    val local = df.withColumn("__blk", blk)
      .withColumn("__rn", row_number().over(Window.partitionBy(col("__blk")).orderBy(col(sortCol)))
        .cast(LongType))
    // exclusive per-block offsets: the only partition-less window,
    // over ≤#blocks aggregate rows (the PrefixSum.blockCum level-2
    // convention, whitelist-pinned in QueriesSpec)
    val offs = local.groupBy(col("__blk")).agg(count(lit(1)).as("__n"))
      .withColumn("__boff", coalesce(
        sum(col("__n")).over(Window.orderBy(col("__blk"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__blk"), col("__boff"))
    local.join(broadcast(offs), Seq("__blk"))
      .withColumn(idName, (lit(start) + col("__boff") + col("__rn")).cast(LongType))
      .drop("__blk", "__rn", "__boff")
  }

  /** The match decision of one table — the single matcher behind
    * consolidate (reference utils.js:83), move (utils.js:161) and the
    * "already in destination" exclusion (preparation.js:134): one row
    * (src_id, dest_id, is_new) per src row. A row whose `key` exists in
    * the destination maps to the (minimum) dest id with that key, is_new
    * = 0. With `uuidCol`, a row left unmatched on the key matches on the
    * uuid instead. Every other row is new: is_new = 1 and dest_id null
    * until [[numberNew]] numbers it.
    *
    * One pass over src: it left-joins the per-key destination aggregate
    * and, with `uuidCol`, the per-uuid one. Each aggregate carries a hit
    * marker, and is_new comes from the markers, never from whether
    * dest_id is null: a destination key whose ids are all NULL still
    * matches, with a null dest_id. */
  def matchDecision(src: DataFrame, dest: DataFrame, key: Seq[String], idCol: String,
                    uuidCol: Option[String]): DataFrame = {
    val legs = ("k" -> key) +: uuidCol.map(u => "u" -> Seq(u)).toSeq
    val joined = legs.foldLeft(src) { case (df, (leg, on)) =>
      df.join(dest.groupBy(on.map(col): _*)
          .agg(min(col(idCol)).cast(LongType).as(s"__${leg}_id"))
          .withColumn(s"__${leg}_hit", lit(true)), on, "left")
    }
    // the first leg that hits decides
    val destId = legs.foldRight(lit(null).cast(LongType)) { case ((leg, _), rest) =>
      when(col(s"__${leg}_hit"), col(s"__${leg}_id")).otherwise(rest)
    }
    val hit = legs.map { case (leg, _) => col(s"__${leg}_hit").isNotNull }.reduce(_ || _)
    joined.select(col(idCol).cast(LongType).as("src_id"), destId.as("dest_id"),
      when(hit, 0).otherwise(1).as("is_new"))
  }

  /** A decision's id map: the is_new = 0 rows as decided, the is_new =
    * 1 rows numbered contiguously past `start` in src-id order. Lazy,
    * like [[assignSequentialIds]]. */
  def numberNew(decision: DataFrame, start: Long): DataFrame =
    decision.filter(col("is_new") === 0).unionAll(
      assignSequentialIds(decision.filter(col("is_new") === 1).select(col("src_id")),
          "src_id", "dest_id", start)
        .select(col("src_id"), col("dest_id"), lit(1).as("is_new")))

  /** Metadata dedup-merge by natural key (reference utils.js:83
    * consolidateTableRecords): rows whose natural key already exists in
    * the destination map to the (minimum) existing dest id; the rest get
    * fresh contiguous ids past the destination's max id.
    *
    * Returns the id map, (src_id, dest_id, is_new), cut
    * ([[graft.operators.State.cut]]) once as [[Orchestrator.idMaps]] cuts
    * its maps: every consumer reads the materialized map.
    */
  def consolidate(src: DataFrame, dest: DataFrame, naturalKey: Seq[String], idCol: String): DataFrame =
    graft.operators.State.cut(
      numberNew(matchDecision(src, dest, naturalKey, idCol, None), Orchestrator.maxId(dest, idCol)))

  /** Consolidation where one comparison column must itself be
    * rewritten through an already-established id map before matching
    * (reference utils.js:74-103: comparison columns carry
    * `mapped: boolean` + `mappedValueMap` — e.g. person_attribute_type
    * matched on a name AND an fk that only aligns after the parent
    * table was merged). The mapped column rides a join against the fk
    * map (broadcast when small), then ordinary consolidation applies.
    */
  def consolidateMapped(src: DataFrame, dest: DataFrame, plainKeys: Seq[String],
                        mappedCol: String, fkMap: DataFrame, idCol: String): DataFrame = {
    // left: a null/unmapped comparison column must not DROP the row
    // from consolidation — it matches nothing and becomes a new insert
    val srcMapped = remapFk(src, mappedCol, fkMap, "__mapped_key", joinType = "left")
      .drop(mappedCol).withColumnRenamed("__mapped_key", mappedCol)
    consolidate(srcMapped, dest, plainKeys :+ mappedCol, idCol)
  }

  /** Foreign-key rewrite through an id map (reference
    * person-users.js:223 `beehive.personMap.get(row[...])` per row).
    * The map rides a join whose strategy is Spark's size-based
    * auto-broadcast: metadata-sized maps broadcast, person-scale maps
    * shuffle-join on the fk — a FORCED broadcast of a fact-sized map
    * would OOM the driver at 100 TB.
    *
    * `joinType` is part of the operator's semantics, chosen per call
    * site: "inner" DROPS children whose FK is missing from the map
    * (the strict post-integrity-check merge path — a left join here
    * would silently emit orphaned children with null FKs); "left"
    * PRESERVES rows with null/unmapped FKs (nullable self-references
    * like changed_by, where null means "no parent");
    * "inner_or_null" is the strict path for NULLABLE declared FKs
    * (reference utils.js moveAllTableRecords copies null-FK rows
    * verbatim): a null FK survives with a null new value — it is
    * legal, the integrity gate (orphanCheck) only inspects non-null
    * FKs — while a NON-null FK missing from the map still drops, so
    * unresolvable references never silently become nulls.
    */
  /** `saltBuckets > 0` applies the [[graft.operators.Skew]] salted
    * shape to the map join: the child side gets a deterministic salt
    * (hash of the whole row — per-row variety without needing to know
    * the child's key column), the map side replicates ×buckets, and
    * the join keys on (fk, salt). The OpenMRS-shaped merge has exactly
    * this skew — a few provider/location ids own most child rows, and
    * an unsalted shuffle puts one hot key's entire fact volume in one
    * task. Shuffle grows by map-size×buckets (maps are id pairs —
    * cheap); hot-key tasks shrink ×buckets. Same rows either way
    * (spec-pinned in OrchestratorSpec). */
  def remapFk(child: DataFrame, fkCol: String, idMap: DataFrame,
              newCol: String, joinType: String = "inner", saltBuckets: Int = 0): DataFrame = {
    val base = idMap.select(col("src_id").as("__fk_src"), col("dest_id").as(newCol))
    val (factSide, mapSide, saltCols) =
      if (saltBuckets > 0)
        (child.withColumn("__salt_f", pmod(hash(child.columns.toIndexedSeq.map(col): _*), lit(saltBuckets))),
          base.withColumn("__salt_d", explode(sequence(lit(0), lit(saltBuckets - 1)))),
          Seq("__salt_f", "__salt_d"))
      else (child, base, Nil)
    val keyCond = factSide(fkCol) === col("__fk_src")
    val cond =
      if (saltBuckets > 0) keyCond && col("__salt_f") === col("__salt_d") else keyCond
    joinType match {
      case "inner_or_null" =>
        // "matched" is detected with a sentinel marker, NOT dest_id
        // nullness — a map row carrying a null dest_id must surface as
        // a matched-to-null FK, not silently drop its child row as if
        // the FK were unmapped
        val marked = mapSide.withColumn("__fk_hit", lit(1))
        factSide.join(marked, cond, "left")
          .filter(factSide(fkCol).isNull || col("__fk_hit").isNotNull)
          .drop(Seq("__fk_src", "__fk_hit") ++ saltCols: _*)
      case jt =>
        factSide.join(mapSide, cond, jt)
          .drop(Seq("__fk_src") ++ saltCols: _*)
    }
  }

  /** UUID-collision repair (reference uuid-checks.js:26
    * ensureUniqueUuids): semi-join finds src rows whose uuid already
    * exists in dest; each gets a fresh uuid. The reference draws
    * uuid/v1 from the clock; for a reproducible distributed engine the
    * new uuid is derived deterministically from the old (md5-based,
    * v4-shaped), so retries/re-runs are idempotent.
    */
  def uuidCollisions(src: DataFrame, dest: DataFrame, idCol: String, uuidCol: String): DataFrame = {
    val colliding = src.join(dest.select(uuidCol), Seq(uuidCol), "left_semi")
    colliding.select(
      col(idCol).as("src_id"),
      col(uuidCol).as("old_uuid"),
      formatUuid(md5(concat(lit("graft-remap:"), col(uuidCol)))).as("new_uuid"))
  }

  /** Shape a 32-hex-char md5 into 8-4-4-4-12 uuid form. */
  def formatUuid(hex32: Column): Column =
    concat_ws("-",
      substring(hex32, 1, 8), substring(hex32, 9, 4), substring(hex32, 13, 4),
      substring(hex32, 17, 4), substring(hex32, 21, 12))

  /** Referential-integrity orphan scan (reference
    * integrity-checks.js:5): for each (child, fk) → (parent, pk)
    * relation, an anti-join counts child rows pointing nowhere. One
    * row per relation so clean runs are still observable.
    */
  def orphanCheck(relations: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame = {
    relations.map { case (name, child, fk, parent, pk) =>
      // alias the parent key: with the standard same-named-FK shape
      // (users.person_id -> person.person_id) an unqualified col(pk)
      // is AMBIGUOUS against the joined schema (the remapFk/
      // cascadeImpact aliasing convention)
      val keys = parent.select(col(pk).as("__parent_pk"))
      child.filter(col(fk).isNotNull)
        .join(keys, child(fk) === keys("__parent_pk"), "left_anti")
        .agg(count(lit(1)).as("orphan_count"))
        .select(lit(name).as("relation"), col("orphan_count"))
    }.reduce(_ unionAll _)
  }

  /** Audit counts (reference utils.js:28 getCount, used before/after
    * each mover): one row per table. Each count is a scan job: graft
    * reads parquet through Spark's V1 file source, which plans
    * count(*) as `Scan parquet` with an empty read schema — its tasks
    * read the files' footers and row-group row counts, no column pages.
    * The footer-only answer (`spark.sql.parquet.aggregatePushDown`)
    * applies to DSv2 scans, not to this path. */
  def auditCounts(tables: Seq[(String, DataFrame)]): DataFrame =
    tables.map { case (name, df) =>
      df.agg(count(lit(1)).as("n_rows")).select(lit(name).as("table_name"), col("n_rows"))
    }.reduce(_ unionAll _)

  /** CDC APPLY — materializes an ORDERED change log (op ∈
    * {upsert, delete} with a per-key sequence) onto a base snapshot:
    * the Debezium/Hudi-style compaction step that [[upsertLatest]]
    * (no deletes) and m19's delta classifier (no ordering, no
    * tombstones) both stop short of. Per key, only the LAST log entry
    * by `seqCols` matters:
    *   - no log entry            → `unchanged` (base row passes through)
    *   - last op = delete, in base → `deleted` (emitted for the audit
    *     with its last base values; the snapshot is outcome ≠ deleted)
    *   - last op = delete, NOT in base → dropped (a tombstone for a
    *     key this snapshot never held — Debezium's no-op case)
    *   - last op = upsert, in base → `updated` (log values win)
    *   - last op = upsert, not in base → `inserted`
    *
    * Scale shape: one key-partitioned window over the LOG (work ∝
    * |changes|, the whole point of CDC — the base is touched only by
    * the final key-equi full-outer join), map-side nothing collected.
    * Value columns are matched by NAME between base and log; base
    * columns the log does not carry PASS THROUGH unchanged (they have
    * no log counterpart to overwrite — silently intersecting them away
    * would lose the column's data on every apply; inserted keys get
    * null there, the only value the log can justify). `seqCols` break
    * intra-key ties deterministically (give the log a total per-key
    * order or the result is undefined, as in any CDC apply). */
  def cdcApply(base: DataFrame, log: DataFrame, keyCols: Seq[String],
               seqCols: Seq[String], opCol: String,
               deleteOp: String = "d"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val valCols = base.columns.filterNot(keyCols.contains).toSeq
    val shared = valCols.filter(log.columns.contains).toSet
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(seqCols.map(col(_).desc): _*)
    val last = log.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(keyCols.map(col) ++ (col(opCol).as("__op") +:
        valCols.filter(shared).map(c => col(c).as(s"__l_$c"))): _*)
    val b = base.select((keyCols.map(col) :+ lit(1).as("__inb")) ++
      valCols.map(col): _*)
    b.join(last, keyCols, "full_outer")
      .withColumn("outcome",
        when(col("__op").isNull, "unchanged")
          .when(col("__op") === deleteOp && col("__inb").isNotNull, "deleted")
          .when(col("__op") === deleteOp, "noop")
          .when(col("__inb").isNull, "inserted")
          .otherwise("updated"))
      .filter(col("outcome") =!= "noop")
      .select(keyCols.map(col) ++ (col("outcome") +:
        valCols.map(c =>
          if (shared(c))
            when(col("outcome").isin("updated", "inserted"), col(s"__l_$c"))
              .otherwise(col(c)).as(c)
          else col(c))): _*)
  }

  /** Keep-latest upsert (reference person-users.js:307 two-phase
    * `ON DUPLICATE KEY UPDATE` audit pass): latest version per key via
    * one window over the key partition — single shuffle. */
  def upsertLatest(df: DataFrame, keyCols: Seq[String], versionCol: String,
                   tieBreak: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(versionCol).desc, col(tieBreak).desc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Set-union merge (reference person-users.js:359 `INSERT IGNORE
    * role_privilege`): union + dropDuplicates on the full key —
    * map-side partial dedup keeps the shuffle proportional to distinct
    * keys. */
  def setUnionMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).dropDuplicates()

  /** Transitive DELETE-IMPACT analysis through the FK DAG: given seed
    * rows marked for deletion in one table, how many rows in every
    * downstream table a cascading delete (or the equivalent exclusion
    * rule) would take with them. The pre-flight for destructive merge
    * operations — the reference hard-aborts on orphans AFTER they
    * exist (integrity-checks.js); this prices the blast radius BEFORE
    * anyone deletes.
    *
    * Walks [[Orchestrator.topoOrder]] parents-first; a table's
    * impacted-id frame is the union of semi-joins against each
    * impacted parent's ids through the declared fks (deferredFks are
    * excluded on purpose: a deferred audit column nulls out, it does
    * not cascade). Only the node-sized impacted-ID frames are
    * materialized (an eager [[graft.operators.State.cut]]), and only
    * for tables a child will consume — lazy lineage would re-derive
    * the semi-join chain per consumer, while the row-sized impacted
    * slices stay unmaterialized (fact-sized at 100 TB; a count
    * re-derives one cheap semi-join instead).
    *
    * Returns (table_name, n_impacted), one row per spec, seed table
    * included. */
  def cascadeImpact(specs: Seq[Orchestrator.TableSpec],
                    frames: Map[String, DataFrame],
                    seedTable: String, seedIds: DataFrame): DataFrame = {
    val order = Orchestrator.topoOrder(specs)
    require(order.exists(_.name == seedTable), s"unknown seed table '$seedTable'")
    // per table: the distinct impacted IDs (what children semi-join
    // on — may undercount ROWS for weak entities whose idCol is not
    // unique, which is why the reported count is over impacted ROWS,
    // full-row identity under the multi-leg union)
    val impactedIds = scala.collection.mutable.Map.empty[String, DataFrame]
    val rows = order.map { spec =>
      val df = frames(spec.name)
      val impRows: Option[DataFrame] =
        if (spec.name == seedTable)
          Some(df.join(seedIds.select(col(seedIds.columns.head).as(spec.idCol)),
            Seq(spec.idCol), "left_semi"))
        else {
          val legs = spec.fks.toSeq.sortBy(_._1).flatMap { case (fkCol, parent) =>
            impactedIds.get(parent).map { pImp =>
              val pId = specs.find(_.name == parent).get.idCol
              df.join(pImp.select(col(pId).as(fkCol)), Seq(fkCol), "left_semi")
            }
          }
          if (legs.isEmpty) None
          // BY NAME: a Seq-keyed semi-join moves its key column to the
          // front, so each leg's column ORDER differs per fk — a
          // positional union would silently misalign the rows
          else Some(legs.reduce(_ unionByName _).dropDuplicates())
        }
      // only the node-sized ID frame is materialized, and only when a
      // child will consume it — the row-sized impacted slice itself is
      // never checkpointed (at 100 TB it is fact-sized; its count re-
      // derives one cheap semi-join instead)
      val hasChildren = specs.exists(_.fks.values.exists(_ == spec.name))
      val n = impRows match {
        case Some(i) =>
          if (hasChildren)
            impactedIds(spec.name) =
              graft.operators.State.cut(i.select(col(spec.idCol)).dropDuplicates(spec.idCol))
          i.agg(count(lit(1)).as("n_impacted"))
        case None => df.sparkSession.range(1).select(lit(0L).as("n_impacted"))
      }
      n.select(lit(spec.name).as("table_name"), col("n_impacted"))
    }
    rows.reduce(_ unionAll _).orderBy("table_name")
  }
}
