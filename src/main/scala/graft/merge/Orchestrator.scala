package graft.merge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Generic dependency-ordered multi-table merge — the reference's core
  * deliverable re-expressed as a declarative plan builder
  * (orchestrator.js:66-94: persons/users → locations → patients → … →
  * obs, each mover consuming the id maps of its parents).
  *
  * beehive hardcodes the ~31-table OpenMRS DAG in `prepare()` call
  * order and threads driver-side JS maps between movers. Here the DAG
  * is DATA — a `Seq[TableSpec]` (the reference's config surface,
  * preparation.js:134: match columns, exclusions, per-table modes) —
  * and the orchestrator topologically orders it and threads id maps as
  * DataFrames. Nothing is collected: like beehive's maps, each id map
  * is built once — cut ([[graft.operators.State.cut]]) as soon as it
  * exists — and every consumer reads its materialized blocks; each
  * table's merged frame is one declarative plan over them. Id-map join
  * strategy is left to Spark's size-based auto-broadcast (metadata
  * maps broadcast, person-scale maps shuffle — never a forced hint
  * that would OOM the driver on a fact-sized map).
  *
  * Scale notes (100 TB): per-table work is the m1/m2/m9 shape — one
  * block rank for id assignment, semi/anti-joins for exclusion, map
  * joins for FK rewrite. The orchestrator adds NO driver state beyond
  * the spec list and NO extra shuffles: id maps are cut DataFrames,
  * broadcast when dimension-sized, shuffled when person-scale.
  */
object Orchestrator {

  /** How a table's rows merge into the destination
    * (reference utils.js:83 consolidateTableRecords vs utils.js:161
    * moveAllTableRecords). */
  sealed trait MergeMode
  object MergeMode {
    /** Metadata semantics: rows matching dest on the natural key are
      * deduped into the existing dest row; only unmatched rows are
      * inserted (with fresh ids). */
    case object Consolidate extends MergeMode
    /** Data semantics: every src row moves with a fresh id, EXCEPT
      * rows already present in dest (natural key / uuid match), which
      * map to their dest counterpart and are not re-inserted
      * (preparation.js "not moved if already in destination"). */
    case object Move extends MergeMode
    /** PK-is-FK semantics (reference patient.js:9
      * `preparePatientInsert`: `beehive.personMap.get(row['patient_id'])`
      * — the patient's primary key IS the person FK): the row's id is
      * REWRITTEN THROUGH THE PARENT's completed map, never allocated
      * from this table's own sequence. A row moves iff its parent row
      * moved (parent is_new=1); rows whose parent was already in the
      * destination are excluded, like the reference's patient loop over
      * only-moved persons. Identity is entirely the parent's —
      * naturalKey/uuidCol/mappedKeys play no part. */
    final case class SharedPk(parent: String) extends MergeMode
    /** No-own-id association semantics (reference gaac.js:100
      * `prepareGaacMemberInsert` — the INSERT carries no gaac_member_id
      * — and person-users.js:359 `INSERT IGNORE role_privilege`):
      * every column is either FK or payload. Rows move by FK rewrite
      * alone; when `naturalKey` is declared (the composite PK of an
      * INSERT IGNORE table) incoming rows are set-union-deduped against
      * the destination AND within the batch; with an empty naturalKey
      * every FK-rewritten row is appended (the auto-id gaac_member
      * shape — the destination DB mints row ids, the merge never sees
      * them). Emits NO id map, so a Keyless table cannot be any other
      * table's parent. `idCol` must be empty. */
    case object Keyless extends MergeMode
  }

  /** Declarative per-table merge config — the reference's table-config
    * object (preparation.js:134 match columns + exclusions,
    * utils.js:74 comparison columns) as a case class.
    *
    * @param name       table name (keys `fks` of child specs)
    * @param idCol      primary key column (LONG-castable)
    * @param naturalKey cross-instance identity: Consolidate match
    *                   columns / Move already-in-destination key
    * @param mode       consolidate vs move
    * @param fks        fk column → parent table name; rewritten through
    *                   the parent's completed id map (inner join — the
    *                   strict post-integrity-check path)
    * @param selfFks    nullable self-referential fk columns (changed_by,
    *                   obs_group_id); rewritten through this table's OWN
    *                   completed map in a second phase (left join, nulls
    *                   survive — the m11 semantics)
    * @param uuidCol    optional uuid column: adds the OR-uuid exclusion
    *                   leg (preparation.js:134)
    * @param mappedKeys natural-key columns that are themselves FKs and
    *                   must be rewritten through the parent's map
    *                   BEFORE matching (utils.js:74-103 `mapped` +
    *                   `mappedValueMap` — the m12 semantics); column →
    *                   parent table. Counted as dependency edges.
    * @param saltedFks  fk/selfFk columns with HOT parent keys (the
    *                   OpenMRS shape: one location/provider owning
    *                   most child rows) → salt bucket count. Their
    *                   map joins run through [[MergeOps.remapFk]]'s
    *                   salted shape so no single task carries a hot
    *                   key's whole fact volume; rows are identical
    *                   either way (spec-pinned planted-skew test).
    * @param autoSaltFks when true (the DEFAULT — the config pipeline
    *                   runs the guard on every table; set false to
    *                   opt OUT), [[autoSaltFks]] fills saltedFks
    *                   from the table's OWN fk histograms at plan time
    *                   (the j2 audit metric — [[graft.operators.Skew
    *                   .autoBuckets]]): the hotShare guard decides, so
    *                   wide-uniform tables provably stay on the plain
    *                   shuffle path and only a planted-hot relation
    *                   pays the salted shape. Explicitly declared
    *                   salts win. Direct [[Orchestrator.run]] callers
    *                   compose [[autoSaltFks]] themselves (the
    *                   MergeConfig pipeline does it for them).
    * @param deferredFks nullable fk columns resolved in a SECOND pass
    *                   after ALL tables are merged; column → parent
    *                   table, NOT a dependency edge — this is how
    *                   mutually-referential tables merge (the
    *                   reference's person ⇄ users cycle: persons insert
    *                   with their users-audit columns unresolved, then
    *                   person-users.js:307 back-fills them once the
    *                   users map is complete). Null stays null; an
    *                   unresolvable NON-null value fails loudly at
    *                   execution (raise_error) — deferred columns skip
    *                   the integrity gate, so silently nulling a
    *                   dangling reference would publish corruption.
    */
  final case class TableSpec(
      name: String,
      idCol: String,
      naturalKey: Seq[String],
      mode: MergeMode,
      fks: Map[String, String] = Map.empty,
      selfFks: Seq[String] = Nil,
      uuidCol: Option[String] = None,
      mappedKeys: Map[String, String] = Map.empty,
      deferredFks: Map[String, String] = Map.empty,
      saltedFks: Map[String, Int] = Map.empty,
      autoSaltFks: Boolean = true) {
    require(mode == MergeMode.Keyless || idCol.nonEmpty,
      s"table '$name': idCol required for non-keyless modes")
    mode match {
      case MergeMode.Keyless =>
        require(idCol.isEmpty && selfFks.isEmpty && uuidCol.isEmpty
            && mappedKeys.isEmpty && deferredFks.isEmpty,
          s"table '$name': Keyless tables have no own id — idCol, selfFks, " +
            "uuidCol, mappedKeys and deferredFks must all be empty")
      case MergeMode.SharedPk(_) =>
        require(uuidCol.isEmpty && mappedKeys.isEmpty,
          s"table '$name': SharedPk identity is the parent's — " +
            "uuidCol/mappedKeys must be empty")
      case _ => ()
    }
    /** Tables that must be merged before this one (deferredFks are
      * deliberately absent — they are what BREAKS cycles). */
    def parents: Iterable[String] = fks.values ++ mappedKeys.values ++ (mode match {
      case MergeMode.SharedPk(p) => Seq(p)
      case _                     => Nil
    })
  }

  /** One merged table: the output rows plus the src→dest id map the
    * table's children consumed. `merged` has the src table's columns
    * with idCol/fks/selfFks REWRITTEN IN PLACE, plus lineage columns
    * `src_<idCol>` (original id), `instance` ('src'/'dest') and
    * `merge_source` (which source instance a row came from —
    * orchestrator.js:92 insertSource). `report` is the table's row of
    * the merge report, counted as [[dryRun]] counts it. */
  final case class MergedTable(merged: DataFrame, idMap: DataFrame, report: DataFrame)

  /** Kahn topological order over fk dependencies. Self-FKs are not
    * edges (they resolve against the table's own completed map).
    * Throws on unknown parents or cycles — a mis-declared DAG must
    * fail before any plan runs, like the reference's hardcoded call
    * order failing to compile. */
  def topoOrder(specs: Seq[TableSpec]): Seq[TableSpec] = {
    val byName = specs.map(s => s.name -> s).toMap
    specs.foreach { s =>
      (s.parents ++ s.deferredFks.values).foreach { p =>
        require(byName.contains(p), s"table '${s.name}' references unknown parent '$p'")
        require(byName(p).mode != MergeMode.Keyless,
          s"table '${s.name}' references keyless table '$p' as a parent — " +
            "Keyless tables emit no id map")
      }
    }
    val ordered = scala.collection.mutable.ArrayBuffer.empty[TableSpec]
    val done = scala.collection.mutable.Set.empty[String]
    var remaining = specs
    while (remaining.nonEmpty) {
      val (ready, blocked) = remaining.partition(_.parents.forall(done))
      require(ready.nonEmpty,
        s"cyclic fk dependencies among: ${blocked.map(_.name).mkString(", ")}")
      // stable within a level: declaration order
      ordered ++= ready
      done ++= ready.map(_.name)
      remaining = blocked
    }
    ordered.toSeq
  }

  /** Scalar max id from the destination — one aggregate action, no
    * rows to the driver (utils.js:11 getNextAutoIncrementId). */
  private[merge] def maxId(dest: DataFrame, idCol: String): Long =
    dest.agg(coalesce(max(col(idCol)), lit(0L)).cast(LongType)).head().getLong(0)

  /** src with mappedKeys columns rewritten into dest id space — on the
    * SRC side only, since dest values are already in the destination
    * id space. LEFT join: a null/unmapped mapped key must NOT drop the
    * row (the id map is contractually complete over all src rows) — it
    * becomes a null key value, which matches no dest row and therefore
    * consolidates/moves as new. */
  private def withMappedKeys(src: DataFrame, spec: TableSpec,
                             parentMaps: String => DataFrame): DataFrame =
    spec.mappedKeys.foldLeft(src) { case (df, (c, parent)) =>
      MergeOps.remapFk(df, c, parentMaps(parent), s"__mapped_$c", joinType = "left")
        .drop(c).withColumnRenamed(s"__mapped_$c", c)
    }

  /** Cross-instance identity columns: the declared natural key plus
    * every mapped key (both modes match on the same composite —
    * a row is "the same row" only if its mapped parents agree too). */
  private def effectiveKey(spec: TableSpec): Seq[String] =
    spec.naturalKey ++ spec.mappedKeys.keys.filterNot(spec.naturalKey.contains)

  /** The uuid match leg is Move's alone: a Consolidate table matches on
    * its effective key only. */
  private def uuidLeg(spec: TableSpec): Option[String] =
    spec.uuidCol.filter(_ => spec.mode == MergeMode.Move)

  /** A keyed table's match decision: (src_id, dest_id, is_new) per src
    * row, dest_id null for the rows still to be inserted
    * ([[MergeOps.matchDecision]]: Consolidate on the effective key, Move
    * on the key and then the uuid). `s` already has its mappedKeys in
    * dest id space. A SharedPk table takes its parent's decision
    * (patient.js:25 `personMap.get(row['patient_id'])`) from `parents`;
    * given the parents' id maps instead, that decision IS its id map.
    * Inner join: a child id absent from the parent (no such parent row
    * in src) drops — the strict post-integrity-check path. */
  private def decide(s: DataFrame, d: DataFrame, spec: TableSpec,
                     parents: String => DataFrame): DataFrame =
    spec.mode match {
      case MergeMode.SharedPk(p) =>
        s.select(col(spec.idCol).cast(LongType).as("src_id"))
          .join(parents(p).select(col("src_id"), col("dest_id"), col("is_new")), Seq("src_id"))
      case _ => MergeOps.matchDecision(s, d, effectiveKey(spec), spec.idCol, uuidLeg(spec))
    }

  /** A keyed table's id map, complete over ALL src rows (movers and
    * already-present alike) so children and self-FKs always resolve:
    * its decision with the new rows numbered past `start`, the dest max
    * id. A SharedPk table allocates nothing — its decision through the
    * parents' maps is its map. */
  private def idMapOf(s: DataFrame, d: DataFrame, spec: TableSpec,
                      maps: String => DataFrame, start: => Long): DataFrame =
    spec.mode match {
      case MergeMode.SharedPk(_) => decide(s, d, spec, maps)
      case _                     => MergeOps.numberNew(decide(s, d, spec, maps), start)
    }

  /** Schema-correct EMPTY id map (Keyless tables emit no map but
    * [[MergedTable]] carries one for API uniformity). */
  private def emptyIdMap(src: DataFrame): DataFrame =
    src.sparkSession.range(0).select(
      col("id").as("src_id"), col("id").as("dest_id"), lit(1).as("is_new"))

  /** One table's report row — (table_name, mode, src_rows,
    * already_in_dest, would_insert) — the one place the dry run and the
    * real run count, in one aggregate pass. already_in_dest and
    * would_insert count `decided`'s is_new = 0 and is_new = 1 rows (a
    * keyed table's decision or id map, a keyless table's decided
    * batch). src_rows counts `decided` too, or `rawSrc` when given: a
    * keyless table reports its raw src rows, batch duplicates
    * included. */
  private def reportRow(spec: TableSpec, decided: DataFrame, rawSrc: Option[DataFrame]): DataFrame =
    (rawSrc.map(_.select(lit(true).as("__src"), lit(null).cast(IntegerType).as("is_new"))).toSeq :+
      decided.select(lit(rawSrc.isEmpty).as("__src"), col("is_new")))
      .reduce(_ unionAll _)
      .agg(count(when(col("__src"), 1)).as("src_rows"),
        count(when(col("is_new") === 0, 1)).as("already_in_dest"),
        count(when(col("is_new") === 1, 1)).as("would_insert"))
      .select(lit(spec.name).as("table_name"), lit(modeLabel(spec.mode)).as("mode"),
        col("src_rows"), col("already_in_dest"), col("would_insert"))

  /** Keyless association-table merge (MergeMode.Keyless): FK rewrite
    * through the parents' completed maps (inner_or_null — the strict
    * nullable-FK contract every declared FK rides), then either
    *   - naturalKey declared → INSERT IGNORE semantics
    *     (person-users.js:359): set-union dedup against dest on the
    *     composite key AND within the incoming batch. With payload
    *     columns outside the key, the in-batch survivor is the MINIMUM
    *     payload tuple — deterministic where MySQL's first-arriving-row
    *     is scheduler luck;
    *   - naturalKey empty → append-all (gaac.js:100: the destination
    *     mints auto ids the merge never sees).
    * Emits an empty id map — nothing can FK-reference these rows — and
    * a report row counted from the raw src rows and the batch's
    * decision (the dry run's row too). Scale: one shuffle per fk map
    * join + (keyed form) one dedup aggregate on the composite key;
    * never a window, never a sort. */
  private def keylessMerge(src: DataFrame, dest: DataFrame, spec: TableSpec,
                           maps: String => DataFrame, sourceTag: String): MergedTable = {
    val fkDone0 = spec.fks.foldLeft(src) { case (df, (fkCol, parent)) =>
      MergeOps.remapFk(df, fkCol, maps(parent), s"__new_$fkCol", joinType = "inner_or_null",
          saltBuckets = spec.saltedFks.getOrElse(fkCol, 0))
        .drop(fkCol).withColumnRenamed(s"__new_$fkCol", fkCol)
    }
    val cols = src.columns.toSeq
    val fkDone = fkDone0.select(cols.map(col): _*)
    // the batch's decision: is_new = 0 where its key is already in dest
    val decided =
      if (spec.naturalKey.isEmpty) fkDone.withColumn("is_new", lit(1))
      else {
        val payload = cols.filterNot(spec.naturalKey.contains)
        val batchDeduped =
          if (payload.isEmpty) fkDone.dropDuplicates(spec.naturalKey)
          else fkDone.groupBy(spec.naturalKey.map(col): _*)
            .agg(min(struct(payload.map(col): _*)).as("__p"))
            .select(cols.map(c =>
              if (spec.naturalKey.contains(c)) col(c) else col(s"__p.$c").as(c)): _*)
        batchDeduped.join(dest.select(spec.naturalKey.map(col): _*).distinct()
            .withColumn("__hit", lit(1)), spec.naturalKey, "left")
          .select(cols.map(col) :+ when(col("__hit").isNull, 1).otherwise(0).as("is_new"): _*)
      }
    val srcOut = decided.filter(col("is_new") === 1).select((cols.map(col) :+
      lit("src").as("instance") :+ lit(sourceTag).as("merge_source")): _*)
    val destOut = dest.select((cols.map(col) :+
      lit("dest").as("instance") :+ lit("dest").as("merge_source")): _*)
    // src_rows counts the RAW src table, batch duplicates included (the
    // gap INSERT IGNORE's affectedRows shows)
    MergedTable(destOut.unionByName(srcOut), emptyIdMap(src), reportRow(spec, decided, Some(src)))
  }

  /** Fill `saltedFks` from each OPTED-IN spec's own fk histograms
    * (the j2 heavy-key audit run at plan time over the SOURCE fact —
    * [[graft.operators.Skew.autoBucketsAll]], ONE fact scan for all
    * of a table's candidate fks): a declared-hot relation needs no
    * hand-tuned bucket count, and a uniform one stays on the plain
    * shuffle path. Explicit saltedFks entries always win; specs
    * without the flag are returned untouched (zero audit cost). */
  def autoSaltFks(specs: Seq[TableSpec], src: String => DataFrame,
                  hotShare: Double = 0.125, maxBuckets: Int = 32): Seq[TableSpec] =
    // the audits are independent one-scan jobs: overlap them
    graft.operators.Overlap.map(specs)(t => autoSaltFks(t, src, hotShare, maxBuckets))

  /** One table's audit. A named method, not a lambda, so each audit job's
    * call stack names `autoSaltFks` on an Overlap thread too (the
    * benchmark's trace rule for merge.skew_audit_s). */
  private def autoSaltFks(t: TableSpec, src: String => DataFrame,
                          hotShare: Double, maxBuckets: Int): TableSpec =
    if (!t.autoSaltFks) t
    else {
      val candidates = (t.fks.keys ++ t.selfFks).toSeq.distinct
        .filterNot(t.saltedFks.contains)
      val auto = graft.operators.Skew.autoBucketsAll(
        src(t.name), candidates, hotShare, maxBuckets)
      if (auto.isEmpty) t else t.copy(saltedFks = t.saltedFks ++ auto)
    }

  /** Run the full pipeline: topological order, id maps threaded
    * parents→children, merged output per table.
    *
    * EAGER in its id maps: each keyed table's map is cut
    * ([[graft.operators.State.cut]]) exactly once, as soon as it is
    * built, so its children's FK remaps, its own movers and self-FK
    * remap, the deferred FKs, the merged frame and the report all read
    * the materialized blocks (the reference's `src_id → dest_id` map,
    * built once in memory — utils.js:161). An uncut map would be
    * re-derived by each consumer, its decision and numbering joins and
    * all its ancestors' with it. A failure inside an id map (a NULL id
    * on a row to insert) therefore throws here. The merged frames stay
    * lazy.
    *
    * @param src/dest   table name → instance DataFrame
    * @param sourceTag  provenance label recorded on every row moved
    *                   from the source instance (orchestrator.js:92)
    */
  def run(specs: Seq[TableSpec],
          src: String => DataFrame, dest: String => DataFrame,
          sourceTag: String): Map[String, MergedTable] = {
    val maps = scala.collection.mutable.Map.empty[String, DataFrame]
    // r14-opt (guide §2.6): every Consolidate/Move table's dest
    // max-id scalar depends ONLY on the raw destination table, yet
    // inline it was one serial driver action per table on the id-map
    // chain's critical path (the chain itself is dependency-true and
    // cannot overlap). Prefetch them all concurrently up front; the
    // values are identical by construction, so dry-run-equals-actual
    // and every id map's rows are unchanged (OrchestratorSpec pins
    // both).
    val order = topoOrder(specs)
    val knownMaxIds: Map[String, Long] = graft.operators.Overlap.map(
      order.filter(s =>
        s.mode == MergeMode.Consolidate || s.mode == MergeMode.Move)) { s =>
      s.name -> maxId(dest(s.name), s.idCol)
    }.toMap
    val firstPass = order.map { spec =>
      if (spec.mode == MergeMode.Keyless) {
        spec.name -> keylessMerge(src(spec.name), dest(spec.name), spec, maps, sourceTag)
      } else {
      // mappedKeys rewritten once, used for BOTH matching and output —
      // new rows must land in dest with dest-space key values
      val s = withMappedKeys(src(spec.name), spec, maps)
      val d = dest(spec.name)
      // cut once (see above). At 100 TB a fact-sized table's map should
      // instead be WRITTEN once as a parquet id table (the reference's
      // durable mapping) and read back.
      val idMap = graft.operators.State.cut(idMapOf(s, d, spec, maps, knownMaxIds(spec.name)))
      maps(spec.name) = idMap

      // src rows that produce NEW dest rows; their id becomes dest_id
      val newIds = idMap.filter(col("is_new") === 1)
        .select(col("src_id"), col("dest_id"))
      val movers = s.join(newIds, s(spec.idCol).cast(LongType) === col("src_id"))

      // fk rewrite through each parent's completed map. inner_or_null:
      // a NULL declared FK survives with null (the reference copies
      // null-FK rows verbatim, and orphanCheck only gates non-null
      // FKs — a plain inner join would silently drop those rows AND
      // desync dryRun's would_insert from the actual run), while a
      // non-null FK missing from the map still drops (strict
      // post-integrity-check path). Self-FKs then ride the OWN map
      // (left: null means no parent — m11 two-phase).
      // (join strategy: remapFk defaults to size-based auto-broadcast
      // — small maps broadcast, person-scale maps shuffle)
      val fkDone = spec.fks.foldLeft(movers) { case (df, (fkCol, parent)) =>
        MergeOps.remapFk(df, fkCol, maps(parent), s"__new_$fkCol", joinType = "inner_or_null",
            saltBuckets = spec.saltedFks.getOrElse(fkCol, 0))
          .drop(fkCol).withColumnRenamed(s"__new_$fkCol", fkCol)
      }
      val selfDone = spec.selfFks.foldLeft(fkDone) { (df, fkCol) =>
        MergeOps.remapFk(df, fkCol, idMap, s"__new_$fkCol", joinType = "left",
            saltBuckets = spec.saltedFks.getOrElse(fkCol, 0))
          .drop(fkCol).withColumnRenamed(s"__new_$fkCol", fkCol)
      }
      val dataCols = s.columns.filter(_ != spec.idCol)
      val srcOut = selfDone.select(
        (col("dest_id").as(spec.idCol) +:
          dataCols.map(col) :+
          col("src_id").as(s"src_${spec.idCol}") :+
          lit("src").as("instance") :+
          lit(sourceTag).as("merge_source")).toIndexedSeq: _*)
      val destOut = d.select(
        (col(spec.idCol).cast(LongType).as(spec.idCol) +:
          dataCols.map(col) :+
          col(spec.idCol).cast(LongType).as(s"src_${spec.idCol}") :+
          lit("dest").as("instance") :+
          lit("dest").as("merge_source")).toIndexedSeq: _*)
      spec.name -> MergedTable(destOut.unionByName(srcOut), idMap, reportRow(spec, idMap, None))
      }
    }.toMap

    // second pass: deferred FKs, now that EVERY table's map is
    // complete (person-users.js:307 — the reference back-fills
    // persons' users-audit columns only after the users mover ran).
    // Only SRC-instance rows are rewritten (dest rows already carry
    // dest-space values). Null stays null (the selfFks convention —
    // deferred columns are nullable by contract), but a NON-null value
    // with no map entry fails LOUDLY at execution: deferredFks are
    // ordinary declared FKs that merely sit on a cycle, and
    // orphanCheck (non-null-only) has already run — silently nulling
    // a dangling reference would publish corruption indistinguishable
    // from a legitimate null, breaking the strict-remap invariant
    // (unresolvable references never silently become nulls).
    val byName = specs.map(s => s.name -> s).toMap
    firstPass.map { case (name, mt) =>
      val deferred = byName(name).deferredFks
      if (deferred.isEmpty) name -> mt
      else {
        val merged = deferred.foldLeft(mt.merged) { case (df, (fkCol, parent)) =>
          val m = maps(parent)
            .select(col("src_id").as("__dfk_src"), col("dest_id").as("__dfk_dest"))
          df.join(m,
              df(fkCol) === col("__dfk_src") && df("instance") === lit("src"), "left")
            .withColumn(fkCol,
              when(col("instance") === "src" && col(fkCol).isNotNull
                     && col("__dfk_dest").isNull,
                raise_error(concat(
                  lit(s"unresolvable deferred FK $name.$fkCol -> $parent: src value "),
                  col(fkCol).cast("string"))))
              .when(col("instance") === "src", col("__dfk_dest"))
              .otherwise(col(fkCol)))
            .drop("__dfk_src", "__dfk_dest")
        }
        name -> mt.copy(merged = merged)
      }
    }
  }

  /** Dry-run (reference orchestrator.js:26 `--dry-run`: full rehearsal,
    * then ROLLBACK): per-table would-happen counts as ONE DataFrame,
    * zero writes. The reference rehearses by executing then rolling
    * back; here each table makes the same single match decision
    * [[run]] numbers its id map from, and the same report row counts
    * it, so the dry run and the real run report the same numbers for
    * every mode. The dry run allocates no ids: a real id map is built
    * only where a child's matching reads destination ids — mappedKeys
    * parents and Keyless tables' fk parents (the set-union key matches
    * in dest id space), plus, transitively, a needed SharedPk table's
    * parent. A SharedPk child takes its parent's decision. */
  def dryRun(specs: Seq[TableSpec],
             src: String => DataFrame, dest: String => DataFrame): DataFrame = {
    val byName = specs.map(s => s.name -> s).toMap
    val mapNeeded = scala.collection.mutable.Set.empty[String]
    def needMap(n: String): Unit = if (mapNeeded.add(n)) byName(n).mode match {
      case MergeMode.SharedPk(p) => needMap(p)
      case _                     => ()
    }
    specs.foreach { s =>
      s.mappedKeys.values.foreach(needMap)
      if (s.mode == MergeMode.Keyless) s.fks.values.foreach(needMap)
    }
    val decisions = scala.collection.mutable.Map.empty[String, DataFrame]
    val maps = scala.collection.mutable.Map.empty[String, DataFrame]
    topoOrder(specs).map { spec =>
      if (spec.mode == MergeMode.Keyless)
        keylessMerge(src(spec.name), dest(spec.name), spec, maps, sourceTag = "").report
      else {
        val s = withMappedKeys(src(spec.name), spec, maps)
        val d = dest(spec.name)
        decisions(spec.name) = decide(s, d, spec, decisions)
        if (mapNeeded(spec.name)) maps(spec.name) = idMapOf(s, d, spec, maps, maxId(d, spec.idCol))
        reportRow(spec, decisions(spec.name), None)
      }
    }.reduce(_ unionAll _)
  }

  private def modeLabel(mode: MergeMode): String = mode match {
    case MergeMode.Consolidate => "consolidate"
    case MergeMode.Move        => "move"
    case MergeMode.SharedPk(_) => "shared_pk"
    case MergeMode.Keyless     => "keyless"
  }

  /** Declarative exclusion set for one table (preparation.js:134): the
    * src ids that would NOT move because a dest row matches on the
    * spec's cross-instance identity (effectiveKey: naturalKey +
    * mappedKeys, the SAME composite the Move-mode id map uses — this
    * is exactly its is_new=0 side, exposed as an id list) OR, for a
    * Move spec, its uuid — the id map's rule. Specs with mappedKeys
    * need the parents' completed maps. */
  def excludedIds(src: DataFrame, dest: DataFrame, spec: TableSpec,
                  parentMaps: String => DataFrame =
                    name => sys.error(s"excludedIds: parent map for '$name' required by mappedKeys"))
  : DataFrame = {
    spec.mode match {
      case MergeMode.Keyless =>
        sys.error(s"excludedIds: keyless table '${spec.name}' has no ids to exclude")
      case MergeMode.SharedPk(p) =>
        // excluded iff the parent row did not move (patient loop shape)
        src.select(col(spec.idCol).cast(LongType).as("__id"))
          .join(parentMaps(p).filter(col("is_new") === 0).select(col("src_id").as("__id")),
            Seq("__id"), "left_semi")
          .select(col("__id").as(spec.idCol)).distinct()
      case _ =>
        val s = withMappedKeys(src, spec, parentMaps)
        val key = effectiveKey(spec)
        uuidLeg(spec) match {
          case Some(u) => MergeOps.excludeMoved(s, dest, key, u, spec.idCol)
          case None =>
            s.join(dest.select(key.map(col): _*).distinct(), key, "left_semi")
              .select(col(spec.idCol)).distinct()
        }
    }
  }

  /** UUID handling for moved rows (reference utils.js:55 config flag
    * `generateNewUuids`, uuid-checks.js:26 initial→final report).
    *
    * `generateNewUuids = false`: keep uuids, regenerate ONLY dest
    * collisions (the m3 semantics). `true`: regenerate EVERY moved
    * row's uuid. Either way the report lists every src row with its
    * initial and final uuid plus a `regenerated` flag — the reference's
    * per-table uuid report. Replacement uuids are md5-derived from the
    * old (deterministic: re-runs are idempotent, and the oracle can
    * reproduce them). */
  def uuidRemapReport(src: DataFrame, dest: DataFrame, idCol: String,
                      uuidCol: String, generateNewUuids: Boolean): DataFrame = {
    val fresh = MergeOps.formatUuid(md5(concat(lit("graft-remap:"), col(uuidCol))))
    if (generateNewUuids)
      src.select(col(idCol).cast(LongType).as("src_id"),
        col(uuidCol).as("initial_uuid"), fresh.as("final_uuid"),
        lit(1).as("regenerated"))
    else {
      // no forced broadcast: dest's distinct uuids are fact-sized at
      // the 100 TB target — size-based auto-broadcast decides
      val collided = dest.select(col(uuidCol)).distinct()
      src.join(collided.withColumn("__hit", lit(1)), Seq(uuidCol), "left")
        .select(col(idCol).cast(LongType).as("src_id"),
          col(uuidCol).as("initial_uuid"),
          when(col("__hit").isNotNull, fresh).otherwise(col(uuidCol)).as("final_uuid"),
          when(col("__hit").isNotNull, 1).otherwise(0).as("regenerated"))
    }
  }
}
