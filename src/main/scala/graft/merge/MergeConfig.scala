package graft.merge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.operators.{Overlap, State}
import graft.sources.AtomicSnapshot
import Orchestrator.{MergeMode, TableSpec}

/** The reference's USER surface, re-expressed: a JSON config describing
  * both instances and the table DAG, plus a `--dry-run` flag
  * (orchestrator.js:22-44, config.json). beehive aborts with an
  * aggregated error list when `source.location` or `generateNewUuids`
  * is missing — so does this loader.
  *
  * ```json
  * {
  *   "source":      {"path": "/data/instanceB", "location": "instanceB"},
  *   "destination": {"path": "/data/instanceA"},
  *   "output":      "/data/merged",
  *   "generateNewUuids": false,
  *   "tables": [
  *     {"name": "customer", "idCol": "c_custkey", "mode": "consolidate",
  *      "naturalKey": ["c_name"], "selfFks": ["referred_by"],
  *      "deferredFks": {"first_order": "orders"}},
  *     {"name": "orders", "idCol": "o_orderkey", "mode": "move",
  *      "naturalKey": ["o_orderkey"], "fks": {"o_custkey": "customer"}}
  *   ]
  * }
  * ```
  */
object MergeConfig {

  final case class Instance(path: String, location: String)

  final case class Config(
      source: Instance,
      destination: Instance,
      output: String,
      generateNewUuids: Boolean,
      tables: Seq[TableSpec],
      persist: Boolean)

  private implicit val formats: Formats = DefaultFormats

  /** Parse + validate. Aggregates every config error into one failure,
    * like the reference's initialErrors list (orchestrator.js:38-44). */
  def fromJson(json: String): Config = {
    val root = JsonMethods.parse(json)
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]

    def str(v: JValue, what: String): String = v match {
      case JString(s) if s.nonEmpty => s
      case _ => errors += s"Error: $what not specified in config"; ""
    }
    val srcPath = str(root \ "source" \ "path", "source.path")
    val srcLoc = str(root \ "source" \ "location", "source.location")
    val destPath = str(root \ "destination" \ "path", "destination.path")
    val output = str(root \ "output", "output")
    val genUuids = root \ "generateNewUuids" match {
      case JBool(b) => b
      case _ =>
        errors += "Error: generateNewUuids option must be explicitly set to true/false in config"
        false
    }
    val tables = root \ "tables" match {
      case JArray(ts) if ts.nonEmpty => ts.map(parseTable(_, errors))
      case _ => errors += "Error: tables not specified in config"; Nil
    }
    // persist is optional like the reference's `config.persist || false`
    val persist = (root \ "persist").extractOpt[Boolean].getOrElse(false)
    require(errors.isEmpty, errors.mkString("; "))
    Config(Instance(srcPath, srcLoc), Instance(destPath, ""), output, genUuids, tables, persist)
  }

  private def parseTable(t: JValue, errors: scala.collection.mutable.ArrayBuffer[String]): TableSpec = {
    val name = (t \ "name").extractOpt[String].getOrElse {
      errors += "Error: table without a name"; "?"
    }
    val mode = (t \ "mode").extractOpt[String] match {
      case Some("consolidate") => MergeMode.Consolidate
      case Some("move")        => MergeMode.Move
      case Some("shared_pk") => (t \ "sharedPkParent").extractOpt[String] match {
        case Some(p) => MergeMode.SharedPk(p)
        case None =>
          errors += s"Error: table '$name': mode shared_pk requires sharedPkParent"
          MergeMode.Move
      }
      case Some("keyless")     => MergeMode.Keyless
      case other =>
        errors += s"Error: table '$name': mode must be one of " +
          s"'consolidate', 'move', 'shared_pk', 'keyless', got $other"
        MergeMode.Move
    }
    val idCol = mode match {
      case MergeMode.Keyless =>
        // keyless tables HAVE no own id (gaac.js:100, the INSERT
        // carries none) — a declared idCol is a config contradiction
        (t \ "idCol").extractOpt[String].foreach { _ =>
          errors += s"Error: table '$name': keyless tables have no idCol"
        }
        ""
      case _ => (t \ "idCol").extractOpt[String].getOrElse {
        errors += s"Error: table '$name': idCol missing"; "?"
      }
    }
    val naturalKey = (t \ "naturalKey").extractOpt[Seq[String]].getOrElse(Nil)
    // consolidate/move match on it; shared_pk's identity is the
    // parent's and keyless's is optional (empty = append-all)
    if (naturalKey.isEmpty && (mode == MergeMode.Consolidate || mode == MergeMode.Move))
      errors += s"Error: table '$name': naturalKey missing"
    val selfFks = (t \ "selfFks").extractOpt[Seq[String]].getOrElse(Nil)
    val uuidCol = (t \ "uuidCol").extractOpt[String]
    val mappedKeys = (t \ "mappedKeys").extractOpt[Map[String, String]].getOrElse(Map.empty)
    val deferredFks = (t \ "deferredFks").extractOpt[Map[String, String]].getOrElse(Map.empty)
    // surface mode-incompatible fields as CONFIG errors (aggregated),
    // not as a TableSpec constructor throw mid-parse
    val broken = mode match {
      case MergeMode.Keyless if selfFks.nonEmpty || uuidCol.nonEmpty ||
          mappedKeys.nonEmpty || deferredFks.nonEmpty =>
        errors += s"Error: table '$name': keyless tables cannot declare " +
          "selfFks/uuidCol/mappedKeys/deferredFks"
        true
      case MergeMode.SharedPk(_) if uuidCol.nonEmpty || mappedKeys.nonEmpty =>
        errors += s"Error: table '$name': shared_pk identity is the parent's — " +
          "uuidCol/mappedKeys not allowed"
        true
      case _ => false
    }
    // fall back to a constructible placeholder when this table's
    // fields contradict its mode: fromJson aggregates every error and
    // fails before the spec is ever run, so the placeholder only needs
    // to satisfy TableSpec's invariants, not mean anything
    TableSpec(name, if (broken && idCol.isEmpty) "?" else idCol, naturalKey,
      if (broken) MergeMode.Move else mode,
      fks = (t \ "fks").extractOpt[Map[String, String]].getOrElse(Map.empty),
      selfFks = selfFks,
      uuidCol = uuidCol,
      mappedKeys = mappedKeys,
      deferredFks = deferredFks,
      saltedFks = (t \ "saltedFks").extractOpt[Map[String, Int]].getOrElse(Map.empty),
      // default ON: the hotShare guard (not the flag) decides whether
      // a table actually salts — "autoSaltFks": false is the opt-OUT
      autoSaltFks = (t \ "autoSaltFks").extractOpt[Boolean].getOrElse(true))
  }

  /** FK-relation AUTO-DISCOVERY from live database metadata — the
    * reference derives its integrity-check relation list from
    * `information_schema.key_column_usage` with no user declaration
    * (integrity-checks.js:66-75); the JDBC-portable equivalent is
    * `DatabaseMetaData.getImportedKeys`, which Derby, MySQL and
    * Postgres all serve from their catalogs. A user pointing graft at
    * an OpenMRS-sized schema should not hand-type ~80 FK edges the
    * database already knows.
    *
    * Only tables that declare NO relations at all (no fks, selfFks or
    * deferredFks) are filled in — an explicit declaration always wins,
    * because declarations also carry intent discovery cannot see
    * (deferred two-phase FKs for circular schemas, salted FKs).
    * Self-references become selfFks; references to tables OUTSIDE the
    * merge set are dropped (the merge cannot remap what it does not
    * merge — same scoping as the reference's `table_name IN (...)`
    * filter). Column/table names are matched case-insensitively and
    * lowercased, the [[graft.sources.Tables.jdbcTableAuto]]
    * convention for case-insensitive engines.
    *
    * Discovery accepts only the relation shape the merge layer can
    * remap: SINGLE-column FKs (grouped by FK_NAME/KEY_SEQ — a
    * composite FK remapped column-by-column through an id map would
    * corrupt silently) whose referenced column IS the parent's
    * declared idCol (an FK onto a non-id unique column has no id map
    * to ride). Anything else is skipped with a warning — declare it
    * by hand. Discovered cycles (the person↔patient shape real
    * schemas carry) are broken the way a hand-written config would:
    * the cycle-closing edge moves to deferredFks (two-phase update),
    * chosen deterministically (smallest table, then column). */
  /** Group raw `getImportedKeys` rows (fkName, keySeq, fkCol, pkTable,
    * pkCol) into one group per CONSTRAINT. Named rows group by
    * FK_NAME. UNNAMED rows (legal in some engines, surfaced as
    * null/empty FK_NAME) must NOT collapse into one pseudo-composite
    * group — that silently dropped N distinct single-column relations
    * as "composite". The JDBC contract orders the result set by
    * KEY_SEQ within each constraint, so for unnamed rows a KEY_SEQ
    * that does not continue the previous row's run (≤ it) starts a new
    * constraint: two unnamed single-column FKs arrive as KEY_SEQ 1,1 →
    * two groups; one unnamed composite arrives as 1,2 → one group. */
  private[graft] def groupFkRows(rows: Seq[(String, Int, String, String, String)])
  : Seq[Seq[(String, Int, String, String, String)]] = {
    val (named, unnamed) = rows.partition(_._1.nonEmpty)
    val namedGroups = named.groupBy(_._1).toSeq.sortBy(_._1).map(_._2)
    // Unnamed rows carry NO constraint identity, and getImportedKeys
    // orders by (PKTABLE, KEY_SEQ) — two unnamed COMPOSITE FKs to the
    // SAME parent interleave as 1,1,2,2, which no run-splitting
    // heuristic can regroup (a stray `1` fragment is indistinguishable
    // from a genuine single-column FK). Group by parent table first
    // (cross-parent rows can't interleave); within one parent, only
    // the all-KEY_SEQ=1 case is unambiguous (each row its own
    // single-column FK) — any KEY_SEQ>1 makes that parent's unnamed
    // set ambiguous -> one lump the caller's composite branch skips
    // with a warning, never a mis-registered fragment.
    val unnamedGroups = unnamed.groupBy(_._4).toSeq.sortBy(_._1).flatMap {
      case (_, rs) if rs.forall(_._2 == 1) => rs.map(Seq(_))
      case (_, rs)                         => Seq(rs)
    }
    namedGroups ++ unnamedGroups
  }

  def discoverFks(url: String, tables: Seq[TableSpec]): Seq[TableSpec] = {
    val known = tables.map(t => t.name.toLowerCase -> t).toMap
    val conn = java.sql.DriverManager.getConnection(url)
    val filled = try {
      val md = conn.getMetaData
      // (fkName, keySeq, fkColumn, pkTable, pkColumn) rows
      def imported(name: String): Seq[(String, Int, String, String, String)] = {
        val rs = md.getImportedKeys(null, null, name)
        val buf = scala.collection.mutable.ArrayBuffer
          .empty[(String, Int, String, String, String)]
        while (rs.next())
          buf += ((Option(rs.getString("FK_NAME")).getOrElse(""),
            rs.getInt("KEY_SEQ"), rs.getString("FKCOLUMN_NAME"),
            rs.getString("PKTABLE_NAME"), rs.getString("PKCOLUMN_NAME")))
        rs.close(); buf.toSeq
      }
      tables.map { t =>
        if (t.fks.nonEmpty || t.selfFks.nonEmpty || t.deferredFks.nonEmpty) t
        else {
          // unquoted identifiers are stored case-normalized (upper in
          // Derby, lower in Postgres) — probe as-declared, then folded
          val rows = Seq(t.name, t.name.toUpperCase, t.name.toLowerCase).distinct
            .iterator.map(imported).find(_.nonEmpty).getOrElse(Nil)
          def skip(why: String): Unit =
            System.err.println(s"[graft-merge] WARN ${t.name}: skipping discovered FK $why" +
              " — declare it by hand if it must be remapped")
          val usable = groupFkRows(rows).flatMap {
            case Seq((_, _, fkCol, pkTable, pkCol)) =>
              known.get(pkTable.toLowerCase) match {
                case None => None // parent outside the merge set
                case Some(parent) if !pkCol.equalsIgnoreCase(parent.idCol) =>
                  skip(s"$fkCol -> $pkTable($pkCol): references a non-idCol column"); None
                case Some(parent) => Some((fkCol.toLowerCase, parent.name))
              }
            case group =>
              skip(s"${group.head._1} (${group.map(_._3).mkString(",")}): composite"); None
          }
          val (selfRefs, others) = usable.partition(_._2.equalsIgnoreCase(t.name))
          t.copy(fks = others.toMap, selfFks = selfRefs.map(_._1).distinct)
        }
      }
    } finally conn.close()
    val discovered = tables.filter(t =>
      t.fks.isEmpty && t.selfFks.isEmpty && t.deferredFks.isEmpty).map(_.name).toSet
    breakDiscoveredCycles(filled, discovered)
  }

  /** Discovered FK graphs may be cyclic (live schemas carry circular
    * references; a declared config routes one edge of each cycle
    * through deferredFks — the two-phase mechanism built for exactly
    * this). Mirror that choice automatically, but ONLY for edges
    * discovery itself added: while the fks graph has a cycle whose
    * tables include a discovery-filled one, move that table's
    * smallest cycle-internal fk to deferredFks. A cycle purely among
    * hand-declared specs is a config error and still fails loudly in
    * topoOrder. */
  private[graft] def breakDiscoveredCycles(specs0: Seq[TableSpec],
                                           discovered: Set[String]): Seq[TableSpec] = {
    var specs = specs0
    val names = specs0.map(_.name).toSet
    // true CYCLE membership (self-reachability over parent edges) —
    // NOT the Kahn leftover, which also contains every table merely
    // DOWNSTREAM of a cycle and must not get its edges deferred
    def cycleCore(ss: Seq[TableSpec]): Set[String] = {
      val parentsOf = ss.map(s => s.name -> s.parents.filter(names).toSet).toMap
      def reach(from: String): Set[String] = {
        var seen = Set.empty[String]
        var frontier = parentsOf(from)
        while (frontier.nonEmpty) {
          seen ++= frontier
          frontier = frontier.flatMap(parentsOf(_)).diff(seen)
        }
        seen
      }
      ss.map(_.name).filter(n => reach(n)(n)).toSet
    }
    var core = cycleCore(specs)
    var breakable = true
    while (core.nonEmpty && breakable) {
      // a discovery-filled CORE table with a core-internal DISCOVERED
      // fk; a cycle closed only by declared edges (mappedKeys,
      // declared fks) is a config error and falls through to
      // topoOrder's loud report
      specs.filter(s => core(s.name) && discovered(s.name))
        .sortBy(_.name)
        .flatMap(t => t.fks.filter { case (_, p) => core(p) }.toSeq.sorted.headOption
          .map(e => (t, e))).headOption match {
        case Some((t, (c, parent))) =>
          System.err.println(s"[graft-merge] discovered FK cycle: deferring " +
            s"${t.name}.$c -> $parent (two-phase update)")
          specs = specs.map(s => if (s.name == t.name)
            s.copy(fks = s.fks - c, deferredFks = s.deferredFks + (c -> parent)) else s)
          core = cycleCore(specs)
        case None => breakable = false
      }
    }
    specs
  }

  /** Execute a parsed config: dry-run returns the rehearsal report
    * WITHOUT writing (orchestrator.js:26); a real run publishes every
    * merged table atomically under `output/<table>` (the COMMIT
    * analogue) plus, when the spec declares a uuid column, the
    * initial→final uuid report under `output/<table>__uuid_report`
    * (uuid-checks.js:26; every-row regeneration when
    * `generateNewUuids`, utils.js:55). Returns the per-table report —
    * (table_name, mode, src_rows, already_in_dest, would_insert) —
    * either way: each table's one match decision, counted by one
    * function, so the dry run and the real run report the same numbers
    * for every mode.
    *
    * Source-once guard (preparation.js:71-75): a location already in
    * the `_merge_sources` registry must not merge twice — the
    * reference throws `Location X already processed`. With
    * `persist = true` each table's src→dest id map is also published
    * durably (`output/<table>__idmap`, preparation.js:53 — the
    * reference's beehive_merge_* map tables), the 100 TB answer to
    * per-consumer map recomputation.
    *
    * A run is two waves. Every src and dest reader opens once,
    * concurrently, after the source-once guard and before the first
    * action on the instances (the dry run's too). Then one read-only
    * wave runs at once: the integrity gate, the skew audits and every
    * id map ([[Orchestrator.idMaps]]: a DAG over map dependencies, one
    * cut per map). Nothing is written before the gate passes, and a
    * violation is reported even when an id map failed beside it. The
    * gate does not stop the maps: a violation is thrown once the wave
    * has finished, and the maps it cut are released first. Then the
    * outputs — merged tables, uuid reports, id maps
    * — are independent writes and publish concurrently (a `jdbc:`
    * output one at a time), beside the report's cut to the driver.
    *
    * A `jdbc:` output writes every merged table INTO the live
    * database instead (the reference's actual shape — it inserts
    * straight into the destination MySQL): each table lands via
    * [[graft.sources.Tables.JdbcSink]] batched-transactional
    * overwrite, and the provenance registry is the
    * `graft_merge_sources` table (named like the reference's
    * beehive_merge_* bookkeeping tables; no underscore prefix — that
    * convention is parquet-specific, and a leading underscore is not
    * a portable unquoted SQL identifier). Crash semantics match the
    * parquet path's argument rather than the reference's single-
    * connection ROLLBACK (a distributed write has no global txn):
    * provenance is recorded LAST, after every output has finished
    * publishing, so a mid-run crash leaves the source unrecorded and
    * the rerun's overwrites repair every partially-written table. */
  /** Canonical form of a store path for identity comparison: JDBC
    * URLs compare verbatim; filesystem paths are stripped of trailing
    * slashes and URI-normalized (dot segments, duplicate separators)
    * so every spelling of the same directory triggers the sameStore
    * cut in [[execute]]. */
  private[graft] def canonicalStore(p: String): String =
    if (p.startsWith("jdbc:")) p
    else new org.apache.hadoop.fs.Path(
      p.reverse.dropWhile(_ == '/').reverse match { case "" => "/"; case s => s }
    ).toUri.normalize.toString

  /** m32's operational surface over a COMMITTED merge: the
    * reverse-topological deletion plan derived from the PUBLISHED id
    * maps (`output/<table>__idmap` — a `persist = true` run's
    * artifacts), executing nothing. One row per table:
    * (step, table_name, n_delete, n_unmap_only) — children delete
    * before parents (m26's cascade direction), deletions are exactly
    * the rows the merge INSERTED (is_new = 1; mapped_to_existing rows
    * pre-existed and must survive). Reading the merge's own artifacts
    * — never re-diffing the destination — keeps the plan correct even
    * after later unrelated writes. Fails loudly when an id map is
    * missing: a rollback plan over a partial artifact set would
    * silently under-delete.
    *
    * Keyless tables get an explicit UNKNOWN marker row (counts = -1,
    * `note` says why): a keyless merge publishes a structurally EMPTY
    * id map ([[Orchestrator]]'s emptyIdMap — its inserted rows carry
    * no identifiable id), so an agg over it yields NULL counts and the
    * plan would silently claim "nothing to delete" — the exact
    * under-delete hazard the missing-map guard exists to stop, slipped
    * in through a map that EXISTS but cannot answer. The operator
    * rolls a keyless table back from the pre-merge snapshot (or by
    * source-row fingerprint), never by id list. */
  def rollbackPlan(spark: SparkSession, cfg: Config): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, sum, when}
    val tables =
      if (cfg.source.path.startsWith("jdbc:")) discoverFks(cfg.source.path, cfg.tables)
      else cfg.tables
    val order = Orchestrator.topoOrder(tables)
    val n = order.size
    def idMapOf(name: String): DataFrame =
      if (cfg.output.startsWith("jdbc:"))
        spark.read.format("jdbc").option("url", cfg.output)
          .option("dbtable", s"${name}__idmap").load()
      else graft.sources.Tables.parquet(spark, s"${cfg.output}/${name}__idmap.parquet")
    order.zipWithIndex.map { case (spec, i) =>
      if (spec.mode == MergeMode.Keyless)
        spark.range(1).select(
          lit((n - i).toLong).as("step"), lit(spec.name).as("table_name"),
          lit(-1L).as("n_delete"), lit(-1L).as("n_unmap_only"),
          lit("keyless: inserted rows not identifiable from the id map; " +
            "restore from the pre-merge snapshot").as("note"))
      else {
        val m = try idMapOf(spec.name) catch {
          case e: Exception => throw new IllegalStateException(
            s"rollback plan needs the published id map for '${spec.name}' " +
              s"(run the merge with persist = true): ${e.getMessage}", e)
        }
        // coalesce: an EMPTY keyed map (zero src rows) means 0 to
        // delete — a NULL count reads as "unknown" and -1 is reserved
        // for the keyless marker above
        m.agg(
            coalesce(sum(when(col("is_new") === 1, 1L).otherwise(0L)), lit(0L))
              .as("n_delete"),
            coalesce(sum(when(col("is_new") === 0, 1L).otherwise(0L)), lit(0L))
              .as("n_unmap_only"))
          .select(lit((n - i).toLong).as("step"), lit(spec.name).as("table_name"),
            col("n_delete"), col("n_unmap_only"), lit("").as("note"))
      }
    }.reduce(_ unionAll _).orderBy("step")
  }

  def execute(spark: SparkSession, cfg: Config, dryRun: Boolean): DataFrame = {
    // an instance path starting with "jdbc:" is a LIVE database (the
    // reference's whole I/O surface is MySQL — connection.js:1): each
    // table is read through the auto-partitioned JDBC source, range-
    // split on its declared idCol so no single connection is the straw
    // the data passes through. Anything else is a parquet directory.
    // A live source also feeds [[discoverFks]]: tables declaring no
    // relations inherit the database's own FK metadata, so the
    // zero-declaration config the reference supports works here too.
    val tables =
      if (cfg.source.path.startsWith("jdbc:")) discoverFks(cfg.source.path, cfg.tables)
      else cfg.tables
    val idColOf = tables.map(t => t.name -> t.idCol).toMap
    // a mis-declared DAG fails before any reader opens
    val order = Orchestrator.topoOrder(tables)
    // every src and dest reader, opened once and concurrently before the
    // first action on the instances: opening one can itself be a job
    // (parquet schema inference, on a file listing `Tables.parquet` has
    // not seen) or an EAGER driver-side bounds query (jdbcTableAuto),
    // and the gate, the audits, the id maps, the uuid reports and the
    // dry run all re-read the same tables
    def openReaders(): (String => DataFrame, String => DataFrame) = {
      val readers = Overlap.map(for (base <- Seq(cfg.source.path, cfg.destination.path);
                                     t <- tables) yield (base, t.name)) { case (base, name) =>
        (base, name) ->
          (if (base.startsWith("jdbc:"))
            graft.sources.Tables.jdbcTableAuto(spark, base, name, idColOf.get(name))
          else graft.sources.Tables.parquet(spark, s"$base/$name.parquet"))
      }.toMap
      (name => readers((cfg.source.path, name)), name => readers((cfg.destination.path, name)))
    }
    if (dryRun) {
      val (src, dest) = openReaders()
      Orchestrator.dryRun(tables, src, dest)
    } else {
      import spark.implicits._
      import org.apache.spark.sql.functions.{col, when}
      val jdbcOut = cfg.output.startsWith("jdbc:")
      // when the output IS the destination store (the reference's
      // in-place deployment; the sequential multi-source mode merges
      // each source INTO the previous merge's output), publishing
      // table A mutates data that table B's still-lazy plan reads —
      // drop-and-recreate on JDBC, rename-swap on parquet. Under
      // sameStore every merged table and uuid report is cut below
      // before the first publish runs. Compare NORMALIZED forms, not
      // raw strings — a trailing slash or dot-segment spelling of the
      // same directory would silently disable the cut and let a
      // rename-swap publish corrupt a sibling table's lazy plan
      // (AtomicSnapshot/Compaction normalize the same hazard class).
      val sameStore = canonicalStore(cfg.output) == canonicalStore(cfg.destination.path)
      def pin(df: DataFrame): DataFrame = if (sameStore) State.cut(df) else df
      // per-output progress to stderr as each output COMMITS — the
      // reference's display-utils/logOk surface (a long multi-table
      // merge is otherwise silent between Spark job lines); stderr so
      // MergeMain's stdout report lines stay machine-readable
      // ASCII marker: the JVM's default console charset mangles
      // non-ASCII on plain terminals
      def logOk(msg: String): Unit = System.err.println(s"[graft-merge] OK $msg")
      def publish(df: DataFrame, name: String): Unit = {
        val t0 = System.nanoTime()
        if (jdbcOut) graft.sources.Tables.JdbcSink(cfg.output, name).save(df, "overwrite")
        // `.parquet` suffix = the instance READER's naming, so a
        // published output dir is directly usable as the next merge's
        // destination (the reference's sequential multi-source mode)
        else AtomicSnapshot.publish(df, s"${cfg.output}/$name.parquet")
        logOk(f"$name: published in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      }
      val registryName = if (jdbcOut) "graft_merge_sources" else "_merge_sources"
      val processed =
        if (jdbcOut)
          try spark.read.format("jdbc").option("url", cfg.output)
            .option("dbtable", registryName).load()
            .select("location").as[String].collect().toSet
          catch { case e: Exception =>
            // only a MISSING registry table means first-ever merge; an
            // unreachable database must ABORT — treating it as empty
            // would lapse the source-once guard and the rewritten
            // registry would erase prior provenance. Probe: if the DB
            // answers a fresh connection, the failure was the table.
            try java.sql.DriverManager.getConnection(cfg.output).close()
            catch { case _: Exception => throw e }
            Set.empty[String]
          }
        else AtomicSnapshot.readCurrent(spark, s"${cfg.output}/$registryName.parquet")
          // pre-`.parquet`-suffix layouts wrote the registry at the
          // bare name; ignoring it would lapse the source-once guard
          // (a re-run would re-merge an already-processed source) and
          // overwrite its provenance — fall back to the legacy path
          .orElse(AtomicSnapshot.readCurrent(spark, s"${cfg.output}/$registryName"))
          .map(_.as[String].collect().toSet).getOrElse(Set.empty)
      if (processed(cfg.source.location))
        throw new IllegalStateException(s"Location ${cfg.source.location} already processed")
      val (src, dest) = openReaders()
      // integrity gate BEFORE any write — the reference's
      // integrity-checks.js precedes every mover and hard-aborts;
      // without it the inner_or_null FK remap silently DROPS src rows
      // whose non-null FK dangles. Every declared relation class is
      // checked (fks, mappedKeys, self and deferred FKs — orphanCheck
      // only counts NON-NULL broken references, so nullable classes
      // gate their genuinely-dangling values and nothing else).
      val relations = tables.flatMap { t =>
        (t.fks.toSeq ++ t.mappedKeys.toSeq ++ t.deferredFks.toSeq ++
          t.selfFks.map(_ -> t.name)).map { case (fk, parent) =>
          (s"${t.name}.$fk->$parent", src(t.name), fk, src(parent), idColOf(parent))
        }
      }
      // the read-only wave: the gate, the skew audits that fill
      // saltedFks (default-ON: only provably-hot relations salt;
      // "autoSaltFks": false opts a table out) and every id map
      // (Orchestrator.idMaps: one cut each) read only the instances, and
      // run at once. Each keeps its own outcome, so the gate's verdict
      // is never lost to another item's failure.
      val (gate, audited, built) = Overlap.settle(
        if (relations.isEmpty) Nil else MergeOps.orphanCheck(relations)
          .filter(col("orphan_count") > 0).collect()
          .map(r => (r.getAs[String]("relation"), r.getAs[Long]("orphan_count"))).toSeq,
        Orchestrator.autoSaltFks(tables, src),
        Orchestrator.idMaps(tables, src, dest))
      // the gate first: an orphaned FK must not hide behind a failed id
      // map (a NULL id on a row to insert). The maps already built are
      // released: nothing will read them.
      val orphans = gate.get
      if (orphans.nonEmpty) {
        built.foreach(_.values.foreach(State.release))
        throw MergePipeline.IntegrityViolation(orphans)
      }
      val results = Orchestrator.run(audited.get, src, dest, cfg.source.location, built.get)
      val tMergeAll = System.nanoTime()
      // BUILD every output frame, and under sameStore cut it, before
      // the FIRST publish: merged tables and uuid reports lazily re-read
      // live destination tables, and a drop-and-recreate of table A
      // must not corrupt table B's not-yet-materialized plan. The id
      // maps need no cut here: they are materialized already.
      val outputs = tables.map { spec =>
        // the uuid report is not just documentation: moved rows are
        // PUBLISHED with their final uuids (collision repairs in keep
        // mode, every moved row under generateNewUuids) — dest rows
        // keep theirs. Join on the lineage id; rows without a report
        // entry (none in practice — the report covers all src rows)
        // keep their uuid via coalesce.
        val (merged, uuidReport) = spec.uuidCol match {
          case Some(u) =>
            val report = pin(Orchestrator.uuidRemapReport(src(spec.name), dest(spec.name),
              spec.idCol, u, cfg.generateNewUuids))
            import org.apache.spark.sql.functions.coalesce
            // unique aliases: the report's src_id would otherwise
            // collide with the lineage column src_<idCol> when
            // idCol == "id", and drop() removes ALL same-named columns.
            // No forced broadcast: the report has one row per SRC row —
            // fact-sized at the 100 TB target — so the join strategy is
            // left to size-based auto-broadcast (remapFk convention)
            val finals = report.select(col("src_id").as("__uuid_src"),
              col("final_uuid").as("__uuid_final"))
            val m = results(spec.name).merged
            (m.join(finals,
                m(s"src_${spec.idCol}") === finals("__uuid_src") && m("instance") === "src", "left")
              .withColumn(u, when(col("instance") === "src",
                coalesce(col("__uuid_final"), col(u))).otherwise(col(u)))
              .drop("__uuid_src", "__uuid_final"), Some(report))
          case None => (results(spec.name).merged, None)
        }
        (spec, pin(merged), uuidReport,
          if (cfg.persist) Some(results(spec.name).idMap) else None)
      }
      // the report counts the decisions the run JUST made, by the same
      // function as the dry run — no second pass over src/dest (under
      // sameStore it is pinned above the first publish like every
      // output, so it never reads post-overwrite tables). Its cut to the
      // driver is one more item below: the caller's collect then runs no
      // job.
      val report = pin(Orchestrator.report(order.map(t => t -> results(t.name).counted)))
      // the report's cut and every uuid report, merged table and id map
      // publish are independent, so they run concurrently. A JDBC output
      // keeps one in flight: concurrent drop-and-recreate DDL on the
      // embedded engines is untested. A failed publish lets the running
      // ones finish and starts no other before it is rethrown.
      val cutReport = Overlap.map((() => Some(State.cutToDriver(report))) +:
        outputs.flatMap { case (spec, merged, uuidReport, idMap) =>
          Seq[() => Option[DataFrame]](
            () => { uuidReport.foreach(publish(_, s"${spec.name}__uuid_report")); None },
            () => { publish(merged, spec.name); None },
            () => { idMap.foreach(publish(_, s"${spec.name}__idmap")); None })
        }, maxThreads = if (jdbcOut) 1 else 8)(_()).flatten.head
      logOk(f"${tables.size} tables from '${cfg.source.location}' merged in " +
        f"${(System.nanoTime() - tMergeAll) / 1e9}%.1f s")
      // record provenance LAST, after every publish above has finished
      // — a crash above leaves the source unrecorded and the run safely
      // repeatable (orchestrator.js:94)
      publish(
        (processed + cfg.source.location).toSeq.sorted.toDF("location"), registryName)
      cutReport
    }
  }
}

/** CLI: `runMain graft.merge.MergeMain <config.json> [--dry-run]` —
  * the reference's `node orchestrator.js [--dry-run]`. Runs on
  * [[graft.GraftSession]] at `SPARK_MASTER` (default: local, all cores). */
object MergeMain {
  /** The CLI body minus session lifecycle: parse argv, load the
    * config, execute it (or print the rollback plan), print the
    * per-table report lines. Split from main() so the integration
    * spec can drive the EXACT argv surface on the shared test session
    * (main would stop it). Returns the printed lines.
    *
    * `--rollback-plan` is the m32 operational surface (the dry-run
    * ergonomics of orchestrator.js:26 applied to the UNDO direction):
    * it reads the merge's PUBLISHED id maps and prints the
    * reverse-topological deletion table, executing nothing. */
  def run(args: Array[String], spark: SparkSession): Seq[String] = {
    val dryRun = args.contains("--dry-run")
    val rollback = args.contains("--rollback-plan")
    val cfgPath = args.filterNot(_.startsWith("--")).headOption
      .getOrElse(sys.error("usage: MergeMain <config.json> [--dry-run|--rollback-plan]"))
    val cfg = MergeConfig.fromJson(
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(cfgPath)), "UTF-8"))
    val report =
      if (rollback) MergeConfig.rollbackPlan(spark, cfg)
      else MergeConfig.execute(spark, cfg, dryRun)
    val lines = report.collect().map(_.mkString("\t")).toSeq
    lines.foreach(println)
    lines
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession(
      sys.env.getOrElse("SPARK_MASTER", s"local[${Runtime.getRuntime.availableProcessors}]"))
    try run(args, spark)
    finally spark.stop()
  }
}
