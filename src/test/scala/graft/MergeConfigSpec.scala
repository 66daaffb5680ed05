package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.merge.{MergeConfig, MergeMain, Orchestrator}
import graft.merge.Orchestrator.MergeMode

/** The config-driven user surface: JSON → TableSpec DAG → executed
  * merge with atomic outputs; validation aggregates errors like the
  * reference's initialErrors list. */
class MergeConfigSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def writeInstances(): (String, String, String) = {
    val base = java.nio.file.Files.createTempDirectory("graft-cfg").toString
    val (srcDir, destDir, outDir) = (s"$base/src", s"$base/dest", s"$base/out")
    Seq((1L, "alpha", "u1"), (2L, "beta", "u2"))
      .toDF("id", "name", "uuid").write.parquet(s"$srcDir/parent.parquet")
    Seq((10L, "alpha", "u1"), (11L, "gamma", "u3"))
      .toDF("id", "name", "uuid").write.parquet(s"$destDir/parent.parquet")
    Seq((100L, 1L, "x"), (101L, 2L, "y"))
      .toDF("id", "parent_id", "payload").write.parquet(s"$srcDir/child.parquet")
    Seq((500L, 10L, "x"))
      .toDF("id", "parent_id", "payload").write.parquet(s"$destDir/child.parquet")
    (srcDir, destDir, outDir)
  }

  private def configJson(srcDir: String, destDir: String, outDir: String,
                         genUuids: Boolean, persist: Boolean = false): String =
    s"""{
       |  "source": {"path": "$srcDir", "location": "instanceB"},
       |  "destination": {"path": "$destDir"},
       |  "output": "$outDir",
       |  "generateNewUuids": $genUuids,
       |  "persist": $persist,
       |  "tables": [
       |    {"name": "parent", "idCol": "id", "mode": "consolidate",
       |     "naturalKey": ["name"], "uuidCol": "uuid"},
       |    {"name": "child", "idCol": "id", "mode": "move",
       |     "naturalKey": ["payload"], "fks": {"parent_id": "parent"}}
       |  ]
       |}""".stripMargin

  test("fromJson parses the full table DAG") {
    val cfg = MergeConfig.fromJson(configJson("/s", "/d", "/o", genUuids = true))
    assert(cfg.generateNewUuids)
    assert(cfg.source.location == "instanceB")
    val byName = cfg.tables.map(t => t.name -> t).toMap
    assert(byName("parent").mode == MergeMode.Consolidate)
    assert(byName("parent").uuidCol.contains("uuid"))
    assert(byName("child").fks == Map("parent_id" -> "parent"))
    // deferredFks (the cycle-breaking column class) round-trips too
    val cyc = MergeConfig.fromJson(
      configJson("/s", "/d", "/o", genUuids = true).replace(
        """"naturalKey": ["name"], "uuidCol": "uuid"""",
        """"naturalKey": ["name"], "uuidCol": "uuid", "deferredFks": {"fav_child": "child"}"""))
    assert(cyc.tables.find(_.name == "parent").get.deferredFks == Map("fav_child" -> "child"))
    // the skew knobs round-trip: explicit buckets, and the audit is
    // default-ON (the hotShare guard decides) with an explicit opt-OUT
    val sk = MergeConfig.fromJson(
      configJson("/s", "/d", "/o", genUuids = true).replace(
        """"fks": {"parent_id": "parent"}""",
        """"fks": {"parent_id": "parent"}, "saltedFks": {"parent_id": 8}, "autoSaltFks": false"""))
    assert(sk.tables.find(_.name == "child").get.saltedFks == Map("parent_id" -> 8))
    assert(!sk.tables.find(_.name == "child").get.autoSaltFks,
      """"autoSaltFks": false must opt the table out""")
    assert(cyc.tables.find(_.name == "child").get.autoSaltFks,
      "the audit guard defaults ON when the flag is absent")
  }

  test("fromJson parses shared_pk and keyless modes; mode-contradicting fields are config errors") {
    val cfg = MergeConfig.fromJson(
      """{"source": {"path": "/s", "location": "inst"}, "destination": {"path": "/d"},
        | "output": "/o", "generateNewUuids": false,
        | "tables": [
        |  {"name": "person", "idCol": "person_id", "mode": "consolidate", "naturalKey": ["name"]},
        |  {"name": "patient", "idCol": "patient_id", "mode": "shared_pk",
        |   "sharedPkParent": "person"},
        |  {"name": "user_role", "mode": "keyless", "naturalKey": ["user_id", "role"],
        |   "fks": {"user_id": "person"}},
        |  {"name": "gaac_member", "mode": "keyless", "fks": {"member_id": "person"}}
        | ]}""".stripMargin)
    val byName = cfg.tables.map(t => t.name -> t).toMap
    assert(byName("patient").mode == MergeMode.SharedPk("person"))
    assert(byName("patient").naturalKey.isEmpty)
    assert(byName("user_role").mode == MergeMode.Keyless)
    assert(byName("user_role").idCol.isEmpty)
    assert(byName("gaac_member").naturalKey.isEmpty) // append-all shape

    def errs(tables: String): String =
      intercept[IllegalArgumentException](MergeConfig.fromJson(
        s"""{"source": {"path": "/s", "location": "i"}, "destination": {"path": "/d"},
           | "output": "/o", "generateNewUuids": false, "tables": [$tables]}""".stripMargin))
        .getMessage
    assert(errs("""{"name": "p", "idCol": "id", "mode": "shared_pk", "naturalKey": ["n"]}""")
      .contains("requires sharedPkParent"))
    assert(errs("""{"name": "ur", "idCol": "id", "mode": "keyless"}""")
      .contains("keyless tables have no idCol"))
    assert(errs("""{"name": "ur", "mode": "keyless", "selfFks": ["x"]}""")
      .contains("cannot declare"))
    assert(errs("""{"name": "p", "idCol": "id", "mode": "shared_pk",
                   | "sharedPkParent": "q", "uuidCol": "u"}""".stripMargin)
      .contains("identity is the parent's"))
  }

  test("validation aggregates every error like the reference's initialErrors") {
    val ex = intercept[IllegalArgumentException] {
      MergeConfig.fromJson("""{"tables": [{"name": "t"}]}""")
    }
    val msg = ex.getMessage
    assert(msg.contains("source.location"))
    assert(msg.contains("generateNewUuids"))
    assert(msg.contains("idCol"))
    assert(msg.contains("naturalKey"))
  }

  test("dry-run reports counts and writes NOTHING; real run publishes atomically") {
    val (srcDir, destDir, outDir) = writeInstances()
    val cfg = MergeConfig.fromJson(configJson(srcDir, destDir, outDir, genUuids = false))

    val dry = MergeConfig.execute(spark, cfg, dryRun = true).collect()
      .map(r => r.getAs[String]("table_name") -> r.getAs[Long]("would_insert")).toMap
    assert(dry == Map("parent" -> 1L, "child" -> 1L)) // beta + the "y" child
    assert(!new java.io.File(outDir).exists())

    MergeConfig.execute(spark, cfg, dryRun = false)
    val parent = spark.read.parquet(s"$outDir/parent.parquet").collect()
    assert(parent.length == 3) // 2 dest + 1 new (beta → id 12)
    val beta = parent.find(_.getAs[String]("name") == "beta").get
    assert(beta.getAs[Long]("id") == 12L)
    assert(beta.getAs[String]("merge_source") == "instanceB")
    val child = spark.read.parquet(s"$outDir/child.parquet").collect()
    // "x" child already in dest; "y" child moved with parent_id 2→12
    assert(child.length == 2)
    val y = child.find(_.getAs[String]("payload") == "y").get
    assert(y.getAs[Long]("parent_id") == 12L && y.getAs[Long]("id") == 501L)
    // uuid report exists for parent (declared uuidCol), collision mode:
    // only u1 (shared with dest) regenerated
    val rep = spark.read.parquet(s"$outDir/parent__uuid_report.parquet").collect()
      .map(r => r.getAs[String]("initial_uuid") -> r.getAs[Int]("regenerated")).toMap
    assert(rep == Map("u1" -> 1, "u2" -> 0))
  }

  test("dry run and real run report the same five columns for every mode") {
    val base = java.nio.file.Files.createTempDirectory("graft-cfg-modes").toString
    val (srcDir, destDir, outDir) = (s"$base/src", s"$base/dest", s"$base/out")
    def write(dir: String, name: String, df: org.apache.spark.sql.DataFrame): Unit =
      df.write.parquet(s"$dir/$name.parquet")
    // location: src 3 shares a uuid with dest 11 but not a name, which a
    // Consolidate table does not match on
    write(srcDir, "location", Seq((1L, "north", "u1"), (2L, "south", "u2"), (3L, "east", "u9"))
      .toDF("location_id", "name", "uuid"))
    write(destDir, "location", Seq((10L, "north", "u1"), (11L, "west", "u9"))
      .toDF("location_id", "name", "uuid"))
    // customer: ann matches on name, cat on uuid, bob is new; a self FK
    // and a deferred FK onto orders close the customer <-> orders cycle
    write(srcDir, "customer", Seq(
        (1L, "ann", 1L, None, Some(100L), "c1"), (2L, "bob", 2L, Some(1L), Some(101L), "c2"),
        (3L, "cat", 3L, Some(2L), None, "cx"))
      .toDF("c_custkey", "c_name", "c_locationkey", "referred_by", "first_order", "cuuid"))
    val none = Option.empty[Long]
    write(destDir, "customer", Seq(
        (20L, "ann", 10L, none, none, "d1"), (21L, "dan", 11L, none, none, "cx"))
      .toDF("c_custkey", "c_name", "c_locationkey", "referred_by", "first_order", "cuuid"))
    write(srcDir, "orders", Seq((100L, "r1", 1L), (101L, "r2", 2L), (102L, "r3", 3L))
      .toDF("o_orderkey", "o_ref", "o_custkey"))
    write(destDir, "orders", Seq((200L, "r1", 20L)).toDF("o_orderkey", "o_ref", "o_custkey"))
    write(srcDir, "customer_profile", Seq((1L, "p1"), (2L, "p2"), (3L, "p3"))
      .toDF("c_custkey", "bio"))
    write(destDir, "customer_profile", Seq((20L, "p0")).toDF("c_custkey", "bio"))
    // keyless: (100, a) lands as (200, a), already in dest, and twice in
    // the batch; (101, b) is duplicated within the batch
    write(srcDir, "order_tag", Seq((100L, "a", "n1"), (100L, "a", "n2"), (101L, "b", "n3"),
        (101L, "b", "n4"), (102L, "c", "n5")).toDF("o_orderkey", "tag", "note"))
    write(destDir, "order_tag", Seq((200L, "a", "n0")).toDF("o_orderkey", "tag", "note"))
    val cfg = MergeConfig.fromJson(
      s"""{
         |  "source": {"path": "$srcDir", "location": "instanceB"},
         |  "destination": {"path": "$destDir"},
         |  "output": "$outDir",
         |  "generateNewUuids": false,
         |  "tables": [
         |    {"name": "location", "idCol": "location_id", "mode": "consolidate",
         |     "naturalKey": ["name"], "uuidCol": "uuid"},
         |    {"name": "customer", "idCol": "c_custkey", "mode": "move",
         |     "naturalKey": ["c_name"], "uuidCol": "cuuid",
         |     "fks": {"c_locationkey": "location"}, "selfFks": ["referred_by"],
         |     "deferredFks": {"first_order": "orders"}},
         |    {"name": "orders", "idCol": "o_orderkey", "mode": "move",
         |     "naturalKey": ["o_ref"], "fks": {"o_custkey": "customer"}},
         |    {"name": "customer_profile", "idCol": "c_custkey", "mode": "shared_pk",
         |     "sharedPkParent": "customer"},
         |    {"name": "order_tag", "mode": "keyless", "naturalKey": ["o_orderkey", "tag"],
         |     "fks": {"o_orderkey": "orders"}}
         |  ]
         |}""".stripMargin)
    def rows(dryRun: Boolean) = MergeConfig.execute(spark, cfg, dryRun).collect()
      .map(r => r.getAs[String]("table_name") -> ((r.getAs[String]("mode"),
        r.getAs[Long]("src_rows"), r.getAs[Long]("already_in_dest"), r.getAs[Long]("would_insert"))))
      .toMap
    val dry = rows(dryRun = true)
    assert(dry == Map(
      "location" -> (("consolidate", 3L, 1L, 2L)),
      "customer" -> (("move", 3L, 2L, 1L)),
      "orders" -> (("move", 3L, 1L, 2L)),
      "customer_profile" -> (("shared_pk", 3L, 2L, 1L)),
      "order_tag" -> (("keyless", 5L, 1L, 2L))))
    assert(rows(dryRun = false) == dry)
  }

  test("an empty src table reports its row of zeros, in table order, in both runs") {
    val base = java.nio.file.Files.createTempDirectory("graft-cfg-empty").toString
    val (srcDir, destDir, outDir) = (s"$base/src", s"$base/dest", s"$base/out")
    Seq((1L, "alpha", "u1"), (2L, "beta", "u2"))
      .toDF("id", "name", "uuid").write.parquet(s"$srcDir/parent.parquet")
    Seq((10L, "alpha", "u1"), (11L, "gamma", "u3"))
      .toDF("id", "name", "uuid").write.parquet(s"$destDir/parent.parquet")
    // child has no src rows at all
    Seq.empty[(Long, Long, String)]
      .toDF("id", "parent_id", "payload").write.parquet(s"$srcDir/child.parquet")
    Seq((500L, 10L, "x"))
      .toDF("id", "parent_id", "payload").write.parquet(s"$destDir/child.parquet")
    val cfg = MergeConfig.fromJson(configJson(srcDir, destDir, outDir, genUuids = false))
    def rows(dryRun: Boolean) = MergeConfig.execute(spark, cfg, dryRun).collect()
      .map(r => (r.getAs[String]("table_name"), r.getAs[String]("mode"),
        r.getAs[Long]("src_rows"), r.getAs[Long]("already_in_dest"), r.getAs[Long]("would_insert")))
      .toSeq
    val want = Seq(("parent", "consolidate", 2L, 1L, 1L), ("child", "move", 0L, 0L, 0L))
    assert(rows(dryRun = true) == want)
    assert(rows(dryRun = false) == want)
  }

  test("source-once guard: re-merging a processed location throws; persist publishes id maps") {
    val (srcDir, destDir, outDir) = writeInstances()
    val cfg = MergeConfig.fromJson(
      configJson(srcDir, destDir, outDir, genUuids = true, persist = true))
    MergeConfig.execute(spark, cfg, dryRun = false)
    // persist=true → durable id maps (the reference's beehive_merge_* tables)
    val pmap = spark.read.parquet(s"$outDir/parent__idmap.parquet").collect()
      .map(r => r.getAs[Long]("src_id") -> r.getAs[Long]("dest_id")).toMap
    assert(pmap == Map(1L -> 10L, 2L -> 12L))
    // generateNewUuids=true: the PUBLISHED moved row carries the
    // regenerated uuid from the report, not its original
    val parentOut = spark.read.parquet(s"$outDir/parent.parquet").collect()
    val movedBeta = parentOut.find(_.getAs[String]("instance") == "src").get
    val reported = spark.read.parquet(s"$outDir/parent__uuid_report.parquet").collect()
      .find(_.getAs[Long]("src_id") == 2L).get.getAs[String]("final_uuid")
    assert(movedBeta.getAs[String]("uuid") == reported)
    assert(movedBeta.getAs[String]("uuid") != "u2")
    // dest rows keep their uuids verbatim
    assert(parentOut.filter(_.getAs[String]("instance") == "dest")
      .map(_.getAs[String]("uuid")).toSet == Set("u1", "u3"))
    // the registry records the location; a second run must refuse
    val ex = intercept[IllegalStateException] {
      MergeConfig.execute(spark, cfg, dryRun = false)
    }
    assert(ex.getMessage.contains("instanceB already processed"))
    // dry-run remains allowed (rehearsal, no writes)
    assert(MergeConfig.execute(spark, cfg, dryRun = true).count() == 2)
  }

  test("MergeMain --rollback-plan prints the reverse-topo deletion table from published id maps") {
    val (srcDir, destDir, outDir) = writeInstances()
    val json = configJson(srcDir, destDir, outDir, genUuids = false, persist = true)
    MergeConfig.execute(spark, MergeConfig.fromJson(json), dryRun = false)
    val cfgFile = java.nio.file.Files.createTempFile("graft-merge-cfg", ".json")
    java.nio.file.Files.write(cfgFile, json.getBytes("UTF-8"))
    val before = spark.read.parquet(s"$outDir/parent.parquet").count()
    val lines = MergeMain.run(Array(cfgFile.toString, "--rollback-plan"), spark)
    // children delete before parents; deletions = exactly the rows the
    // merge inserted (beta→12, y→501); mapped rows only unmap
    assert(lines == Seq("1\tchild\t1\t1\t", "2\tparent\t1\t1\t"))
    // a plan, not an action: the published merge is untouched
    assert(spark.read.parquet(s"$outDir/parent.parquet").count() == before)
    assert(spark.read.parquet(s"$outDir/child.parquet").count() == 2)
    // without published id maps (a persist=false run) the plan fails
    // loudly instead of under-deleting
    val (s2, d2, o2) = writeInstances()
    val json2 = configJson(s2, d2, o2, genUuids = false)
    MergeConfig.execute(spark, MergeConfig.fromJson(json2), dryRun = false)
    val ex = intercept[IllegalStateException] {
      MergeConfig.rollbackPlan(spark, MergeConfig.fromJson(json2)).collect()
    }
    assert(ex.getMessage.contains("persist = true"))
  }

  test("rollback plan marks keyless tables UNKNOWN — the empty id map must not read as 'nothing to delete'") {
    // the ADVICE hazard: a keyless merge PUBLISHES an id map (so the
    // missing-map guard never fires) but the map is structurally empty
    // — an agg over it yields NULL counts and the plan silently shows
    // nothing to delete for a table the merge DID insert into
    val (srcDir, destDir, outDir) = writeInstances()
    Seq((1L, "t1"), (2L, "t2"))
      .toDF("parent_id", "tag").write.parquet(s"$srcDir/assoc.parquet")
    Seq((10L, "t0"))
      .toDF("parent_id", "tag").write.parquet(s"$destDir/assoc.parquet")
    val json =
      s"""{
         |  "source": {"path": "$srcDir", "location": "instanceB"},
         |  "destination": {"path": "$destDir"},
         |  "output": "$outDir",
         |  "generateNewUuids": false,
         |  "persist": true,
         |  "tables": [
         |    {"name": "parent", "idCol": "id", "mode": "consolidate",
         |     "naturalKey": ["name"], "uuidCol": "uuid"},
         |    {"name": "child", "idCol": "id", "mode": "move",
         |     "naturalKey": ["payload"], "fks": {"parent_id": "parent"}},
         |    {"name": "assoc", "mode": "keyless", "fks": {"parent_id": "parent"}}
         |  ]
         |}""".stripMargin
    MergeConfig.execute(spark, MergeConfig.fromJson(json), dryRun = false)
    // the keyless id map EXISTS and is empty — the guard's blind spot
    assert(spark.read.parquet(s"$outDir/assoc__idmap.parquet").count() == 0L)
    val plan = MergeConfig.rollbackPlan(spark, MergeConfig.fromJson(json))
      .collect().map(r => r.getAs[String]("table_name") ->
        ((r.getAs[Long]("n_delete"), r.getAs[Long]("n_unmap_only"),
          r.getAs[String]("note")))).toMap
    val (kd, ku, note) = plan("assoc")
    assert(kd == -1L && ku == -1L, "keyless counts must be the explicit UNKNOWN marker, not 0/NULL")
    assert(note.contains("keyless") && note.contains("snapshot"))
    // keyed tables are unchanged by the marker column
    assert(plan("parent") == ((1L, 1L, "")) && plan("child") == ((1L, 1L, "")))
  }

  test("execute refuses to merge a source with orphaned FKs (the reference's integrity gate)") {
    val (srcDir, destDir, outDir) = writeInstances()
    // corrupt the source: a child referencing a parent id that does
    // not exist in the source instance
    Seq((102L, 99L, "z")).toDF("id", "parent_id", "payload")
      .write.mode("append").parquet(s"$srcDir/child.parquet")
    val cfg = MergeConfig.fromJson(configJson(srcDir, destDir, outDir, genUuids = false))
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val ex = intercept[graft.merge.MergePipeline.IntegrityViolation] {
      MergeConfig.execute(spark, cfg, dryRun = false)
    }
    assert(ex.getMessage.contains("child.parent_id->parent"))
    // hard abort means NOTHING was published
    assert(!new java.io.File(outDir).exists())
    // and the id maps cut beside the gate were released
    val left = spark.sparkContext.getPersistentRDDs.keySet -- persisted
    assert(left.isEmpty, s"persisted RDDs left behind: $left")
  }

  test("the gate keeps precedence: an orphaned FK is reported even when an id map fails beside it") {
    val (srcDir, destDir, outDir) = writeInstances()
    Seq((102L, 99L, "z")).toDF("id", "parent_id", "payload")
      .write.mode("append").parquet(s"$srcDir/child.parquet")
    // a parent row to insert with a NULL id fails parent's id map
    Seq((Option.empty[Long], "delta", "u4")).toDF("id", "name", "uuid")
      .write.mode("append").parquet(s"$srcDir/parent.parquet")
    val cfg = MergeConfig.fromJson(configJson(srcDir, destDir, outDir, genUuids = false))
    val ex = intercept[graft.merge.MergePipeline.IntegrityViolation] {
      MergeConfig.execute(spark, cfg, dryRun = false)
    }
    assert(ex.getMessage.contains("child.parent_id->parent"))
    assert(!new java.io.File(outDir).exists())
    // with no violation beside it, the id map's own failure surfaces
    val (src2, dest2, out2) = writeInstances()
    Seq((Option.empty[Long], "delta", "u4")).toDF("id", "name", "uuid")
      .write.mode("append").parquet(s"$src2/parent.parquet")
    val e2 = intercept[Exception] {
      MergeConfig.execute(spark, MergeConfig.fromJson(configJson(src2, dest2, out2, genUuids = false)),
        dryRun = false)
    }
    assert(Iterator.iterate[Throwable](e2)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("NULL sort key")), e2)
    assert(!new java.io.File(out2).exists())
  }

  test("a published output dir is directly usable as the next merge's destination (sequential mode)") {
    val (srcDir, destDir, outDir) = writeInstances()
    MergeConfig.execute(spark,
      MergeConfig.fromJson(configJson(srcDir, destDir, outDir, genUuids = false)),
      dryRun = false)
    // a SECOND source merges INTO the published output — the
    // reference's sequential multi-source deployment
    val src2 = s"${java.nio.file.Files.createTempDirectory("graft-cfg2")}/src2"
    Seq((7L, "delta", "u7")).toDF("id", "name", "uuid")
      .write.parquet(s"$src2/parent.parquet")
    Seq((700L, 7L, "w")).toDF("id", "parent_id", "payload")
      .write.parquet(s"$src2/child.parquet")
    val cfg2 = MergeConfig.fromJson(
      configJson(src2, outDir, outDir, genUuids = false)
        .replace(""""location": "instanceB"""", """"location": "instanceC""""))
    val rep = MergeConfig.execute(spark, cfg2, dryRun = false).collect()
      .map(r => r.getAs[String]("table_name") -> r.getAs[Long]("would_insert")).toMap
    assert(rep == Map("parent" -> 1L, "child" -> 1L))
    val parents = spark.read.parquet(s"$outDir/parent.parquet").collect()
    // run 1 published 3 parents; run 2 adds delta
    assert(parents.length == 4)
    assert(parents.map(_.getAs[String]("merge_source")).count(_ == "instanceC") == 1)
    // the registry accumulated BOTH sources
    val reg = graft.sources.AtomicSnapshot
      .readCurrent(spark, s"$outDir/_merge_sources.parquet").get
      .collect().map(_.getString(0)).toSet
    assert(reg == Set("instanceB", "instanceC"))
  }

  test("sameStore detection survives non-canonical spellings (trailing slash, dot segments)") {
    import graft.merge.MergeConfig.canonicalStore
    // every spelling of the same directory must canonicalize equal —
    // a miss silently disables the eager pinning that protects an
    // in-place merge from reading its own rename-swapped outputs
    assert(canonicalStore("/tmp/out/") == canonicalStore("/tmp/out"))
    assert(canonicalStore("/tmp/out///") == canonicalStore("/tmp/out"))
    assert(canonicalStore("/tmp//out") == canonicalStore("/tmp/out"))
    assert(canonicalStore("/tmp/./out") == canonicalStore("/tmp/out"))
    assert(canonicalStore("/tmp/x/../out") == canonicalStore("/tmp/out"))
    // distinct directories stay distinct
    assert(canonicalStore("/tmp/out2") != canonicalStore("/tmp/out"))
    // JDBC URLs compare verbatim (no filesystem semantics)
    assert(canonicalStore("jdbc:derby:memory:a") == "jdbc:derby:memory:a")
    // and the in-place sequential merge WORKS when spelled with a
    // trailing slash (exercises the pinning path end-to-end)
    val (srcDir, destDir, outDir) = writeInstances()
    MergeConfig.execute(spark,
      MergeConfig.fromJson(configJson(srcDir, destDir, outDir, genUuids = false)),
      dryRun = false)
    val src2 = s"${java.nio.file.Files.createTempDirectory("graft-cfg-slash")}/src2"
    Seq((7L, "delta", "u7")).toDF("id", "name", "uuid")
      .write.parquet(s"$src2/parent.parquet")
    Seq((700L, 7L, "w")).toDF("id", "parent_id", "payload")
      .write.parquet(s"$src2/child.parquet")
    val cfg2 = MergeConfig.fromJson(
      configJson(src2, outDir, s"$outDir/", genUuids = false) // output spelled with "/"
        .replace(""""location": "instanceB"""", """"location": "instanceC""""))
    MergeConfig.execute(spark, cfg2, dryRun = false)
    assert(spark.read.parquet(s"$outDir/parent.parquet").count() == 4)
  }

  test("registry read falls back to a legacy unsuffixed _merge_sources layout") {
    val (srcDir, destDir, outDir) = writeInstances()
    // a previous-build output dir: registry at the BARE name (no
    // .parquet suffix) already records instanceB
    Seq("instanceB").toDF("location")
      .write.parquet(s"$outDir/_merge_sources")
    val cfg = MergeConfig.fromJson(configJson(srcDir, destDir, outDir, genUuids = false))
    // without the fallback this re-run would silently re-merge
    val ex = intercept[IllegalStateException] {
      MergeConfig.execute(spark, cfg, dryRun = false)
    }
    assert(ex.getMessage.contains("instanceB already processed"))
    // a location NOT in the legacy registry still merges fine; the
    // write-back MIGRATES legacy provenance into the suffixed
    // registry (union of prior processed + new location), which then
    // takes precedence on the next read
    val cfgC = MergeConfig.fromJson(
      configJson(srcDir, destDir, outDir, genUuids = false)
        .replace(""""location": "instanceB"""", """"location": "instanceC""""))
    MergeConfig.execute(spark, cfgC, dryRun = false)
    val reg = graft.sources.AtomicSnapshot
      .readCurrent(spark, s"$outDir/_merge_sources.parquet").get
      .collect().map(_.getString(0)).toSet
    assert(reg == Set("instanceB", "instanceC"))
  }

  test("groupFkRows: unnamed FKs split per KEY_SEQ run, composites stay grouped") {
    // (fkName, keySeq, fkCol, pkTable, pkCol) rows as getImportedKeys
    // serves them: ordered, KEY_SEQ restarting at 1 per constraint.
    // Two UNNAMED single-column FKs must land as two groups (the old
    // group-by-"" collapsed them into one pseudo-composite and skipped
    // both); an unnamed genuinely-composite FK (KEY_SEQ 1,2) must stay
    // one group and still be rejected as composite downstream.
    val rows = Seq(
      ("", 1, "a_id", "parent_a", "id"),
      ("", 1, "b_id", "parent_b", "id"),
      ("", 1, "c1", "parent_c", "id"),
      ("", 2, "c2", "parent_c", "id2"),
      ("fk_x", 1, "x_id", "parent_x", "id"))
    val groups = MergeConfig.groupFkRows(rows)
    assert(groups.map(_.map(_._3)).toSet ==
      Set(Seq("a_id"), Seq("b_id"), Seq("c1", "c2"), Seq("x_id")))
    // named rows group by name regardless of adjacency
    val named = Seq(
      ("fk_1", 1, "p1", "pa", "id"),
      ("fk_2", 1, "q1", "pb", "id"),
      ("fk_1", 2, "p2", "pa", "id2"))
    assert(MergeConfig.groupFkRows(named).map(_.map(_._3)).toSet ==
      Set(Seq("p1", "p2"), Seq("q1")))
    // TWO unnamed composite FKs to the SAME parent arrive interleaved
    // (PKTABLE, KEY_SEQ order: 1,1,2,2) — no heuristic can split them,
    // so the whole parent's unnamed set must stay ONE lump (skipped as
    // composite) and NEVER leak a single-row fragment as a real FK;
    // an unrelated unnamed single FK to another parent still passes
    val interleaved = Seq(
      ("", 1, "m1", "parent_m", "id"),
      ("", 1, "n1", "parent_m", "id"),
      ("", 2, "m2", "parent_m", "id2"),
      ("", 2, "n2", "parent_m", "id2"),
      ("", 1, "z_id", "parent_z", "id"))
    val g2 = MergeConfig.groupFkRows(interleaved).map(_.map(_._3)).toSet
    assert(g2 == Set(Seq("m1", "n1", "m2", "n2"), Seq("z_id")), g2)
  }

  test("breakDiscoveredCycles defers exactly the discovered cycle-closing edges") {
    import graft.merge.{MergeConfig, Orchestrator}
    import Orchestrator.{MergeMode, TableSpec}
    def t(name: String, fks: Map[String, String] = Map.empty,
          deferred: Map[String, String] = Map.empty) =
      TableSpec(name, "id", Seq("name"), MergeMode.Move, fks = fks,
        deferredFks = deferred)
    // person <-> patient cycle, both filled by discovery: ONE edge
    // (smallest table, smallest column) moves to deferredFks and the
    // result topo-orders
    val cyc = Seq(
      t("person", fks = Map("patient_id" -> "patient")),
      t("patient", fks = Map("person_id" -> "person")),
      t("visit", fks = Map("patient_id" -> "patient")))
    val broken = MergeConfig.breakDiscoveredCycles(cyc, Set("person", "patient", "visit"))
    assert(broken.find(_.name == "patient").get.fks.isEmpty)
    assert(broken.find(_.name == "patient").get.deferredFks == Map("person_id" -> "person"))
    assert(broken.find(_.name == "person").get.fks == Map("patient_id" -> "patient"))
    assert(broken.find(_.name == "visit").get.fks == Map("patient_id" -> "patient"))
    Orchestrator.topoOrder(broken) // must not throw
    // a cycle purely among DECLARED specs is untouched (falls through
    // to topoOrder's loud failure — a config error, not discovery's)
    val declared = MergeConfig.breakDiscoveredCycles(cyc, Set("visit"))
    assert(declared == cyc)
    // an acyclic graph passes through unchanged
    val dag = Seq(t("a"), t("b", fks = Map("a_id" -> "a")))
    assert(MergeConfig.breakDiscoveredCycles(dag, Set("a", "b")) == dag)
  }

  test("a real run's report is cut before it returns: collecting it runs no Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.testbus.Bus
    val (srcDir, destDir, outDir) = writeInstances()
    val cfg = MergeConfig.fromJson(configJson(srcDir, destDir, outDir, genUuids = false, persist = true))
    val report = MergeConfig.execute(spark, cfg, dryRun = false)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    // the merge's own job events must not reach the listener
    Bus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val rows = try {
      val rs = report.collect()
      Bus.drain(spark.sparkContext)
      rs
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() == 0, s"collecting the report ran ${jobs.get()} Spark jobs")
    assert(rows.map(r => r.getAs[String]("table_name") -> r.getAs[Long]("would_insert")).toMap ==
      Map("parent" -> 1L, "child" -> 1L))
  }

  test("outputs publish concurrently, but the _merge_sources registry is still written last") {
    import java.nio.file.{Files, Path, Paths}
    val (srcDir, destDir, outDir) = writeInstances()
    MergeConfig.execute(spark,
      MergeConfig.fromJson(configJson(srcDir, destDir, outDir, genUuids = false, persist = true)),
      dryRun = false)
    def mtimes(dir: Path): Seq[java.time.Instant] = {
      val files = Files.list(dir)
      try files.toArray.toSeq.map(f => Files.getLastModifiedTime(f.asInstanceOf[Path]).toInstant)
      finally files.close()
    }
    val outputs = Seq("parent", "parent__uuid_report", "parent__idmap", "child", "child__idmap")
    val lastOutput = outputs.flatMap(n => mtimes(Paths.get(s"$outDir/$n.parquet"))).max
    val registry = mtimes(Paths.get(s"$outDir/_merge_sources.parquet"))
    assert(registry.nonEmpty && registry.min.compareTo(lastOutput) >= 0,
      s"registry written at ${registry.min}, before an output written at $lastOutput")
  }
}
