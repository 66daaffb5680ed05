package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.merge.MergeOps

/** Edge cases for the merge primitives the oracle can't easily pin
  * (empty sides, null FKs, id-assignment contiguity). */
class MergeOpsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("consolidate with empty destination: every src row is new, ids from 1") {
    val src = Seq((5L, "a"), (7L, "b")).toDF("id", "name")
    val dest = Seq.empty[(Long, String)].toDF("id", "name")
    val m = MergeOps.consolidate(src, dest, Seq("name"), "id")
      .orderBy("dest_id").collect()
    assert(m.map(_.getAs[Long]("dest_id")).toSeq == Seq(1L, 2L))
    assert(m.forall(_.getAs[Int]("is_new") == 1))
  }

  test("assignSequentialIds: contiguous, deterministic, order follows sort key") {
    val df = Seq(30L, 10L, 20L, 40L).toDF("k")
    val r = MergeOps.assignSequentialIds(df, "k", "nid", 100L)
      .orderBy("k").collect()
    assert(r.map(_.getAs[Long]("nid")).toSeq == Seq(101L, 102L, 103L, 104L))
    // rerun → identical assignment (no nondeterminism from partitioning)
    val r2 = MergeOps.assignSequentialIds(df, "k", "nid", 100L).orderBy("k").collect()
    assert(r.map(_.toSeq).toSeq == r2.map(_.toSeq).toSeq)
  }

  test("assignSequentialIds fails loudly on a NULL sort key instead of dropping its row") {
    val df = Seq(Some(30L), None, Some(10L)).toDF("k")
    val e = intercept[Exception](MergeOps.assignSequentialIds(df, "k", "nid", 100L).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("NULL sort key in column 'k'")), e)
  }

  test("remapFk joinType: left preserves unmatched/null FKs, inner drops them") {
    val child = Seq((1L, Some(10L)), (2L, Some(99L)), (3L, None))
      .toDF("id", "fk")
    val idMap = Seq((10L, 110L)).toDF("src_id", "dest_id")
    // left: nullable self-FK semantics — unmatched and null FKs survive
    val l = MergeOps.remapFk(child, "fk", idMap, "new_fk", joinType = "left")
      .orderBy("id").collect()
    assert(l(0).getAs[Long]("new_fk") == 110L)
    assert(l(1).isNullAt(l(1).fieldIndex("new_fk")))
    assert(l(2).isNullAt(l(2).fieldIndex("new_fk")))
    // inner (default): strict post-integrity-check path — FK-violating
    // children are dropped, never emitted with a null FK
    val i = MergeOps.remapFk(child, "fk", idMap, "new_fk").collect()
    assert(i.map(_.getAs[Long]("id")).toSeq == Seq(1L))
    assert(i.head.getAs[Long]("new_fk") == 110L)
    // inner_or_null: strict for NON-null FKs (unresolvable 99 drops),
    // but a legal null FK survives with a null new value — the
    // nullable-declared-FK path (reference copies null-FK rows verbatim)
    val n = MergeOps.remapFk(child, "fk", idMap, "new_fk", joinType = "inner_or_null")
      .orderBy("id").collect()
    assert(n.map(_.getAs[Long]("id")).toSeq == Seq(1L, 3L))
    assert(n(0).getAs[Long]("new_fk") == 110L)
    assert(n(1).isNullAt(n(1).fieldIndex("new_fk")))
    // a map row whose dest_id is NULL is still a MATCH: the child row
    // survives carrying the mapped null — match detection rides a
    // sentinel marker, not dest_id nullness
    val nullMap = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(10L, null))),
      new org.apache.spark.sql.types.StructType()
        .add("src_id", "long").add("dest_id", "long"))
    val nm = MergeOps.remapFk(child, "fk", nullMap, "new_fk", joinType = "inner_or_null")
      .orderBy("id").collect()
    assert(nm.map(_.getAs[Long]("id")).toSeq == Seq(1L, 3L))
    assert(nm(0).isNullAt(nm(0).fieldIndex("new_fk")))
  }

  test("uuidCollisions: empty when no collisions; deterministic v4-shaped uuids") {
    val src = Seq((1L, "u1"), (2L, "u2")).toDF("id", "uuid")
    val destNone = Seq((9L, "zz")).toDF("id", "uuid")
    assert(MergeOps.uuidCollisions(src, destNone, "id", "uuid").count() == 0)
    val destHit = Seq((9L, "u2")).toDF("id", "uuid")
    val r = MergeOps.uuidCollisions(src, destHit, "id", "uuid").collect()
    assert(r.length == 1 && r.head.getAs[Long]("src_id") == 2L)
    val nu = r.head.getAs[String]("new_uuid")
    assert(nu.matches("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"))
    // deterministic: same input → same replacement uuid
    assert(MergeOps.uuidCollisions(src, destHit, "id", "uuid")
      .collect().head.getAs[String]("new_uuid") == nu)
  }

  test("no oracle SQL contains an interpolated Scala null (val init-order guard)") {
    // a `val` SQL helper declared AFTER its interpolation site renders
    // as the literal "null" — caught once in t9Sql; SQL's own NULL
    // literals are uppercase by repo convention
    SparkEntry.oracleSql.foreach { case (id, sql) =>
      assert(!"""\bnull\b""".r.findFirstIn(sql).isDefined,
        s"$id oracle contains lowercase 'null' — likely an uninitialized val interpolation")
    }
  }

  test("m17 sequential merge: cross-source identity and id continuity") {
    import org.apache.spark.sql.functions.col
    val cust = graft.sources.Tables.read(TestSpark.spark, TestSpark.sf, "customer")
      .select(col("c_custkey"), col("c_name")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val destNames = cust.filter(_._1 % 2 == 0).map(_._2).toSet
    val nameOf = cust.toMap
    val r = graft.merge.MergeQueries.m17MultiSource(TestSpark.spark, TestSpark.sf).collect()
    val mapA = r.filter(_.getAs[String]("merge_source") == "srcA")
      .map(x => x.getAs[Long]("src_id") -> (x.getAs[Long]("dest_id"), x.getAs[Int]("is_new"))).toMap
    val mapB = r.filter(_.getAs[String]("merge_source") == "srcB")
      .map(x => x.getAs[Long]("src_id") -> (x.getAs[Long]("dest_id"), x.getAs[Int]("is_new"))).toMap
    // identity by name ACROSS merges: a srcB row whose name srcA just
    // added must land on srcA's newly-assigned id, not get a fresh one
    val aByName = mapA.map { case (sid, (did, _)) => nameOf(sid) -> did }
    mapB.foreach { case (sid, (did, isNew)) =>
      val name = nameOf(sid)
      if (aByName.contains(name) && !destNames.contains(name)) {
        assert(isNew == 0 && did == aByName(name),
          s"srcB $sid ($name) should consolidate onto srcA's id ${aByName(name)}, got $did/$isNew")
      }
    }
    // id continuity: srcB's fresh ids start past EVERYTHING stage 1
    // produced (dest ids and srcA's assigned ids)
    val bNew = mapB.collect { case (_, (did, 1)) => did }
    if (bNew.nonEmpty) {
      val stage1Max = (cust.filter(_._1 % 2 == 0).map(_._1) ++ mapA.values.map(_._1)).max
      assert(bNew.min == stage1Max + 1, s"${bNew.min} vs $stage1Max")
    }
  }

  test("every registered query id is documented in SURVEY §2") {
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")))
    SparkEntry.queries.keys.foreach { id =>
      assert(survey.contains(s"`$id`"), s"$id missing from SURVEY.md §2")
    }
  }

  test("m18 SCD2: versions contiguous, intervals chain, exactly one current per key") {
    val rows = graft.merge.MergeQueries.m18Scd2(spark, sf).collect()
    val byKey = rows.groupBy(_.getAs[Long]("o_custkey"))
    byKey.foreach { case (k, vs) =>
      val sorted = vs.sortBy(_.getAs[Long]("version"))
      assert(sorted.map(_.getAs[Long]("version")).toSeq == (1L to vs.length).toSeq, s"key $k versions")
      assert(sorted.count(_.getAs[Int]("is_current") == 1) == 1, s"key $k current count")
      assert(sorted.last.getAs[Int]("is_current") == 1 && sorted.last.isNullAt(sorted.last.fieldIndex("valid_to")))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[String]("valid_to") == b.getAs[String]("valid_from"), s"key $k chain break")
        case _ =>
      }
    }
    // one Window operator over one sort: lead and row_number share the spec
    val plan = graft.merge.MergeQueries.m18Scd2(spark, sf).queryExecution.executedPlan.toString
    assert(plan.linesIterator.count(_.contains(" Window [")) == 1, plan)
  }

  test("m19 delta merge: exhaustive classification, insert ids allocated above dest max") {
    val rows = graft.merge.MergeQueries.m19DeltaMerge(spark, sf).collect()
    // every delta row classified exactly once
    val deltaCount = spark.read.parquet(s"$sf/customer.parquet")
      .filter(col("c_custkey") % 3 =!= 0 && col("c_custkey") % 5 < 2).count()
    assert(rows.length.toLong == deltaCount)
    val destMax = spark.read.parquet(s"$sf/customer.parquet")
      .filter(col("c_custkey") % 2 === 0).agg(max(col("c_custkey"))).head.getLong(0)
    val byAction = rows.groupBy(_.getAs[String]("action"))
    // inserts get fresh ids above the destination's max (the m1
    // AUTO_INCREMENT allocation, scoped to the delta)
    byAction.getOrElse("insert", Array.empty).foreach(r =>
      assert(r.getAs[Long]("dest_id") > destMax, r.toString))
    // matched rows (update/noop) map into EXISTING destination ids
    (byAction.getOrElse("update", Array.empty) ++ byAction.getOrElse("noop", Array.empty))
      .foreach(r => assert(r.getAs[Long]("dest_id") <= destMax
        && r.getAs[Long]("dest_id") % 2 == 0, r.toString))
  }

  test("m20 schema drift: key-complete reconciliation, nulls exactly where the version lacks the column") {
    val rows = graft.merge.MergeQueries.m20SchemaDrift(spark, sf).collect()
    val all = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey"), col("c_name")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expectKeys = all.keySet.filter(k => k % 3 != 0 || k % 2 == 0)
    assert(rows.map(_.getAs[Long]("c_custkey")).toSet == expectKeys,
      "union of both instances' key sets, nothing else")
    rows.foreach { r =>
      val k = r.getAs[Long]("c_custkey")
      val inSrc = k % 3 != 0
      val inDest = k % 2 == 0
      val origin = r.getAs[String]("origin")
      assert(origin == (if (inSrc && inDest) "both" else if (inSrc) "src_only" else "dest_only"), s"key $k")
      // v1-only column present iff the dest saw the row; v2-only iff the src did
      assert(r.isNullAt(r.fieldIndex("c_acctbal")) == !inDest, s"key $k acctbal")
      assert(r.isNullAt(r.fieldIndex("c_mktsegment")) == !inSrc, s"key $k mktsegment")
      assert(r.getAs[Long]("n_missing") ==
        (if (inDest) 0L else 1L) + (if (inSrc) 0L else 1L), s"key $k")
      // shared columns survive reconciliation regardless of origin
      assert(r.getAs[String]("c_name") == all(k), s"key $k name")
    }
    // exactly one join in the plan: the full-outer reconciliation itself
    val plan = graft.merge.MergeQueries.m20SchemaDrift(spark, sf)
      .queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.linesIterator.count(_.contains("Join")) == 1
      && plan.contains("FullOuter"), plan)
  }

  test("m21 k-anonymity: classes partition the table, l <= k, flags honest, no Expand") {
    val df = graft.merge.MergeQueries.m21KAnonymity(spark, sf)
    val rows = df.collect()
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_nationkey"), col("c_mktsegment"), col("c_acctbal")).collect()
      .map(r => (r.getInt(0), r.getString(1), math.floor(r.getDouble(2) / 1000.0).toLong))
    assert(rows.map(_.getAs[Long]("n_rows")).sum == cust.length,
      "equivalence classes must partition the registry")
    val classes = cust.groupBy(c => (c._1, c._2))
    assert(rows.length == classes.size)
    rows.foreach { r =>
      val key = (r.getAs[Int]("c_nationkey"), r.getAs[String]("c_mktsegment"))
      val members = classes(key)
      val k = members.length.toLong
      val l = members.map(_._3).distinct.length.toLong
      assert(r.getAs[Long]("n_rows") == k, s"$key k")
      assert(r.getAs[Long]("l_diversity") == l, s"$key l")
      assert(l <= k)
      assert(r.getAs[Boolean]("risky_k") == (k < 5), s"$key risky_k")
      assert(r.getAs[Boolean]("risky_l") == (l < 2), s"$key risky_l")
    }
    // the distinct count must be the two-level agg, not an Expand
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), "count-DISTINCT Expand leaked into the plan")
  }

  test("m22 conflict report: exactly the fractional-balance matches, resolution keeps source") {
    val df = graft.merge.MergeQueries.m22ConflictReport(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3)))
    // driver-side recompute: src (key%3!=0) joined to the min-id dest
    // survivor (key%2=0, stale floor(acctbal)) on name, conflicts only
    val destByName = cust.filter(_._1 % 2 == 0).groupBy(_._2)
      .map { case (n, xs) => n -> xs.minBy(_._1) }
    val expect = cust.filter(_._1 % 3 != 0).flatMap { case (sid, n, bal, nat) =>
      destByName.get(n).collect {
        case (did, _, dbal, dnat) if bal != math.floor(dbal) || nat != dnat =>
          (sid, did, bal, math.floor(dbal))
      }
    }.toSet
    assert(rows.map(r => (r.getAs[Long]("src_id"), r.getAs[Long]("dest_id"),
      r.getAs[Double]("src_acctbal"), r.getAs[Double]("dest_acctbal"))).toSet == expect)
    rows.foreach { r =>
      // the policy column records source precedence, never a third value
      assert(r.getAs[Double]("resolved_acctbal") == r.getAs[Double]("src_acctbal"))
      assert(r.getAs[Boolean]("acctbal_conflict") || r.getAs[Boolean]("nation_conflict"))
      // nation never drifts in this simulation — flag must stay honest
      assert(!r.getAs[Boolean]("nation_conflict"))
    }
  }

  test("m25 re-merge idempotency: a second offer of the merged source moves nothing") {
    import TestSpark.sf
    val rows = graft.merge.MergePipeline.m25RemergeIdempotency(spark, sf).collect()
    assert(rows.map(_.getAs[String]("table_name")).toSeq == Seq("customer", "orders"))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_new") == 0L,
        s"${r.getAs[String]("table_name")}: a re-run would insert ${r.getAs[Long]("n_new")} rows")
      assert(r.getAs[Long]("n_offered") == r.getAs[Long]("n_matched"))
      assert(r.getAs[Long]("n_offered") > 0L, "empty offer — vacuous audit")
    }
    // offered counts must be the actual source-instance sizes, or the
    // audit quietly checks the wrong population
    val cust = graft.sources.Tables.read(spark, sf, "customer")
      .filter(org.apache.spark.sql.functions.col("c_custkey") % 3 =!= 0).count()
    val ords = graft.sources.Tables.read(spark, sf, "orders")
      .filter(org.apache.spark.sql.functions.col("o_custkey") % 3 =!= 0).count()
    assert(rows.map(r => r.getAs[String]("table_name") -> r.getAs[Long]("n_offered")).toMap
      == Map("customer" -> cust, "orders" -> ords))
  }

  test("cascadeImpact: diamond DAG counts rows once per identity, zero-leg tables report 0") {
    import spark.implicits._
    import graft.merge.Orchestrator.{MergeMode, TableSpec}
    // p → (a, b) → c, where c references BOTH a and b (diamond): a c
    // row reachable through both legs must count once. d has no FK —
    // out of blast radius, reports 0.
    val specs = Seq(
      TableSpec("p", "pid", Nil, MergeMode.Consolidate),
      TableSpec("a", "aid", Nil, MergeMode.Move, fks = Map("p_fk" -> "p")),
      TableSpec("b", "bid", Nil, MergeMode.Move, fks = Map("p_fk" -> "p")),
      TableSpec("c", "cid", Nil, MergeMode.Move,
        fks = Map("a_fk" -> "a", "b_fk" -> "b")),
      TableSpec("d", "did", Nil, MergeMode.Move))
    val frames = Map(
      "p" -> Seq(1L, 2L, 3L).toDF("pid"),
      "a" -> Seq((10L, 1L), (11L, 2L), (12L, 3L)).toDF("aid", "p_fk"),
      "b" -> Seq((20L, 1L), (21L, 3L)).toDF("bid", "p_fk"),
      // c row 30 reachable via BOTH impacted a=10 and impacted b=20;
      // c row 31 via a=11 only; c row 32 hangs off untouched a=12/b=21
      "c" -> Seq((30L, 10L, 20L), (31L, 11L, 21L), (32L, 12L, 21L))
        .toDF("cid", "a_fk", "b_fk"),
      "d" -> Seq(99L).toDF("did"))
    val seeds = Seq(1L, 2L).toDF("pid") // delete p1, p2
    val got = graft.merge.MergeOps.cascadeImpact(specs, frames, "p", seeds)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // a: 10,11 hit; b: 20 hit; c: 30 (once, despite two legs) + 31
    assert(got == Map("p" -> 2L, "a" -> 2L, "b" -> 1L, "c" -> 2L, "d" -> 0L))
  }

  test("m26 registered cascade matches direct per-table recomputes") {
    import TestSpark.sf
    import org.apache.spark.sql.functions.col
    val got = graft.merge.MergeQueries.m26CascadeImpact(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val cust = graft.sources.Tables.read(spark, sf, "customer")
      .filter(col("c_custkey") % 97 === 0)
    val ords = graft.sources.Tables.read(spark, sf, "orders")
      .join(cust.select(col("c_custkey").as("o_custkey")), Seq("o_custkey"), "left_semi")
    val li = graft.sources.Tables.read(spark, sf, "lineitem")
      .join(ords.select(col("o_orderkey").as("l_orderkey")), Seq("l_orderkey"), "left_semi")
    assert(got == Map("customer" -> cust.count(), "orders" -> ords.count(),
      "lineitem" -> li.count()))
    assert(got("lineitem") > got("orders"), "leaf fan-out missing — vacuous cascade")
  }

  test("cdcApply: outcome matrix, last-op-wins ordering, tombstone for unseen key dropped") {
    val base = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v")
    val log = Seq(
      (1L, 1L, "u", 11.0), (1L, 2L, "u", 12.0),            // updated: last wins → 12
      (2L, 1L, "u", 21.0), (2L, 2L, "d", 0.0),             // deleted (keeps BASE value)
      (4L, 1L, "d", 0.0), (4L, 2L, "u", 40.0),             // inserted (delete then re-create)
      (5L, 1L, "u", 50.0), (5L, 2L, "d", 0.0)              // tombstone, never in base → dropped
    ).toDF("k", "seq", "op", "v")
    val r = MergeOps.cdcApply(base, log, Seq("k"), Seq("seq"), "op").collect()
      .map(x => x.getAs[Long]("k") ->
        (x.getAs[String]("outcome"), x.getAs[Double]("v"))).toMap
    assert(r == Map(
      1L -> ("updated", 12.0),
      2L -> ("deleted", 20.0), // audit row carries the last base value
      3L -> ("unchanged", 30.0),
      4L -> ("inserted", 40.0)))
    // on real data every class appears and the snapshot identity holds:
    // base keys = unchanged + updated + deleted
    val m29 = graft.merge.MergeQueries.m29CdcApply(spark, sf).collect()
    val byOutcome = m29.groupBy(_.getAs[String]("outcome")).view.mapValues(_.length)
    assert(Set("unchanged", "updated", "deleted", "inserted").subsetOf(byOutcome.keySet.toSet),
      s"missing outcome classes: $byOutcome")
  }

  test("cdcApply: base columns absent from the log pass through unchanged, never dropped") {
    // `tag` exists only in the base — a log without it must not erase
    // the column (or its data) from the snapshot
    val base = Seq((1L, 10.0, "keep1"), (2L, 20.0, "keep2")).toDF("k", "v", "tag")
    val log = Seq((1L, 1L, "u", 11.0), (3L, 1L, "u", 30.0)).toDF("k", "seq", "op", "v")
    val r = MergeOps.cdcApply(base, log, Seq("k"), Seq("seq"), "op").collect()
      .map(x => x.getAs[Long]("k") ->
        ((x.getAs[String]("outcome"), x.getAs[Double]("v"), x.getAs[String]("tag")))).toMap
    assert(r == Map(
      1L -> (("updated", 11.0, "keep1")),   // log value wins, base-only col survives
      2L -> (("unchanged", 20.0, "keep2")),
      3L -> (("inserted", 30.0, null))))    // no log counterpart → null, the only honest value
  }
}
