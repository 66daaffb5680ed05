package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = GraftSession("local[4]")
  val sf: String = "/root/testdata/sf0.001"
}

class QueriesSpec extends AnyFunSuite {
  import TestSpark._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query has an oracle or is documented rows-only") {
    // every oracle key must have a query; queries without oracle are the
    // documented rows-only set (LSH family etc.)
    SparkEntry.oracleSql.keys.foreach { k =>
      assert(SparkEntry.queries.contains(k), s"oracle $k has no query")
    }
  }

  test("the query registry is built once, not per lookup") {
    assert(SparkEntry.queries eq SparkEntry.queries)
  }

  test("all queries run non-empty on sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"$name returned 0 rows")
    }
  }

  /** The registry-wide scale-discipline gate: EVERY registered query
    * must plan without a nested-loop or cartesian join, with two
    * argued exceptions: (a) the documented exact-search shapes that
    * deliberately broadcast a tiny query set against the streaming
    * corpus (whitelist below, BuildRight-asserted individually in
    * their own specs), and (b) nested loops whose BUILD side is a
    * provably single-row scalar aggregate (a broadcast constant —
    * t13/t14/t22's vocab/total frames), which cost one row per
    * partition. A new query that accidentally plans a data×data
    * nested loop fails here by default. */
  test("no registered query plans a data-sized nested loop, outside the exact-search whitelist") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    val whitelist = Set(
      "s1_knn_brute",     // deliberate: exact baseline, broadcast queries × corpus
      "s5_radius_search", // deliberate: same shape, threshold instead of top-k
      "s10_pq_ann", "s12_sq8_ann", // PQ/SQ8 codes ride the s1 broadcast contract
      "s11_pq_recall", "s13_sq8_recall", "s14_mrl_recall", // audits over s1-shaped sides
      "s31_ivfpq_recall", // same: exact-L2 yardstick rides the s1 broadcast contract
      "s33_bq_ann",       // stage 1 IS the deliberate broadcast-queries bit scan (s12's contract)
      "s34_bq_recall",    // composes s33 + the exact-L2 yardstick
      "s32_tier_table",   // composes the seven audits — their exact sides ride along
      "s36_walk_recall",  // audit carries s1's exact yardstick; the walk itself is equi-join-only
      "s37_walk_sweep",   // the beam sweep's rows each carry that same exact yardstick
      "s38_degree_sweep", // the degree sweep's rows carry it too
      "s39_walk_insert",  // the insert audit carries it too
      "s40_walk_delete",  // the delete audit carries the live-corpus yardstick
      "s41_walk_compact", // the compaction audit carries the same live yardstick
      "s42_refine_audit", // the refine-depth audit carries s1's exact yardstick
      "mm14_phash_recall", // the 1-row×1-row footprint crossJoin (scalar-broadcast convention)
      "s4_ann_recall",    // composes s1's exact side
      "s7_radius_recall", // composes s5's exact side
      "s9_ivfkm_recall",  // composes s1's exact side vs the IVF-km path
      "s18_hard_negatives", // s1's broadcast-queries contract; the label
                            // INEQUALITY has no equi-key to ride,
      "s19_probe_sweep",  // composes s1's exact side as its recall yardstick
      "s20_mips_topk",    // deliberate: exact MIPS baseline, s1's broadcast contract
      "s21_two_stage_rerank", // stage 1 IS s12's broadcast code-space scan; stage 2 is equi-join
      "mm5_xmodal",       // cross-modal exact side, BuildRight-asserted
      "mm9_xmodal_bucketed", // audit carries mm5's exact yardstick
      "s29_nn_descent"    // audit carries s1's exact yardstick; the
                          // refinement itself is equi-join-only
    )
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: flatten(a.inputPlan)
      case _ => p +: p.children.flatMap(flatten)
    }
    def scalarBuild(j: BroadcastNestedLoopJoinExec): Boolean = {
      val build = if (j.buildSide == BuildLeft) j.left else j.right
      flatten(build).exists {
        case ag: BaseAggregateExec => ag.groupingExpressions.isEmpty
        case _ => false
      }
    }
    SparkEntry.queries.foreach { case (name, fn) =>
      if (!whitelist(name)) {
        flatten(fn(spark, sf).queryExecution.executedPlan).foreach {
          case c: CartesianProductExec =>
            fail(s"$name plans a cartesian product: $c")
          case j: BroadcastNestedLoopJoinExec =>
            assert(scalarBuild(j), s"$name plans a data-sized nested loop:\n$j")
          case _ =>
        }
      }
    }
  }

  /** The hot-GROUP twin of the d19 hot-KEY gate: a top-k window over a
    * skewable group (a stopword token's corpus-sized posting list, a
    * mega-customer's orders) is only scale-safe because Spark pushes a
    * PARTIAL WindowGroupLimit below the exchange — each map task keeps
    * ≤k rows per group before anything shuffles, so the hot group
    * never piles into one sorted task. That pushdown is an optimizer
    * behavior (rank-filter pattern + threshold conf), not something
    * the query text guarantees — pin it so a pattern-breaking rewrite
    * or conf change fails loudly instead of silently reintroducing
    * the straggler. */
  test("top-k windows keep the partial group-limit pushdown (hot-group skew absorbed map-side)") {
    for ((name, df) <- Seq(
        "t34_bm25" -> text.TextAnalysis.t34Bm25(spark, sf),
        "w1_topk_per_group" -> queries.Tpch.w1TopkPerGroup(spark, sf))) {
      val plan = df.queryExecution.executedPlan.toString
      val hits = "WindowGroupLimit".r.findAllIn(plan).size
      assert(hits >= 2, s"$name lost the partial+final group-limit pushdown:\n" +
        plan.linesIterator.take(12).mkString("\n"))
      assert(plan.contains("Partial"), s"$name has no PARTIAL group limit")
    }
  }

  test("every partition-less window sits over an aggregate-bounded frame (pinned whitelist)") {
    // A Window with no partitionSpec moves its whole input to ONE
    // task — fatal on data-sized frames at scale, fine on
    // metadata-sized aggregates (group counts, histogram buckets,
    // calendar bounds). This gate pins the exact set of queries that
    // use one, so a new data-sized global window cannot land
    // silently; every member must keep its justification below.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val whitelist = Set(
      "e10_gap_fill",   // calendar min/max bounds over the hours×types agg
      "e12_anomaly",    // e10's shape: prefix stats over the hourly agg
      "e38_burst_runs", // rides e10's frame: the bound is e10's calendar min/max
      "e39_watermark_plan", // hour-calendar cum max + the 5-row candidate frame
      "e19_top_paths",  // top-20 over the ≤|types|³ trigram agg
      "t12_pack",       // level-2 prefix sum over ≤256 bucket aggregates
      "w5_cume_users",  // running sum over the ~30-row daily agg
      "q31_sample_quant", // cum counts over the price-DOMAIN-bounded histogram (q25's argument, global)
      "e21_churn",      // share over the ≤4-row recency-bucket agg
      "s22_ivf_balance", // share/ratio over the kc-row cell-size agg
      "q33_pareto",     // blockCum level-2 offsets (≤#blocks) + cum share over the ≤10-row decile frame
      "s24_ood_flags",  // disc-p99 cum counts over the distance-DOMAIN-bounded histogram
      "q34_skyline",    // strictly-later running min over the date-DOMAIN-bounded front candidates
      "e26_hazard",     // at-risk cumulative counts over the weeks-bounded calendar
      "q36_rfm",        // three blockCum level-2 offset frames (≤#blocks aggregate rows each)
      // r14-opt: assignSequentialIds' numbering is a two-level prefix
      // rank (the blockCum convention) — its ONLY partition-less
      // window orders the ≤#blocks per-block totals (aggregate-
      // bounded, q33/q36's exact justification) above the eagerly-cut
      // ranked frame. Every standalone consolidate/move query
      // therefore carries one:
      "m1_consolidate_meta", "m2_remap_fk", "m9_seq_assign",
      "m11_selfref_remap", "m12_consolidate_fkmapped",
      "m17_multi_source", "m19_delta_merge"
      // (m13_full_pipeline left this set when its orchestrator run
      // became a shared memoized artifact: the instance() fixture's
      // global lag window now lives inside the cached frame's hidden
      // lineage — fixture construction cost, paid once per session.
      // m16_circular_fk, m30_shared_pk and m31_assoc_move left it when
      // Orchestrator.run began cutting every id map: the numbering's
      // offsets window is now inside the cut map's hidden lineage.)
    )
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val n = fn(spark, sf).queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }.length
      if (n > 0) Some(name) else None
    }.toSet
    assert(offenders == whitelist,
      s"global-window set drifted: unexpected=${(offenders -- whitelist).toSeq.sorted}, " +
        s"stale=${(whitelist -- offenders).toSeq.sorted}")
  }

  test("q33/q36 never feed an entity-derived sum through an unpartitioned window") {
    // the round-7 weak-plan class: rev_cents/mon_cents are per-CUSTOMER
    // sums, so a histogram keyed by them is customer-cardinality and a
    // global Window.orderBy over it serializes customers through one
    // task. After the blockCum rewrite the only unpartitioned windows
    // left may order by the block id (≤#blocks aggregate rows) or the
    // ≤10-row decile key — pin that exact set so the hazard cannot
    // come back under any column spelling.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import org.apache.spark.sql.catalyst.expressions.Attribute
    for (name <- Seq("q33_pareto", "q36_rfm")) {
      val orderCols = SparkEntry.queries(name)(spark, sf)
        .queryExecution.optimizedPlan.collect {
          case w: LWindow if w.partitionSpec.isEmpty =>
            w.orderSpec.flatMap(_.child.collect { case a: Attribute => a.name })
        }.flatten.toSet
      assert(orderCols.subsetOf(Set("__blk", "decile")),
        s"$name global-window order keys drifted: $orderCols")
    }
  }

  test("blockCum equals the single global window, asc and desc, negatives included") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{sum => fsum, col}
    // distinct values spanning negatives and several 2^8 blocks
    val hist = Seq((-700L, 3L), (-2L, 1L), (0L, 5L), (255L, 2L),
      (256L, 7L), (999L, 4L), (100000L, 6L)).toDF("v", "cnt")
      .localCheckpoint(true) // blockCum consumes it twice
    for (desc <- Seq(false, true)) {
      val ord = if (desc) col("v").desc else col("v").asc
      val want = hist.withColumn("cum", fsum(col("cnt")).over(
          Window.orderBy(ord).rowsBetween(Window.unboundedPreceding, 0)))
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      val got = operators.PrefixSum.blockCum(hist, "v", "cnt", "cum",
          descending = desc, blockShift = 8)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got == want, s"desc=$desc")
    }
  }

  test("histogram-first domain contract: quantize bounds a high-cardinality value axis") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{sum => fsum, _}
    import org.apache.spark.sql.expressions.Window
    val quantum = 131072L // ~$1.3k buckets: domain/quantum ≪ row count even at sf0.001
    // price cents: essentially distinct per row — the axis the
    // histogram-first contract REFUSES without quantization
    val cents = sources.Tables.read(spark, sf, "lineitem")
      .select(round($"l_extendedprice" * 100).cast("long").as("v"))
    val exactCard = cents.distinct().count()
    val qhist = cents
      .groupBy(operators.PrefixSum.quantize($"v", quantum).as("q"))
      .agg(count(lit(1)).as("cnt"))
    val qCard = qhist.count()
    val (lo, hi) = cents.agg(min($"v"), max($"v")).as[(Long, Long)].head()
    // bounded by domain/quantum (+2: both ends unaligned), and a
    // real shrink vs the raw axis
    assert(qCard <= (hi - lo) / quantum + 2)
    assert(qCard < exactCard / 4, s"quantized $qCard vs raw $exactCard")
    // percentile_disc over the quantized histogram = the true
    // percentile's bucket floor (the documented accuracy rule)
    val n = cents.count()
    val rank = ((n + 1) / 2).toInt
    val exactP50 = cents.sort($"v").collect().map(_.getLong(0)).apply(rank - 1)
    val bucketedP50 = qhist
      .withColumn("cum", fsum($"cnt").over(
        Window.orderBy($"q").rowsBetween(Window.unboundedPreceding, 0)))
      .filter($"cum" >= rank).sort($"q").select($"q").head().getLong(0)
    assert(bucketedP50 == exactP50 - java.lang.Math.floorMod(exactP50, quantum))
    assert(math.abs(bucketedP50 - exactP50) < quantum)
    // the floor rule is negative-safe (pmod, not truncating DIV)
    val negs = Seq(-5L, -1L, 0L, 3L, 4L).toDF("v")
      .select(operators.PrefixSum.quantize($"v", 4L).as("q"))
      .collect().map(_.getLong(0)).toSeq
    assert(negs == Seq(-8L, -4L, 0L, 0L, 4L))
    // and the registered q25 path with a quantum stays self-consistent:
    // quantized p50 ≤ exact p50 within one quantum, per flag
    val exact = queries.Tpch.q25Quantiles(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    queries.Tpch.q25Quantiles(spark, sf, valueQuantum = 8L).collect().foreach { r =>
      val e = exact(r.getString(0))
      val b = r.getLong(2)
      assert(b <= e && e - b < 8L, s"flag ${r.getString(0)}: $b vs $e")
    }
  }

  test("no registered query rescans a base table beyond its pinned bound") {
    // The disease class the round-5 plan audits kept finding: a frame
    // consumed by two branches whose lazy lineage re-derives the scan
    // per branch (j2's key counts, t24's bucket stats, m23's pipeline
    // run — all fixed via the session memo). Default bound: TWO scans
    // of the same base table per query (an exact-bounds/stats pass +
    // the main pass — q30's documented shape). Anything beyond two is
    // pinned here with its reason; memoized artifacts don't count (a
    // persisted frame plans as InMemoryRelation, exactly the point).
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val pinned: Map[String, Int] = Map(
      // funnel stages: each leg is a pushdown-filtered DISJOINT slice
      // of events (one event type per leg) — total bytes ≈ one scan
      "e3_event_funnel" -> 6, "e11_funnel_latency" -> 6,
      // sketch pass + exact yardstick + totals frame
      "e13_heavy_hitters" -> 3,
      // the reference's per-relation integrity loop: each declared FK
      // audits its child and parent slices per instance
      "m4_orphan_check" -> 3,
      // two-instance simulation: src and dest are mod-filtered
      // DISJOINT slices of ONE parquet file, so the match/insert/
      // remap legs of each phase count several "scans" of the same
      // file; production reads two databases (the JDBC path)
      "m5_exclude_moved" -> 4, "m11_selfref_remap" -> 5, "m14_dry_run" -> 8,
      "m16_circular_fk" -> 4, "m17_multi_source" -> 5, "m19_delta_merge" -> 4,
      // same class: person AND patient (resp. the assoc child + its
      // parents) are each simulated from the one base file per instance
      "m30_shared_pk" -> 3, "m31_assoc_move" -> 3,
      // recall audits are two-sided by definition: exact yardstick +
      // approximate path, each reading query and corpus slices
      "s4_ann_recall" -> 4, "s7_radius_recall" -> 4, "s9_ivfkm_recall" -> 4,
      // seven two-sided audits composed: each contributes its exact+approx
      // slices (the graph tier adds s36's exact legs; the walk itself is
      // lineage-cut + memoized and plans scan-free)
      "s32_tier_table" -> 12,
      // s1's two-sided yardstick; the walk's rounds are lineage-cut and
      // its store/queries frames are memo/checkpoint — scan-free
      "s36_walk_recall" -> 4,
      // r13: entry formation (queries checkpoint + corpus cell
      // assign) is memoized ONCE per (centroids, live) — a sweep's N
      // walks no longer pay N cell-assign scans; what remains is the
      // shared exact yardstick + at most one in-plan memo build
      "s37_walk_sweep" -> 6,
      "s38_degree_sweep" -> 6,
      // merged-index walk entry + exact yardstick + the 1-row batch
      // count (old/merged adjacencies are memoized artifacts)
      "s39_walk_insert" -> 6,
      // repaired-index walk entry + live exact yardstick + the 1-row
      // tombstone count (base/repaired adjacencies are memoized)
      "s40_walk_delete" -> 6,
      "s16_filtered_ann" -> 4, "mm9_xmodal_bucketed" -> 4,
      // s1's two query/corpus slices + the refinement's two e-store legs
      // (the base graph itself is the memoized s29 artifact)
      "s29_nn_descent" -> 4,
      // TPC-H Q11's scalar-subquery threshold: the same aggregate as
      // threshold AND detail — the benchmark's own two-pass shape
      "q11_important_stock" -> 4,
      // two-sided audits / split compositions over disjoint slices
      "t11_contamination" -> 4, "t13_tfidf" -> 3, "t14_domain_mix" -> 3,
      "t19_passage_dedup" -> 3)
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val counts = fn(spark, sf).queryExecution.optimizedPlan.collect {
        case r: LogicalRelation => r.relation match {
          case h: HadoopFsRelation => h.location.rootPaths.headOption.map(_.getName)
          case _ => None
        }
      }.flatten.groupBy(identity).view.mapValues(_.size)
      counts.collect { case (t, c) if c > pinned.getOrElse(name, 2) =>
        s"$name scans $t $c times (bound ${pinned.getOrElse(name, 2)})"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("g1/g11 pagerank plans: edge/degree artifacts memoized — only per-iteration aggregates remain") {
    // the r8 finding: a LAZY deg (edge-scale groupBy) is re-derived in
    // every iteration's share join plus the final join — up to 4 extra
    // edge-scale shuffle+aggregations at iters=3. Memoized artifacts
    // plan as InMemoryRelation, so the optimized plan must carry
    // EXACTLY the 3 per-iteration inSum aggregates and zero raw scans.
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    for ((name, df) <- Seq(
        "g1_pagerank" -> queries.GraphQueries.g1PageRank(spark, sf),
        "g11_ppr" -> queries.GraphQueries.g11Ppr(spark, sf))) {
      val plan = df.queryExecution.optimizedPlan
      val aggs = plan.collect { case a: Aggregate => a }
      assert(aggs.length == 3,
        s"$name plans ${aggs.length} aggregates, expected the 3 per-iteration inSums")
      val raw = plan.collect { case r: LogicalRelation => r }
      assert(raw.isEmpty,
        s"$name still scans a base table ${raw.length}x — an artifact escaped the memo")
    }
  }

  test("j3's bloom prefilter prunes: pass count sits between exact matches and table size") {
    import spark.implicits._
    val total = spark.read.parquet(s"$sf/lineitem.parquet").count()
    val matched = spark.read.parquet(s"$sf/lineitem.parquet").select($"l_orderkey")
      .join(spark.read.parquet(s"$sf/orders.parquet")
          .filter($"o_orderpriority" === "1-URGENT").select($"o_orderkey"),
        $"l_orderkey" === $"o_orderkey", "left_semi")
      .count()
    val pre = graft.queries.Tpch.j3Prefiltered(spark, sf)
    val passed = pre.count()
    // no false negatives proven by SET CONTAINMENT, not by count (a
    // bloom dropping k true matches while admitting >= k false
    // positives would satisfy a count bound): every urgent order key
    // must survive the prefilter
    val droppedTrue = spark.read.parquet(s"$sf/orders.parquet")
      .filter($"o_orderpriority" === "1-URGENT").select($"o_orderkey")
      .join(spark.read.parquet(s"$sf/lineitem.parquet").select($"l_orderkey"),
        $"o_orderkey" === $"l_orderkey", "left_semi") // only keys with fact rows
      .join(pre.select($"l_orderkey").distinct(),
        $"o_orderkey" === $"l_orderkey", "left_anti")
      .count()
    assert(droppedTrue == 0, s"bloom dropped $droppedTrue true-match keys")
    // and real pruning: the false-positive rate among true negatives
    // stays under the design point (2^18 bits / 3 probes → ~0.4% at
    // sf0.1 load; the bound here is slack for the tiny sf's noise)
    assert(passed < total, s"bloom passed everything: $passed of $total")
    val fpr = (passed - matched).toDouble / math.max(1L, total - matched)
    assert(fpr < 0.05, s"false-positive rate $fpr above design point")
  }

  test("round-4 op plan shapes: q25 histogram-first, t12 single tiny global window, mm5 broadcast queries") {
    // q25: the cumulative windows must consume the (group, value)
    // HISTOGRAM, not the raw fact table — the first Window sits above
    // a HashAggregate in the plan tree (a per-row window would sort
    // all of lineitem onto 3 group keys)
    val q25 = queries.Tpch.q25Quantiles(spark, sf).queryExecution.executedPlan.toString
    val winAt = q25.indexOf("Window ")
    assert(winAt >= 0 && q25.indexOf("HashAggregate", winAt) >= 0,
      q25.linesIterator.take(12).mkString("\n"))
    // t12: exactly one SinglePartition exchange, and it feeds the
    // bucket-offset window over AGGREGATE rows (sum of n_tok per
    // bucket), never the per-document data
    val t12 = text.TextAnalysis.t12Pack(spark, sf).queryExecution.executedPlan.toString
    assert(t12.split("Exchange SinglePartition").length == 2, t12)
    val spAt = t12.indexOf("Exchange SinglePartition")
    assert(t12.indexOf("HashAggregate", spAt) >= 0)
    // mm5: the only join is s1's deliberate broadcast-queries shape —
    // the BUILD side must be the broadcast (tiny) query set, the
    // corpus streams
    val mm5 = multimodal.Media.mm5CrossModal(spark, sf).queryExecution.executedPlan.toString
    assert(mm5.contains("BroadcastNestedLoopJoin BuildRight"), mm5)
    assert(mm5.contains("WindowGroupLimit"), "top-k pushdown missing")
  }

  test("round-4 ops keep bucketed/broadcast plans: no stray nested loops") {
    // every remaining round-4 query must plan without a
    // BroadcastNestedLoopJoin or cartesian — the two deliberate
    // exceptions are e10 (tiny hours×types cross) and s5 (s1's
    // broadcast-queries exact-search shape, asserted as BuildRight)
    Seq(
      "e8" -> queries.Events.e8Retention(spark, sf),
      "e11" -> queries.Events.e11FunnelLatency(spark, sf),
      "w4" -> queries.Events.w4GapStats(spark, sf),
      "m17" -> merge.MergeQueries.m17MultiSource(spark, sf),
      "d10" -> dedup.Dedup.d10SketchCalibration(spark, sf),
      "d11" -> dedup.Dedup.d11IncrementalNearDup(spark, sf),
      "t16" -> text.TextAnalysis.t16DupNgrams(spark, sf)
    ).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"$name: ${plan.linesIterator.take(6).mkString("\n")}")
    }
    val s5 = similarity.Knn.s5Radius(spark, sf).queryExecution.executedPlan.toString
    assert(s5.contains("BroadcastNestedLoopJoin BuildRight"), s5)
  }

  test("round-5 op plan shapes: s6 equi-join on bands, e10 scan-once without cross join, s3 literal-free kernel") {
    // s6: the bucketed radius search must plan the band EQUI-join
    // (broadcast hash), never a nested loop over queries×corpus
    val s6 = similarity.Knn.s6RadiusBucketed(spark, sf).queryExecution.executedPlan.toString
    assert(!s6.contains("BroadcastNestedLoopJoin") && !s6.contains("CartesianProduct"), s6)
    assert(s6.contains("BroadcastHashJoin"), s6)
    // e10's rewrite: the calendar grid explodes each type's observed
    // entries + the array_except complement of the aggregate — the
    // old hours×types CrossJoin is gone entirely (and the round-5
    // per-row map lookup was O(hours²); round 6)
    val e10 = queries.Events.e10GapFill(spark, sf).queryExecution.executedPlan.toString
    assert(!e10.contains("CartesianProduct") && !e10.contains("BroadcastNestedLoopJoin"), e10)
    // s3: the assignment kernel rides the plan as ONE expression
    // (nearest_cent_e6), not k·dim unrolled literal arithmetic
    val s3 = similarity.Knn.s3Cluster(spark, sf).queryExecution.executedPlan.toString
    assert(s3.contains("nearest_cent_e6"), s3.linesIterator.take(8).mkString("\n"))
  }

  test("round-5b op plan shapes: t18 zero-join single-shuffle, e12 single events scan, q27 anti-join") {
    // t18: the "model" is a pure projection — no join anywhere in the
    // plan; the only exchange is the per-doc aggregate's
    val t18 = text.TextAnalysis.t18QualityClassifier(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!t18.contains("Join"), t18.linesIterator.take(6).mkString("\n"))
    // e12 inherits e10's single-scan shape: the stats windows consume
    // the hours×types aggregate, never a second scan of events
    val scans = queries.Events.e12Anomaly(spark, sf).queryExecution.optimizedPlan
      .collect { case r: org.apache.spark.sql.execution.datasources.LogicalRelation
        if r.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.exists(_.contains("events")) => r }
      .length
    assert(scans == 1, s"expected exactly 1 events scan, got $scans")
    // q27: the no-orders exclusion must plan as a real anti-join, and
    // the scalar threshold must not force a nested loop over customer
    // (the only BNLJ is the deliberate 1-row threshold broadcast)
    val q27 = queries.Tpch.q27NoOrderRich(spark, sf).queryExecution.executedPlan.toString
    assert(q27.contains("LeftAnti"), q27.linesIterator.take(8).mkString("\n"))
  }

  test("round-5c op plan shapes: w5 single events scan, e14 windowless, g2/mm7 product-free") {
    def eventScans(df: org.apache.spark.sql.DataFrame): Int = df.queryExecution
      .optimizedPlan
      .collect { case r: org.apache.spark.sql.execution.datasources.LogicalRelation
        if r.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.exists(_.contains("events")) => r }
      .length
    // w5: daily totals, first-touch counts AND the running sum all
    // ride ONE (user, day) partial aggregate — one fact scan
    assert(eventScans(queries.Events.w5CumeUsers(spark, sf)) == 1)
    // e14: the native session_window merges inside the AGGREGATION —
    // no window-function sort pass anywhere in the plan
    val e14 = queries.Events.e14SessionWindow(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!e14.contains("Window"), e14.linesIterator.take(8).mkString("\n"))
    // g2 (wedge/closure joins) and mm7 (band join) are equi-joins over
    // the pair/band keys — never a cartesian or nested-loop shape
    Seq(queries.GraphQueries.g2Triangles(spark, sf),
      multimodal.Media.mm7PhashNearDup(spark, sf)).foreach { df =>
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        p.linesIterator.take(8).mkString("\n"))
    }
    // r9: mm7's decode is the one-pass SegCodeSums projection — the
    // per-CHARACTER Generate over the raw parquet (and its two hash
    // aggregations) must never creep back. The band posexplode reads
    // the swap-cached 1-row-per-doc index. Since r12 the ONE allowed
    // raw-scan Generate is the plant explode — a bounded literal
    // 2-element array (corpus row ⊎ its re-encode variant), never a
    // per-character sequence/split.
    val mm7Plan = multimodal.Media.mm7PhashNearDup(spark, sf)
      .queryExecution.optimizedPlan
    val rawGens = mm7Plan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate
        if g.child.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
        }.nonEmpty => g }
    assert(rawGens.length <= 1,
      s"mm7 plans ${rawGens.length} raw-scan Generates — per-char explode is back")
    rawGens.foreach { g =>
      val s = g.generator.toString
      assert(!s.contains("sequence(") && !s.contains("split("),
        s"mm7's raw-scan Generate is per-character again: $s")
    }
    val rawAggs = mm7Plan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
        if a.child.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
        }.nonEmpty => a }
    assert(rawAggs.isEmpty, // the candidate dedup over the cached index is the only agg
      s"mm7 plans ${rawAggs.length} raw-scan aggregates — the segment rollup is back")
  }

  test("q29 profile: exact per-column stats reconcile; ONE fact scan through a shared Expand") {
    val df = queries.Tpch.q29Profile(spark, sf)
    val rows = df.collect().map(r => r.getAs[String]("column_name") -> r).toMap
    assert(rows.keySet == Set("l_orderkey", "l_partkey", "l_suppkey",
      "l_quantity", "l_extendedprice", "l_discount"))
    // driver-side reconciliation on one column of each type
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_discount").collect()
    val ok = rows("l_orderkey")
    assert(ok.getAs[Long]("n_rows") == li.length)
    assert(ok.getAs[Long]("n_null") == 0L)
    assert(ok.getAs[Long]("n_distinct") == li.map(_.getLong(0)).distinct.length)
    assert(ok.getAs[Double]("min_v") == li.map(_.getLong(0)).min.toDouble)
    assert(ok.getAs[Double]("max_v") == li.map(_.getLong(0)).max.toDouble)
    val disc = rows("l_discount")
    assert(disc.getAs[Long]("n_distinct") == li.map(_.getDouble(1)).distinct.length)
    assert(disc.getAs[Double]("min_v") == li.map(_.getDouble(1)).min)
    // plan: exactly ONE scan of lineitem — the 6 exact distincts share
    // one Expand instead of 6 rescans
    val scans = df.queryExecution.optimizedPlan
      .collect { case r: org.apache.spark.sql.execution.datasources.LogicalRelation
        if r.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.exists(_.contains("lineitem")) => r }
      .length
    assert(scans == 1, s"expected exactly 1 lineitem scan, got $scans")
    assert(df.queryExecution.executedPlan.toString.contains("Expand"))
  }

  test("q30 histogram: exact integer binning reconciles with a driver recompute") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_extendedprice").collect().map(_.getDouble(0))
    val cents = li.map(v => math.floor(v * 100 + 0.5).toLong)
    val (mn, mx) = (cents.min, cents.max)
    val exp = cents.groupBy(c => (c - mn) * 10 / (mx - mn + 1))
      .view.mapValues(g => (g.length.toLong, g.min, g.max)).toMap
    val r = queries.Tpch.q30Histogram(spark, sf).collect()
    assert(r.map(_.getAs[Long]("bin")).forall(b => b >= 0 && b <= 9))
    assert(r.map(_.getAs[Long]("n")).sum == cents.length)
    r.foreach { row =>
      val (n, lo, hi) = exp(row.getAs[Long]("bin"))
      assert(row.getAs[Long]("n") == n)
      assert(row.getAs[Long]("lo_cents") == lo && row.getAs[Long]("hi_cents") == hi)
    }
  }

  test("j2 skew audit: top-10 recompute, salt arithmetic, TakeOrdered not global sort") {
    val counts = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_custkey").collect().map(_.getLong(0))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val total = counts.values.sum; val nKeys = counts.size.toLong
    val mean = math.max(1L, total / nKeys)
    val top = counts.toSeq.sortBy { case (k, c) => (-c, k) }.take(10)
    val df = queries.Tpch.j2SkewAudit(spark, sf)
    val r = df.collect()
    assert(r.map(x => (x.getAs[Long]("o_custkey"), x.getAs[Long]("cnt"))).toSeq == top)
    r.foreach { row =>
      val c = row.getAs[Long]("cnt")
      assert(row.getAs[Long]("salt_buckets") == (c + mean - 1) / mean)
      assert(row.getAs[Long]("ratio_mean_e6") == (2 * c * 1000000L + mean) / (2 * mean))
    }
    // the top-k must plan as TakeOrdered (bounded per-partition heaps),
    // not a full global sort of the key-count frame
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.linesIterator.take(6).mkString("\n"))
  }

  test("q26 cube: margins and grand total are consistent; one Expand pass, one shuffle") {
    val r = queries.Tpch.q26Cube(spark, sf).collect()
    val total = r.filter(x => x.getString(0) == "ALL" && x.getString(1) == "ALL")
    assert(total.length == 1)
    val leaf = r.filter(x => x.getString(0) != "ALL" && x.getString(1) != "ALL")
    assert(leaf.map(_.getAs[Long]("n_orders")).sum == total.head.getAs[Long]("n_orders"))
    val pMargin = r.filter(x => x.getString(0) != "ALL" && x.getString(1) == "ALL")
    assert(pMargin.map(_.getAs[Long]("n_orders")).sum == total.head.getAs[Long]("n_orders"))
    // all 2^k grouping sets ride ONE Expand + ONE hash shuffle (the
    // other exchange is the presentation sort)
    val plan = queries.Tpch.q26Cube(spark, sf).queryExecution.executedPlan.toString
    assert(plan.split("Expand").length == 2, plan)
    assert(plan.split("Exchange hashpartitioning").length == 2, plan)
  }

  test("q1 aggregates match hand-computed slice") {
    import org.apache.spark.sql.functions._
    val got = queries.Tpch.q1(spark, sf).collect()
    assert(got.length <= 6 && got.nonEmpty)
    val total = got.map(_.getAs[Long]("count_order")).sum
    val raw = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_shipdate") <= lit("1998-09-02")).count()
    assert(total === raw)
  }

  test("q34 skyline: front is undominated AND maximal against every order (driver recompute)") {
    import org.apache.spark.sql.functions._
    val front = queries.Tpch.q34Skyline(spark, sf).collect()
      .map(r => (r.getAs[String]("o_orderdate"), r.getAs[Long]("price_cents")))
    assert(front.nonEmpty)
    val pts = spark.read.parquet(s"$sf/orders.parquet")
      .select(date_format(col("o_orderdate").cast("date"), "yyyy-MM-dd").as("d"),
        round(col("o_totalprice") * 100).cast("long").as("p")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    def dominates(a: (String, Long), b: (String, Long)): Boolean =
      (a._1 >= b._1 && a._2 <= b._2) && (a._1 > b._1 || a._2 < b._2)
    front.foreach { f =>
      assert(!pts.exists(p => dominates(p, f)), s"front point $f is dominated")
    }
    pts.foreach { p =>
      assert(front.exists(f => f == p || dominates(f, p)),
        s"order point $p escapes the front")
    }
  }

  test("q35 corr: co-moments and scaled quotients recompute via BigInt on the raw slice") {
    import org.apache.spark.sql.functions._
    val got = queries.Tpch.q35Corr(spark, sf).collect()
    val raw = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_returnflag"), round(col("l_quantity")).cast("long"),
        round(col("l_extendedprice") * 100).cast("long")).collect()
      .map(r => (r.getString(0), BigInt(r.getLong(1)), BigInt(r.getLong(2))))
      .groupBy(_._1)
    assert(got.length == raw.size)
    got.foreach { row =>
      val xs = raw(row.getAs[String]("flag"))
      val n = BigInt(xs.length)
      val (sx, sy) = (xs.map(_._2).sum, xs.map(_._3).sum)
      val cxx = n * xs.map(x => x._2 * x._2).sum - sx * sx
      val cyy = n * xs.map(x => x._3 * x._3).sum - sy * sy
      val cxy = n * xs.map(x => x._2 * x._3).sum - sx * sy
      assert(BigInt(row.getAs[Long]("n_rows")) == n)
      val beta = (BigInt(2) * (cxy.abs * 1000000) + cxx) / (BigInt(2) * cxx)
      assert(row.getAs[Long]("beta_e6") == (cxy.signum * beta).toLong)
      val r2 = (cxy.abs / 1000).pow(2) * 1000 /
        ((cxx / 1000) * (cyy / 1000000)).max(BigInt(1))
      assert(row.getAs[Long]("r2_e6") == r2.toLong)
    }
  }

  test("g9 degree distribution: bin bounds, totals and mass parity reconcile") {
    val r = queries.GraphQueries.g9DegreeDist(spark, sf).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val bin = row.getAs[Long]("bin")
      assert(row.getAs[Long]("min_deg") >= (1L << bin.toInt))
      assert(row.getAs[Long]("max_deg") < (1L << (bin.toInt + 1)))
      assert(row.getAs[Long]("min_deg") <= row.getAs[Long]("max_deg"))
    }
    // undirected: total degree mass is even (each pair counted twice)
    assert(r.map(_.getAs[Long]("deg_mass")).sum % 2 == 0)
    val shareSum = r.map(_.getAs[Long]("node_share_e6")).sum
    assert(math.abs(shareSum - 1000000L) <= r.length / 2 + 1)
  }

  test("t30 + mm10: per-source document audits match a driver recompute") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"), col("text"), col("n_chars")).collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2)))
    val t30 = queries2.t30(spark, sf).collect()
    t30.foreach { row =>
      val src = row.getAs[String]("source")
      val slice = docs.filter(_._1 == src)
      assert(row.getAs[Long]("n_docs") == slice.length)
      val ratios = slice.map { case (_, text, _) =>
        val punct = text.count("{};=<>".contains(_)).toLong
        val nChars = math.max(text.length.toLong, 1L)
        ((BigInt(2) * (BigInt(punct) * 1000000) + nChars) / (BigInt(2) * nChars)).toLong
      }
      val indents = slice.map(s => ("\n    ".r.findAllIn(s._2).length).toLong)
      val flags = ratios.zip(indents).map { case (r6, ih) =>
        if (r6 >= 20000L || ih >= 3L) 1L else 0L }
      assert(row.getAs[Long]("n_code") == flags.sum)
      assert(row.getAs[Long]("avg_punct_e6") ==
        ((BigInt(2) * BigInt(ratios.sum) + slice.length) / (BigInt(2) * slice.length)).toLong)
    }
    val mm10 = queries2.mm10(spark, sf).collect()
    mm10.foreach { row =>
      val src = row.getAs[String]("source")
      val slice = docs.filter(_._1 == src)
      val bytes = slice.map(_._2.getBytes("UTF-8").length.toLong)
      assert(row.getAs[Long]("n_objects") == slice.length)
      assert(row.getAs[Long]("total_bytes") == bytes.sum)
      assert(row.getAs[Long]("total_frames") == bytes.map(_ / 256L + 1L).sum)
      assert(row.getAs[Long]("n_mismatch") ==
        slice.zip(bytes).count { case ((_, _, nc), b) => b != nc })
    }
  }

  test("q36 rfm: segments partition customers; marginals obey disc-quartile bounds") {
    import org.apache.spark.sql.functions._
    val r = queries.Tpch.q36Rfm(spark, sf).collect()
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("f"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("m"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    val n = orders.length.toLong
    assert(r.map(_.getAs[Long]("n_customers")).sum == n)
    assert(r.map(_.getAs[Long]("seg_cents")).sum == orders.map(_._3).sum)
    r.foreach { row =>
      Seq("r_q", "f_q", "m_q").foreach { c =>
        assert(row.getAs[Long](c) >= 1L && row.getAs[Long](c) <= 4L) }
    }
    // percentile_disc marginal property on the frequency axis: the
    // count of customers scored <= k must reach the ceil rank, and
    // whole tie-groups may push it past — but never past the count
    // of customers at values <= the threshold value
    val fCounts = (1 to 4).map { k =>
      r.filter(_.getAs[Long]("f_q") <= k).map(_.getAs[Long]("n_customers")).sum }
    (1 to 3).foreach { k =>
      assert(fCounts(k - 1) >= (k * n + 3) / 4, s"f quartile $k undershoots") }
    assert(fCounts(3) == n)
    // threshold minimality: customers at or below the k-quartile
    // threshold value are EXACTLY the ones scored <= k (value-group
    // atomicity — recompute thresholds in the driver)
    val freqs = orders.map(_._2).sorted
    val t1 = freqs(((n + 3) / 4 - 1).toInt)
    assert(fCounts(0) == freqs.count(_ <= t1))
  }

  test("q37 decile transitions match a driver recompute; matrix partitions each year's customers") {
    import org.apache.spark.sql.functions._
    val cy = spark.read.parquet(s"$sf/orders.parquet")
      .groupBy(expr("CAST(year(o_orderdate) AS LONG)").as("yr"), col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    // bucket-granularity deciles, recomputed exactly
    val byYear = cy.groupBy(_._1)
    val decileOf: Map[(Long, Long), Long] = byYear.flatMap { case (yr, rows) =>
      val hist = rows.groupBy(_._3 / 10000).view.mapValues(_.length.toLong).toSeq.sortBy(_._1)
      val ntot = rows.length.toLong
      val cums = hist.scanLeft(0L)(_ + _._2)
      hist.zip(cums).flatMap { case ((b, _), cum) =>
        val d = math.min(10L, cum * 10L / ntot + 1L)
        rows.filter(_._3 / 10000 == b).map(r => (yr, r._2) -> d)
      }
    }.toMap
    val years = byYear.keySet
    val expect = cy.filter(r => years.contains(r._1 + 1)).groupBy { r =>
      (r._1, decileOf((r._1, r._2)), decileOf.getOrElse((r._1 + 1, r._2), 0L))
    }.view.mapValues(_.length.toLong).toMap
    val got = queries.Tpch.q37DecileTransition(spark, sf).collect()
      .map(r => (r.getAs[Long]("yr"), r.getAs[Long]("decile_from"),
        r.getAs[Long]("decile_to")) -> r.getAs[Long]("n_customers")).toMap
    assert(got == expect, s"matrix mismatch: extra=${(got.keySet -- expect.keySet).take(3)}")
    // each transition year partitions exactly that year's customers
    years.filter(y => years.contains(y + 1)).foreach { y =>
      assert(got.collect { case ((`y`, _, _), n) => n }.sum == byYear(y).length.toLong)
    }
  }

  test("g10 assortativity matches an exact BigInt driver recompute") {
    val row = queries.GraphQueries.g10Assortativity(spark, sf).collect().head
    val pairs = queries.GraphQueries.g6CoPairs(spark, sf)
      .collect().map(x => (x.getAs[Long]("a"), x.getAs[Long]("b")))
    val edges = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val xs = edges.map { case (a, b) => (BigInt(deg(a)), BigInt(deg(b))) }
    val nn = BigInt(xs.length)
    val sx = xs.map(_._1).sum
    val sxx = xs.map(x => x._1 * x._1).sum
    val sxy = xs.map(x => x._1 * x._2).sum
    val cxx = nn * sxx - sx * sx
    val cxy = nn * sxy - sx * sx
    assert(row.getAs[Long]("n_edges") == pairs.length.toLong)
    val expect =
      if (cxy >= 0) (2 * (cxy * 1000000) + cxx) / (2 * cxx)
      else -((2 * (-cxy * 1000000) + cxx) / (2 * cxx))
    assert(row.getAs[Long]("assort_e6") == expect.toLong)
    // co-purchase graphs are hub-heavy: the sign should be defined
    assert(cxx != 0)
  }

  test("d16 cluster sizes: bins reconcile with the d7 cluster map") {
    val r = graft.dedup.Dedup.d16ClusterSizes(spark, sf).collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(r.map(_.getAs[Long]("n_docs")).sum == docs)
    r.foreach { row =>
      val bin = row.getAs[Long]("bin")
      // removable = docs - clusters within every bin, by construction
      assert(row.getAs[Long]("removable") ==
        row.getAs[Long]("n_docs") - row.getAs[Long]("n_clusters"))
      // every member cluster size sits inside [2^bin, 2^(bin+1))
      assert(row.getAs[Long]("n_docs") >= row.getAs[Long]("n_clusters") * (1L << bin.toInt))
      assert(row.getAs[Long]("n_docs") < row.getAs[Long]("n_clusters") * (1L << (bin.toInt + 1)))
    }
    // singletons bin exists (most docs are unique) and dup clusters shrink it
    assert(r.exists(_.getAs[Long]("bin") == 0L))
  }

  test("e29 seasonality: cells recompute from epoch arithmetic; shares telescope") {
    import org.apache.spark.sql.functions._
    val r = graft.queries.Events.e29Seasonality(spark, sf).collect()
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().map(x => (x.getString(0), x.getLong(1)))
    assert(r.map(_.getAs[Long]("n_events")).sum == ev.length.toLong)
    val cells = ev.groupBy { case (t, us) =>
      (t, (us / 86400000000L + 4) % 7, (us / 3600000000L) % 24) }
      .view.mapValues(_.size.toLong).toMap
    r.foreach { row =>
      val k = (row.getAs[String]("event_type"), row.getAs[Long]("dow"), row.getAs[Long]("hour"))
      assert(row.getAs[Long]("dow") >= 0 && row.getAs[Long]("dow") <= 6)
      assert(row.getAs[Long]("hour") >= 0 && row.getAs[Long]("hour") <= 23)
      assert(cells(k) == row.getAs[Long]("n_events"), s"cell $k")
    }
    assert(r.size == cells.size)
    // per-type share sums land within half-up rounding of 1e6
    r.groupBy(_.getAs[String]("event_type")).foreach { case (_, rows) =>
      val s = rows.map(_.getAs[Long]("share_e6")).sum
      assert(math.abs(s - 1000000L) <= rows.size / 2 + 1)
    }
  }

  test("t31 readability matches a driver recompute of the ARI chain") {
    import org.apache.spark.sql.functions._
    val r = graft.text.TextAnalysis.t31Readability(spark, sf).collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"), col("text")).collect()
      .map(x => (x.getString(0), x.getString(1)))
    def hup(n: BigInt, d: BigInt): BigInt = (2 * n + d) / (2 * d)
    r.foreach { row =>
      val slice = docs.filter(_._1 == row.getAs[String]("source")).map(_._2)
      val w = BigInt(slice.map(_.trim.split("\\s+").length.toLong).sum)
      val s = BigInt(slice.map(t => "[.!?]+".r.findAllIn(t).length.toLong).sum)
      // ASCII alnum only — the operator's [A-Za-z0-9] contract, NOT
      // Char.isLetterOrDigit (which admits Unicode letters)
      val c = BigInt(slice.map(_.count(ch =>
        (ch >= 'a' && ch <= 'z') || (ch >= 'A' && ch <= 'Z') ||
          (ch >= '0' && ch <= '9')).toLong).sum)
      val s1 = s.max(1)
      assert(row.getAs[Long]("n_docs") == slice.length.toLong)
      assert(row.getAs[Long]("words") == w.toLong)
      assert(row.getAs[Long]("sentences") == s.toLong)
      assert(row.getAs[Long]("alnum_chars") == c.toLong)
      assert(row.getAs[Long]("cpw_e6") == hup(c * 1000000, w).toLong)
      assert(row.getAs[Long]("wps_e6") == hup(w * 1000000, s1).toLong)
      assert(row.getAs[Long]("ari_e6") ==
        (hup(c * 4710000, w) + hup(w * 500000, s1) - 21430000).toLong)
    }
  }

  test("m27 fk fanout: per-relation stats and disc-p99 recompute") {
    import org.apache.spark.sql.functions._
    val r = graft.merge.MergeQueries.m27FkFanout(spark, sf).collect()
    assert(r.length == 4)
    def fanouts(table: String, key: String): Array[Long] =
      spark.read.parquet(s"$sf/$table.parquet")
        .groupBy(col(key)).agg(count(lit(1)).as("f"))
        .collect().map(_.getAs[Long]("f"))
    val rels = Map(
      "orders->customer" -> fanouts("orders", "o_custkey"),
      "lineitem->orders" -> fanouts("lineitem", "l_orderkey"),
      "lineitem->part" -> fanouts("lineitem", "l_partkey"),
      "lineitem->supplier" -> fanouts("lineitem", "l_suppkey"))
    r.foreach { row =>
      val f = rels(row.getAs[String]("relation"))
      val n = f.length.toLong
      assert(row.getAs[Long]("n_parents") == n)
      assert(row.getAs[Long]("n_children") == f.sum)
      assert(row.getAs[Long]("max_fanout") == f.max)
      val sorted = f.sorted
      val p99 = sorted(((99 * n + 99) / 100 - 1).toInt)
      assert(row.getAs[Long]("p99_fanout") == p99)
      assert(row.getAs[Long]("p99_fanout") <= row.getAs[Long]("max_fanout"))
    }
  }

  test("t32 zipf: spectrum, hapax share and regression recompute exactly") {
    import org.apache.spark.sql.functions._
    val r = graft.text.TextAnalysis.t32ZipfSpectrum(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("text")).collect().flatMap(x =>
        x.getString(0).toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
          .split(" ").filter(_.nonEmpty))
    val tf = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    def lg(v: Long): Long = (63 - java.lang.Long.numberOfLeadingZeros(v)).toLong
    val spec = tf.values.groupBy(lg).view
      .mapValues(v => (v.size.toLong, v.sum)).toMap
    assert(row.getAs[Long]("n_tokens") == toks.length.toLong)
    assert(row.getAs[Long]("vocab") == tf.size.toLong)
    assert(row.getAs[Long]("n_bins") == spec.size.toLong)
    def hup(n: BigInt, d: BigInt): BigInt = (2 * n + d) / (2 * d)
    val hapax = spec.getOrElse(0L, (0L, 0L))._1
    assert(row.getAs[Long]("hapax_share_e6") ==
      hup(BigInt(hapax) * 1000000, BigInt(tf.size)).toLong)
    val pts = spec.toSeq.map { case (b, (nt, _)) => (BigInt(b), BigInt(lg(nt))) }
    val k = BigInt(pts.length)
    val (sb, sl) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val cbb = k * pts.map(p => p._1 * p._1).sum - sb * sb
    val cll = k * pts.map(p => p._2 * p._2).sum - sl * sl
    val cbl = k * pts.map(p => p._1 * p._2).sum - sb * sl
    val slope =
      if (cbl >= 0) hup(cbl * 1000000, cbb) else -hup(-cbl * 1000000, cbb)
    assert(row.getAs[Long]("slope_e6") == slope.toLong)
    assert(row.getAs[Long]("r2_e6") == hup(cbl * cbl * 1000000, cbb * cll).toLong)
  }

  private object queries2 {
    def t30(s: SparkSession, d: String) = graft.text.TextAnalysis.t30CodeDetect(s, d)
    def mm10(s: SparkSession, d: String) = graft.multimodal.Media.mm10DecodeBudget(s, d)
  }
}
