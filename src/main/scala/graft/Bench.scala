package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

object Bench {

  /** The one artifact-phase worker pool (set only while the
    * `_artifacts` phase runs): chains AND m13_run's inner
    * materializations share it so total in-flight Spark jobs stay
    * inside the single cores-derived budget (guide §2.6 — "2-3 jobs
    * in flight is plenty", not one pool per call site). */
  @volatile private[graft] var sharedArtifactPool:
    java.util.concurrent.ExecutorService = null

  /** Compact JSON number: 3 decimals, trailing zeros (and a bare
    * trailing dot) stripped — "1.700" → "1.7", "0.000" → "0".
    * Locale.ROOT: a comma-decimal default locale (de_DE, tr_TR) would
    * otherwise print "1,700" and corrupt the JSON line. */
  private def num(v: Double): String = {
    val s = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    if (!s.contains('.')) s
    else s.reverse.dropWhile(_ == '0').stripPrefix(".").reverse match {
      case "" | "-" => "0"
      case t        => t
    }
  }

  /** The one stdout line, `{"metric":"total",...}`: the total over the
    * non-failed entries and a per-entry map. The line must stay SHORT:
    * the harness keeps only the last ~2000 chars of output and a longer
    * line gets front-clipped past "metric", so the metric line is
    * unparseable (observed rounds 1-3). If the map would not fit in
    * 1800 chars, the fastest entries are dropped from it (count
    * reported as "dropped") — slow queries are the ones per-round
    * comparison needs. */
  private[graft] def metricLine(results: Seq[(String, Double)], sfDir: String): String = {
    val total = results.map(_._2).filter(_ >= 0).sum
    def line(entries: Seq[(String, Double)], dropped: Int): String = {
      val qs = entries.map { case (k, v) => "\"" + k + "\":" + num(v) }
        .mkString("{", ",", "}")
      val drop = if (dropped > 0) s""","dropped":$dropped""" else ""
      s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":$qs$drop,"sf":"${
        Paths.get(sfDir).getFileName}"}"""
    }
    // the stored output tail is ~2000 chars and sbt's success trailer
    // (~80 chars) rides after the line; 1800 keeps the whole line
    // inside the tail with margin. (1850 got the r5 line front-clipped
    // when the trailer ran longer.)
    val budget = 1800
    // failed entries (-1.0) are pinned into the kept set — sorted by
    // "slowest" they'd rank as the fastest and be dropped FIRST,
    // erasing the failure marker from the published line
    val (failedQ, okQ) = results.partition(_._2 < 0)
    val bySlowest = okQ.sortBy(-_._2)
    var keep = bySlowest.size
    def kept(k: Int) = (failedQ ++ bySlowest.take(k)).sortBy(_._1)
    while (keep > 1 && line(kept(keep), bySlowest.size - keep).length > budget)
      keep -= 1
    line(kept(keep), bySlowest.size - keep)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession(s"local[$cpus]")
    // absorb JVM/codegen/scan warmup so per-query numbers are steady-state
    sources.Tables.read(spark, sfDir, "lineitem").count()
    SparkEntry.queries.get("q1_pricing_summary").foreach(_(spark, sfDir).count())
    // materialize the CROSS-QUERY memoized artifacts (d2 sketch pairs,
    // shingle-set index, d7 cluster assignment) in an explicitly timed
    // "_artifacts" phase. Without this the alphabetically-first
    // consumer (d10 in round 4: 44.6 s vs its own ~1 s of work)
    // absorbs the whole shared pipeline and masks real per-query
    // regressions; with it, every per-query number is that query's own
    // marginal cost regardless of execution order. Each family is
    // timed separately (the phase was 46% of BENCH_r05 and opaque —
    // the breakdown lands in BENCH_FULL.json, keyed "_artifacts/…").
    // The signature index is warmed BEFORE d2_pairs so each reports
    // its own marginal cost (d2 banding/verify vs signature build) and
    // so d14's re-banding sweep hits a live index even if an earlier
    // consumer's swap generation was replaced.
    // Dependency CHAINS, warmed CONCURRENTLY (4 driver threads →
    // overlapping Spark jobs; local[8] has headroom because each of
    // these small-stage pipelines underutilizes the cores alone).
    // Within a chain steps are sequential (each feeds the next);
    // chains that touch a shared memo (quantized, shingleRows) are
    // safe because Indexes.memo computes once behind a per-key latch.
    // Per-step numbers under concurrency are LATENCIES (cross-chain
    // contention included), still comparable run-to-run.
    // g3_labels and d7_clusters both consume the d2 pair graph but
    // not each other — fork them after d2 lands instead of chaining
    // (chain 1 was the local critical path with all four serial)
    val d2Done = new java.util.concurrent.CountDownLatch(1)
    // POOL INVARIANT (what keeps the shared pool deadlock-free): every
    // chain runs on `sharedArtifactPool`, which has a worker for each
    // chain plus headroom, and only m13_run blocks on futures submitted
    // to that pool; its inner tasks block on nothing. Every other step
    // finishes without waiting on pool work (g3_gate waits on chain 1's
    // latch, and chain 1 always holds a worker). A new step must not
    // submit-and-wait on the pool: with every worker blocked, its
    // futures could never start.
    val artifactChains: Seq[Seq[(String, () => Unit)]] = Seq(
      Seq(
        "sig_index"    -> (() => { graft.dedup.Dedup.sigIndex(spark, sfDir).count(); () }),
        "d2_pairs"     -> (() => {
          try graft.dedup.Dedup.d2Pairs(spark, sfDir).count()
          finally d2Done.countDown(); () }),
        "d7_clusters"  -> (() => { graft.dedup.Dedup.d7Clusters(spark, sfDir).count(); () })),
      Seq(
        // the converged LP label frame g3 AND g7 project; the gate
        // (timed separately so g3's own cost stays comparable) waits
        // for the pair graph so this fork never races chain 1 into
        // computing the d2 memo without its warmed signature index
        "g3_gate"      -> (() => { d2Done.await(); () }),
        "g3_labels"    -> (() => { graft.queries.GraphQueries.g3Labels(spark, sfDir).count(); () })),
      // the c1 curation frame (t1/t2/t22/t11 signal stack) is read by
      // c1, c2 AND c3; its t11 leg rides the shingle family
      Seq(
        "shingle_sets" -> (() => { graft.dedup.Dedup.shingleSets(spark, sfDir).count(); () }),
        "c1_curation"  -> (() => { graft.text.TextAnalysis.c1Curation(spark, sfDir).count(); () })),
      // r13-opt: the old single kmeans→…→walk_cadj chain WAS the
      // _artifacts critical path (its 10 steps summed to the phase's
      // entire 40 s wall at local[8]) — split along the REAL
      // dependency edges so independent index builds overlap (guide
      // §2.6). Measured both ways at local[8]: a 10-chain full split
      // REGRESSED the phase 40.3 → 49.2 s (every step's latency
      // inflated 2-4× — more in-flight chains than cores just moves
      // wall time into contention), so the split is BALANCED: ~8
      // chains whose longest (~21 s m13_run) bounds the phase. Steps
      // that share a memo (quantized, the s17 banding) stay safe
      // behind Indexes.memo's per-key latch.
      // k-means coarse training gates the IVF-PQ residual books; the
      // d5/d8 scored top-pair frame rides the quantized memo after.
      Seq(
        "kmeans"       -> (() => { graft.similarity.Knn.lloydCentroids(spark, sfDir); () }),
        "ivfpq_books"  -> (() => { graft.similarity.Knn.ivfpqBooks(spark, sfDir); () }),
        "d5_pairs"     -> (() => { graft.dedup.Dedup.d5EmbeddingNearDup(spark, sfDir).count(); () })),
      // PQ codebooks train per-subspace on the quantized memo only
      // (no coarse centroids — a separate chain from kmeans); then
      // the degree-3 serving graph and s40's tombstone-repaired
      // consolidation of it
      Seq(
        // the exact-recall yardstick every ANN audit joins against
        // (memoized in s1Brute, r13-opt) — warmed so each audit
        // reports its own serving marginal
        "s1_exact"     -> (() => { graft.similarity.Knn.s1Brute(spark, sfDir).count(); () }),
        "pq_codebooks" -> (() => { graft.similarity.Knn.pqCodebooks(spark, sfDir); () }),
        "walk_adj"     -> (() => { graft.similarity.Knn.walkAdjacency(spark, sfDir).count(); () }),
        "walk_fadj"    -> (() => { graft.similarity.Knn.walkDeleteAdjacency(spark, sfDir).count(); () })),
      // the maintenance lifecycle (the merged insert-attached index,
      // then the compacted index s41 serves — its churn composes the
      // attach), then the s38 sweep degrees over the shared (latched)
      // banding artifact and s42's 2-round d16 graph (the refine
      // generations are memoized per round, so the r2 build
      // re-expands walk_adj16's round-1 edges instead of rebuilding)
      Seq(
        // the cross-modal decode+embed tower mm5/mm9 share (memoized
        // in xmodalTowers, r13-opt) — the decode pass is the budget
        // mm10 prices, warmed like every other index build
        "mm_tower"     -> (() => { graft.multimodal.Media.warmXmodalTower(spark, sfDir) }),
        "walk_madj"    -> (() => { graft.similarity.Knn.walkAttachAdjacency(spark, sfDir).count(); () }),
        "walk_cadj"    -> (() => { graft.similarity.Knn.walkCompactAdjacency(spark, sfDir).count(); () }),
        "walk_adj8"    -> (() => { graft.similarity.Knn.walkAdjacency(spark, sfDir, 8).count(); () }),
        "walk_adj16"   -> (() => { graft.similarity.Knn.walkAdjacency(spark, sfDir, 16).count(); () }),
        "walk_adj16r2" -> (() => { graft.similarity.Knn.walkAdjacency(spark, sfDir, 16, 2).count(); () })),
      // the m13-family orchestrator run (merged tables + id maps)
      // is shared by m13 and m23 — warm both frame families
      Seq(
        "m13_run"      -> (() => {
          // per-table materializations are independent lineages (each
          // re-derives its parents from raw plans, not through the
          // sibling memos) — submit them concurrently. r14-opt: to the
          // SHARED artifact pool, not a private one — the r13 private
          // max(4,cpus/4) pool stacked ON TOP of the 8 chain threads
          // and oversubscribed the driver's cold local[32] run (75→153 s
          // phase). Total in-flight jobs now never exceed the one
          // cores-derived budget. Safe: these callables run no nested
          // pool-blocking work, so the single blocking submitter
          // (this step) always drains once sibling chains finish.
          val mts = graft.merge.OrchestratorQueries.sharedRun(spark, sfDir).values.toSeq
          val p = Bench.sharedArtifactPool
          mts.map { mt => p.submit(new java.util.concurrent.Callable[Unit] {
              def call(): Unit = { mt.merged.count(); mt.idMap.count(); () }
            }) }.foreach(_.get())
        })),
      // the BPE merge table is the t20/t21 trainer artifact (driver
      // memo — rounds sequential jobs; t20 read 11.9 s in the r6
      // driver run because the cold training landed on it), and the
      // g6 co-purchase edge list is the link-prediction index
      Seq(
        "bpe_table"    -> (() => { graft.text.TextAnalysis.bpeMergeTable(spark, sfDir, 5); () }),
        "g6_copairs"   -> (() => { graft.queries.GraphQueries.g6CoPairs(spark, sfDir).count(); () })))
    val ta0 = System.nanoTime()
    @volatile var artifactsFailed = false
    // ONE shared worker pool bounds TOTAL in-flight concurrency across
    // all chains AND m13_run's inner materializations (r14-opt): the
    // r13 shape (8 chain threads + a separate max(4,cpus/4) inner pool
    // = up to 16 concurrent jobs at 32 cores) is what the driver's
    // cold local[32] run thrashed on. Sizing, measured cold at 32
    // cores this round: a FLAT cores/4 pool (8 workers) REGRESSED the
    // phase 42.3 → 53.7 s — the 8 chain tasks occupied every worker
    // and m13_run's queued inner materializations starved behind them
    // (m13_run 29.6 → 40.1 s). So the budget keeps every chain
    // runnable and bounds the EXTRA in-flight work to a cores-derived
    // headroom: chains + max(2, cpus/8) (32 cores → 12 in flight,
    // down from r13's 16; 8 cores → 10, the shape whose phase the
    // driver's own c8 run already accepted). Deadlock freedom: the
    // POOL INVARIANT at `artifactChains`.
    val artifactWorkers = artifactChains.size + math.max(2, cpus.toInt / 8)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(artifactWorkers)
    Bench.sharedArtifactPool = pool
    val artifactTimes =
      try artifactChains.map { chain =>
        pool.submit(new java.util.concurrent.Callable[Seq[(String, Double)]] {
          def call(): Seq[(String, Double)] = chain.map { case (step, run) =>
            val t0 = System.nanoTime()
            try run() catch { case e: Throwable =>
              System.err.println(s"[bench] _artifacts/$step FAILED: ${e.getMessage}")
              artifactsFailed = true
            }
            val sec = (System.nanoTime() - t0) / 1e9
            System.err.println(f"[bench] _artifacts/$step%-20s $sec%8.2f s")
            step -> sec
          }
        })
      }.flatMap(_.get())
      finally { pool.shutdown(); Bench.sharedArtifactPool = null }
    val artifactsSec = (System.nanoTime() - ta0) / 1e9
    System.err.println(f"[bench] ${"_artifacts"}%-22s $artifactsSec%8.2f s")
    // optional comma-separated query-name filter (local iteration on a
    // handful of queries without the full 160-query sweep); the driver
    // passes no args → full run
    val only = args.headOption.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    def timeOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
    : Double = {
      val t0 = System.nanoTime()
      val failed =
        try { fn(spark, sfDir).count(); false }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); true
        }
      val sec = (System.nanoTime() - t0) / 1e9
      // a failed query must not masquerade as a fast success
      if (failed) -1.0 else sec
    }
    val firstPass = selected.map { case (name, fn) =>
      val sec = timeOne(name, fn)
      System.err.println(f"[bench] $name%-22s $sec%8.2f s")
      name -> sec
    }
    // Steady-state re-measure: BASELINE.md's per-query figures are
    // best-known STEADY-STATE times, but one cold pass on the shared
    // box reads transient load spikes as regressions (r5: g4 at 7×
    // its baseline purely from driver contention; r6: t20 likewise —
    // both at baseline when re-run minutes later). Queries whose
    // first pass exceeds the floor get ONE more run and report the
    // min; every cross-query artifact is explicitly warmed above, so
    // both passes measure the same marginal cost and the min is the
    // steady-state sample, not a warmth advantage. First-pass times
    // stay in BENCH_FULL.json's "first_run" map for transparency.
    val remeasureFloor = 2.0
    val perQuery = firstPass.map { case (name, sec) =>
      if (sec <= remeasureFloor) name -> sec
      else {
        val sec2 = timeOne(name, SparkEntry.queries(name))
        System.err.println(f"[bench] $name%-22s $sec2%8.2f s (re-measure; first $sec%.2f)")
        name -> (if (sec2 < 0) sec else math.min(sec, sec2))
      }
    }
    val results = ("_artifacts" -> (if (artifactsFailed) -1.0 else artifactsSec)) +: perQuery
    val total = results.map(_._2).filter(_ >= 0).sum
    // Full-precision record for the repo (BENCH_FULL.json, committed
    // per round); the stdout line is [[metricLine]]'s trimmed map.
    val fullQs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val artQs = artifactTimes.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // first-pass times for the re-measured queries (those above the
    // floor) — the published number is the min of the two passes
    val firstQs = firstPass.filter { case (k, v) =>
      v > remeasureFloor && perQuery.toMap.get(k).exists(_ != v)
    }.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    // a FILTERED local-iteration run must not clobber the committed
    // full-run record with a near-empty query map
    Files.writeString(
      Paths.get(if (only.isEmpty) "BENCH_FULL.json" else "BENCH_FILTERED.json"),
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$fullQs,"artifacts":$artQs,"first_run":$firstQs,"sf":"$sfDir"}""" + "\n")
    // persisted-frame footprint audit (§5): every live cached RDD with
    // its storage level and bytes, to stderr — the registry's
    // aggregate footprint vs the storage pool is the r13 eviction
    // mechanism, and this table is how BASELINE.md's memo budget is
    // produced and re-checked per run.
    val rs = spark.sparkContext.getRDDStorageInfo
    rs.sortBy(-_.memSize).foreach { r =>
      System.err.println(f"[bench] cache ${r.memSize / 1048576.0}%8.1f MB mem " +
        f"${r.diskSize / 1048576.0}%8.1f MB disk  ${r.storageLevel.description}%-30s ${r.name}")
    }
    System.err.println(f"[bench] cache TOTAL ${rs.map(_.memSize).sum / 1048576.0}%.1f MB mem " +
      f"${rs.map(_.diskSize).sum / 1048576.0}%.1f MB disk over ${rs.length} frames")
    println(metricLine(results, sfDir))
    spark.stop()
  }
}
