package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.merge.MergeOps
import graft.operators.Skew

/** Property-based invariants over generated inputs — the guarantees
  * the operators must hold under ANY data, not just the fixtures.
  * (Raw ScalaCheck generators with fixed seeds; the scalatest-plus
  * bridge isn't in the dependency set.) */
class PropertySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val params = Gen.Parameters.default
  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(params, Seed(seed)).getOrElse(sys.error("gen failed"))

  test("assignSequentialIds is a contiguous bijection for any key set") {
    // dense keys (±100000) fall into at most two 2^22-wide value
    // blocks; sparse keys (±2^40) put nearly every row in its own
    // block, so the offsets window carries ~one row per input row
    for (bound <- Seq(100000L, 1L << 40); s <- 1L to 8L) {
      val keys = sample(Gen.listOfN(40, Gen.choose(-bound, bound)), s).distinct
      val ids = MergeOps.assignSequentialIds(keys.toDF("k"), "k", "nid", 7L)
        .collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("nid"))
      // contiguous range starting past `start`, one id per row
      assert(ids.map(_._2).sorted.toSeq == (8L to 7L + keys.length).toSeq, s"bound $bound seed $s")
      // order-preserving in the sort key
      assert(ids.sortBy(_._1).map(_._2).toSeq == ids.map(_._2).sorted.toSeq, s"bound $bound seed $s")
    }
  }

  test("CharGrams equals the substring reference for any text/k/stride, sliding and tiling") {
    // the one-pass generator must match substring(text, pos, k)
    // code-point semantics exactly — incl. multi-byte chars, partial
    // trailing windows and the stride stepping — or d19/mm11/mm12/t28
    // silently fork from their DuckDB oracles
    // strings, not chars: the clef is a surrogate PAIR (the case that
    // breaks char-indexed slicing)
    val alpha = Gen.oneOf("a", "b", " ", "é", "中", "𝄞", "x")
    for (s <- 1L to 8L) {
      val text = sample(Gen.listOfN(sample(Gen.choose(0, 60), s + 900), alpha), s)
        .mkString
      val k = sample(Gen.choose(1, 7), s + 300)
      val stride = sample(Gen.choose(1, 7), s + 600)
      for (partial <- Seq(false, true)) {
        val got = Seq(Tuple1(text)).toDF("text")
          .select(graft.functions.TextFunctions.charGrams($"text", k, stride, partial))
          .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
        // code-point reference (substring counts code points, not chars)
        val cps = text.codePoints().toArray
        def slice(from: Int, until: Int): String =
          new String(cps, from, math.min(until, cps.length) - from)
        val n = cps.length
        val want = Iterator.iterate(0)(_ + stride)
          .takeWhile(p => if (partial) p < n else p + k <= n)
          .map(p => (p + 1).toLong -> slice(p, p + k)).toSeq
        assert(got == want, s"seed $s k=$k stride=$stride partial=$partial text=$text")
      }
    }
  }

  test("salted join equals plain join for any fact/dim data") {
    for (s <- 1L to 5L) {
      val fact = sample(Gen.listOfN(30, Gen.zip(Gen.choose(0L, 8L), Gen.choose(0, 100))), s)
      val dimKeys = sample(Gen.listOfN(6, Gen.choose(0L, 10L)), s + 100).distinct
      val f = fact.toDF("fk", "v")
      val d = dimKeys.map(k => (k, s"d$k")).toDF("pk", "name")
      val salted = Skew.saltedJoin(f, "fk", d, "pk", buckets = 3, saltSrc = $"v")
      val plain = f.join(d, $"fk" === $"pk")
      assert(salted.count() == plain.count(), s"seed $s")
    }
  }

  test("consolidate maps every src row exactly once, to dest or a fresh id") {
    val rows = Gen.listOfN(20, Gen.zip(Gen.choose(1L, 500L), Gen.oneOf("aa", "bb", "cc", "dd", "ee")))
    for (s <- 1L to 5L) {
      val src = sample(rows, s).distinctBy(_._1).toDF("id", "name")
      val dest = sample(rows, s + 50).distinctBy(_._1).toDF("id", "name")
      val m = MergeOps.consolidate(src, dest, Seq("name"), "id").collect()
      assert(m.length == src.count(), s"seed $s")
      val destIds = dest.select("id").as[Long].collect().toSet
      val destMax = if (destIds.isEmpty) 0L else destIds.max
      m.foreach { r =>
        if (r.getAs[Int]("is_new") == 0)
          assert(destIds.contains(r.getAs[Long]("dest_id")), s"seed $s")
        else assert(r.getAs[Long]("dest_id") > destMax, s"seed $s")
      }
    }
  }

  test("IntMath.halfUpDiv equals BigInteger round-half-up for any sign and magnitude") {
    // includes numerators far past 2^53, where a double-division
    // implementation silently drifts (the round-5 review finding)
    val gen = Gen.zip(
      Gen.oneOf(Gen.choose(-1000000L, 1000000L),
        Gen.choose(Long.MinValue / 4, Long.MaxValue / 4)),
      Gen.oneOf(Gen.choose(1L, 1000L), Gen.choose(1L, Long.MaxValue / 8)))
    val cases = (1L to 40L).map(s => sample(gen, s)) ++
      Seq((3L, 2L), (-3L, 2L), (1L, 3L), ((1L << 60) + 1L, 3L), (Long.MaxValue / 4, 1L))
    val got = cases.toDF("n", "d")
      .select($"n", $"d", graft.functions.IntMath.halfUpDiv($"n", $"d").as("q"))
      .collect()
    got.foreach { r =>
      val (n, d, q) = (r.getLong(0), r.getLong(1), r.getLong(2))
      // the convention's mathematical definition: floor((2n+d)/(2d)) —
      // half rounds toward +infinity, negatives floor (not truncate).
      // Math.floorDiv is exact at any magnitude, unlike a double path.
      assert(q == Math.floorDiv(2L * n + d, 2L * d), s"n=$n d=$d got $q")
    }
  }

  test("NearestCentE6 argmin equals driver arithmetic for any vectors and centroids") {
    for (s <- 1L to 5L) {
      val dim = 16
      val vecGen = Gen.listOfN(dim, Gen.choose(-2000000L, 2000000L)).map(_.toArray)
      val cents = (1L to 5L).map(i => sample(vecGen, s * 100 + i)).toArray
      val rows = (1L to 30L).map(i => Tuple1(sample(vecGen, s * 1000 + i))).toDF("el")
      val got = rows.select($"el",
        graft.functions.VectorFunctions.nearestCentE6($"el", cents).as("packed")).collect()
      got.foreach { r =>
        val el = r.getSeq[Long](0)
        val dists = cents.map(c => el.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum)
        val best = dists.min
        assert(r.getLong(1) == best * 16L + dists.indexOf(best), s"seed $s")
      }
    }
  }

  test("binned range-join rewrite equals the nested loop for any data, bins, signs") {
    import graft.plans.BinnedRangeJoinRule
    val pts = Gen.listOfN(40, Gen.choose(-500L, 500L))
    val ivs = Gen.listOfN(15, Gen.zip(Gen.choose(-500L, 500L), Gen.choose(-60L, 120L)))
    for (s <- 1L to 6L) {
      val points = sample(pts, s).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      // hi < lo (inverted/empty) intervals arise naturally from negative spans
      val intervals = sample(ivs, s + 10).zipWithIndex
        .map { case ((lo, span), i) => (i.toLong, lo, lo + span) }
      val p = points.toDF("pid", "t")
      val iv = intervals.toDF("iid", "lo", "hi")
      def joined = p.join(iv, $"t" >= $"lo" && $"t" <= $"hi")
        .select($"pid", $"iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      spark.conf.set(BinnedRangeJoinRule.EnabledKey, "false")
      val naive = joined
      try {
        for (w <- Seq(1L, 7L, 100L)) {
          spark.conf.set(BinnedRangeJoinRule.EnabledKey, "true")
          spark.conf.set(BinnedRangeJoinRule.BinWidthKey, w.toString)
          assert(joined == naive, s"seed $s width $w")
        }
      } finally {
        spark.conf.set(BinnedRangeJoinRule.EnabledKey, "false")
        spark.conf.unset(BinnedRangeJoinRule.BinWidthKey)
      }
    }
  }

  test("Indexes.swap: same-plan re-registration keeps the cache; new plans still replace") {
    import graft.operators.Indexes
    import org.apache.spark.storage.StorageLevel
    val key = "swap-regression-spec"
    try {
      val a1 = Seq(1L, 2L, 3L).toDF("v").groupBy($"v").count()
      val r1 = Indexes.swap(key, a1)
      assert(r1.storageLevel != StorageLevel.NONE, "first registration persisted")
      // the bug: re-swapping an IDENTICAL plan used to persist the new
      // frame then unpersist the old — and Spark uncaches by
      // canonical-plan match, so the unpersist killed the NEW
      // registration too, leaving every consumer silently uncached
      val a2 = Seq(1L, 2L, 3L).toDF("v").groupBy($"v").count()
      val r2 = Indexes.swap(key, a2)
      assert(r2 eq r1, "same-result re-registration reuses the live generation")
      assert(r1.storageLevel != StorageLevel.NONE, "live generation still cached")
      // a genuinely different plan still replaces the generation
      val b = Seq(9L).toDF("v").groupBy($"v").count()
      val r3 = Indexes.swap(key, b)
      assert(!(r3 eq r1) && r3.storageLevel != StorageLevel.NONE)
      // external invalidation heals: once the live frame loses its
      // cache entry, a same-plan re-registration must RE-persist
      // rather than hand out the deregistered frame forever
      r3.unpersist(blocking = true)
      val r4 = Indexes.swap(key, Seq(9L).toDF("v").groupBy($"v").count())
      assert(r4.storageLevel != StorageLevel.NONE, "external unpersist must heal")
      // a column RENAME is not reuse (canonicalization erases alias
      // names; handing back the old names would break caller selects)
      val r5 = Indexes.swap(key,
        Seq(9L).toDF("v").groupBy($"v").count().withColumnRenamed("count", "n"))
      assert(r5.columns.toSeq == Seq("v", "n"), "renamed schema must replace")
    } finally Indexes.drop(key)
  }

  test("Indexes.memo: per-key latch — one compute under contention, reentrant, failure heals") {
    import graft.operators.Indexes
    val key = "memo-latch-spec"
    try {
      // N threads race the same cold key: exactly ONE compute runs,
      // every caller gets the same live frame (the round-6 latch —
      // the old global-lock memo serialized ALL keys through one
      // monitor and held it across driver actions)
      val computes = new java.util.concurrent.atomic.AtomicInteger(0)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        val results = (1 to 4).map { _ =>
          pool.submit(new java.util.concurrent.Callable[org.apache.spark.sql.DataFrame] {
            def call() = Indexes.memo(key) {
              computes.incrementAndGet()
              Thread.sleep(200) // widen the race window
              Seq(1L, 2L).toDF("v").groupBy($"v").count()
            }
          })
        }.map(_.get())
        assert(computes.get() == 1, s"expected 1 compute, got ${computes.get()}")
        assert(results.forall(_ eq results.head), "all callers share the live generation")
      } finally pool.shutdown()
      Indexes.drop(key)
      // a failing compute trips the latch exceptionally and leaves the
      // key computable (no wedged registration)
      intercept[RuntimeException] {
        Indexes.memo(key) { throw new RuntimeException("boom") }
      }
      val healed = Indexes.memo(key)(Seq(7L).toDF("v").groupBy($"v").count())
      assert(healed.count() == 1L, "failed compute must not wedge the key")
      Indexes.drop(key)
      // reentrancy: a compute that memoizes ANOTHER key (the d7/m13
      // nesting shape) and even re-enters its OWN key must not deadlock
      val nested = Indexes.memo(key) {
        val inner = Indexes.memo(s"$key:inner")(Seq(1L).toDF("v"))
        val self = Indexes.memo(key)(Seq(2L, 3L).toDF("v"))
        inner.unionAll(self)
      }
      assert(nested.count() == 3L)
    } finally {
      Indexes.drop(key); Indexes.drop(s"$key:inner")
    }
  }

  test("Indexes.memo: a cross-key wait cycle falls back to local compute instead of hanging") {
    import graft.operators.Indexes
    // A owns cyc-a and memos cyc-b while B owns cyc-b and memos cyc-a:
    // under the plain latch both threads would park forever. The memo
    // key graph is acyclic by design, so this is the loud-failure path
    // for a layering bug — the wait-cycle walk must break the deadlock
    // by computing locally on (at least) one side.
    val (ka, kb) = ("memo-cyc-a", "memo-cyc-b")
    val bothOwn = new java.util.concurrent.CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      def crossed(own: String, other: String, v: Long) =
        pool.submit(new java.util.concurrent.Callable[org.apache.spark.sql.DataFrame] {
          def call() = Indexes.memo(own) {
            bothOwn.await()
            Indexes.memo(other)(Seq(v).toDF("v")).unionAll(Seq(v + 1).toDF("v"))
          }
        })
      val fa = crossed(ka, kb, 1L)
      val fb = crossed(kb, ka, 3L)
      // 60 s >> the 1 s poll tick; a regression to the blocking join
      // fails here with a TimeoutException instead of wedging the suite
      val ra = fa.get(60, java.util.concurrent.TimeUnit.SECONDS)
      val rb = fb.get(60, java.util.concurrent.TimeUnit.SECONDS)
      // the invariant is LIVENESS, not a specific winner: depending on
      // which side detects the cycle first, the inner memo returns a
      // locally-computed 1-row frame or the other thread's completed
      // 2-3 row union — both are valid registry states
      assert(ra.count() >= 2L && rb.count() >= 2L)
    } finally {
      pool.shutdownNow(); Indexes.drop(ka); Indexes.drop(kb)
    }
  }

  test("Indexes.memo: an interrupted waiter propagates instead of silently recomputing") {
    import graft.operators.Indexes
    val key = "memo-intr-spec"
    val hold = new java.util.concurrent.CountDownLatch(1)
    val owning = new java.util.concurrent.CountDownLatch(1)
    val owner = new Thread(() => Indexes.memo(key) {
      owning.countDown(); hold.await(); Seq(1L).toDF("v")
    })
    @volatile var caught: Throwable = null
    val waiter = new Thread(() =>
      try Indexes.memo(key)(Seq(9L).toDF("v"))
      catch { case t: Throwable => caught = t })
    try {
      owner.start()
      assert(owning.await(10, java.util.concurrent.TimeUnit.SECONDS))
      waiter.start()
      Thread.sleep(300) // let the waiter park on the latch
      waiter.interrupt()
      waiter.join(10000)
      assert(!waiter.isAlive, "interrupted waiter must exit promptly")
      assert(caught.isInstanceOf[InterruptedException],
        s"expected InterruptedException, got $caught")
    } finally {
      hold.countDown(); owner.join(10000); Indexes.drop(key)
    }
  }

  test("connectedComponents converges in O(log diameter): a 64-node chain within maxIters=20") {
    import spark.implicits._
    // a path graph of diameter 63 — plain min-label propagation needs
    // 63 rounds (> maxIters) to carry node 0's label to the far end;
    // pointer jumping must land it in ~log2(63) ≈ 6. Ids descend so
    // the min sits at one END of the chain (the worst case).
    val n = 64
    val chain = (0 until n - 1).map(i => (i.toLong, i + 1L)).toDF("a", "b")
    val nodes = (0 until n).map(_.toLong).toDF("id")
    val cc = graft.operators.Graph.connectedComponents(chain, nodes, "ptr_chain")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size == n)
    assert(cc.values.toSet == Set(0L), "whole chain must collapse to label 0")
    // two chains + isolates: labels stay component-local
    val two = ((0 until 31).map(i => (i.toLong, i + 1L)) ++
      (40 until 62).map(i => (i.toLong, i + 1L))).toDF("a", "b")
    val nodes2 = (0 until 70).map(_.toLong).toDF("id")
    val cc2 = graft.operators.Graph.connectedComponents(two, nodes2, "ptr_chain2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0 to 31).forall(i => cc2(i.toLong) == 0L))
    assert((40 to 62).forall(i => cc2(i.toLong) == 40L))
    assert((32 to 39).forall(i => cc2(i.toLong) == i.toLong), "isolates are singletons")
  }

  test("breakDiscoveredCycles: any discovered FK digraph becomes a valid topo DAG, edges conserved") {
    import graft.merge.{MergeConfig, Orchestrator}
    import Orchestrator.{MergeMode, TableSpec}
    val n = 6
    val names = (0 until n).map(i => s"t$i")
    val edgeGen = Gen.listOfN(10, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
    for (s <- 1L to 30L) {
      val fkEdges = sample(edgeGen, s)
        .filter { case (a, b) => a != b }.distinct
        .groupBy(_._1)
        .map { case (a, es) =>
          names(a) -> es.zipWithIndex.map { case ((_, b), i) => s"fk$i" -> names(b) }.toMap }
      val specs = names.map(nm => TableSpec(nm, "id", Seq("k"), MergeMode.Move,
        fks = fkEdges.getOrElse(nm, Map.empty)))
      val broken = MergeConfig.breakDiscoveredCycles(specs, names.toSet)
      // (1) topo-orderable — no surviving cycle
      Orchestrator.topoOrder(broken)
      // (2) edge conservation: every original edge is either still an
      // fk or moved (same column, same parent) into deferredFks
      specs.zip(broken).foreach { case (orig, b) =>
        assert(orig.fks == b.fks ++ b.deferredFks, s"seed $s ${orig.name}")
      }
    }
  }

  test("bfsHops matches a driver-side BFS from local minima on any graph, any round count") {
    val edgeGen = Gen.listOfN(30, Gen.zip(Gen.choose(0L, 19L), Gen.choose(0L, 19L)))
    for (s <- 1L to 5L; rounds <- Seq(1, 3)) {
      val raw = sample(edgeGen, s)
      val pairs = raw
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter(e => e._1 != e._2).distinct
      if (pairs.nonEmpty) {
        val und = (pairs ++ pairs.map(p => (p._2, p._1))).distinct
        val nbrs = und.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        val seeds = nbrs.collect { case (id, ns) if id < ns.min => id }.toSet
        var hops = seeds.map(_ -> 0L).toMap
        var frontier = seeds
        for (r <- 1 to rounds) {
          val next = frontier.flatMap(nbrs(_)).diff(hops.keySet)
          hops ++= next.map(_ -> r.toLong)
          frontier = next
        }
        val got = graft.operators.Graph.bfsHops(raw.toDF("a", "b"), rounds)
          .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("hops")).toMap
        assert(got.keySet == nbrs.keySet, s"seed $s rounds $rounds")
        got.foreach { case (id, h) =>
          assert(h == hops.getOrElse(id, -1L), s"seed $s rounds $rounds node $id")
        }
      }
    }
  }

  test("chunk: any text, window and stride reassembles losslessly with full coverage") {
    // the invariants that make a RAG splitter safe: (1) every chunk
    // IS the original text at its claimed offset (placement
    // consistency — nothing reordered or corrupted), (2) chunk count
    // is 1 + floor((n-1)/stride) at arithmetic offsets, with at least
    // one chunk even for "", (3) coverage is complete: window ≥
    // stride makes consecutive chunks overlap or abut, and the last
    // chunk reaches the end of the text
    val textGen = Gen.chooseNum(0, 700).flatMap(n =>
      Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))
    for (s <- 1L to 6L; (w, st) <- Seq((200, 160), (50, 50), (10, 3))) {
      val txt = sample(textGen, s)
      val docs = Seq((1L, txt, txt.length.toLong)).toDF("doc_id", "text", "n_chars")
      val rows = graft.text.TextAnalysis.chunk(docs, w, st)
        .orderBy("chunk_no").collect()
        .map(r => (r.getAs[Long]("chunk_no"), r.getAs[Long]("chunk_start"),
          r.getAs[String]("chunk_text")))
      val expected = 1 + math.max(txt.length - 1, 0) / st
      assert(rows.length == expected, s"seed $s w=$w st=$st count")
      rows.zipWithIndex.foreach { case ((no, start, t), i) =>
        assert(no == i && start == 1L + i.toLong * st, s"seed $s w=$w st=$st offsets")
        val from = (start - 1).toInt
        assert(t == txt.substring(from, math.min(from + w, txt.length)),
          s"seed $s w=$w st=$st placement of chunk $i")
      }
      val (_, lastStart, lastText) = rows.last
      assert(lastStart - 1 + lastText.length == txt.length,
        s"seed $s w=$w st=$st tail coverage")
    }
  }

  test("g6's wedge/anti-join scoring matches driver brute force on any basket data") {
    // random (order, part) baskets → the full link-prediction chain
    // (support floor, degree cap, common neighbors, Jaccard, total
    // order) recomputed naively on the driver
    val rowGen = Gen.listOfN(60, Gen.zip(Gen.choose(0L, 11L), Gen.choose(0L, 14L)))
    for (s <- 1L to 4L) {
      val baskets = sample(rowGen, s).distinct
      val co = baskets.groupBy(_._1).values.toSeq
        .flatMap(items => for {
          a <- items.map(_._2); b <- items.map(_._2) if a < b
        } yield (a, b))
        .groupBy(identity).view.mapValues(_.size).toMap
      val edges = co.filter(_._2 >= 2).keySet.toSet
      val nbrs = (edges.toSeq ++ edges.toSeq.map(e => (e._2, e._1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val expect = (for {
        (mid, ns) <- nbrs.toSeq if ns.size <= 64
        u <- ns; v <- ns if u < v && !edges((u, v))
      } yield (u, v)).groupBy(identity).view.mapValues(_.size).toMap
      // stage the baskets as a lineitem-shaped parquet dir
      val dir = java.nio.file.Files.createTempDirectory("graft-g6").toString
      baskets.toDF("l_orderkey", "l_partkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val got = graft.queries.GraphQueries.g6LinkPred(spark, dir, topK = 10000)
        .collect()
        .map(r => (r.getAs[Long]("part_id1"), r.getAs[Long]("part_id2")) ->
          ((r.getAs[Long]("common_nbrs"),
            r.getAs[Long]("jaccard_e6")))).toMap
      assert(got.keySet == expect.keySet, s"seed $s candidate set")
      got.foreach { case (pair, (cn, jacc)) =>
        assert(cn == expect(pair).toLong, s"seed $s $pair cn")
        val (du, dv) = (nbrs(pair._1).size.toLong, nbrs(pair._2).size.toLong)
        val expJacc = Math.floorDiv(2L * cn * 1000000L + (du + dv - cn), 2L * (du + dv - cn))
        assert(jacc == expJacc, s"seed $s $pair jaccard")
      }
      graft.operators.Indexes.drop(s"g6_copairs:$dir:2")
    }
  }

  test("modularity matches driver arithmetic on any graph under any labeling, and sums like Q") {
    val edgeGen = Gen.listOfN(30, Gen.zip(Gen.choose(0L, 14L), Gen.choose(0L, 14L)))
    val labGen = Gen.listOfN(15, Gen.choose(0L, 3L))
    for (s <- 1L to 5L) {
      val raw = sample(edgeGen, s)
      val pairs = raw
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter(e => e._1 != e._2).distinct
      if (pairs.nonEmpty) {
        val m = pairs.length.toLong
        val labOf = sample(labGen, s + 50).zipWithIndex
          .map { case (c, id) => id.toLong -> c }.toMap
        val nodes = pairs.flatMap(e => Seq(e._1, e._2)).distinct
        val deg = (pairs ++ pairs.map(e => (e._2, e._1)))
          .groupBy(_._1).view.mapValues(_.size.toLong).toMap
        def hu(n: Long, d: Long) = Math.floorDiv(2L * n + d, 2L * d)
        val expect = nodes.groupBy(labOf).map { case (c, ns) =>
          val inE = pairs.count(e => labOf(e._1) == c && labOf(e._2) == c).toLong
          val dSum = ns.map(deg).sum
          val dsh = hu(dSum * 1000000L, 2L * m)
          c -> ((ns.length.toLong, inE, dSum, hu(inE * 1000000L, m) - hu(dsh * dsh, 1000000L)))
        }
        val got = graft.operators.Graph.modularity(
            raw.toDF("a", "b"),
            labOf.toSeq.toDF("id", "community"))
          .collect().map(r => r.getAs[Long]("community") ->
            ((r.getAs[Long]("comm_size"), r.getAs[Long]("in_edges"),
              r.getAs[Long]("deg_sum"), r.getAs[Long]("q_e6")))).toMap
        assert(got.keySet == expect.keySet, s"seed $s communities")
        got.foreach { case (c, v) => assert(v == expect(c), s"seed $s community $c") }
        // the Q identity that makes the audit a partition score: when
        // every node is labeled, Σ_c e_c = (intra-community) ≤ m and
        // Σ_c d_c = 2m exactly
        assert(got.values.map(_._3).sum == 2L * m, s"seed $s degree mass")
      }
    }
  }

  test("kCore matches a driver-side synchronous peel on any graph, any k, any round count") {
    val edgeGen = Gen.listOfN(30, Gen.zip(Gen.choose(0L, 19L), Gen.choose(0L, 19L)))
    for (s <- 1L to 5L; k <- Seq(2, 3); rounds <- Seq(1, 3)) {
      // the operator gets the RAW messy list (self-loops, duplicates,
      // both orientations) — its defensive normalization must make it
      // agree with a recompute over the cleaned graph
      val raw = sample(edgeGen, s)
      val pairs = raw
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter(e => e._1 != e._2).distinct
      if (pairs.nonEmpty) {
        val und = (pairs ++ pairs.map(p => (p._2, p._1))).distinct
        var alive = und.map(_._1).toSet
        var peeled = Map.empty[Long, Long]
        for (r <- 1 to rounds) {
          val deg = und.filter(e => alive(e._1) && alive(e._2))
            .groupBy(_._1).view.mapValues(_.length).toMap
          val out = alive.filter(n => deg.getOrElse(n, 0) < k)
          peeled ++= out.map(_ -> r.toLong)
          alive = alive.diff(out)
        }
        val finDeg = und.filter(e => alive(e._1) && alive(e._2))
          .groupBy(_._1).view.mapValues(_.length.toLong).toMap
        val got = graft.operators.Graph.kCore(raw.toDF("a", "b"), k, rounds)
          .collect().map(r => r.getAs[Long]("id") ->
            ((r.getAs[Long]("peel_round"), r.getAs[Long]("core_deg")))).toMap
        assert(got.keySet == und.map(_._1).toSet, s"seed $s k $k rounds $rounds")
        got.foreach { case (id, (pr, cd)) =>
          assert(pr == peeled.getOrElse(id, 0L), s"seed $s k $k rounds $rounds node $id round")
          val expCd = if (peeled.contains(id)) 0L else finDeg.getOrElse(id, 0L)
          assert(cd == expCd, s"seed $s k $k rounds $rounds node $id deg")
        }
      }
    }
  }

  test("discMedianHist equals the brute-force disc median for any histogram") {
    for (s <- 1L to 6L) {
      val rows = sample(Gen.nonEmptyListOf(
        Gen.zip(Gen.oneOf("a", "b", "c"), Gen.choose(-50L, 50L), Gen.choose(1L, 5L))), s)
        .distinct
      val h = rows.toDF("g", "v", "cnt")
      val got = graft.functions.IntMath.discMedianHist(h, "g", "v")
        .collect().map(r => r.getString(0) -> (r.getAs[Long]("n"), r.getAs[Long]("med"))).toMap
      rows.groupBy(_._1).foreach { case (g, rs) =>
        // expand the histogram and take the ceil(n/2)-th smallest
        val expanded = rs.toSeq.flatMap { case (_, v, c) => Seq.fill(c.toInt)(v) }.sorted
        val n = expanded.length
        val med = expanded((n + 1) / 2 - 1)
        assert(got(g) == ((n.toLong, med)), s"seed $s group $g")
      }
    }
  }

  test("compaction FFD plan: partition of small files, byte bound, determinism") {
    import graft.sources.Compaction
    // the packing core is exercised through plan() on synthetic dirs in
    // SourcesSpec; here the INVARIANTS under random file-size mixes,
    // driven through a real temp dir per seed
    for (s <- 1L to 3L) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-ffd$s")
      val sizes = sample(Gen.listOfN(25, Gen.choose(1, 2000)), s)
      sizes.zipWithIndex.foreach { case (n, i) =>
        java.nio.file.Files.write(dir.resolve(f"part-$i%05d.parquet"),
          Array.fill[Byte](n)(1))
      }
      val target = 4096L
      val small = 2048L
      val p = Compaction.plan(spark, dir.toString, target, small)
      val planned = p.groups.flatMap(_.files)
      // every sub-threshold file appears in EXACTLY one group
      assert(planned.distinct.length == planned.length, s"seed $s dup")
      assert(planned.length == sizes.count(_ < small), s"seed $s partition")
      // no group exceeds the target (single oversized files can't occur
      // here since small < target)
      assert(p.groups.forall(_.bytes <= target), s"seed $s bound")
      // healthy files are skipped, never planned
      assert(p.skipped.length == sizes.count(_ >= small), s"seed $s skip")
      // same listing -> identical plan
      assert(Compaction.plan(spark, dir.toString, target, small).groups == p.groups,
        s"seed $s determinism")
    }
  }

  test("the SES closed form equals the direct recurrence for any series") {
    // e31 relies on 2^(W-1)*s_W = x_1 + sum 2^(t-2)*x_t; pin the algebra
    // against the literal (x_t + s_{t-1})/2 recurrence in exact rationals
    for (s <- 1L to 8L) {
      val xs = sample(Gen.nonEmptyListOf(Gen.choose(0L, 1000000L)), s).take(32)
      val w = xs.length
      val p = xs.zipWithIndex.map { case (x, i) =>
        if (i == 0) BigInt(x) else BigInt(x) << (i - 1)
      }.sum
      // direct recurrence in exact rationals: s_t = sn/sd with
      // s_1 = x_1; s_t = (x_t + s_{t-1})/2 -> sn' = x_t*sd + sn, sd' = 2sd
      var sn = BigInt(xs.head); var sd = BigInt(1)
      for (t <- 1 until w) { sn = BigInt(xs(t)) * sd + sn; sd = sd * 2 }
      // sn/sd == p / 2^(w-1) exactly
      assert(sn * (BigInt(1) << (w - 1)) == p * sd, s"seed $s closed form")
    }
  }

  test("Ingest.jsonl partitions ANY line mix into good/quarantine with exact reasons") {
    import graft.sources.Ingest
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("t", StringType), StructField("opt", StringType)))
    // deterministic variant generator: every class of line a crawl
    // shard actually contains, cycled with unique payloads
    def variant(n: Int): (String, String) = (n % 8) match {
      case 0 => (s"""{"id": $n, "t": "text $n"}""", "good")
      case 1 => (s"""{"id": $n, "t": "t$n", "opt": "o$n"}""", "good")
      case 2 => (s"""{"id": $n, "t": "t$n", "opt": null}""", "good")
      case 3 => (s"""{"t": "orphan $n"}""", "missing_required")
      case 4 => (s"""{"id": null, "t": "n$n"}""", "missing_required")
      case 5 => (s"""{"id": $n, "t": "unterminated $n""", "malformed_json")
      case 6 => (s"""garbage line $n""", "malformed_json")
      case 7 => (s"""{"id": $n, "opt": "no t"}""", "missing_required")
    }
    val lines = (0 until 200).map(variant)
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl-prop")
    java.nio.file.Files.write(dir.resolve("shard.jsonl"),
      String.join("\n", lines.map(_._1): _*).getBytes("UTF-8"))
    val split = Ingest.jsonl(spark, dir.toString, schema, required = Seq("id", "t"))
    val good = split.good.collect()
    val quar = split.quarantine.collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // the partition property: every line in exactly one side
    assert(good.length + quar.size == lines.length)
    val expectGood = lines.filter(_._2 == "good").map(_._1)
    assert(good.length == expectGood.length)
    assert(good.map(_.getAs[Long]("id")).sorted.toSeq ==
      (0 until 200).filter(n => Set(0, 1, 2)(n % 8)).map(_.toLong))
    // reasons exact per class
    lines.filterNot(_._2 == "good").foreach { case (line, reason) =>
      assert(quar.get(line).contains(reason), s"line $line")
    }
  }
}
