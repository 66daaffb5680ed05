package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.dedup.Dedup
import graft.text.TextAnalysis

/** Pins dedup + text-analysis behavior on synthetic docs with planted
  * exact and near duplicates (written to a temp dir in the testdata
  * layout, so the operators run end-to-end through the same path the
  * driver uses). */
class DedupTextSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog and runs far away into the green hills tonight"
  private lazy val tmp: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-docs").toString
    val docs = Seq(
      (0L, base, "en", "s0", base.length.toLong),
      (1L, base, "en", "s0", base.length.toLong),                       // exact dup of 0
      (2L, base.replace("tonight", "today"), "en", "s1", 90L),          // near dup of 0
      (3L, "completely different text about spark query engines and distributed joins for scale",
        "en", "s2", 80L),
      (4L, "short one", "en", "s3", 9L),
      (5L, base.replace("quick", "slow").replace("tonight", "today"), "en", "s4", 90L) // near dup
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("d1 exact dedup groups identical normalized text, keeps min id") {
    val r = Dedup.d1Exact(spark, tmp).collect()
    val g = r.find(_.getAs[Long]("n_copies") == 2L)
    assert(g.isDefined && g.get.getAs[Long]("keep_id") == 0L)
    assert(r.map(_.getAs[Long]("n_copies")).sum == 6L)
  }

  test("d2 minhash LSH finds the planted near-dups without all-pairs") {
    val pairs = Dedup.d2MinhashLsh(spark, tmp)
      .select("doc_id1", "doc_id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))  // exact dup always survives
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L)))  // near dup caught
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))  // unrelated doc not paired
  }

  test("d3 simhash: identical docs at hamming 0, near-dups within budget") {
    val r = Dedup.d3Simhash(spark, tmp).collect()
      .map(x => (x.getAs[Long]("doc_id1"), x.getAs[Long]("doc_id2")) -> x.getAs[Long]("hamming"))
      .toMap
    assert(r.get((0L, 1L)).contains(0L))
    assert(!r.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("d4 jaccard: exact dup = 1.0, near dup high, ordering deterministic") {
    val r = Dedup.d4NgramJaccard(spark, tmp).collect()
    val m = r.map(x => (x.getAs[Long]("doc_id1"), x.getAs[Long]("doc_id2")) -> x.getAs[Double]("jaccard")).toMap
    assert(m((0L, 1L)) == 1.0)
    assert(m.get((0L, 2L)).exists(j => j > 0.6 && j < 1.0))
  }

  test("mm4 byte-level media dedup collapses identical payloads, keeps min id") {
    val r = graft.multimodal.Media.mm4MediaDedup(spark, tmp).collect()
    val dup = r.filter(_.getAs[Long]("n_copies") > 1)
    assert(dup.length == 1 && dup.head.getAs[Long]("n_copies") == 2)
    assert(dup.head.getAs[Long]("keep_id") == 0L) // docs 0 and 1 are byte-identical
    assert(r.map(_.getAs[Long]("n_copies")).sum == 6L) // every doc in exactly one group
  }

  test("t10 pii scrub: planted markers counted and masked; clean docs untouched") {
    val r = TextAnalysis.t10PiiScrub(spark, tmp).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_emails"), x.getAs[Long]("n_urls"), x.getAs[Long]("n_ips"),
          x.getAs[String]("scrubbed_fp"))).toMap
    // doc 0 is divisible by 7, 11 AND 13 → one of each marker planted
    assert(r(0L)._1 == 1 && r(0L)._2 == 1 && r(0L)._3 == 1)
    // docs 1–5: nothing planted, nothing matched → scrub is identity
    val rawFp = spark.read.parquet(s"$tmp/documents.parquet")
      .select($"doc_id", md5($"text").as("fp")).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[String]("fp")).toMap
    (1L to 5L).foreach { id =>
      assert(r(id)._1 == 0 && r(id)._2 == 0 && r(id)._3 == 0)
      assert(r(id)._4 == rawFp(id), s"doc $id fingerprint changed by a no-op scrub")
    }
    // doc 0's fingerprint reflects the MASKED text, and masking killed
    // every marker (a second scrub pass finds nothing)
    assert(r(0L)._4 != rawFp(0L))
  }

  test("t11 contamination agrees with a from-scratch recomputation on real data") {
    val dir = sf
    val out = TextAnalysis.t11Contamination(spark, dir).collect()
    assert(out.nonEmpty)
    // independent driver-side recomputation: tokens → 3-grams → set ops
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    def grams(t: String): Set[String] = {
      val toks = t.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim.split(" ").toSeq
      if (toks.size < 3) Set.empty
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    val split = TextAnalysis.t5StableSplit(spark, dir)
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    val trainSet = docs.filter(d => split(d._1) == "train").flatMap(d => grams(d._2)).toSet
    val expected = docs.filter(d => split(d._1) == "test")
      .map { case (id, t) =>
        val g = grams(t)
        id -> (g.size.toLong, g.count(trainSet).toLong)
      }.filter(_._2._1 > 0).toMap
    assert(out.length == expected.size)
    out.foreach { x =>
      val id = x.getAs[Long]("doc_id")
      val (n, hit) = expected(id)
      assert(x.getAs[Long]("n_shingles") == n, s"doc $id shingle count")
      assert(x.getAs[Long]("n_contaminated") == hit, s"doc $id contamination")
      assert(x.getAs[Long]("contamination_e6") == (2 * hit * 1000000L + n) / (2 * n))
    }
  }

  test("t3/t4: token counts and fingerprint agree with hand computation") {
    val t3 = TextAnalysis.t3TokenCount(spark, tmp).filter($"doc_id" === 0).head()
    assert(t3.getAs[Int]("ws_tokens") == base.split("\\s+").length)
    assert(t3.getAs[Int]("re_tokens") == base.split("\\s+").length)
    val t4 = TextAnalysis.t4Fingerprint(spark, tmp).collect()
    assert(t4.filter(_.getAs[Long]("doc_id") <= 1).map(_.getAs[String]("fingerprint")).distinct.length == 1)
  }

  test("t1 lang id picks en for english stopword-heavy text") {
    val r = TextAnalysis.t1LangId(spark, tmp).filter($"doc_id" === 0).head()
    assert(r.getAs[String]("pred_lang") == "en")
    assert(r.getAs[Long]("en_ratio_e6") > 0)
  }

  test("d6 incremental dedup rejects corpus dups, admits fresh docs once") {
    // incoming = ids % 5 == 0 → {0, 5}; corpus = {1,2,3,4}.
    // doc 0 duplicates corpus doc 1 exactly → rejected;
    // doc 5 is only a NEAR dup of corpus docs → admitted (exact pass).
    val r = Dedup.d6IncrementalDedup(spark, tmp).collect().map(_.getAs[Long]("doc_id"))
    assert(r.toSeq == Seq(5L))
  }

  test("t5 stable split is content-derived: identical text, identical split") {
    val r = TextAnalysis.t5StableSplit(spark, tmp).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[String]("split")).toMap
    assert(r(0L) == r(1L))  // exact dups co-split → no train/test leakage
    assert(r.values.forall(Set("train", "val", "test")))
  }

  test("d5 returns topN most similar pairs, deterministically ordered") {
    val r1 = Dedup.d5EmbeddingNearDup(spark, sf, topN = 10).collect()
    val r2 = Dedup.d5EmbeddingNearDup(spark, sf, topN = 10).collect()
    assert(r1.length == 10 && r1.sameElements(r2))
    val sims = r1.map(_.getAs[Double]("cos_sim"))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
  }

  test("d7 clusters are transitive closures: chained pairs collapse to one canonical id") {
    import spark.implicits._
    // doc_ids whose d2 pairs chain (A-B, B-C) must share min-id cluster
    val clusters = Dedup.d7DupClusters(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    val pairs = Dedup.d2MinhashLsh(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id1"), r.getAs[Long]("doc_id2")))
    // every pair's two docs share a cluster, and the cluster id is a member
    pairs.foreach { case (a, b) =>
      assert(clusters(a) == clusters(b), s"pair ($a,$b) split across clusters")
    }
    clusters.foreach { case (d, c) =>
      assert(c <= d)                        // canonical = min member
      assert(clusters(c) == c, s"canonical $c of $d is not its own canonical")
    }
    // docs in no pair are singletons
    val paired = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    clusters.filterNot { case (d, _) => paired(d) }
      .foreach { case (d, c) => assert(c == d) }
  }

  test("every near-dup/ANN plan is a bucketed join — no broadcast nested loop, no cartesian") {
    // the property that keeps the whole sketch family alive at 100×:
    // candidates come from equi-joins on bucket keys, never all-pairs
    Seq(
      "d2" -> Dedup.d2MinhashLsh(spark, sf),
      "d3" -> Dedup.d3Simhash(spark, sf),
      "d5" -> Dedup.d5EmbeddingNearDup(spark, sf),
      "d9" -> Dedup.d9Overlap(spark, sf),
      "t15" -> TextAnalysis.t15Boilerplate(spark, sf),
      "s2" -> graft.similarity.Knn.s2Ivf(spark, sf)
    ).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name: ${plan.linesIterator.take(5).mkString("\n")}")
      assert(!plan.contains("CartesianProduct"), name)
    }
  }

  test("round-3 op plan shapes: t10 shuffle-free compute, t11 no BNLJ, mm4 single digest shuffle") {
    // t10 is a per-row projection: the ONLY exchange is the
    // presentation sort (rangepartitioning) — no hash shuffle at all
    val t10 = TextAnalysis.t10PiiScrub(spark, sf).queryExecution.executedPlan.toString
    assert(!t10.contains("hashpartitioning"), t10.linesIterator.take(8).mkString("\n"))
    // t11's test ⋈ train containment is an equi-join on the shingle
    val t11 = TextAnalysis.t11Contamination(spark, sf).queryExecution.executedPlan.toString
    assert(!t11.contains("BroadcastNestedLoopJoin") && !t11.contains("CartesianProduct"))
    // mm4 shuffles only (doc_id, 32-char digest) — the payload column
    // must not survive past the projection under the aggregate
    val mm4 = graft.multimodal.Media.mm4MediaDedup(spark, sf).queryExecution
    assert(!mm4.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    val aggInputs = mm4.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a.child.output.map(_.name)
    }
    assert(aggInputs.nonEmpty && aggInputs.forall(!_.contains("payload")),
      s"payload reaches the shuffle: $aggInputs")
  }

  test("t12 packing: bucketed prefix-sum equals a global cumsum; windows tile the stream") {
    import org.apache.spark.sql.expressions.Window
    val r = TextAnalysis.t12Pack(spark, sf).collect()
    // windows tile: offsets are an exclusive prefix sum of n_tok in
    // SOME total order — sorted by start_tok, each doc starts exactly
    // where the previous ended, from 0
    val byOff = r.sortBy(_.getAs[Long]("start_tok"))
    assert(byOff.head.getAs[Long]("start_tok") == 0L)
    byOff.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("start_tok") ==
        a.getAs[Long]("start_tok") + a.getAs[Long]("n_tok"))
    case _ => }
    // the two-level scan must equal the naive single-partition global
    // window (the formulation that does NOT scale) — recompute it here
    val docs = graft.sources.Tables.read(spark, sf, "documents")
      .select($"doc_id", md5(TextAnalysis.normalize($"text")).as("fp"),
        size(split(trim($"text"), "\\s+")).cast("long").as("n_tok"))
    val naive = docs.withColumn("start_tok",
        coalesce(sum($"n_tok").over(Window.orderBy($"fp", $"doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select($"doc_id", $"start_tok").collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Long]("start_tok")).toMap
    r.foreach(x => assert(x.getAs[Long]("start_tok") == naive(x.getAs[Long]("doc_id"))))
    // window spans are consistent with the 512-token chunking
    r.foreach { x =>
      val (s, n) = (x.getAs[Long]("start_tok"), x.getAs[Long]("n_tok"))
      assert(x.getAs[Long]("first_win") == s / 512)
      assert(x.getAs[Long]("last_win") == (s + n - 1) / 512)
      assert(x.getAs[Long]("n_wins") == (s + n - 1) / 512 - s / 512 + 1)
    }
  }

  test("d8 semantic dedup keeps exactly one representative per planted twin pair") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val rows = (0 until 10).flatMap { i =>
      val v = Array.fill(64)(rng.nextGaussian().toFloat)
      val twin = v.map(x => x + 0.05f * rng.nextGaussian().toFloat) // cos > 0.95
      Seq((i.toLong * 2, v), (i.toLong * 2 + 1, twin))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-d8").toString
    rows.toDF("vec_id", "embedding").withColumn("label", lit(0))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val r = Dedup.d8SemanticDedup(spark, dir, topN = 10).collect()
    assert(r.length == 20)
    // every twin maps to the even rep; exactly one survivor per pair
    (0 until 10).foreach { i =>
      val pair = r.filter(x => x.getAs[Long]("vec_id") / 2 == i)
      assert(pair.map(_.getAs[Long]("rep_id")).toSet == Set(i.toLong * 2),
        s"pair $i not collapsed: ${pair.mkString(",")}")
      assert(pair.map(_.getAs[Long]("is_kept")).sum == 1L)
    }
  }

  test("d5 finds planted high-cosine near-dups (recall 1.0 at cos >= 0.9)") {
    // The sf corpus is random (top pairs sit near cos 0.5, the regime
    // where sub-quadratic search is information-theoretically weak);
    // REAL near-dup corpora have cos >= 0.9 pairs, where banding
    // guarantees P(candidate) ≈ 1-(1-0.9^8)^16 ≈ 0.9996. Plant such
    // pairs and require every one recalled, plus agreement with the
    // brute-force oracle on the planted set.
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val base = (0 until 40).map(_ => Array.fill(64)(rng.nextGaussian().toFloat))
    val rows = base.zipWithIndex.flatMap { case (v, i) =>
      // twin = v with small perturbation → cos > 0.95
      val twin = v.map(x => x + 0.1f * rng.nextGaussian().toFloat)
      Seq((i.toLong * 2, v), (i.toLong * 2 + 1, twin))
    }
    val tmp2 = java.nio.file.Files.createTempDirectory("graft-d5").toString
    rows.toDF("vec_id", "embedding").withColumn("label", lit(0))
      .write.mode("overwrite").parquet(s"$tmp2/embeddings.parquet")
    val found = Dedup.d5EmbeddingNearDup(spark, tmp2, topN = 40).collect()
      .map(r => (r.getAs[Long]("vec_id1"), r.getAs[Long]("vec_id2"))).toSet
    val planted = (0 until 40).map(i => (i.toLong * 2, i.toLong * 2 + 1)).toSet
    assert(planted.subsetOf(found),
      s"missed planted pairs: ${(planted -- found).take(5)}")
    val brute = Dedup.d5BruteForce(spark, tmp2, topN = 40).collect()
      .map(r => (r.getAs[Long]("vec_id1"), r.getAs[Long]("vec_id2"))).toSet
    assert((brute intersect planted) == (found intersect planted))
  }

  test("shingleOcc memo equals the distinct (doc_id, sh) derivation it replaces") {
    // r14-opt: t11/d4/t15/shingleSets now share one memoized distinct
    // occurrence frame instead of re-running the docs scan + window
    // pipeline each — pin row-set equivalence
    val memo = Dedup.shingleOcc(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val direct = Dedup.shingleRows(spark, sf).dropDuplicates("doc_id", "sh")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(memo == direct)
    assert(memo.nonEmpty)
  }

  test("d9 overlap equals a driver-side ALL-pairs recomputation on real data") {
    // the rare-shingle candidate index must lose nothing at the 0.8
    // threshold on this corpus: compare against brute-force overlap
    // over every pair, computed from the same shingle sets
    val sets = Dedup.shingleRows(spark, sf).dropDuplicates("doc_id", "sh")
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).toSet }
    val expected = (for {
      (id1, s1) <- sets; (id2, s2) <- sets if id1 < id2
      ov = (s1 intersect s2).size * 1000000L / math.min(s1.size, s2.size)
      if ov >= 800000L
    } yield (id1, id2, ov)).toSet
    val got = Dedup.d9Overlap(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id1"), r.getAs[Long]("doc_id2"),
        r.getAs[Long]("overlap_e6"))).toSet
    assert(got == expected, s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
  }

  test("t18 quality classifier matches a driver-side hashed-weight recomputation") {
    import graft.functions.DetHash
    def toks(s: String): Seq[String] =
      s.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim.split(" ", -1).toSeq
    val texts = graft.sources.Tables.read(spark, tmp, "documents").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val got = TextAnalysis.t18QualityClassifier(spark, tmp).collect()
    assert(got.length == texts.size)
    got.foreach { r =>
      val ws = toks(texts(r.getAs[Long]("doc_id")))
        .map(t => DetHash.md5Long60(s"qw:$t") % 2000001L - 1000000L)
      val n = ws.length.toLong
      val score = Math.floorDiv(2L * ws.sum + n, 2L * n)
      assert(r.getAs[Long]("n_tokens") == n, s"doc ${r.get(0)} token count")
      assert(r.getAs[Long]("score_e6") == score, s"doc ${r.get(0)} score")
      assert(r.getAs[Int]("keep") == (if (score >= 0L) 1 else 0))
    }
    // identical texts (docs 0/1, the planted exact dups) must score
    // identically — the classifier is content-deterministic
    val byId = got.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("score_e6")).toMap
    assert(byId(0L) == byId(1L))
  }

  test("d9 scores containment that jaccard misses (quote inside a long doc)") {
    import spark.implicits._
    val quote = "alpha beta gamma delta epsilon zeta eta theta"
    val long = s"unrelated filler words spread all around here $quote and then even more filler text continues onwards"
    val dir = java.nio.file.Files.createTempDirectory("graft-d9").toString
    Seq(
      (0L, quote, "en", "s0", quote.length.toLong),
      (1L, long, "en", "s1", long.length.toLong),
      (2L, "a completely different third document about nothing shared", "en", "s2", 50L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = Dedup.d9Overlap(spark, dir).collect()
    // every 3-gram of the quote appears in the long doc → overlap = 1.0
    assert(r.length == 1 && r.head.getAs[Long]("doc_id1") == 0L &&
      r.head.getAs[Long]("doc_id2") == 1L &&
      r.head.getAs[Long]("overlap_e6") == 1000000L, r.mkString(","))
  }

  test("t16 dup-ngram fraction agrees with a driver-side recomputation on real data") {
    val occ = Dedup.shingleRows(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = occ.groupBy(_._1).map { case (id, xs) =>
      val n = xs.length.toLong
      val dup = n - xs.map(_._2).distinct.length.toLong
      val n2 = dup * 1000000L * 2 + n
      id -> (n2 - java.lang.Math.floorMod(n2, 2 * n)) / (2 * n)
    }
    val got = TextAnalysis.t16DupNgrams(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dup_ngram_e6")).toMap
    assert(got == expected)
  }

  test("d10 calibration covers every d2 pair; exact jaccard verified driver-side") {
    val sets = Dedup.shingleRows(spark, sf).dropDuplicates("doc_id", "sh").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).toSet }
    val d2n = Dedup.d2MinhashLsh(spark, sf).count()
    val d10 = Dedup.d10SketchCalibration(spark, sf).collect()
    assert(d10.length == d2n, s"${d10.length} vs $d2n")
    d10.foreach { r =>
      val (s1, s2) = (sets(r.getAs[Long]("doc_id1")), sets(r.getAs[Long]("doc_id2")))
      val (inter, uni) = ((s1 intersect s2).size.toLong, (s1 union s2).size.toLong)
      // ×1e6 half-up integer ratio, same formula as the operator
      val n2 = inter * 1000000L * 2 + uni
      val exactE6 = (n2 - java.lang.Math.floorMod(n2, 2 * uni)) / (2 * uni)
      assert(r.getAs[Long]("exact_jaccard_e6") == exactE6, r)
      val estE6 = math.round(r.getAs[Double]("est_jaccard") * 1000000d)
      assert(r.getAs[Long]("err_e6") == estE6 - exactE6, r)
      assert((r.getAs[Int]("is_false_pos") == 1) == (exactE6 < 500000L))
    }
  }

  test("d21 b-bit calibration: both estimators' rollups recompute from signatures and sets") {
    val sig = Dedup.sigIndex(spark, sf, 32).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (0 until 32).map(j => r.getAs[Long](s"h$j")).toArray).toMap
    val sets = Dedup.shingleRows(spark, sf).dropDuplicates("doc_id", "sh").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).toSet }
    val pairs = Dedup.d2Pairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id1"), r.getAs[Long]("doc_id2")))
    def hup(n: Long, d: Long): Long = { val n2 = 2 * n + d; (n2 - java.lang.Math.floorMod(n2, 2 * d)) / (2 * d) }
    val errs = pairs.map { case (a, b) =>
      val (sa, sb) = (sig(a), sig(b))
      val mf = (0 until 32).count(j => sa(j) == sb(j)).toLong
      val m1 = (0 until 32).count(j => (sa(j) & 1L) == (sb(j) & 1L)).toLong
      val (x, y) = (sets(a), sets(b))
      val exact = hup((x intersect y).size.toLong * 1000000L, (x union y).size.toLong)
      (math.abs(mf * 31250L - exact), math.abs(math.max((m1 * 2 - 32) * 31250L, 0L) - exact))
    }
    val r = Dedup.d21BbitCalibration(spark, sf).collect()
      .map(x => x.getAs[String]("estimator") -> x).toMap
    assert(r.keySet == Set("bbit_32x1b", "minhash_32x61b"))
    val cases = Seq(("minhash_32x61b", 256L, errs.map(_._1)), ("bbit_32x1b", 4L, errs.map(_._2)))
    cases.foreach { case (est, bytes, es) =>
      val row = r(est)
      assert(row.getAs[Long]("bytes_per_doc") == bytes)
      assert(row.getAs[Long]("n_pairs") == pairs.length.toLong, s"$est n")
      assert(row.getAs[Long]("mean_abs_err_e6") == hup(es.sum, es.length.toLong), s"$est mean")
      assert(row.getAs[Long]("max_abs_err_e6") == es.max, s"$est max")
    }
    // the compression must not be free OR catastrophic on this corpus:
    // 1-bit error is >= full error (information can only be lost)
    assert(r("bbit_32x1b").getAs[Long]("mean_abs_err_e6") >=
      r("minhash_32x61b").getAs[Long]("mean_abs_err_e6"))
  }

  test("t11 bloom scale path: superset-within-FPR of the exact audit, shingle-join-free") {
    val fpp = 0.01
    val exact = TextAnalysis.t11Contamination(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_shingles"), r.getAs[Long]("n_contaminated")))).toMap
    val bloom = TextAnalysis.t11ContaminationBloom(spark, sf, fpp = fpp).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_shingles"), r.getAs[Long]("n_contaminated")))).toMap
    // same docs, same shingle universe; contamination only OVER-counts
    assert(bloom.keySet == exact.keySet)
    var extra = 0L; var negatives = 0L
    exact.foreach { case (id, (n, cont)) =>
      val (bn, bcont) = bloom(id)
      assert(bn == n, s"doc $id shingle count")
      assert(bcont >= cont, s"doc $id: bloom under-counted (impossible for a Bloom filter)")
      extra += bcont - cont; negatives += n - cont
    }
    // observed FPR within a 3x margin of the configured fpp
    assert(negatives == 0L || extra.toDouble / negatives <= 3 * fpp,
      s"observed FPR ${extra.toDouble / negatives} vs fpp $fpp")
    // the plan carries ONLY the doc_id split join — the train shingle
    // set reaches the test side as broadcast bits, never as rows
    def joins(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.toString.linesIterator
        .count(l => l.contains("Join") && !l.contains("ReusedExchange"))
    assert(joins(TextAnalysis.t11ContaminationBloom(spark, sf, fpp = fpp)) == 1)
    assert(joins(TextAnalysis.t11Contamination(spark, sf)) >= 2)
    // the probe is Spark's codegen'd BloomFilterMightContain, not a
    // per-row Scala UDF — the predicate stays in WholeStageCodegen
    val bloomPlan = TextAnalysis.t11ContaminationBloom(spark, sf, fpp = fpp)
      .queryExecution.executedPlan.toString
    assert(!bloomPlan.contains("UDF"), "bloom probe regressed to a UDF")
    assert(bloomPlan.contains("might_contain"), bloomPlan.take(2000))
    // deterministic: same train set + sizing → bit-identical filter
    val again = TextAnalysis.t11ContaminationBloom(spark, sf, fpp = fpp).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_contaminated"))).toMap
    assert(again == bloom.view.mapValues(_._2).toMap)
  }

  test("mm6 media filter: reject reasons partition every asset exactly once") {
    val r = graft.multimodal.Media.mm6MediaFilter(spark, sf).collect()
    assert(r.nonEmpty)
    r.foreach { x =>
      val (n, kept, small, short) = (x.getAs[Long]("n_assets"), x.getAs[Long]("n_kept"),
        x.getAs[Long]("n_small_res"), x.getAs[Long]("n_short"))
      assert(kept + small + short == n, s"reasons don't partition: $x")
      val keep = x.getAs[Long]("keep_e6")
      assert(keep >= 0L && keep <= 1000000L)
    }
    // totals must cover the corpus
    assert(r.map(_.getAs[Long]("n_assets")).sum ==
      graft.sources.Tables.read(spark, sf, "documents").count())
  }

  test("t15 boilerplate agrees with a driver-side recomputation on real data") {
    val occ = Dedup.shingleRows(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val df = occ.distinct.groupBy(_._2).map { case (sh, xs) => sh -> xs.length }
    val common = df.collect { case (sh, n) if n >= 4 => sh }.toSet
    val expected = occ.groupBy(_._1).map { case (id, xs) =>
      val n = xs.length.toLong
      val hits = xs.count(x => common(x._2)).toLong
      // halfUpDiv(hits*1e6, n)
      val n2 = hits * 1000000L * 2 + n
      id -> (n, hits, (n2 - java.lang.Math.floorMod(n2, 2 * n)) / (2 * n))
    }
    val got = TextAnalysis.t15Boilerplate(spark, sf).collect().map(r =>
      r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_shingles"), r.getAs[Long]("n_common"),
          r.getAs[Long]("boilerplate_e6")))).toMap
    assert(got == expected)
    assert(got.values.exists(_._3 > 0L), "no common shingles found at all — threshold dead")
  }

  test("t19 passage dedup: planted shared passages merge to maximal spans") {
    val r = TextAnalysis.t19PassageDedup(spark, tmp).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    // docs 0/1 are identical 18-token texts: one wall-to-wall span
    assert(r(0L).getAs[Long]("n_tokens") == 18L)
    assert(r(0L).getAs[Long]("n_dup_spans") == 1L)
    assert(r(0L).getAs[Long]("max_span_len") == 18L)
    assert(r(0L).getAs[Long]("dup_frac_e6") == 1000000L)
    // doc 3 shares no 5-gram with anyone
    assert(r(3L).getAs[Long]("n_dup_spans") == 0L && r(3L).getAs[Long]("dup_frac_e6") == 0L)
    // doc 4 is shorter than one gram — no grams, zero coverage
    assert(r(4L).getAs[Long]("n_tokens") == 2L && r(4L).getAs[Long]("dup_tokens") == 0L)
    // doc 5 differs from the base at token 1 ("slow") but shares its
    // tail with doc 2 ("today"): hits at gram starts 2..13 merge to
    // ONE island covering tokens [2,17] = 16 of 18
    assert(r(5L).getAs[Long]("n_dup_spans") == 1L && r(5L).getAs[Long]("dup_tokens") == 16L)
  }

  test("kmv_mins aggregate: k smallest DISTINCT values survive partial merges") {
    import graft.functions.SketchFunctions
    // 1000 values with duplicates, spread over 8 partitions so the
    // map-side partial + merge path genuinely runs
    val vals = (1 to 500).flatMap(i => Seq(i.toLong * 7, i.toLong * 7)) // dups of 7,14,...,3500
    val df = vals.toDF("h").repartition(8)
      .agg(SketchFunctions.kmvMins($"h", 10).as("mins"))
    val row0 = df.collect().head
    val mins = row0.getSeq[Long](row0.fieldIndex("mins")).toList
    assert(mins == (1 to 10).map(_.toLong * 7).toList, s"got $mins")
    // below k the sketch is exact: 4 distinct values -> size-4 array
    val row1 = Seq(5L, 5L, 9L, 1L, 7L).toDF("h")
      .agg(SketchFunctions.kmvMins($"h", 10).as("mins"))
      .collect().head
    val small = row1.getSeq[Long](row1.fieldIndex("mins")).toList
    assert(small == List(1L, 5L, 7L, 9L))
  }

  test("g1 pagerank: cluster members outrank isolated docs; isolated rank = base") {
    val r = graft.queries.GraphQueries.g1PageRank(spark, tmp).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("degree"), x.getAs[Long]("rank_e6"))).toMap
    assert(r.size == 6)
    // docs 3 and 4 are isolated: degree 0, rank = halfUp(150000/6) = 25000
    assert(r(3L) == (0L, 25000L) && r(4L) == (0L, 25000L))
    // every connected doc strictly outranks the isolated base
    r.filter(_._2._1 > 0).foreach { case (id, (_, rank)) =>
      assert(rank > 25000L, s"doc $id rank $rank")
    }
    // rank mass ≤ 1e6 up to rounding; dangling/isolated docs leak their
    // outgoing mass each round, so the total sits well below 1e6 here
    val total = r.values.map(_._2).sum
    assert(total > 400000L && total <= 1010000L, s"total $total")
  }

  test("g2 triangles: planted K4 + pendant + chain counted exactly, hub emits no wedges") {
    import graft.operators.Graph
    // K4 on 1-4, pendant 5-1, disjoint path 6-7-8 (no triangle)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 1L), (6L, 7L), (7L, 8L),
      (2L, 1L), (3L, 3L) // reversed dup + self loop: must be normalized away
    ).toDF("x", "y")
    val r = Graph.triangles(edges).collect()
      .map(x => x.getAs[Long]("id") ->
        (x.getAs[Long]("degree"), x.getAs[Long]("triangles"))).toMap
    assert(r.size == 8)
    assert(r(1L) == (4L, 3L)) // K4 member + pendant: 3 of K4's 4 triangles
    assert(r(2L) == (3L, 3L) && r(3L) == (3L, 3L) && r(4L) == (3L, 3L))
    assert(r(5L) == (1L, 0L))
    assert(r(6L) == (1L, 0L) && r(7L) == (2L, 0L) && r(8L) == (1L, 0L))
  }

  test("g2 over the planted docs: near-dup clique closes, lcc bounded") {
    val r = graft.queries.GraphQueries.g2Triangles(spark, tmp).collect()
    // only connected docs appear; g1's fixture has 4 of 6 in the graph
    assert(r.nonEmpty && r.length < 6)
    r.foreach { row =>
      val (deg, tri, lcc) = (row.getAs[Long]("degree"),
        row.getAs[Long]("triangles"), row.getAs[Long]("lcc_e6"))
      assert(deg >= 1L && lcc >= 0L && lcc <= 1000000L)
      assert(tri <= deg * (deg - 1L) / 2L) // triangles ≤ wedges at the node
    }
    // docs 0,1,2,5 are mutual near-dups (one clique) → every member
    // has a fully-closed neighborhood
    assert(r.forall(_.getAs[Long]("lcc_e6") == 1000000L))
  }

  test("d17 containment: a quote-excerpt pair Jaccard dedup misses is flagged, with direction") {
    val dir = java.nio.file.Files.createTempDirectory("graft-d17").toString
    val container = (1 to 40).map(i => s"w$i").mkString(" ") // 38 shingles
    val excerpt = (11 to 20).map(i => s"w$i").mkString(" ")  // 8, all ⊆ container
    Seq(
      (10L, container, "en", "s0", container.length.toLong),
      (11L, excerpt, "en", "s1", excerpt.length.toLong),
      (12L, "totally unrelated corpus text about training data pipelines at large scale today",
        "en", "s2", 80L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = Dedup.d17Containment(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    assert((row.getAs[Long]("doc_id1"), row.getAs[Long]("doc_id2")) == (10L, 11L))
    // full containment of the excerpt side, named as the CONTAINED doc
    assert(row.getAs[Long]("contain2_e6") == 1000000L)
    assert(row.getAs[Long]("contained_id") == 11L)
    // the Jaccard this pair shows a near-dup pass: 8/38 — far below
    // d2/d4's thresholds (the operator's reason to exist)
    assert(row.getAs[Long]("jaccard_e6") == 8L * 1000000L / 38L)
    assert(row.getAs[Long]("is_excerpt") == 1L)
    assert(Dedup.d4NgramJaccard(spark, dir).collect()
      .forall(x => (x.getAs[Long]("doc_id1"), x.getAs[Long]("doc_id2")) != (10L, 11L)),
      "d4's Jaccard threshold should miss the excerpt pair")
    // on the real corpus every emitted pair respects the filter and
    // the direction invariant (contained side = the higher containment)
    Dedup.d17Containment(spark, sf).collect().foreach { x =>
      val (c1, c2) = (x.getAs[Long]("contain1_e6"), x.getAs[Long]("contain2_e6"))
      assert(math.max(c1, c2) >= 800000L)
      val expect = if (c1 >= c2) x.getAs[Long]("doc_id1") else x.getAs[Long]("doc_id2")
      assert(x.getAs[Long]("contained_id") == expect)
      assert(x.getAs[Long]("jaccard_e6") <= math.min(c1, c2)) // jaccard ≤ both containments
    }
  }

  test("d18 LSH ensemble: audit reconciles with a driver-side reference; recall priced per partition") {
    val r = Dedup.d18EnsembleContainment(spark, sf).collect()
      .map(x => x.getAs[Long]("p") -> x).toMap
    assert(r.nonEmpty)
    r.foreach { case (p, x) =>
      assert(x.getAs[Long]("x_hi") == (1L << (p + 1)) - 1L)
      assert(x.getAs[Long]("n_pairs") <= x.getAs[Long]("n_cands"))
      assert(x.getAs[Long]("n_hit") <= math.min(x.getAs[Long]("n_ref"), x.getAs[Long]("n_pairs")))
    }
    // the reference column IS d17's exact pair set bucketed by the
    // container's partition — reconcile against a driver-side recount
    val refByP = Dedup.d17Containment(spark, sf).collect()
      .map { x =>
        val nBig = math.max(x.getAs[Long]("n1"), x.getAs[Long]("n2"))
        63 - java.lang.Long.numberOfLeadingZeros(nBig) // floor(log2)
      }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    refByP.foreach { case (p, n) =>
      assert(r(p.toLong).getAs[Long]("n_ref") == n, s"partition $p ref count")
    }
    // deterministic banding (fixed seeds): on this corpus the ensemble
    // recovers 24 of 28 reference pairs — the misses sit in the SMALL
    // partitions where x_hi over-bounds the container and the adjusted
    // threshold under-tunes the banding (the paper's own finer-
    // partition motivation); larger partitions recall in full
    assert(r.values.map(_.getAs[Long]("n_ref")).sum == 28L)
    assert(r.values.map(_.getAs[Long]("n_hit")).sum == 24L)
    assert(r(6L).getAs[Long]("recall_e6") == 1000000L)
  }

  test("t34 BM25: scores recompute exactly; tf saturates; length normalization bites") {
    import graft.text.TextAnalysis
    val r = TextAnalysis.t34Bm25(spark, sf).collect()
    assert(r.nonEmpty)
    r.groupBy(_.getAs[String]("token")).foreach { case (tok, rows) =>
      assert(rows.length <= 10, s"token $tok overflow")
      val byRank = rows.sortBy(_.getAs[Int]("rank"))
      assert(byRank.map(_.getAs[Int]("rank")).toSeq == (1 to rows.length))
      val scores = byRank.map(_.getAs[Long]("score_e6"))
      assert(scores.sameElements(scores.sorted.reverse), s"token $tok not ranked")
    }
    // driver-side exact recompute of the integer BM25 (k1=1.2, b=0.75)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"text").as[String].collect()
    def toks(t: String) = t.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
      .split(" ").filter(_.nonEmpty).toSeq
    val tfs = docs.map(toks(_).groupBy(identity).view.mapValues(_.size.toLong).toMap)
    val nd = BigInt(tfs.length)
    val sdl = BigInt(tfs.map(_.values.sum).sum)
    def hu(n: BigInt, d: BigInt) = (2 * n + d) / (2 * d)
    r.foreach { x =>
      val (tf, dl, df) = (BigInt(x.getAs[Long]("tf")), BigInt(x.getAs[Long]("dl")),
        BigInt(x.getAs[Long]("df")))
      val idf = nd * 1000000 / df
      val den = 10 * tf * sdl + 3 * sdl + 9 * dl * nd
      assert(BigInt(x.getAs[Long]("score_e6")) == hu(idf * 22 * tf * sdl, den),
        s"token ${x.getAs[String]("token")} doc ${x.getAs[Long]("doc_id")}")
    }
    // length normalization: same tf, longer doc → never a higher score
    r.groupBy(_.getAs[String]("token")).values.foreach { rows =>
      for (a <- rows; b <- rows
           if a.getAs[Long]("tf") == b.getAs[Long]("tf") &&
             a.getAs[Long]("dl") < b.getAs[Long]("dl"))
        assert(a.getAs[Long]("score_e6") >= b.getAs[Long]("score_e6"))
    }
  }

  test("t35 fertility reconciles with t21's encode and the t3 word counts") {
    import graft.text.TextAnalysis
    val r = TextAnalysis.t35Fertility(spark, sf).collect()
    assert(r.nonEmpty)
    // driver-side recompute from the shared encode + word tokenizer
    val enc = TextAnalysis.t21BpeEncode(spark, sf).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_chars"), x.getAs[Long]("n_symbols"))).toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"source", $"text").collect()
    val bySrc = docs.filter(d => enc.contains(d.getAs[Long]("doc_id")))
      .groupBy(_.getAs[String]("source"))
    r.foreach { row =>
      val src = row.getAs[String]("source")
      val ds = bySrc(src)
      val (chars, syms) = ds.map(d => enc(d.getAs[Long]("doc_id")))
        .foldLeft((0L, 0L)) { case ((c, s), (c2, s2)) => (c + c2, s + s2) }
      val words = ds.map(_.getAs[String]("text").toLowerCase
        .replaceAll("[^a-z0-9]+", " ").trim.split(" ").count(_.nonEmpty).toLong).sum
      assert(row.getAs[Long]("n_docs") == ds.length)
      assert(row.getAs[Long]("sum_chars") == chars && row.getAs[Long]("sum_symbols") == syms)
      assert(row.getAs[Long]("sum_words") == words)
      def hu(n: Long, d: Long) = (2 * n + d) / (2 * d)
      assert(row.getAs[Long]("fertility_e6") == hu(syms * 1000000L, math.max(words, 1L)))
      // 5 merge rounds: still several symbols per word, and every merge
      // strictly shortens — the two ratios bracket sanely
      assert(row.getAs[Long]("fertility_e6") > 1000000L)
      val cps = row.getAs[Long]("chars_per_symbol_e6")
      assert(cps >= 1000000L && cps < 2000000L, s"$src chars/symbol $cps")
    }
  }

  test("d14 LSH sweep: nested bands give monotone candidates; the (8x4) row reconciles with d2") {
    val r = Dedup.d14LshSweep(spark, sf).collect()
      .map(x => x.getAs[Int]("r") -> x).toMap
    assert(r.keySet == Set(2, 4, 8))
    // band boundaries NEST (an r=8 agreement implies both r=4
    // sub-agreements, etc.) so candidate sets are supersets as r
    // shallows — deterministically, not just in expectation
    assert(r(2).getAs[Long]("n_cands") >= r(4).getAs[Long]("n_cands"))
    assert(r(4).getAs[Long]("n_cands") >= r(8).getAs[Long]("n_cands"))
    assert(r(2).getAs[Long]("n_good") >= r(4).getAs[Long]("n_good"))
    assert(r(4).getAs[Long]("n_good") >= r(8).getAs[Long]("n_good"))
    r.values.foreach { x =>
      val (nc, ng) = (x.getAs[Long]("n_cands"), x.getAs[Long]("n_good"))
      assert(ng <= nc)
      assert(x.getAs[Long]("precision_e6") ==
        (if (nc == 0) 0L else Math.floorDiv(2 * ng * 1000000L + nc, 2 * nc)))
    }
    // the sweep's confirmed count at the CURRENT config must equal the
    // production pair set (same signatures, same bar)
    val d2n = Dedup.d2Pairs(spark, sf, threshold = 0.7).count()
    assert(r(4).getAs[Long]("n_good") == d2n)
    // and the sweep must actually discriminate configs on real data
    assert(r(2).getAs[Long]("n_cands") > r(8).getAs[Long]("n_cands"))
  }

  test("g3 communities: synchronous LP parity with a driver recompute; sizes consistent") {
    val pairs = graft.dedup.Dedup.d2Pairs(spark, sf, threshold = 0.7)
      .select($"doc_id1", $"doc_id2").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    var lab = adj.keySet.map(n => n -> n).toMap
    for (_ <- 1 to 3) {
      lab = adj.map { case (n, ns) =>
        val counts = ns.groupBy(lab).view.mapValues(_.length).toMap
        n -> counts.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
      }
    }
    val r = graft.queries.GraphQueries.g3Communities(spark, sf).collect()
    assert(r.map(_.getAs[Long]("doc_id")).toSet == lab.keySet,
      "every node in the pair graph is labeled, nothing else")
    val sizes = lab.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    r.foreach { row =>
      val id = row.getAs[Long]("doc_id")
      assert(row.getAs[Long]("community") == lab(id), s"doc $id label")
      assert(row.getAs[Long]("comm_size") == sizes(lab(id)), s"doc $id size")
    }
    // communities refine d7's connected components: two docs with
    // different labels may share a component, but a community never
    // spans two components
    val comp = graft.dedup.Dedup.d7Clusters(spark, sf).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Long]("cluster_id")).toMap
    r.groupBy(_.getAs[Long]("community")).foreach { case (c, members) =>
      val comps = members.map(m => comp(m.getAs[Long]("doc_id"))).distinct
      assert(comps.length == 1, s"community $c spans components $comps")
    }
  }

  test("g4 k-core: driver peel recompute parity; triangle nodes never peel") {
    val pairs = graft.dedup.Dedup.d2Pairs(spark, sf, threshold = 0.7)
      .select($"doc_id1", $"doc_id2").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val und = (pairs ++ pairs.map(p => (p._2, p._1))).distinct
    var alive = und.map(_._1).toSet
    var peeled = Map.empty[Long, Long]
    for (round <- 1 to 3) {
      val deg = und.filter(e => alive(e._1) && alive(e._2))
        .groupBy(_._1).view.mapValues(_.length).toMap
      val out = alive.filter(n => deg.getOrElse(n, 0) < 2)
      peeled ++= out.map(_ -> round.toLong)
      alive = alive.diff(out)
    }
    val finDeg = und.filter(e => alive(e._1) && alive(e._2))
      .groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val r = graft.queries.GraphQueries.g4KCore(spark, sf).collect()
    assert(r.map(_.getAs[Long]("doc_id")).toSet == und.map(_._1).toSet,
      "exactly the pair-graph nodes are emitted")
    r.foreach { row =>
      val id = row.getAs[Long]("doc_id")
      assert(row.getAs[Long]("peel_round") == peeled.getOrElse(id, 0L), s"doc $id round")
      val expectDeg = if (peeled.contains(id)) 0L else finDeg.getOrElse(id, 0L)
      assert(row.getAs[Long]("core_deg") == expectDeg, s"doc $id core_deg")
    }
    // a triangle is its own 2-core: no round can peel its corners
    val triNodes = graft.queries.GraphQueries.g2Triangles(spark, sf).collect()
      .filter(_.getAs[Long]("triangles") > 0).map(_.getAs[Long]("doc_id")).toSet
    val peeledIds = r.filter(_.getAs[Long]("peel_round") > 0)
      .map(_.getAs[Long]("doc_id")).toSet
    assert(triNodes.intersect(peeledIds).isEmpty, "triangle corner peeled")
    assert(triNodes.nonEmpty, "cross-check vacuous: no triangles at this sf")
  }

  test("t24 DSIR weights: BigInt driver recompute parity; en docs score higher") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"lang", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def toks(t: String): Seq[String] =
      t.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim.split(" ", -1).toSeq
    val all = docs.flatMap { case (id, lang, t) =>
      toks(t).map(w => (id, lang, graft.functions.DetHash.md5Long60(w) % 256)) }
    val byB = all.groupBy(_._3)
    val nR = BigInt(all.length)
    val nT = BigInt(all.count(_._2 == "en"))
    def huDiv(n: BigInt, d: BigInt): BigInt = (2 * n + d) / (2 * d)
    val score: Map[Long, BigInt] = byB.map { case (b, ts) =>
      val cr = BigInt(ts.length); val ct = BigInt(ts.count(_._2 == "en"))
      b -> huDiv((ct + 1) * 1000000 * (nR + 256), (cr + 1) * (nT + 256))
    }
    val expected = all.groupBy(_._1).map { case (id, ts) =>
      id -> huDiv(ts.map(x => score(x._3)).sum, BigInt(ts.length)) }
    val r = TextAnalysis.t24DsirWeights(spark, sf).collect()
    assert(r.length == docs.length, "every doc scored")
    r.foreach { row =>
      val id = row.getAs[Long]("doc_id")
      assert(BigInt(row.getAs[Long]("w_e6")) == expected(id), s"doc $id weight")
      assert(row.getAs[Boolean]("keep") == (expected(id) >= 1000000), s"doc $id keep")
    }
    // the signal discriminates: the target slice is more target-like
    // on average than the rest (hashed unigram distributions differ
    // by language even in synthetic text)
    val langOf = docs.map(d => d._1 -> d._2).toMap
    val (en, rest) = r.partition(row => langOf(row.getAs[Long]("doc_id")) == "en")
    def mean(xs: Array[org.apache.spark.sql.Row]): Double =
      xs.map(_.getAs[Long]("w_e6").toDouble).sum / xs.length
    assert(en.nonEmpty && rest.nonEmpty)
    assert(mean(en) > mean(rest), "en docs should be more target-like on average")
  }

  test("t25 novelty: driver recompute parity; first doc fully novel; saturation monotone on planted dups") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def shingles(t: String): Set[String] = {
      val toks = t.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim.split(" ", -1).toSeq
      if (toks.length < 3) Set.empty
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    val byDoc = docs.map { case (id, t) => id -> shingles(t) }.toMap
    val firstDoc = byDoc.toSeq.flatMap { case (id, ss) => ss.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val r = TextAnalysis.t25Novelty(spark, sf).collect()
    assert(r.length == docs.length, "every doc emitted, including shingle-free ones")
    r.foreach { row =>
      val id = row.getAs[Long]("doc_id")
      val ss = byDoc(id)
      val novel = ss.count(s => firstDoc(s) == id).toLong
      assert(row.getAs[Long]("n_ngrams") == ss.size.toLong, s"doc $id n_ngrams")
      assert(row.getAs[Long]("n_novel") == novel, s"doc $id n_novel")
      val d = math.max(ss.size.toLong, 1L)
      assert(row.getAs[Long]("novelty_e6") == (2 * novel * 1000000L + d) / (2 * d))
    }
    // the minimum doc_id with shingles is 100% novel by construction
    val withSh = r.filter(_.getAs[Long]("n_ngrams") > 0)
    assert(withSh.minBy(_.getAs[Long]("doc_id")).getAs[Long]("novelty_e6") == 1000000L)
    // planted corpus: an exact duplicate later in the corpus is 0% novel
    val dir = java.nio.file.Files.createTempDirectory("graft-novel").toString
    Seq((1L, "alpha beta gamma delta", "en", "s", 22L),
        (2L, "alpha beta gamma delta", "en", "s", 22L),
        (3L, "omega beta gamma delta", "en", "s", 22L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val p = TextAnalysis.t25Novelty(spark, dir).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Long]("novelty_e6")).toMap
    assert(p(1L) == 1000000L && p(2L) == 0L && p(3L) == 500000L, p.toString)
  }

  test("t26 temperature mix: driver recompute; flattens toward small domains") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"source", $"text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    def ntok(t: String): Long =
      t.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim.split(" ", -1).length.toLong
    val bySrc = docs.groupBy(_._1).map { case (src, ds) =>
      src -> ((ds.length.toLong, ds.map(d => ntok(d._2)).sum)) }
    val weights = bySrc.map { case (src, (_, nt)) =>
      src -> math.floor(math.sqrt(nt.toDouble)).toLong }
    val sumW = weights.values.sum
    val r = TextAnalysis.t26TemperatureMix(spark, sf).collect()
    assert(r.map(_.getAs[String]("source")).toSet == bySrc.keySet)
    r.foreach { row =>
      val src = row.getAs[String]("source")
      val (nd, nt) = bySrc(src)
      assert(row.getAs[Long]("n_docs") == nd, s"$src docs")
      assert(row.getAs[Long]("n_tokens") == nt, s"$src tokens")
      assert(row.getAs[Long]("weight") == weights(src), s"$src weight")
      assert(row.getAs[Long]("alloc_tokens") == weights(src) * 50000L / sumW, s"$src alloc")
    }
    // allocations never exceed the budget and the temperature
    // flattens: the smallest domain's budget share must exceed its
    // proportional share, the largest's must shrink
    assert(r.map(_.getAs[Long]("alloc_tokens")).sum <= 50000L)
    val totTok = bySrc.values.map(_._2).sum
    val smallest = r.minBy(_.getAs[Long]("n_tokens"))
    val largest = r.maxBy(_.getAs[Long]("n_tokens"))
    def propE6(row: org.apache.spark.sql.Row): Long =
      row.getAs[Long]("n_tokens") * 1000000L / totTok
    assert(smallest.getAs[Long]("share_e6") > propE6(smallest), "small domain not boosted")
    assert(largest.getAs[Long]("share_e6") < propE6(largest), "large domain not shrunk")
  }

  test("t27 lang confusion: matrix reconciles with t1 exactly and exposes real confusion") {
    val pred = TextAnalysis.t1LangId(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang")).toMap
    val lab = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"lang").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val expected = lab.groupBy { case (id, lang) => (lang, pred(id)) }
      .view.mapValues(_.size.toLong).toMap
    val rowTotals = lab.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val r = TextAnalysis.t27LangConfusion(spark, sf).collect()
    assert(r.map(x => (x.getAs[String]("lang"), x.getAs[String]("pred_lang"))).toSet ==
      expected.keySet)
    r.foreach { row =>
      val key = (row.getAs[String]("lang"), row.getAs[String]("pred_lang"))
      assert(row.getAs[Long]("n") == expected(key), s"$key count")
      val tot = rowTotals(key._1)
      assert(row.getAs[Long]("row_share_e6") ==
        (2 * expected(key) * 1000000L + tot) / (2 * tot), s"$key share")
      assert(row.getAs[Boolean]("correct") == (key._1 == key._2))
    }
    // the audit must EXPOSE confusion, not hide it: the synthetic
    // corpus (t1 has no zh/de lists; non-en text is synthetic) must
    // populate off-diagonal cells, and each row's shares sum to 1e6
    // within rounding
    assert(r.exists(row => !row.getAs[Boolean]("correct") && row.getAs[Long]("n") > 0),
      "no confusion exposed — vacuous audit")
    r.groupBy(_.getAs[String]("lang")).foreach { case (l, rows) =>
      val s = rows.map(_.getAs[Long]("row_share_e6")).sum
      assert(math.abs(s - 1000000L) <= rows.length, s"$l shares sum to $s")
    }
  }

  test("t20 BPE: overlapping counts, later rounds merge earlier sentinels") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bpe").toString
    Seq((0L, "ababababab", "en", "b0", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = TextAnalysis.t20BpeMerges(spark, dir, rounds = 2).collect()
      .map(x => x.getAs[Long]("round") ->
        (x.getAs[String]("pair"), x.getAs[Long]("cnt"))).toMap
    // overlapping window: "ab" appears 5×, "ba" only 4×
    assert(r(0L) == (("ab", 5L)), s"got $r")
    // after the left-to-right merge the text is 5 sentinels; round 1's
    // top pair is sentinel-sentinel — the recurrence, not a fresh
    // bigram count over the original text
    assert(r(1L) == (("", 4L)), s"got $r")
    // fully-merged corpus: the 10-char doc collapses to one symbol in
    // 4 merges; round 5 finds no pair and the trainer stops early
    // instead of crashing (emitting the same rows the oracle's empty
    // t-CTE chain would)
    assert(TextAnalysis.t20BpeMerges(spark, dir, rounds = 5).count() == 4L)
    // t21 encode on the same table: round 0 merges "ab" 5× into
    // sentinels, round 1 pairs them left-to-right (2 merges, one
    // leftover) → 3 symbols from 10 chars, compression 300000 ×1e6
    val enc = TextAnalysis.t21BpeEncode(spark, dir, rounds = 2).collect().head
    assert(enc.getAs[Long]("n_chars") == 10L)
    assert(enc.getAs[Long]("n_symbols") == 3L)
    assert(enc.getAs[Long]("chars_merged") == 7L)
    assert(enc.getAs[Long]("compression_e6") == 300000L)
  }

  test("BPE at realistic depth: 32 merge rounds train and the 32-deep encoder runs") {
    // the registered default of 5 rounds is a demo; a tokenizer trains
    // tens of merges, and the encoder is one plan of 32 chained
    // replace projections that must still compile (SURVEY §13)
    val merges = TextAnalysis.t20BpeMerges(spark, sf, rounds = 32).collect()
    assert(merges.map(_.getAs[Long]("round")).toSeq == (0L until 32L))
    assert(TextAnalysis.t21BpeEncode(spark, sf, rounds = 32).collect().nonEmpty)
  }

  test("t22 LM score: smoothed probabilities bounded, bigram counts consistent") {
    val r = TextAnalysis.t22LmScore(spark, "/root/testdata/sf0.001").collect()
    assert(r.length == 500)
    // a smoothed probability is in (0, 1]; ×1e6 and half-up it stays
    // in [1, 1000000] for any scored doc
    r.filter(_.getAs[Long]("n_bigrams") > 0).foreach { x =>
      val p = x.getAs[Long]("avg_p_e6")
      assert(p >= 1L && p <= 1000000L, s"avg_p_e6 out of range: $x")
    }
    r.filter(_.getAs[Long]("n_bigrams") == 0).foreach(x =>
      assert(x.getAs[Long]("avg_p_e6") == 0L))
    // n_bigrams is exactly length-1 per doc (overlapping window)
    val docs = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", greatest(length($"text") - 1, lit(0)).cast("long").as("exp_bg"))
    val bad = TextAnalysis.t22LmScore(spark, "/root/testdata/sf0.001")
      .join(docs, "doc_id").filter($"n_bigrams" =!= $"exp_bg").count()
    assert(bad == 0L)
    // the split column is the t5 assignment (train dominates at 90%)
    val bySplit = r.groupBy(_.getAs[String]("split")).view.mapValues(_.length).toMap
    assert(bySplit.getOrElse("train", 0) > 400)
  }

  test("c1 curation: duplicate rule fires first; every doc gets exactly one verdict") {
    val r = TextAnalysis.c1Curation(spark, tmp).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[String]("verdict"), x.getAs[Long]("dup_of"))).toMap
    assert(r.size == 6)
    // doc 1 is the exact-dup loser of doc 0 — 'duplicate' takes
    // precedence over every downstream quality rule
    assert(r(1L)._1 == "duplicate" && r(1L)._2 == 0L, s"got ${r(1L)}")
    // the dup winner is never dropped AS a duplicate
    assert(r(0L)._1 != "duplicate" && r(0L)._2 == 0L)
    val verdicts = Set("keep", "duplicate", "contaminated", "lang_mismatch",
      "low_quality", "low_lm_score")
    assert(r.values.forall(v => verdicts(v._1)), r.values.map(_._1).toSet.toString)
  }

  test("mm8 shard pack: contiguous shards, exact byte conservation, greedy boundaries") {
    val target = 2048L
    val r = graft.multimodal.Media.mm8ShardPack(spark, sf).collect()
      .groupBy(_.getAs[String]("source"))
    val totals = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy($"source").agg(sum(length($"text")).cast("long").as("tot"))
      .collect().map(x => x.getAs[String]("source") -> x.getAs[Long]("tot")).toMap
    assert(r.keySet == totals.keySet)
    r.foreach { case (src, shards) =>
      val sorted = shards.sortBy(_.getAs[Long]("shard"))
      // shard ids contiguous from 0
      assert(sorted.map(_.getAs[Long]("shard")).toSeq == (0L until sorted.length).toSeq, src)
      // every asset lands in exactly one shard: bytes conserve
      assert(sorted.map(_.getAs[Long]("shard_bytes")).sum == totals(src), src)
      // greedy boundary: a new shard only opens once the cumulative
      // bytes have crossed the previous shard's target line
      sorted.map(_.getAs[Long]("shard_bytes")).scanLeft(0L)(_ + _).tail
        .zipWithIndex.dropRight(1).foreach { case (cum, idx) =>
          assert(cum >= (idx + 1) * target, s"$src shard $idx closed early at $cum")
        }
      // id ranges don't overlap between consecutive shards
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("last_id") < b.getAs[Long]("first_id"), src)
        case _ =>
      }
    }
  }

  test("mm7 phash near-dup: identical payloads at hamming 0, same-length edit stays near") {
    // the signature resizes to a 64-segment grid, so it is robust to
    // SAME-LENGTH perturbations (re-encode analog) but not to length
    // shifts (crop analog) — plant accordingly
    val dir = java.nio.file.Files.createTempDirectory("graft-phash").toString
    val docs = Seq(
      (0L, base, "en", "p0", base.length.toLong),
      (1L, base, "en", "p0", base.length.toLong),
      (2L, base.replace("tonight", "tonite!"), "en", "p1", base.length.toLong),
      (3L, "zzz qqq xxx completely unrelated noise 000 111 222 333 444 555 666 777 888 999 aaa bbb", "en", "p2", 88L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // the 32-bit contrast width on the pure corpus (SURVEY §19's priced contrast)
    val r = graft.multimodal.Media
      .mm7PhashNearDup(spark, dir, segs = 32, plantEvery = 0).collect()
    val pairs = r.map(x => (x.getAs[Long]("doc_id1"), x.getAs[Long]("doc_id2"))
      -> x.getAs[Long]("hamming")).toMap
    // identical bytes → identical signature
    assert(pairs.get((0L, 1L)).contains(0L), s"got $pairs")
    // same-length 2-char edit perturbs ≤ the edited segments
    assert(pairs.contains((0L, 2L)) && pairs((0L, 2L)) <= 5L, s"got $pairs")
    pairs.foreach { case ((a, b), h) =>
      assert(a < b && h >= 0L && h <= 5L, s"($a,$b,$h)")
      assert(!Set(a, b).contains(3L), s"unrelated doc matched: ($a,$b,$h)")
    }
    // the REGISTERED operating point (segs=64, 8-bit band keys, plants
    // on): doc 0 (id % 25 == 0) contributes a re-encode variant —
    // different bytes, near-identical signature — and the detector
    // must recover it; same planted recalls hold
    val off = graft.multimodal.Media.PlantOffset
    val r64 = graft.multimodal.Media.mm7PhashNearDup(spark, dir).collect()
      .map(x => (x.getAs[Long]("doc_id1"), x.getAs[Long]("doc_id2"))
        -> x.getAs[Long]("hamming")).toMap
    assert(r64.get((0L, 1L)).contains(0L), s"segs=64 lost the identical pair: $r64")
    assert(r64.contains((0L, 2L)) && r64((0L, 2L)) <= 5L, s"segs=64 lost the edit pair: $r64")
    assert(r64.contains((0L, off)) && r64((0L, off)) <= 5L,
      s"the planted re-encode variant of doc 0 was not recovered: $r64")
    // the variant's BYTES differ from its original (mm4 would miss it)
    val corpusTexts = docs.collect().map(r0 => r0.getLong(0) -> r0.getString(1)).toMap
    assert(corpusTexts(0L).length >= 2, "fixture doc 0 long enough to plant")
    assert(!r64.keySet.exists { case (a, b) => a == 3L || b == 3L },
      s"segs=64 matched the unrelated doc: $r64")
  }

  test("d12 kmv distinct: exact below k, s0's two identical docs count once") {
    val r = Dedup.d12KmvDistinct(spark, tmp).collect()
      .map(x => x.getAs[String]("source") -> x).toMap
    // docs 0 and 1 share source s0 and identical normalized text
    assert(r("s0").getAs[Long]("n_exact") == 1L)
    // every source here is far below k=64: estimate must be EXACT
    r.values.foreach { row =>
      assert(row.getAs[Long]("kmv_est") == row.getAs[Long]("n_exact"))
      assert(row.getAs[Long]("err") == 0L)
      assert(row.getAs[Long]("kmv_kth") == -1L)
    }
  }

  test("d13 sketch overlap: estimator equals the full-set bottom-k recomputation") {
    // recompute the KMV Jaccard from the FULL distinct shingle-hash
    // sets on the driver — the sketch-closure claim in the scaladoc
    // says the 3×k-array version must agree exactly
    val bucket = conv(substring(md5(TextAnalysis.normalize($"text")), 1, 6), 16, 10)
      .cast("long") % 100
    val splits = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id",
        when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test").as("split"))
    val sets = Dedup.shingleRows(spark, sf).join(splits, "doc_id")
      .select($"split", graft.functions.DetHash.md5Long60Col($"sh").as("h"))
      .distinct().collect()
      .groupBy(_.getAs[String]("split"))
      .view.mapValues(_.map(_.getAs[Long]("h")).toSet).toMap
    val k = 128
    val got = Dedup.d13SketchOverlap(spark, sf, k).collect()
      .map(r => r.getAs[String]("pair") -> r).toMap
    assert(got.keySet == Set("test|train", "test|val", "train|val"))
    got.foreach { case (pair, row) =>
      val Array(a, b) = pair.split('|')
      val (sa, sb) = (sets(a), sets(b))
      val union = (sa ++ sb).toSeq.sorted
      val l = math.min(k, union.size)
      val matches = union.take(l).count(h => sa(h) && sb(h)).toLong
      val inter = (sa & sb).size.toLong
      assert(row.getAs[Long]("n_a") == sa.size && row.getAs[Long]("n_b") == sb.size)
      assert(row.getAs[Long]("n_inter") == inter)
      assert(row.getAs[Long]("kmv_jacc_e6") ==
        Math.floorDiv(2 * matches * 1000000L + l, 2L * l), s"$pair estimator")
      assert(row.getAs[Long]("exact_jacc_e6") ==
        Math.floorDiv(2 * inter * 1000000L + (sa.size + sb.size - inter),
          2L * (sa.size + sb.size - inter)), s"$pair exact")
    }
    // real shingle sets must actually overlap across splits — the
    // audit would be degenerate otherwise (whole-doc fingerprints are)
    assert(got("train|val").getAs[Long]("n_inter") > 0)
  }

  test("c2 dataset card: cells reconcile with c1, shares sum to one per source") {
    val card = TextAnalysis.c2DatasetCard(spark, sf).collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(card.map(_.getAs[Long]("n_docs")).sum == docs)
    // per-source: share_e6 sums to 1e6 within half-up rounding slack
    card.groupBy(_.getAs[String]("source")).foreach { case (src, rows) =>
      val s = rows.map(_.getAs[Long]("share_e6")).sum
      assert(math.abs(s - 1000000L) <= rows.length / 2 + 1, s"$src shares sum to $s")
    }
    // the cells are exactly c1's verdict histogram per source
    val c1 = TextAnalysis.c1Curation(spark, sf).select($"doc_id", $"verdict")
    val src = spark.read.parquet(s"$sf/documents.parquet").select($"doc_id", $"source")
    val expect = c1.join(src, "doc_id").groupBy($"source", $"verdict").count().collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("verdict")) -> r.getAs[Long]("count"))
      .toMap
    assert(card.length == expect.size)
    card.foreach { r =>
      val key = (r.getAs[String]("source"), r.getAs[String]("verdict"))
      assert(expect(key) == r.getAs[Long]("n_docs"), s"$key")
    }
  }

  test("t23 ppl buckets: slices are ordered by score, tercile-sized at bucket granularity") {
    val r = TextAnalysis.t23PplBuckets(spark, sf).collect()
    val scores = TextAnalysis.t22LmScore(spark, sf)
      .join(spark.read.parquet(s"$sf/documents.parquet").select($"doc_id", $"lang"), "doc_id")
      .select($"doc_id", $"lang", $"avg_p_e6").collect()
      .map(x => (x.getAs[Long]("doc_id"), x.getAs[String]("lang"), x.getAs[Long]("avg_p_e6")))
    assert(r.length == scores.length, "every scored doc gets a slice")
    val rank = Map("tail" -> 0, "middle" -> 1, "head" -> 2)
    r.groupBy(_.getAs[String]("lang")).foreach { case (lang, rows) =>
      // slice membership must be monotone in the score bucket
      val byBucket = rows.map(x =>
        (x.getAs[Long]("avg_p_e6") / 10000L, rank(x.getAs[String]("ppl_bucket"))))
      byBucket.foreach { case (b, k) =>
        byBucket.foreach { case (b2, k2) =>
          assert(b >= b2 || k <= k2, s"$lang: bucket $b in slice $k above $b2 in $k2")
        }
      }
      // driver tercile re-derivation at the same bucket granularity
      val hist = byBucket.groupBy(_._1).view.mapValues(_.length.toLong).toMap
      val total = rows.length.toLong
      val cum = hist.toSeq.sortBy(_._1).scanLeft((Long.MinValue, 0L)) {
        case ((_, c), (b, n)) => (b, c + n) }.tail
      val b1 = cum.collectFirst { case (b, c) if c * 3 >= total => b }.get
      val b2 = cum.collectFirst { case (b, c) if c * 3 >= 2 * total => b }.get
      byBucket.foreach { case (b, k) =>
        val want = if (b <= b1) 0 else if (b <= b2) 1 else 2
        assert(k == want, s"$lang bucket $b")
      }
    }
    // the dominant language must actually split three ways
    val en = r.filter(_.getAs[String]("lang") == "en").map(_.getAs[String]("ppl_bucket"))
    assert(en.toSet.size == 3, s"en slices: ${en.toSet}")
  }

  test("c3 threshold shift: matrix reconciles with re-laddered c1; tightening only moves mass toward drops") {
    val m = TextAnalysis.c3ThresholdShift(spark, sf).collect()
    val c1 = TextAnalysis.c1Curation(spark, sf).collect()
    assert(m.map(_.getAs[Long]("n_docs")).sum == c1.length)
    // driver-side strict re-ladder over c1's signal columns
    val expect = c1.groupBy { r =>
      val strict =
        if (r.getAs[Long]("dup_of") != r.getAs[Long]("doc_id")) "duplicate"
        else if (r.getAs[Long]("contamination_e6") >= 300000L) "contaminated"
        else if (r.getAs[String]("pred_lang") != r.getAs[String]("lang")) "lang_mismatch"
        else if (r.getAs[Long]("quality_e6") < 400000L) "low_quality"
        else if (r.getAs[Long]("avg_p_e6") < 260000L) "low_lm_score"
        else "keep"
      (r.getAs[String]("verdict"), strict)
    }.view.mapValues(_.length.toLong).toMap
    assert(m.length == expect.size)
    m.foreach { r =>
      val key = (r.getAs[String]("verdict_base"), r.getAs[String]("verdict_strict"))
      assert(expect(key) == r.getAs[Long]("n_docs"), s"$key")
      assert(r.getAs[Boolean]("moved") == (key._1 != key._2))
      // a STRICTER profile can never promote a non-keep doc to keep:
      // every rule's threshold moved toward dropping
      assert(!(key._1 != "keep" && key._2 == "keep"),
        s"$key: strict profile resurrected a dropped doc")
    }
    // and the what-if must have teeth: some kept docs fall
    assert(m.exists(r => r.getAs[String]("verdict_base") == "keep" &&
      r.getAs[Boolean]("moved")), "strict profile moved nothing — thresholds degenerate")
  }

  test("mm9 bucketed cross-modal: audit arithmetic holds; bands join hashed, not looped") {
    val df = graft.multimodal.Media.mm9XmodalBucketed(spark, sf)
    val r = df.collect()
    assert(r.length == 32) // one audit row per fixed-panel text query
    r.foreach { x =>
      val hits = x.getAs[Long]("n_hits")
      assert(hits >= 0L && hits <= 5L)
      assert(x.getAs[Long]("recall_e6") == hits * 200000L)
    }
    // AQE plan strings append an "== Initial Plan ==" section that
    // duplicates every join — count within the final plan only
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the band-bucket candidate join must be an equi hash join; the
    // ONLY nested loop is mm5's deliberate exact side (the yardstick)
    assert(plan.contains("BroadcastHashJoin"), plan.linesIterator.take(8).mkString("\n"))
    assert(plan.split("BroadcastNestedLoopJoin").length == 2,
      "expected exactly one BNLJ (mm5's exact side)")
  }

  test("c4 dedup bias: ledger reconciles with the cluster map; shares sum to ~1e6 each side") {
    import TestSpark.sf
    import org.apache.spark.sql.functions._
    val r = graft.text.TextAnalysis.c4DedupBias(spark, sf).collect()
    val clusters = graft.dedup.Dedup.d7Clusters(spark, sf)
    val nDocs = clusters.count()
    val nClusters = clusters.select("cluster_id").distinct().count()
    assert(r.map(_.getAs[Long]("n_docs")).sum == nDocs)
    // one survivor per cluster, exactly
    assert(r.map(_.getAs[Long]("n_survivors")).sum == nClusters)
    assert(nClusters < nDocs, "no duplicates collapsed — vacuous audit")
    r.foreach { row =>
      assert(row.getAs[Long]("bias_e6") ==
        row.getAs[Long]("share_after_e6") - row.getAs[Long]("share_before_e6"))
      assert(row.getAs[Long]("n_survivors") <= row.getAs[Long]("n_docs"))
    }
    Seq("share_before_e6", "share_after_e6").foreach { c =>
      assert(math.abs(r.map(_.getAs[Long](c)).sum - 1000000L) <= r.length / 2 + 1)
    }
  }

  test("d15 survivor pick plans as a map-side argmin aggregation, never a cluster window") {
    // a verbatim-boilerplate mega-cluster must combine per map task,
    // not pile into one sorted window partition (the d19 hot-key class)
    val qe = Dedup.d15SurvivorPick(spark, sf).queryExecution
    // scope to the OUTER plan: the memoized d7 artifact prints its own
    // cached subtree under InMemoryRelation, which is a leaf here
    val outerWindows = qe.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(outerWindows.isEmpty, "survivor pick must not window-sort clusters")
    assert(qe.executedPlan.toString.contains("partial_min"),
      "argmin must partial-aggregate map-side")
  }

  test("d19 repeated substrings: planted dup spans; driver-side recount on the tiny corpus") {
    val K = 20
    // the tmp corpus: 0≡1 verbatim, 2/5 share long runs with 0, 3 unique, 4 < K chars
    val r = Dedup.d19RepeatedSubstrings(spark, tmp).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    // exact driver-side reference: gram counts → positions → islands
    val docs = spark.read.parquet(s"$tmp/documents.parquet")
      .select("doc_id", "text", "n_chars").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2)))
    val cnt = scala.collection.mutable.Map.empty[String, Int]
    for ((_, t, _) <- docs; p <- 0 to t.length - K) cnt(t.substring(p, p + K)) =
      cnt.getOrElse(t.substring(p, p + K), 0) + 1
    val expect = docs.flatMap { case (id, t, nc) =>
      val pos = (0 to t.length - K).filter(p => cnt(t.substring(p, p + K)) >= 2)
      if (pos.isEmpty) None else {
        val spans = pos.foldLeft(List.empty[(Int, Int)]) {
          case ((s, e) :: rest, p) if p - (e - K + 1) <= K => (s, p + K - 1) :: rest
          case (acc, p) => (p, p + K - 1) :: acc
        }.reverse
        val dup = spans.map { case (s, e) => e - s + 1 }.sum.toLong
        Some(id -> (spans.length.toLong, dup, spans.map { case (s, e) => e - s + 1 }.max.toLong,
          (2 * dup * 1000000L + nc) / (2 * nc)))
      }
    }.toMap
    assert(r.keySet == expect.keySet)
    expect.foreach { case (id, (nSpans, dup, mx, ratio)) =>
      val row = r(id)
      assert(row.getAs[Long]("n_spans") == nSpans, s"doc $id n_spans")
      assert(row.getAs[Long]("dup_chars") == dup, s"doc $id dup_chars")
      assert(row.getAs[Long]("max_span") == mx, s"doc $id max_span")
      assert(row.getAs[Long]("dup_ratio_e6") == ratio, s"doc $id ratio")
    }
    // the planted shapes actually exercised: verbatim pair = one full-doc span
    assert(r(0L).getAs[Long]("dup_ratio_e6") == 1000000L)
    assert(r(0L).getAs[Long]("n_spans") == 1L)
    assert(r.contains(2L) && !r.contains(3L) && !r.contains(4L))
    // skew contract: the repetition test is a map-side-combined count
    // semi-joined back — never a window on the gram key (a 1e8-occurrence
    // boilerplate gram would otherwise pile into one sorted task)
    val qe = Dedup.d19RepeatedSubstrings(spark, tmp).queryExecution
    val plan = qe.executedPlan.toString
    val optimized = qe.optimizedPlan.toString
    assert(!optimized.toLowerCase.contains("windowspecdefinition(g#"),
      "d19 must not window-partition by the raw gram")
    assert(plan.contains("partial_count"),
      "gram counting must partial-aggregate map-side before its exchange")
    assert(plan.contains("LeftSemi"),
      "repeated grams rejoin via an AQE-splittable semi-join")
  }

  test("d19 hot-gram stress: one gram with 1e6 occurrences completes skew-safely") {
    // a whitespace-run doc: every one of its ~1e6 grams is the SAME
    // 20-char string — the boilerplate shape that stalls a gram window
    val n = 1000000
    val hotDir = s"$tmp/d19hot"
    val hotText = "x" * (n + 19)
    import spark.implicits._
    Seq(
      (0L, hotText, hotText.length.toLong, "web"),
      (1L, "y" * 40, 40L, "web"), // a second, small hot gram
      (2L, "y" * 40, 40L, "web")
    ).toDF("doc_id", "text", "n_chars", "source")
      .write.mode("overwrite").parquet(s"$hotDir/documents.parquet")
    val r = Dedup.d19RepeatedSubstrings(spark, hotDir).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    // doc 0: one maximal span covering the whole run
    assert(r(0L).getAs[Long]("n_spans") == 1L)
    assert(r(0L).getAs[Long]("dup_chars") == n + 19L)
    assert(r(0L).getAs[Long]("dup_ratio_e6") == 1000000L)
    assert(r(1L).getAs[Long]("dup_chars") == 40L && r(2L).getAs[Long]("dup_chars") == 40L)
  }

  test("t36 TextRank: weighted-pagerank keywords match a driver-side recompute") {
    def hu(n: Long, d: Long): Long = (2 * n + d) / (2 * d)
    val docs = spark.read.parquet(s"$tmp/documents.parquet")
      .select("source", "text").collect()
      .map(x => (x.getString(0), x.getString(1)))
    val adj = docs.flatMap { case (src, t) =>
      val toks = t.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim.split(" ")
      toks.sliding(2).filter(p => p.length == 2 && p(0) != p(1))
        .flatMap(p => Seq((src, p(0), p(1)), (src, p(1), p(0)))).toSeq
    }
    val edges = adj.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val strength = edges.toSeq.groupBy { case ((s, a, _), _) => (s, a) }
      .view.mapValues(_.map(_._2).sum).toMap
    var r: Map[(String, String), Long] = strength.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val inSum = edges.toSeq.groupBy { case ((s, _, b), _) => (s, b) }
        .view.mapValues(_.map { case ((s, a, _), w) =>
          hu(r((s, a)) * w, strength((s, a))) }.sum).toMap
      r = strength.keys.map(k => k -> (150000L + hu(inSum.getOrElse(k, 0L) * 85, 100))).toMap
    }
    val expect = r.toSeq.groupBy(_._1._1).flatMap { case (src, rs) =>
      rs.sortBy { case ((_, w), rank) => (-rank, w) }.take(5).zipWithIndex
        .map { case (((s, w), rank), i) => (s, w) -> (i + 1L, rank) }
    }
    val got = graft.text.TextAnalysis.t36Textrank(spark, tmp).collect()
    assert(got.length == expect.size)
    got.foreach { row =>
      val k = (row.getAs[String]("source"), row.getAs[String]("word"))
      val (rk, rank) = expect(k)
      assert(row.getAs[Long]("rk") == rk, s"$k rk")
      assert(row.getAs[Long]("rank_e6") == rank, s"$k rank")
      assert(row.getAs[Long]("strength") == strength(k), s"$k strength")
    }
    // never a corpus-sized nested loop; adjacency rides a window
    val plan = graft.text.TextAnalysis.t36Textrank(spark, tmp)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
  }

  test("t37 encoding audit: census matches a driver recount; planted mojibake fires each detector") {
    import spark.implicits._
    // census arms against a driver-side per-char recount on the corpus
    val docs = spark.read.parquet(s"$tmp/documents.parquet")
      .select("source", "text").collect()
      .map(x => (x.getString(0), x.getString(1)))
    val expect = docs.groupBy(_._1).map { case (src, rows) =>
      val ts = rows.map(_._2)
      def n(p: Char => Boolean) = ts.map(_.count(p)).sum.toLong
      src -> (ts.length.toLong, ts.map(_.length.toLong).sum,
        n(c => (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')),
        n(c => c >= '0' && c <= '9'), n(c => " \t\n\r".contains(c)))
    }
    val got = graft.text.TextAnalysis.t37EncodingAudit(spark, tmp).collect()
    assert(got.length == expect.size)
    got.foreach { r =>
      val (nd, tc, lt, dg, ws) = expect(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_docs") == nd)
      assert(r.getAs[Long]("total_chars") == tc)
      assert(r.getAs[Long]("letter_chars") == lt)
      assert(r.getAs[Long]("digit_chars") == dg)
      assert(r.getAs[Long]("ws_chars") == ws)
      assert(r.getAs[Long]("other_chars") == tc - lt - dg - ws)
      assert(r.getAs[Long]("flagged_docs") == 0L, "tmp corpus is clean ASCII")
      assert(r.getAs[Long]("clean_ratio_e6") == 1000000L)
    }
    // planted detector rows: each class fires exactly its own flag
    val planted = Seq(
      ("bad", "lost � bytes here"),            // U+FFFD replacement
      ("bad", "binary\u0001junk\u0007inside"),      // C0 controls (not \t\n\r)
      ("bad", "cafÃ© latte"),             // Latin-1-misread-UTF-8 ("Ã©")
      ("bad", "tabs\tand\nnewlines are fine"),
      ("ok",  "plain clean text 123")
    ).toDF("source", "text")
    val c = graft.text.TextAnalysis.encodingCensus(planted).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(c("bad").getAs[Long]("fffd_docs") == 1L)
    assert(c("bad").getAs[Long]("ctrl_docs") == 1L)
    assert(c("bad").getAs[Long]("moji_docs") == 1L)
    assert(c("bad").getAs[Long]("flagged_docs") == 3L)
    assert(c("bad").getAs[Long]("clean_ratio_e6") == 250000L)
    assert(c("ok").getAs[Long]("flagged_docs") == 0L)
    assert(c("ok").getAs[Long]("clean_ratio_e6") == 1000000L)
    // one scan, no join, no explode: pure map-side census + one agg
    val plan37 = graft.text.TextAnalysis.t37EncodingAudit(spark, tmp)
      .queryExecution.executedPlan.toString
    assert(!plan37.contains("Join") && !plan37.contains("Generate"),
      "t37 must be scan -> project -> partial agg only")
  }

  test("d20 shard-dup leakage recomputes driver-side from fingerprints and t38's shard slices") {
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = spark.read.parquet(s"$tmp/documents.parquet")
      .select("doc_id", "text").collect().map(x => (x.getLong(0), x.getString(1)))
    def norm(t: String) = t.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
    val byFp = docs.map { case (id, t) =>
      (md5hex(norm(t)), java.lang.Long.parseLong(md5hex(s"graft:$id").substring(12, 16), 16) % 16)
    }.groupBy(_._1).filter(_._2.length > 1)
    val localPairs = byFp.values.map(
      _.groupBy(_._2).values.map(g => g.size.toLong * (g.size - 1) / 2).sum).sum
    val totalPairs = byFp.values.map(g => g.size.toLong * (g.size - 1) / 2).sum
    val r = graft.dedup.Dedup.d20ShardDupLeakage(spark, tmp).collect().head
    assert(r.getAs[Long]("n_dup_groups") == byFp.size.toLong)
    assert(r.getAs[Long]("dup_docs") == byFp.values.map(_.size.toLong).sum)
    assert(r.getAs[Long]("single_shard_groups") ==
      byFp.values.count(g => g.map(_._2).distinct.size == 1).toLong)
    assert(r.getAs[Long]("local_pairs") == localPairs)
    assert(r.getAs[Long]("cross_pairs") == totalPairs - localPairs)
    assert(r.getAs[Long]("cross_share_e6") ==
      (2 * (totalPairs - localPairs) * 1000000L + math.max(totalPairs, 1)) /
        (2 * math.max(totalPairs, 1)))
    // the audit must be non-vacuous: the tmp corpus plants dup groups
    assert(byFp.nonEmpty, "no dup groups planted — vacuous audit")
  }

  test("c5 source health: every column reconciles with its component operator") {
    import graft.text.TextAnalysis
    val r = TextAnalysis.c5SourceHealth(spark, tmp).collect()
      .map(x => x.getAs[String]("source") -> x).toMap
    val docs = spark.read.parquet(s"$tmp/documents.parquet")
      .select("doc_id", "source").collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r.keySet == docs.values.toSet, "one row per source")
    // volume + tokens vs t3
    val tok = TextAnalysis.t3TokenCount(spark, tmp).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Int]("ws_tokens").toLong).toMap
    docs.values.toSet[String].foreach { src =>
      val ids = docs.filter(_._2 == src).keys.toSeq
      assert(r(src).getAs[Long]("n_docs") == ids.length.toLong, s"$src n_docs")
      val t = ids.map(tok).sum
      assert(r(src).getAs[Long]("tokens") == t, s"$src tokens")
      assert(r(src).getAs[Long]("mean_tokens") ==
        (2 * t + ids.length) / (2L * ids.length), s"$src mean")
    }
    // dup_docs vs d1's copy rollup applied to each doc's fingerprint
    val d1 = graft.dedup.Dedup.d1Exact(spark, tmp).collect()
      .map(x => x.getAs[String]("fingerprint") -> x.getAs[Long]("n_copies")).toMap
    val fps = spark.read.parquet(s"$tmp/documents.parquet")
      .selectExpr("doc_id", "source",
        "md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' '))) AS fp").collect()
      .map(x => (x.getString(1), d1(x.getString(2))))
    fps.groupBy(_._1).foreach { case (src, xs) =>
      assert(r(src).getAs[Long]("dup_docs") == xs.count(_._2 > 1L).toLong, s"$src dup")
    }
    // keep rate vs c2's verdict cells; clean ratio vs t37 verbatim
    val c2 = TextAnalysis.c2DatasetCard(spark, tmp).collect()
    c2.groupBy(_.getAs[String]("source")).foreach { case (src, cells) =>
      val kept = cells.filter(_.getAs[String]("verdict") == "keep")
        .map(_.getAs[Long]("n_docs")).sum
      assert(r(src).getAs[Long]("kept_docs") == kept, s"$src kept")
    }
    val t37 = TextAnalysis.t37EncodingAudit(spark, tmp).collect()
      .map(x => x.getAs[String]("source") -> x.getAs[Long]("clean_ratio_e6")).toMap
    r.foreach { case (src, row) =>
      assert(row.getAs[Long]("clean_ratio_e6") == t37(src), s"$src clean")
      val (n, d, k) = (row.getAs[Long]("n_docs"), row.getAs[Long]("dup_docs"),
        row.getAs[Long]("kept_docs"))
      assert(row.getAs[Long]("dup_ratio_e6") == (2 * d * 1000000L + n) / (2 * n))
      assert(row.getAs[Long]("keep_ratio_e6") == (2 * k * 1000000L + n) / (2 * n))
    }
  }

  test("c6 training manifest reconciles with its composed stages: c1 keep, t5 train, t38 shard") {
    import graft.text.TextAnalysis
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // the real corpus, not the tmp fixture: every tmp doc fails a
    // c1 gate (planted dups/short texts), which would make this vacuous
    val kept = TextAnalysis.c1Curation(spark, sf).collect()
      .filter(_.getAs[String]("verdict") == "keep").map(_.getAs[Long]("doc_id")).toSet
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect().map(x => (x.getLong(0), x.getString(1)))
    def norm(t: String) = t.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
    val expect = docs
      .filter { case (id, t) => kept(id) &&
        java.lang.Long.parseLong(md5hex(norm(t)).substring(0, 6), 16) % 100 < 90 }
      .map { case (id, t) =>
        (java.lang.Long.parseLong(md5hex(s"graft:$id").substring(12, 16), 16) % 16,
          t.trim.split("\\s+").length.toLong)
      }.groupBy(_._1).map { case (sh, xs) => sh -> ((xs.length.toLong, xs.map(_._2).sum)) }
    val r = TextAnalysis.c6TrainingManifest(spark, sf).collect()
      .map(x => x.getAs[Long]("shard") ->
        ((x.getAs[Long]("n_docs"), x.getAs[Long]("n_tokens")))).toMap
    assert(r == expect, s"manifest mismatch: got ${r.toSeq.sorted} want ${expect.toSeq.sorted}")
    // the composition must filter something at each stage or it's vacuous
    assert(kept.size < docs.length, "curation dropped nothing — vacuous")
    assert(r.values.map(_._1).sum < kept.size.toLong, "split dropped nothing — vacuous")
  }

  test("t38 corpus shuffle: seeded permutation recomputes driver-side; new seed = new order; no global sort") {
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val ids = spark.read.parquet(s"$tmp/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
    def expect(seed: String, shards: Int): Map[Long, (Long, Long)] = {
      val keyed = ids.map { id =>
        val h = md5hex(s"$seed:$id")
        (id, h.substring(0, 12), java.lang.Long.parseLong(h.substring(12, 16), 16) % shards)
      }
      keyed.groupBy(_._3).flatMap { case (sh, xs) =>
        xs.sortBy(x => (x._2, x._1)).zipWithIndex
          .map { case ((id, _, _), i) => id -> (sh.toLong, i + 1L) }
      }
    }
    val got = graft.text.TextAnalysis.t38CorpusShuffle(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("shard"), r.getAs[Long]("pos"))).toMap
    assert(got == expect("graft", 16), "default-seed permutation must recompute exactly")
    // a run is a pure function of (corpus, seed): rerun is identical
    val rerun = graft.text.TextAnalysis.t38CorpusShuffle(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("shard"), r.getAs[Long]("pos"))).toMap
    assert(rerun == got)
    // a different seed is a genuinely different permutation
    val reseeded = graft.text.TextAnalysis.t38CorpusShuffle(spark, tmp, seed = "other")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("shard"), r.getAs[Long]("pos"))).toMap
    assert(reseeded == expect("other", 16))
    assert(reseeded != got, "seed must change the permutation")
    // scale pin: position windows are SHARD-partitioned, never global
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val globals = graft.text.TextAnalysis.t38CorpusShuffle(spark, tmp)
      .queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
    assert(globals.isEmpty, "t38 must not contain a global window")
  }
}
