package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.dedup.Dedup.{dot, vecNorm}
import org.apache.spark.sql.graftbridge.Bridge

/** Similarity search over the `embeddings` table (SURVEY §2 block E).
  *
  * s1 is the exact baseline: broadcast the (small) query set against
  * the corpus — the corpus is never shuffled, the scan streams through
  * a broadcast hash of queries, and per-query top-k is one window over
  * the query key. At 100 TB the corpus side stays partition-parallel.
  *
  * s2 is the approximate scale path (random-hyperplane LSH per
  * Charikar STOC 2002, the IVF-style bucket-probe shape of
  * Johnson/Douze/Jégou's billion-scale similarity search): it assigns
  * every vector an 8-bit bucket; search touches only the query's
  * bucket (≈ 1/256 of the corpus). Hyperplanes are plan-time literals
  * from fixed seeds, so results are reproducible across runs/clusters.
  */
object Knn {

  /** The k the REGISTERED queries and their DuckDB oracles share —
    * s1Sql/s2Sql pin `rank <= 5` and s4Sql derives its recall factor
    * from this constant, so the Spark defaults must come from the same
    * place (a k passed explicitly is a library call with no registered
    * oracle). */
  val K = 5

  /** s1: exact top-k cosine neighbors for query vectors (vec_id < 10)
    * against the rest of the corpus. */
  def s1Brute(spark: SparkSession, dir: String, k: Int = K): DataFrame = {
    import spark.implicits._
    // memoized (r13-opt): this EXACT-YARDSTICK frame (queries × k
    // rows) is the recall denominator of a dozen audits — s4/s7/s9/
    // s11/s13/s14/s31/s34/s36..s42 — and several of them union
    // multiple per-setting branches that each referenced it, so ONE
    // registered action re-ran the corpus-scan brute scoring per
    // branch (s32's seven tiers embedded it 7×; AQE defeats
    // ReuseExchange across branches — the d10 lesson). At 100 TB
    // every redundant reference is a full corpus scan. The memo key
    // carries (dir, k); the frame is 50 rows.
    graft.operators.Indexes.memo(s"s1_exact:$dir:$k") {
      val e = Tables.read(spark, dir, "embeddings")
        .select($"vec_id", $"embedding", vecNorm($"embedding").as("nrm"))
      val queries = e.filter($"vec_id" < 10)
        .select($"vec_id".as("query_id"), $"embedding".as("q"), $"nrm".as("qn"))
      // repartition: the corpus side must parallelize even off one split
      val corpus = e.filter($"vec_id" >= 10)
        .select($"vec_id".as("neighbor_id"), $"embedding".as("c"), $"nrm".as("cn"))
        .repartition(spark.sessionState.conf.numShufflePartitions)
      val w = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"neighbor_id")
      corpus.join(broadcast(queries))
        .select($"query_id", $"neighbor_id",
          round(dot($"q", $"c") / ($"qn" * $"cn"), 6).as("cos_sim"))
        .withColumn("rank", row_number().over(w))
        .filter($"rank" <= k)
    }
  }

  val s1Sql: String =
    """WITH u AS (
      |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
      |         generate_subscripts(embedding, 1) AS i
      |  FROM embeddings),
      |s AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    round(sum(q.v * c.v ORDER BY q.i) / (sqrt(sum(q.v * q.v ORDER BY q.i)) * sqrt(sum(c.v * c.v ORDER BY c.i))), 6) AS cos_sim
      |  FROM u q JOIN u c ON q.i = c.i AND q.vec_id < 10 AND c.vec_id >= 10
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT query_id, neighbor_id, cos_sim,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
      |  FROM s)
      |SELECT query_id, neighbor_id, cos_sim, rank FROM r
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** s20: exact MAXIMUM-INNER-PRODUCT top-k — rank by the RAW dot
    * product, not the cosine: the retrieval objective of recommender
    * and two-tower ranking models, where a vector's NORM carries
    * learned popularity/confidence and must count (cosine ranking
    * deliberately erases it; the two orders genuinely differ —
    * spec-pinned on real data). Completes the retrieval-objective
    * surface next to s1 (cosine top-k) and s5 (radius).
    *
    * Shape: s1's deliberate broadcast-queries × corpus-scan contract
    * (whitelisted exact-search BNLJ; codegen'd dot, one per-query
    * window over k-bounded rows). The documented scale path is the
    * MIPS→cosine reduction (Shrivastava & Li NeurIPS 2014; Neyshabur
    * & Srebro ICML 2015's simple-LSH): augment x→[x, √(M²−|x|²)]
    * with M = max norm and q→[q, 0], after which dot order equals
    * the augmented cosine order and s2's hyperplane-bucket index
    * applies verbatim — not materialized here because the bucketing
    * hinges on the sign of an irrational augmented coordinate,
    * outside the integer-exact cross-engine convention the
    * approximate block is held to; the exact path below IS the
    * oracle-gated query. */
  def s20MipsTopk(spark: SparkSession, dir: String, k: Int = K): DataFrame = {
    import spark.implicits._
    val e = Tables.read(spark, dir, "embeddings")
      .select($"vec_id", $"embedding")
    val queries = e.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"embedding".as("q"))
    val corpus = e.filter($"vec_id" >= 10)
      .select($"vec_id".as("neighbor_id"), $"embedding".as("c"))
      .repartition(spark.sessionState.conf.numShufflePartitions)
    val w = Window.partitionBy($"query_id").orderBy($"dot".desc, $"neighbor_id")
    corpus.join(broadcast(queries))
      .select($"query_id", $"neighbor_id", round(dot($"q", $"c"), 6).as("dot"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
  }

  /** s20 oracle: the same ordered-sum dot products and ranking. */
  val s20Sql: String =
    """WITH u AS (
      |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
      |         generate_subscripts(embedding, 1) AS i
      |  FROM embeddings),
      |s AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    round(sum(q.v * c.v ORDER BY q.i), 6) AS dot
      |  FROM u q JOIN u c ON q.i = c.i AND q.vec_id < 10 AND c.vec_id >= 10
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT query_id, neighbor_id, dot,
      |    row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, neighbor_id) AS rank
      |  FROM s)
      |SELECT query_id, neighbor_id, dot, rank FROM r
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** s5: radius (threshold) search — ALL corpus neighbors within a
    * cosine radius of each query, the other half of the search API
    * surface next to s1/s2's top-k (retrieval gating, near-dup
    * lookup by example, dedup-against-blocklist).
    *
    * Cheaper than top-k at scale: broadcast queries × corpus scan +
    * codegen'd dot + filter — NO per-query window, no shuffle of the
    * corpus at all (the only exchange is the presentation sort).
    * At billions of rows the corpus side swaps to s2's bucketed
    * index exactly as for top-k. */
  def s5Radius(spark: SparkSession, dir: String, minCos: Double = 0.30): DataFrame = {
    import spark.implicits._
    val e = Tables.read(spark, dir, "embeddings")
      .select($"vec_id", $"embedding", vecNorm($"embedding").as("nrm"))
    val queries = e.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"embedding".as("q"), $"nrm".as("qn"))
    val corpus = e.filter($"vec_id" >= 10)
      .select($"vec_id".as("neighbor_id"), $"embedding".as("c"), $"nrm".as("cn"))
      .repartition(spark.sessionState.conf.numShufflePartitions)
    corpus.join(broadcast(queries))
      .select($"query_id", $"neighbor_id",
        round(dot($"q", $"c") / ($"qn" * $"cn"), 6).as("cos_sim"))
      .filter($"cos_sim" >= minCos)
  }

  val s5Sql: String =
    """WITH u AS (
      |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
      |         generate_subscripts(embedding, 1) AS i
      |  FROM embeddings)
      |SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |  round(sum(q.v * c.v ORDER BY q.i) / (sqrt(sum(q.v * q.v ORDER BY q.i)) * sqrt(sum(c.v * c.v ORDER BY c.i))), 6) AS cos_sim
      |FROM u q JOIN u c ON q.i = c.i AND q.vec_id < 10 AND c.vec_id >= 10
      |GROUP BY 1, 2
      |HAVING round(sum(q.v * c.v ORDER BY q.i) / (sqrt(sum(q.v * q.v ORDER BY q.i)) * sqrt(sum(c.v * c.v ORDER BY c.i))), 6) >= 0.30
      |ORDER BY query_id, neighbor_id""".stripMargin

  /** Round-half-up integer division ([[graft.functions.IntMath]] —
    * the shared exact implementation). */
  private def halfUpDiv(num: Column, den: Column): Column =
    graft.functions.IntMath.halfUpDiv(num, den)

  /** Driver-side twin of [[halfUpDiv]] for centroid updates. */
  private def halfUpDivL(num: Long, den: Long): Long =
    Math.floorDiv(2 * num + den, 2 * den)

  /** Embedding dimensionality — part of the embeddings-table contract
    * (as for s2's plan-time hyperplanes), not sniffed from the data. */
  private val Dim = 64

  /** s3: embedding k-means clustering — the data-curation staple
    * (topic balancing, stratified sampling, near-dup triage).
    *
    * A deterministic fixed-iteration relational Lloyd's, NOT MLlib:
    * every quantity lives in exact integer space so the result is
    * bit-identical across engines, partitionings, and runs —
    * coordinates quantized to ×1e6 longs (float→double widening and
    * the ×1e6 product are exact IEEE ops, identical in DuckDB),
    * squared L2 distances as order-free BIGINT sums, centroid updates
    * via round-half-up integer division, seeds the k rows with the
    * smallest md5(vec_id) (cluster id = md5 rank). Ties in the argmin
    * break to the lowest cluster id in both engines.
    *
    * Execution shape per iteration (MLlib's own, but codegen'd, with
    * no ML runtime): centroids ride into the plan as literals →
    * one corpus scan computing k codegen'd distance columns → an
    * 8-group map-side-combined agg → collect of k tiny rows. The
    * corpus is never shuffled; driver traffic is k×Dim longs per
    * iteration. The quantized projection is memoized across the
    * iterations' scans (at 100 TB the cache degrades to spill/
    * recompute-from-scan — correctness and shape are unchanged).
    * Empty clusters drop out (both engines), so k is an upper bound.
    *
    * Output: per-cluster size, mean vector norm ×1e6, and mean
    * distance-to-centroid ×1e6 (per-cluster inertia) — all integer-
    * exact, DuckDB-oracle hash-checked end to end. */
  /** The memoized ×1e6-quantized projection of the embeddings table —
    * 1 (seed) + iters assignment scans (and s8's cell assignment)
    * reuse one materialization. */
  private def quantized(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.VectorFunctions.quantizeE6
    graft.operators.Indexes.memo(s"s3_quant:$dir") {
      Tables.read(spark, dir, "embeddings")
        .select($"vec_id", quantizeE6($"embedding").as("el"))
        .repartition(spark.sessionState.conf.numShufflePartitions)
    }
  }

  /** Cell assignment against a fixed centroid set: one packed argmin
    * kernel per row (first strict min = lowest cluster id on ties,
    * matching the oracle's ORDER BY). Shared by s3's Lloyd's loop and
    * s8's IVF index build. The kernels are the loop-codegen
    * expressions in functions.VectorExprs — k·Dim unrolled literal
    * terms cost seconds of analysis+Janino per iteration (the
    * BandKeysF32 lesson); the reference-object loops compile once and
    * the literal-free source lets all iterations share one generated
    * class via the codegen cache. */
  private def assignCells(spark: SparkSession, q: DataFrame,
                          cs: Seq[(Int, Array[Long])]): DataFrame = {
    import spark.implicits._
    import graft.functions.VectorFunctions.nearestCentE6
    val clusterIds = lit(cs.map(_._1).toArray)
    q.withColumn("__packed", nearestCentE6($"el", cs.map(_._2).toArray))
      .withColumn("dist", unpackDistE6(col("__packed")))
      .withColumn("cluster",
        element_at(clusterIds, (pmod($"__packed", lit(16)) + 1).cast("int")).cast("long"))
      .drop("__packed")
  }

  /** Distance half of NearestCentE6's `sqdist·16 + idx` packing — the
    * ONE unpack site shared by assignCells and s27, so a pack-width
    * change cannot silently desynchronize consumers. */
  private def unpackDistE6(packed: Column): Column =
    Bridge.column(org.apache.spark.sql.catalyst.expressions.IntegralDivide(
      Bridge.expression(packed), Bridge.expression(lit(16L))))

  /** The fixed-iteration deterministic Lloyd's loop: k tiny
    * (cluster, quantized-centroid) rows on the driver — k×Dim longs
    * per iteration of driver traffic, the corpus never shuffles.
    * Cached per (dir, k, iters) so s3 and the s8 IVF index share one
    * training run per session (an index build in production). */
  private val centCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[(Int, Array[Long])]]

  /** The loop itself, over ANY (vec_id, el) frame — full-vector
    * k-means (s3/s8) and s10's per-subspace PQ codebooks share it.
    * Seeds: k rows with the smallest md5(vec_id), cluster id = rank
    * (an ordered driver collect of k ids + k quantized rows — tiny). */
  private def lloydLoop(spark: SparkSession, q: DataFrame, k: Int,
                        iters: Int, dim: Int): Seq[(Int, Array[Long])] = {
    import spark.implicits._
    val seedIds = q.select($"vec_id")
      .orderBy(md5($"vec_id".cast("string")), $"vec_id")
      .limit(k).as[Long].collect()
    val seedRows = q.filter($"vec_id".isin(seedIds.toIndexedSeq.map(Long.box): _*)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    var cents: Seq[(Int, Array[Long])] =
      seedIds.zipWithIndex.map { case (id, cl) => (cl, seedRows(id)) }.toSeq
    for (_ <- 1 until iters) {
      val aggCols = count(lit(1)).as("n") +:
        (0 until dim).map(i => sum(element_at($"el", i + 1)).as(s"s$i"))
      val rows = assignCells(spark, q, cents).groupBy($"cluster")
        .agg(aggCols.head, aggCols.tail: _*).collect()
      cents = rows.map { r =>
        val n = r.getLong(1)
        (r.getLong(0).toInt,
          (0 until dim).map(i => halfUpDivL(r.getLong(i + 2), n)).toArray)
      }.sortBy(_._1).toSeq
    }
    cents
  }

  def lloydCentroids(spark: SparkSession, dir: String, k: Int = 8,
                     iters: Int = 4): Seq[(Int, Array[Long])] =
    centCache.getOrElseUpdate(s"$dir:$k:$iters",
      lloydLoop(spark, quantized(spark, dir), k, iters, Dim))

  def s3Cluster(spark: SparkSession, dir: String, k: Int = 8, iters: Int = 4): DataFrame = {
    import spark.implicits._
    import graft.functions.VectorFunctions.sumSqI64
    val q = quantized(spark, dir)
    val cents = lloydCentroids(spark, dir, k, iters)
    assignCells(spark, q, cents)
      .select($"cluster",
        floor(sqrt(sumSqI64($"el").cast("double"))).as("nrm_e6"),
        floor(sqrt($"dist".cast("double"))).as("dist_e6"))
      .groupBy($"cluster")
      .agg(count(lit(1)).as("n_vectors"),
        halfUpDiv(sum($"nrm_e6"), count(lit(1))).as("mean_norm_e6"),
        halfUpDiv(sum($"dist_e6"), count(lit(1))).as("mean_dist_e6"))
      .orderBy("cluster")
  }

  /** s3 oracle: the same fixed-iteration integer Lloyd's unrolled as
    * iteration-pair CTEs over the long form (assign = min-dist
    * QUALIFY; update = half-up integer division — DuckDB `//`
    * truncates toward zero, so floor semantics for negative sums are
    * spelled with the positive-mod identity). */
  private def fdivSql(n: String, d: String) =
    s"(($n) - ((($n) % ($d) + ($d)) % ($d))) // ($d)"
  private def halfUpSql(num: String, den: String) =
    fdivSql(s"2*($num) + ($den)", s"2*($den)")

  /** One Lloyd's assignment step in SQL — argmin over centroid frame
    * c{it-1} (QUALIFY rn = 1, ties to the lowest cluster id). */
  private def lloydAssignCteSql(it: Int, withDist: Boolean): String = {
    val cols = if (withDist) "vec_id, cluster, dist" else "vec_id, cluster"
    s"""a$it AS (
       |  SELECT $cols FROM (
       |    SELECT q.vec_id, c.cluster, sum((q.e - c.c)*(q.e - c.c)) AS dist
       |    FROM q JOIN c${it - 1} c ON c.i = q.i GROUP BY 1, 2
       |    QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY dist, cluster) = 1))""".stripMargin
  }

  /** The Lloyd's TRAINING CTE chain — quantized long form `q`, seeds,
    * centroid frames c0..c{iters-1} — shared by s3Sql and the s8 IVF
    * oracle, exactly as `lloydCentroids` is shared on the Scala side. */
  private def lloydCteParts(iters: Int, trainWhere: String = ""): Seq[String] =
    Seq(
      s"""q AS (
        |  SELECT vec_id, i, CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS e
        |  FROM (SELECT vec_id, unnest(embedding) AS v,
        |               generate_subscripts(embedding, 1) AS i FROM embeddings $trainWhere))""".stripMargin,
      s"""seeds AS (
        |  SELECT vec_id, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cluster
        |  FROM embeddings $trainWhere
        |  QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 8)""".stripMargin,
      """c0 AS (
        |  SELECT s.cluster, q.i, q.e AS c FROM seeds s JOIN q ON q.vec_id = s.vec_id)""".stripMargin) ++
    (1 until iters).flatMap { it =>
      Seq(lloydAssignCteSql(it, withDist = false),
        s"""c$it AS (
           |  SELECT a.cluster, q.i,
           |    CAST(${halfUpSql("sum(q.e)", "count(*)")} AS BIGINT) AS c
           |  FROM a$it a JOIN q ON q.vec_id = a.vec_id GROUP BY 1, 2)""".stripMargin)
    }

  val s3Sql: String = {
    val iters = 4
    val parts = lloydCteParts(iters) ++ Seq(
      lloydAssignCteSql(iters, withDist = true),
      """nrm AS (
        |  SELECT vec_id, CAST(floor(sqrt(CAST(sum(e*e) AS DOUBLE))) AS BIGINT) AS nrm_e6
        |  FROM q GROUP BY vec_id)""".stripMargin)
    s"""WITH ${parts.mkString(",\n")}
       |SELECT a.cluster, count(*) AS n_vectors,
       |  CAST(${halfUpSql("sum(n.nrm_e6)", "count(*)")} AS BIGINT) AS mean_norm_e6,
       |  CAST(${halfUpSql("sum(CAST(floor(sqrt(CAST(a.dist AS DOUBLE))) AS BIGINT))", "count(*)")} AS BIGINT) AS mean_dist_e6
       |FROM a$iters a JOIN nrm n ON n.vec_id = a.vec_id
       |GROUP BY a.cluster ORDER BY a.cluster""".stripMargin
  }

  /** s2: IVF/LSH-bucketed approximate top-k — same queries/corpus split
    * as s1, but candidates come from a MULTI-BAND bucket join (8 bands
    * × 8 sign bits, the d5/MMDS banding scheme): a query scans the
    * union of its 8 band buckets, ~8/256 of the corpus, and a
    * truly-near neighbor (cos ≥ 0.95 → per-plane agreement p ≈ 0.9)
    * is a candidate with P = 1-(1-p⁸)⁸ ≈ 0.99 — recall a single-probe
    * single-bucket join can't reach at any comparable scan fraction
    * (8-bit single bucket: p⁸ ≈ 0.43).
    * `dim` is part of the embedding-table contract (the planes are
    * plan-time literals), not sniffed from the data — no driver-side
    * action before the plan runs. Oracle-checked: the DuckDB SQL
    * reproduces the exact band assignment ([[Lsh]]). */
  def s2Ivf(spark: SparkSession, dir: String, k: Int = K, bands: Int = 8,
            r: Int = 8, dim: Int = 64): DataFrame = {
    import spark.implicits._
    // repartition BEFORE the band-key computation and explode: spreads
    // the 64-dot kernel across the cluster even when the scan yields
    // few splits, and the exploded (×bands) rows never reshuffle
    val e = Tables.read(spark, dir, "embeddings")
      .repartition(spark.sessionState.conf.numShufflePartitions, $"vec_id")
      .select($"vec_id", $"embedding", vecNorm($"embedding").as("nrm"),
        Lsh.bandKeys($"embedding", bands, r, dim).as("bkeys"))
    val queries = e.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"embedding".as("q"), $"nrm".as("qn"),
        posexplode($"bkeys").as(Seq("band_idx", "band_key")))
    val corpus = e.filter($"vec_id" >= 10)
      .select($"vec_id".as("neighbor_id"), $"embedding".as("c"), $"nrm".as("cn"),
        posexplode($"bkeys").as(Seq("band_idx", "band_key")))
    val w = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"neighbor_id")
    // a pair agreeing on several bands is scored per occurrence and
    // deduped AFTER the cosine projection: the dedup shuffle then
    // carries 3 narrow columns instead of two embeddings per row —
    // recomputing a ≤bands-times-duplicated dot is far cheaper than
    // shipping vectors (cosine is deterministic, so dupes are exact)
    corpus.join(broadcast(queries), Seq("band_idx", "band_key"))
      .select($"query_id", $"neighbor_id",
        round(dot($"q", $"c") / ($"qn" * $"cn"), 6).as("cos_sim"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
  }

  /** s2 oracle: DuckDB reproduces the band assignment from the same
    * md5-derived planes (Lsh.bandsSqlCtes), so candidates — and
    * therefore the whole result — match the Spark plan exactly. */
  val s2Sql: String =
    s"""WITH u AS (
       |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
       |         generate_subscripts(embedding, 1) AS i
       |  FROM embeddings),
       |${Lsh.bandsSqlCtes(nPlanes = 64, r = 8, dim = 64)},
       |cand AS (
       |  SELECT DISTINCT bq.vec_id AS query_id, bc.vec_id AS neighbor_id
       |  FROM bands bq JOIN bands bc
       |    ON bc.band_idx = bq.band_idx AND bc.band_key = bq.band_key
       |  WHERE bq.vec_id < 10 AND bc.vec_id >= 10),
       |s AS (
       |  SELECT cd.query_id, cd.neighbor_id,
       |    round(sum(q.v * c.v ORDER BY q.i) / (sqrt(sum(q.v * q.v ORDER BY q.i)) * sqrt(sum(c.v * c.v ORDER BY c.i))), 6) AS cos_sim
       |  FROM cand cd
       |  JOIN u q ON q.vec_id = cd.query_id
       |  JOIN u c ON c.vec_id = cd.neighbor_id AND c.i = q.i
       |  GROUP BY 1, 2),
       |r AS (
       |  SELECT query_id, neighbor_id, cos_sim,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM s)
       |SELECT query_id, neighbor_id, cos_sim, rank FROM r
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** s6: BUCKETED radius search — s5's threshold search run over s2's
    * multi-band hyperplane index instead of the full corpus: the scale
    * path s5's docstring promises, as a real selectable operator.
    * Candidates come from the 8-band bucket join (≈ bands/2^r of the
    * corpus scanned per query), then the exact cosine filter applies.
    * Results are a deterministic SUBSET of s5's: a pair is returned
    * iff it shares ≥1 band bucket AND clears the radius — so recall is
    * governed by the band collision curve (high for near pairs,
    * falling toward the radius boundary: p_band = p_plane⁸, the
    * s2/MMDS banding trade-off). [[s6RadiusRecallAudit]] measures
    * exactly that, per query, s4-style. Fully DuckDB-oracle
    * hash-checked (same plan-time planes as s2). */
  def s6RadiusBucketed(spark: SparkSession, dir: String, minCos: Double = 0.30,
                       bands: Int = 8, r: Int = 8, dim: Int = 64): DataFrame = {
    import spark.implicits._
    val e = Tables.read(spark, dir, "embeddings")
      .repartition(spark.sessionState.conf.numShufflePartitions, $"vec_id")
      .select($"vec_id", $"embedding", vecNorm($"embedding").as("nrm"),
        Lsh.bandKeys($"embedding", bands, r, dim).as("bkeys"))
    val queries = e.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"embedding".as("q"), $"nrm".as("qn"),
        posexplode($"bkeys").as(Seq("band_idx", "band_key")))
    val corpus = e.filter($"vec_id" >= 10)
      .select($"vec_id".as("neighbor_id"), $"embedding".as("c"), $"nrm".as("cn"),
        posexplode($"bkeys").as(Seq("band_idx", "band_key")))
    corpus.join(broadcast(queries), Seq("band_idx", "band_key"))
      .select($"query_id", $"neighbor_id",
        round(dot($"q", $"c") / ($"qn" * $"cn"), 6).as("cos_sim"))
      .dropDuplicates("query_id", "neighbor_id")
      .filter($"cos_sim" >= minCos)
  }

  /** s6 oracle: s2's band CTEs + the radius HAVING. */
  val s6Sql: String =
    s"""WITH u AS (
       |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
       |         generate_subscripts(embedding, 1) AS i
       |  FROM embeddings),
       |${Lsh.bandsSqlCtes(nPlanes = 64, r = 8, dim = 64)},
       |cand AS (
       |  SELECT DISTINCT bq.vec_id AS query_id, bc.vec_id AS neighbor_id
       |  FROM bands bq JOIN bands bc
       |    ON bc.band_idx = bq.band_idx AND bc.band_key = bq.band_key
       |  WHERE bq.vec_id < 10 AND bc.vec_id >= 10),
       |s AS (
       |  SELECT cd.query_id, cd.neighbor_id,
       |    round(sum(q.v * c.v ORDER BY q.i) / (sqrt(sum(q.v * q.v ORDER BY q.i)) * sqrt(sum(c.v * c.v ORDER BY c.i))), 6) AS cos_sim
       |  FROM cand cd
       |  JOIN u q ON q.vec_id = cd.query_id
       |  JOIN u c ON c.vec_id = cd.neighbor_id AND c.i = q.i
       |  GROUP BY 1, 2)
       |SELECT query_id, neighbor_id, cos_sim FROM s
       |WHERE cos_sim >= 0.30 ORDER BY query_id, neighbor_id""".stripMargin

  /** s7: recall audit for the bucketed radius path (s4's pattern
    * applied to s6): per query, how many of the exact in-radius
    * neighbors the bucketed index surfaced. Both sides deterministic
    * → exact integers, DuckDB-oracle hash-checked end to end. The
    * audit quantifies the band-collision recall curve a production
    * deployment must re-measure per index rebuild. */
  def s6RadiusRecallAudit(spark: SparkSession, dir: String,
                          minCos: Double = 0.30): DataFrame = {
    import spark.implicits._
    val exact = s5Radius(spark, dir, minCos).select($"query_id", $"neighbor_id")
    val approx = s6RadiusBucketed(spark, dir, minCos)
      .select($"query_id".as("q2"), $"neighbor_id".as("n2"))
    exact.join(approx, $"query_id" === $"q2" && $"neighbor_id" === $"n2", "left")
      .groupBy($"query_id")
      .agg(count(lit(1)).as("n_exact"), count($"n2").as("n_found"))
      .select($"query_id", $"n_exact", $"n_found",
        halfUpDiv($"n_found" * 1000000L, $"n_exact").as("recall_e6"))
  }

  /** s7 oracle: the s5 and s6 oracles composed as CTEs (the s4
    * pattern). Positive operands, so DuckDB's truncating `//` IS
    * floor — the halfUpDiv identity holds without the pmod spelling. */
  val s7Sql: String =
    s"""WITH ex AS ($s5Sql),
       |ap AS ($s6Sql)
       |SELECT ex.query_id, count(*) AS n_exact,
       |  count(ap.neighbor_id) AS n_found,
       |  CAST((2 * count(ap.neighbor_id) * 1000000 + count(*)) // (2 * count(*)) AS BIGINT) AS recall_e6
       |FROM ex LEFT JOIN ap
       |  ON ap.query_id = ex.query_id AND ap.neighbor_id = ex.neighbor_id
       |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin

  /** s4: ANN quality audit — recall@k of the bucketed s2 plan against
    * the exact s1 baseline, per query. An approximate index is only
    * deployable with a measured recall; a production pipeline runs
    * this audit on a query sample after every (re)build of the index
    * (the recall/probe trade-off knob of the IVF literature —
    * Johnson/Douze/Jégou). Both sides are deterministic (seeded
    * plan-time hyperplanes), so the audit itself is DuckDB-oracle-
    * checked end to end — recall is an EXACT integer here, not a
    * flaky float. k divides 1e6, keeping recall_e6 integer-exact. */
  def s4AnnRecall(spark: SparkSession, dir: String, k: Int = K): DataFrame = {
    import spark.implicits._
    require(1000000 % k == 0, s"k=$k must divide 1e6 for an exact recall_e6")
    val exact = s1Brute(spark, dir, k).select($"query_id", $"neighbor_id")
    val approx = s2Ivf(spark, dir, k)
      .select($"query_id".as("q2"), $"neighbor_id".as("n2"))
    exact.join(approx, $"query_id" === $"q2" && $"neighbor_id" === $"n2", "left")
      .groupBy($"query_id")
      .agg(count($"n2").as("n_hits"))
      .select($"query_id", $"n_hits",
        ($"n_hits" * lit(1000000L / k)).as("recall_e6"))
  }

  /** s4 oracle: the s1 and s2 oracles composed verbatim as nested
    * CTEs (DuckDB scopes each side's internal names). */
  val s4Sql: String =
    s"""WITH ex AS ($s1Sql),
       |ap AS ($s2Sql)
       |SELECT ex.query_id, count(ap.neighbor_id) AS n_hits,
       |  CAST(count(ap.neighbor_id) * ${1000000L / K} AS BIGINT) AS recall_e6
       |FROM ex LEFT JOIN ap
       |  ON ap.query_id = ex.query_id AND ap.neighbor_id = ex.neighbor_id
       |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin

  /** s16: FILTERED ANN — top-k under a metadata predicate (the
    * pre-filter / post-filter question every vector store faces:
    * Milvus/Qdrant/pgvector filtered search): queries retrieve only
    * corpus vectors sharing their `label`. Two plans are priced
    * against each other per query, s4-style — the audit IS the
    * registered query:
    *   - exact filtered baseline: the predicate turns s1's
    *     broadcast-nested-loop into a broadcast HASH join on label —
    *     filtering makes exact search CHEAPER, not harder, when the
    *     predicate is an equi-key;
    *   - bucketed+filtered path: s2's band candidates intersected
    *     with the label key IN the join (label rides the band-bucket
    *     equi-join — filter-during-traversal, not post-filter), then
    *     exact re-rank among survivors.
    * Low recall here is the classic filtered-ANN failure (the
    * predicate thins each bucket below k) — the number a deployment
    * must re-measure per index build before trusting filtered
    * queries.
    *
    * Scale shape: both sides are broadcast joins against the
    * 10-query set — the corpus never shuffles; the only wide rows
    * are the in-partition band explode (×bands, never reshuffled);
    * dedup happens after the 3-column cosine projection (the s2
    * convention). Plan-asserted BNLJ-free: the label key upgrades
    * even the exact side to a hash join. */
  def s16FilteredAnn(spark: SparkSession, dir: String, k: Int = K,
                     bands: Int = 8, r: Int = 8, dim: Int = 64): DataFrame = {
    import spark.implicits._
    val e = Tables.read(spark, dir, "embeddings")
      .repartition(spark.sessionState.conf.numShufflePartitions, $"vec_id")
      .select($"vec_id", $"label", $"embedding", vecNorm($"embedding").as("nrm"),
        Lsh.bandKeys($"embedding", bands, r, dim).as("bkeys"))
    val wq = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"neighbor_id")
    val exact = e.filter($"vec_id" >= 10)
      .select($"vec_id".as("neighbor_id"), $"label", $"embedding".as("cv"), $"nrm".as("cn"))
      .join(broadcast(e.filter($"vec_id" < 10)
        .select($"vec_id".as("query_id"), $"label", $"embedding".as("qv"), $"nrm".as("qn"))),
        Seq("label"))
      .select($"query_id", $"label", $"neighbor_id",
        round(dot($"qv", $"cv") / ($"qn" * $"cn"), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(wq))
      .filter($"rank" <= k)
    val qb = e.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"label", $"embedding".as("qv"), $"nrm".as("qn"),
        posexplode($"bkeys").as(Seq("band_idx", "band_key")))
    val cb = e.filter($"vec_id" >= 10)
      .select($"vec_id".as("neighbor_id"), $"label", $"embedding".as("cv"), $"nrm".as("cn"),
        posexplode($"bkeys").as(Seq("band_idx", "band_key")))
    val approx = cb.join(broadcast(qb), Seq("band_idx", "band_key", "label"))
      .select($"query_id", $"neighbor_id",
        round(dot($"qv", $"cv") / ($"qn" * $"cn"), 6).as("cos_sim"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("rank", row_number().over(wq))
      .filter($"rank" <= k)
      .select($"query_id".as("q2"), $"neighbor_id".as("n2"))
    exact.select($"query_id", $"label", $"neighbor_id")
      .join(approx, $"query_id" === $"q2" && $"neighbor_id" === $"n2", "left")
      .groupBy($"query_id", $"label")
      .agg(count(lit(1)).as("n_exact"), count($"n2").as("n_hits"))
      .select($"query_id", $"label", $"n_exact", $"n_hits",
        halfUpDiv($"n_hits" * 1000000L, $"n_exact").as("recall_e6"))
  }

  /** s16 oracle: s1/s2's CTE chains with the label key added to both
    * the exact pairing and the band candidate join. */
  val s16Sql: String =
    s"""WITH u AS (
       |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
       |         generate_subscripts(embedding, 1) AS i
       |  FROM embeddings),
       |lb AS (SELECT vec_id, label FROM embeddings),
       |${Lsh.bandsSqlCtes(nPlanes = 64, r = 8, dim = 64)},
       |exs AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    round(sum(q.v * c.v ORDER BY q.i) / (sqrt(sum(q.v * q.v ORDER BY q.i)) * sqrt(sum(c.v * c.v ORDER BY c.i))), 6) AS cos_sim
       |  FROM u q JOIN u c ON q.i = c.i AND q.vec_id < 10 AND c.vec_id >= 10
       |  JOIN lb lq ON lq.vec_id = q.vec_id
       |  JOIN lb lc ON lc.vec_id = c.vec_id AND lc.label = lq.label
       |  GROUP BY 1, 2),
       |ex AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |    FROM exs) WHERE rank <= 5),
       |cand AS (
       |  SELECT DISTINCT bq.vec_id AS query_id, bc.vec_id AS neighbor_id
       |  FROM bands bq JOIN bands bc
       |    ON bc.band_idx = bq.band_idx AND bc.band_key = bq.band_key
       |  JOIN lb lq ON lq.vec_id = bq.vec_id
       |  JOIN lb lc ON lc.vec_id = bc.vec_id AND lc.label = lq.label
       |  WHERE bq.vec_id < 10 AND bc.vec_id >= 10),
       |aps AS (
       |  SELECT cd.query_id, cd.neighbor_id,
       |    round(sum(q.v * c.v ORDER BY q.i) / (sqrt(sum(q.v * q.v ORDER BY q.i)) * sqrt(sum(c.v * c.v ORDER BY c.i))), 6) AS cos_sim
       |  FROM cand cd
       |  JOIN u q ON q.vec_id = cd.query_id
       |  JOIN u c ON c.vec_id = cd.neighbor_id AND c.i = q.i
       |  GROUP BY 1, 2),
       |ap AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |    FROM aps) WHERE rank <= 5)
       |SELECT ex.query_id, lq.label, count(*) AS n_exact,
       |  count(ap.neighbor_id) AS n_hits,
       |  CAST((2 * count(ap.neighbor_id) * 1000000 + count(*)) // (2 * count(*)) AS BIGINT) AS recall_e6
       |FROM ex
       |JOIN lb lq ON lq.vec_id = ex.query_id
       |LEFT JOIN ap ON ap.query_id = ex.query_id AND ap.neighbor_id = ex.neighbor_id
       |GROUP BY ex.query_id, lq.label ORDER BY ex.query_id""".stripMargin

  /** s8: IVF top-k ANN with a K-MEANS coarse quantizer — the
    * IVF-Flat shape of the billion-scale ANN literature
    * (Johnson/Douze/Jégou, IEEE Big Data '19): s3's deterministic
    * Lloyd's centroids partition the corpus into kc cells ONCE (one
    * codegen'd argmin scan; in production the cell id is persisted
    * and the table bucketed by it at index-build time), each query
    * probes its nprobe nearest cells, and candidates re-rank under
    * the exact cosine. Next to s2's data-OBLIVIOUS hyperplanes this
    * is the data-ADAPTIVE index: cells follow the corpus density, so
    * the scanned fraction (≈ nprobe/kc on balanced cells) buys more
    * recall where the data actually clusters.
    *
    * Scale shape: the corpus is scanned once for assignment and once
    * per search batch through a broadcast-hash join on the cell id —
    * it NEVER shuffles; a neighbor lives in exactly one cell so
    * candidate pairs are structurally unique (no dedup stage, unlike
    * s2's multi-band union). Probe selection is a kc-row constant-key
    * broadcast join + a per-query window (metadata-sized; the integer
    * zip_with/aggregate distance is interpreted, fine at kc rows —
    * the corpus-sized argmin stays in the codegen'd kernel).
    * Training, assignment, probing and scoring are all integer- or
    * IEEE-exact → fully DuckDB-oracle hash-checked. */
  def s8IvfKm(spark: SparkSession, dir: String, k: Int = K, nprobe: Int = 2,
              kc: Int = 8, iters: Int = 4): DataFrame = {
    import spark.implicits._
    import graft.functions.VectorFunctions.quantizeE6
    val cents = lloydCentroids(spark, dir, kc, iters)
    val e = Tables.read(spark, dir, "embeddings")
      .repartition(spark.sessionState.conf.numShufflePartitions, $"vec_id")
      .select($"vec_id", $"embedding", vecNorm($"embedding").as("nrm"),
        quantizeE6($"embedding").as("el"))
    val corpus = assignCells(spark, e.filter($"vec_id" >= 10), cents)
      .select($"vec_id".as("neighbor_id"), $"embedding".as("c"), $"nrm".as("cn"),
        $"cluster".as("cell"))
    // probe selection is a pure projection: the centroids are
    // plan-time literals, so each query's kc distances are literal
    // column arithmetic and the nprobe smallest fall out of one
    // array_sort (struct order = (dist, cell), the same tie-break as
    // the oracle's ORDER BY dist, cluster). No join, no window, no
    // exchange — and the interpreted zip_with/aggregate runs on
    // query-set-sized rows only (the corpus-sized argmin stays in the
    // codegen'd kernel above).
    val cellDists = cents.map { case (c, arr) =>
      struct(
        aggregate(zip_with($"el", lit(arr), (a, b) => (a - b) * (a - b)),
          lit(0L), _ + _).as("cdist"),
        lit(c.toLong).as("cell"))
    }
    val probes = e.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"embedding".as("q"), $"nrm".as("qn"),
        explode(slice(array_sort(array(cellDists: _*)), 1, nprobe)).as("probe"))
      .select($"query_id", $"q", $"qn", $"probe.cell".as("cell"))
    val w = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"neighbor_id")
    corpus.join(broadcast(probes), Seq("cell"))
      .select($"query_id", $"neighbor_id",
        round(dot($"q", $"c") / ($"qn" * $"cn"), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
  }

  /** s8 oracle: the shared Lloyd's training CTEs (c3 = the final
    * centroids `lloydCentroids` returns) + corpus cell assignment,
    * query probe selection (QUALIFY rn ≤ nprobe, same dist/cluster
    * tie order as the Spark window) and exact-cosine re-ranking. */
  val s8Sql: String = {
    val iters = 4
    s"""WITH ${lloydCteParts(iters).mkString(",\n")},
       |cells AS (
       |  SELECT vec_id, cluster AS cell FROM (
       |    SELECT q.vec_id, c.cluster, sum((q.e - c.c)*(q.e - c.c)) AS dist
       |    FROM q JOIN c${iters - 1} c ON c.i = q.i
       |    WHERE q.vec_id >= 10 GROUP BY 1, 2
       |    QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY dist, cluster) = 1)),
       |probes AS (
       |  SELECT vec_id AS query_id, cluster AS cell FROM (
       |    SELECT q.vec_id, c.cluster, sum((q.e - c.c)*(q.e - c.c)) AS dist
       |    FROM q JOIN c${iters - 1} c ON c.i = q.i
       |    WHERE q.vec_id < 10 GROUP BY 1, 2
       |    QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY dist, cluster) <= 2)),
       |cand AS (
       |  SELECT p.query_id, cl.vec_id AS neighbor_id
       |  FROM probes p JOIN cells cl ON cl.cell = p.cell),
       |u AS (
       |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
       |         generate_subscripts(embedding, 1) AS i
       |  FROM embeddings),
       |s AS (
       |  SELECT cd.query_id, cd.neighbor_id,
       |    round(sum(uq.v * uc.v ORDER BY uq.i) / (sqrt(sum(uq.v * uq.v ORDER BY uq.i)) * sqrt(sum(uc.v * uc.v ORDER BY uc.i))), 6) AS cos_sim
       |  FROM cand cd
       |  JOIN u uq ON uq.vec_id = cd.query_id
       |  JOIN u uc ON uc.vec_id = cd.neighbor_id AND uc.i = uq.i
       |  GROUP BY 1, 2),
       |r AS (
       |  SELECT query_id, neighbor_id, cos_sim,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM s)
       |SELECT query_id, neighbor_id, cos_sim, rank FROM r
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
  }

  /** s9: recall@k audit of the IVF-k-means index against the exact
    * s1 baseline (s4's pattern for s8) — the per-rebuild quality gate
    * of the nprobe/kc trade-off. Both sides deterministic, so the
    * audit is itself DuckDB-oracle hash-checked. */
  def s8IvfRecallAudit(spark: SparkSession, dir: String, k: Int = K): DataFrame = {
    import spark.implicits._
    require(1000000 % k == 0, s"k=$k must divide 1e6 for an exact recall_e6")
    val exact = s1Brute(spark, dir, k).select($"query_id", $"neighbor_id")
    val approx = s8IvfKm(spark, dir, k)
      .select($"query_id".as("q2"), $"neighbor_id".as("n2"))
    exact.join(approx, $"query_id" === $"q2" && $"neighbor_id" === $"n2", "left")
      .groupBy($"query_id")
      .agg(count($"n2").as("n_hits"))
      .select($"query_id", $"n_hits",
        ($"n_hits" * lit(1000000L / k)).as("recall_e6"))
  }

  /** s9 oracle: s1 and s8 oracles composed as CTEs (the s4 pattern). */
  val s9Sql: String =
    s"""WITH ex AS ($s1Sql),
       |ap AS ($s8Sql)
       |SELECT ex.query_id, count(ap.neighbor_id) AS n_hits,
       |  CAST(count(ap.neighbor_id) * ${1000000L / K} AS BIGINT) AS recall_e6
       |FROM ex LEFT JOIN ap
       |  ON ap.query_id = ex.query_id AND ap.neighbor_id = ex.neighbor_id
       |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin

  // ---- s10/s11: product quantization -------------------------------

  /** PQ geometry: m=4 subspaces of 16 dims, 16 codes each — every
    * corpus vector compresses to 4 small ints (64 floats → 4 bytes in
    * production storage, a 64× memory cut). */
  private val SubM = 8
  private val SubDim = Dim / SubM
  private val KCode = 16

  /** Per-subspace codebooks: the SAME deterministic Lloyd's loop as
    * s3, run m times over the sliced projection (cached per (dir,
    * subspace) — an index-build artifact, like s8's coarse cells). */
  private[graft] def pqCodebooks(spark: SparkSession, dir: String,
                          iters: Int = 3): Seq[(Int, Seq[(Int, Array[Long])])] =
    (0 until SubM).map { s =>
      s -> centCache.getOrElseUpdate(s"$dir:pq:$s:$KCode:$iters", {
        import spark.implicits._
        lloydLoop(spark,
          quantized(spark, dir)
            .select($"vec_id", slice($"el", s * SubDim + 1, SubDim).as("el")),
          KCode, iters, SubDim)
      })
    }

  /** s10: product-quantization ANN (Jégou/Douze/Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011) — the
    * memory-side compression of the billion-scale ANN stack, next to
    * s2/s8's scan-side pruning: each corpus vector is stored as m=4
    * codebook ids, and queries rank candidates by the asymmetric
    * distance (ADC): ‖q−v‖² ≈ Σₛ ‖qₛ − cb_s[code_s(v)]‖², looked up
    * from a per-query m×16 distance table instead of touching the
    * vector.
    *
    * Scale shape: encoding is one corpus scan through 4 packed-argmin
    * kernels (one projection, no shuffle — persisted at index-build
    * time in production); search joins the exploded (vec_id, s, code)
    * codes against the BROADCAST per-query distance table (m×16×
    * queries rows) and sums 4 narrow ints per candidate — the corpus
    * never shuffles vectors, only (query, neighbor, partial-dist)
    * rows into the top-k window. At billions of rows PQ composes with
    * s8's coarse cells (IVFPQ: probe cells, then ADC within them);
    * the distance-table trick is exactly why ADC beats re-decoding.
    * Everything is ×1e6-integer-exact (training via [[lloydLoop]],
    * distances as order-free BIGINT sums) → hash-checked oracle. */
  def s10PqAnn(spark: SparkSession, dir: String, k: Int = K,
               iters: Int = 3): DataFrame = {
    import spark.implicits._
    import graft.functions.VectorFunctions.nearestCentE6
    val books = pqCodebooks(spark, dir, iters)
    val q = quantized(spark, dir)
    def codeCol(s: Int, cs: Seq[(Int, Array[Long])]): Column = {
      val ids = lit(cs.map(_._1).toArray)
      element_at(ids,
        (pmod(nearestCentE6(slice($"el", s * SubDim + 1, SubDim),
          cs.map(_._2).toArray), lit(16)) + 1).cast("int")).cast("long")
    }
    val codes = q.filter($"vec_id" >= 10)
      .select($"vec_id".as("neighbor_id"),
        explode(array(books.map { case (s, cs) =>
          struct(lit(s).as("s"), codeCol(s, cs).as("code")) }: _*)).as("sc"))
      .select($"neighbor_id", $"sc.s".as("s"), $"sc.code".as("code"))
    // per-query ADC table: m×16 integer squared distances, computed on
    // the query rows only (interpreted zip_with is fine there — the
    // corpus-sized work above stays in the codegen'd kernel)
    val dcols = books.flatMap { case (s, cs) =>
      cs.map { case (cid, arr) =>
        struct(lit(s).as("s"), lit(cid.toLong).as("code"),
          aggregate(zip_with(slice($"el", s * SubDim + 1, SubDim), lit(arr),
            (a, b) => (a - b) * (a - b)), lit(0L), _ + _).as("qdist"))
      }
    }
    val dtab = q.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), explode(array(dcols: _*)).as("d"))
      .select($"query_id", $"d.s".as("s"), $"d.code".as("code"), $"d.qdist".as("qdist"))
    val w = Window.partitionBy($"query_id").orderBy($"adist_e12", $"neighbor_id")
    codes.join(broadcast(dtab), Seq("s", "code"))
      .groupBy($"query_id", $"neighbor_id")
      .agg(sum($"qdist").as("adist_e12"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
  }

  /** The PQ training CTE chain — subspace slices q0..q3, shared
    * 16-seed frame, per-subspace centroid frames p{s}c0..c{iters-1} —
    * mirroring [[pqCodebooks]] exactly as lloydCteParts mirrors
    * [[lloydCentroids]]. */
  private def pqCteParts(iters: Int): Seq[String] = {
    val base = Seq(
      """q AS (
        |  SELECT vec_id, i, CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS e
        |  FROM (SELECT vec_id, unnest(embedding) AS v,
        |               generate_subscripts(embedding, 1) AS i FROM embeddings))""".stripMargin,
      s"""pseeds AS (
         |  SELECT vec_id, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cluster
         |  FROM embeddings
         |  QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= $KCode)""".stripMargin)
    val per = (0 until SubM).flatMap { s =>
      val lo = s * SubDim
      val hi = (s + 1) * SubDim
      val head = Seq(
        s"q$s AS (SELECT vec_id, i, e FROM q WHERE i > $lo AND i <= $hi)",
        s"p${s}c0 AS (SELECT ps.cluster, q.i, q.e AS c FROM pseeds ps JOIN q$s q ON q.vec_id = ps.vec_id)")
      val its = (1 until iters).flatMap { it =>
        Seq(
          s"""p${s}a$it AS (
             |  SELECT vec_id, cluster FROM (
             |    SELECT q.vec_id, c.cluster, sum((q.e - c.c)*(q.e - c.c)) AS dist
             |    FROM q$s q JOIN p${s}c${it - 1} c ON c.i = q.i GROUP BY 1, 2
             |    QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY dist, cluster) = 1))""".stripMargin,
          s"""p${s}c$it AS (
             |  SELECT a.cluster, q.i,
             |    CAST(${halfUpSql("sum(q.e)", "count(*)")} AS BIGINT) AS c
             |  FROM p${s}a$it a JOIN q$s q ON q.vec_id = a.vec_id GROUP BY 1, 2)""".stripMargin)
      }
      head ++ its
    }
    base ++ per
  }

  val s10Sql: String = {
    val iters = 3
    val fin = iters - 1
    val codes = (0 until SubM).map(s =>
      s"""SELECT vec_id, $s AS s, cluster AS code FROM (
         |    SELECT q.vec_id, c.cluster, sum((q.e - c.c)*(q.e - c.c)) AS dist
         |    FROM q$s q JOIN p${s}c$fin c ON c.i = q.i
         |    WHERE q.vec_id >= 10 GROUP BY 1, 2
         |    QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY dist, cluster) = 1)""".stripMargin)
      .mkString("\n  UNION ALL\n  ")
    val dtab = (0 until SubM).map(s =>
      s"""SELECT q.vec_id AS query_id, $s AS s, c.cluster AS code,
         |    CAST(sum((q.e - c.c)*(q.e - c.c)) AS BIGINT) AS qdist
         |    FROM q$s q JOIN p${s}c$fin c ON c.i = q.i
         |    WHERE q.vec_id < 10 GROUP BY 1, 2, 3""".stripMargin)
      .mkString("\n  UNION ALL\n  ")
    s"""WITH ${pqCteParts(iters).mkString(",\n")},
       |codes AS (
       |  $codes),
       |dtab AS (
       |  $dtab),
       |adc AS (
       |  SELECT d.query_id, cd.vec_id AS neighbor_id,
       |    CAST(sum(d.qdist) AS BIGINT) AS adist_e12
       |  FROM codes cd JOIN dtab d ON d.s = cd.s AND d.code = cd.code
       |  GROUP BY 1, 2),
       |r AS (
       |  SELECT query_id, neighbor_id, adist_e12,
       |    row_number() OVER (PARTITION BY query_id ORDER BY adist_e12, neighbor_id) AS rank
       |  FROM adc)
       |SELECT query_id, neighbor_id, adist_e12, rank FROM r
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
  }

  /** s11: PQ recall audit — recall@k of s10's ADC ranking against the
    * EXACT integer-L2 top-k in the same ×1e6 space (PQ approximates
    * L2, so the yardstick is L2, not s1's cosine). The exact side is
    * the s1 broadcast shape with a codegen'd integer kernel:
    * ‖q−v‖² = Σq² + Σv² − 2·q·v via [[graft.functions.SumSqI64]] +
    * [[graft.functions.DotI64]] — order-free BIGINT terms, bit-equal
    * in DuckDB. The quantization-error gap PQ trades for 64× memory
    * is exactly what this audit prices, per query, per rebuild. */
  def s11PqRecall(spark: SparkSession, dir: String, k: Int = K): DataFrame =
    recallVsExactL2(spark, dir, k, s10PqAnn(spark, dir, k))

  /** The exact integer-L2 top-k (s1's broadcast shape, codegen'd
    * integer kernels) — the shared yardstick of the s11/s13 recall
    * audits. */
  private def exactL2TopK(spark: SparkSession, dir: String, k: Int): DataFrame = {
    import spark.implicits._
    import graft.functions.VectorFunctions.{dotI64, sumSqI64}
    val q = quantized(spark, dir)
    val queries = q.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"el".as("qe"), sumSqI64($"el").as("qq"))
    val corpus = q.filter($"vec_id" >= 10)
      .select($"vec_id".as("neighbor_id"), $"el".as("ce"), sumSqI64($"el").as("cc"))
    val w = Window.partitionBy($"query_id").orderBy($"l2_e12", $"neighbor_id")
    corpus.join(broadcast(queries))
      .select($"query_id", $"neighbor_id",
        ($"qq" + $"cc" - lit(2L) * dotI64($"qe", $"ce")).as("l2_e12"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"query_id", $"neighbor_id")
  }

  /** recall@k of `approx` against the exact integer-L2 top-k. */
  private def recallVsExactL2(spark: SparkSession, dir: String, k: Int,
                              approx: DataFrame): DataFrame = {
    import spark.implicits._
    require(1000000 % k == 0, s"k=$k must divide 1e6 for an exact recall_e6")
    val exact = exactL2TopK(spark, dir, k)
    val ap = approx.select($"query_id".as("q2"), $"neighbor_id".as("n2"))
    exact.join(ap, $"query_id" === $"q2" && $"neighbor_id" === $"n2", "left")
      .groupBy($"query_id")
      .agg(count($"n2").as("n_hits"))
      .select($"query_id", $"n_hits",
        ($"n_hits" * lit(1000000L / k)).as("recall_e6"))
  }

  /** s11 oracle: exact integer-L2 top-k composed with the s10 oracle
    * (the s4 pattern). */
  val s11Sql: String =
    s"""WITH ap AS ($s10Sql),
       |eq AS (
       |  SELECT vec_id, i, CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS e
       |  FROM (SELECT vec_id, unnest(embedding) AS v,
       |               generate_subscripts(embedding, 1) AS i FROM embeddings)),
       |el2 AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    CAST(sum((a.e - b.e)*(a.e - b.e)) AS BIGINT) AS l2_e12
       |  FROM eq a JOIN eq b ON a.i = b.i AND a.vec_id < 10 AND b.vec_id >= 10
       |  GROUP BY 1, 2),
       |ex AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY l2_e12, neighbor_id) AS rank
       |    FROM el2) WHERE rank <= $K)
       |SELECT ex.query_id, count(ap.neighbor_id) AS n_hits,
       |  CAST(count(ap.neighbor_id) * ${1000000L / K} AS BIGINT) AS recall_e6
       |FROM ex LEFT JOIN ap
       |  ON ap.query_id = ex.query_id AND ap.neighbor_id = ex.neighbor_id
       |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin

  // ---- s12/s13: scalar quantization (SQ8) --------------------------

  private val sq8Cache =
    scala.collection.concurrent.TrieMap.empty[String, (Array[Long], Array[Long])]

  /** The SQ8 codebook: per-dimension corpus (min, span) in the ×1e6
    * space — Dim pairs, aggregate-sized, collected once per dir (an
    * index-build artifact, the [[pqCodebooks]] convention). Zero-span
    * dims (a constant dimension) get span 1: every code lands on 0
    * and the dim contributes nothing to any distance, both engines. */
  private def sq8Codebook(spark: SparkSession, dir: String): (Array[Long], Array[Long]) =
    sq8Cache.getOrElseUpdate(dir, {
      import spark.implicits._
      val rows = quantized(spark, dir).filter($"vec_id" >= 10)
        .select(posexplode($"el").as(Seq("i", "e")))
        .groupBy($"i").agg(min($"e").as("mn"), max($"e").as("mx"))
        .orderBy("i").collect()
      val mins = rows.map(_.getAs[Long]("mn"))
      val spans = rows.map(r => math.max(r.getAs[Long]("mx") - r.getAs[Long]("mn"), 1L))
      (mins, spans)
    })

  /** s12: scalar-quantization ANN (SQ8, the FAISS `SQ8`/Milvus
    * `IVF_SQ8` storage tier): every dimension compresses to a uint8
    * code against the corpus-trained per-dim (min, span) codebook —
    * 64 floats → 64 bytes, a 4× memory cut with NO codebook training
    * loop (vs PQ's Lloyd's) — and search ranks by SYMMETRIC code-space
    * L2 (both sides int8, the memory-bandwidth-optimal variant).
    *
    * Scale shape: the codebook is Dim pairs (broadcast-as-literals
    * via the codegen reference object); encoding is one scan through
    * the [[graft.functions.Sq8CodesE6]] kernel — no shuffle, persisted
    * at index-build time in production; search is the s1 deliberate
    * broadcast-queries shape with codegen'd integer kernels on the
    * CODE arrays (‖a−b‖² = Σa²+Σb²−2a·b), and code distances are
    * ≤ Dim·255² ≈ 4.2e6 — overflow-proof at any Dim that fits memory.
    * Composes with s8's coarse cells (IVF_SQ8) the same way s10 does.
    * Integer-exact end to end → hash-checked oracle. */
  def s12Sq8Ann(spark: SparkSession, dir: String, k: Int = K): DataFrame = {
    import spark.implicits._
    import graft.functions.VectorFunctions.{dotI64, sq8CodesE6, sumSqI64}
    val (mins, spans) = sq8Codebook(spark, dir)
    val coded = quantized(spark, dir)
      .select($"vec_id", sq8CodesE6($"el", mins, spans).as("codes"))
    val queries = coded.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"codes".as("qc"), sumSqI64($"codes").as("qq"))
    val corpus = coded.filter($"vec_id" >= 10)
      .select($"vec_id".as("neighbor_id"), $"codes".as("nc"), sumSqI64($"codes").as("nn"))
    val w = Window.partitionBy($"query_id").orderBy($"sq_dist", $"neighbor_id")
    corpus.join(broadcast(queries))
      .select($"query_id", $"neighbor_id",
        ($"qq" + $"nn" - lit(2L) * dotI64($"qc", $"nc")).as("sq_dist"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
  }

  /** The SQ8 encode + symmetric code-space ranking CTE chain (through
    * `r`) — ONE copy of the codebook/encode/rank formation, shared by
    * the s12 oracle and s21's shortlist stage. */
  private def sq8RankCtes: String =
    s"""eq AS (
       |  SELECT vec_id, i, CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS e
       |  FROM (SELECT vec_id, unnest(embedding) AS v,
       |               generate_subscripts(embedding, 1) AS i FROM embeddings)),
       |cb AS (
       |  SELECT i, min(e) AS mn, greatest(max(e) - min(e), 1) AS span
       |  FROM eq WHERE vec_id >= 10 GROUP BY i),
       |codes AS (
       |  SELECT q.vec_id, q.i,
       |    least(greatest(${halfUpSql("(q.e - cb.mn) * 255", "cb.span")}, 0), 255) AS code
       |  FROM eq q JOIN cb ON cb.i = q.i),
       |d AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    CAST(sum((a.code - b.code)*(a.code - b.code)) AS BIGINT) AS sq_dist
       |  FROM codes a JOIN codes b ON a.i = b.i AND a.vec_id < 10 AND b.vec_id >= 10
       |  GROUP BY 1, 2),
       |r AS (
       |  SELECT query_id, neighbor_id, sq_dist,
       |    row_number() OVER (PARTITION BY query_id ORDER BY sq_dist, neighbor_id) AS rank
       |  FROM d)""".stripMargin

  /** s12 oracle: same codebook, same half-up+clamp encoding, same
    * symmetric code-space L2. */
  val s12Sql: String =
    s"""WITH $sq8RankCtes
       |SELECT query_id, neighbor_id, sq_dist, rank FROM r
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  /** s21: TWO-STAGE RETRIEVE-THEN-RERANK — the production serving
    * shape every vector store runs (FAISS refine / Milvus
    * `RANGE_SEARCH+rerank` / ColBERT-style candidate rerank): stage 1
    * ranks the whole corpus in cheap SQ8 code space and keeps a
    * 5×-over-fetched shortlist (25 per query); stage 2 fetches ONLY
    * the shortlist's full-precision vectors and re-ranks by exact
    * integer L2 to the final top-5. s13 prices SQ8's recall loss;
    * this is the operator that BUYS the recall back — the top of the
    * s11/s13/s14 storage-tier decision table.
    *
    * Scale shape: stage 1 streams the corpus through the codegen'd
    * code-space kernels (s12's deliberate broadcast-queries
    * contract); stage 2 is an EQUI-JOIN of the (queries × 25)-row
    * shortlist against the full-precision store — the expensive
    * vectors move only for shortlist members (at 100 TB: the
    * full-precision table stays at rest, shortlist ids semi-join
    * into it), never a second corpus scan in float space. */
  def s21TwoStageRerank(spark: SparkSession, dir: String,
                        shortlist: Int = 25, k: Int = K): DataFrame = {
    import spark.implicits._
    import graft.functions.VectorFunctions.{dotI64, sumSqI64}
    require(shortlist >= k, s"shortlist $shortlist must cover k=$k")
    val short = s12Sq8Ann(spark, dir, shortlist)
      .select($"query_id", $"neighbor_id")
    val q = quantized(spark, dir)
    val queries = q.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"el".as("qe"), sumSqI64($"el").as("qq"))
    val corpus = q.filter($"vec_id" >= 10)
      .select($"vec_id".as("neighbor_id"), $"el".as("ce"), sumSqI64($"el").as("cc"))
    val w = Window.partitionBy($"query_id").orderBy($"exact_dist", $"neighbor_id")
    short.join(corpus, Seq("neighbor_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select($"query_id", $"neighbor_id",
        ($"qq" + $"cc" - lit(2L) * dotI64($"qe", $"ce")).as("exact_dist"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
  }

  /** s22: IVF CELL-BALANCE AUDIT — per-cell corpus population of the
    * s8 k-means index (all kc cells, INCLUDING empty ones — an empty
    * or mega cell is THE operational failure of an IVF index), with
    * share and ratio-to-mean ×1e6 (j2's skew-audit shape applied to
    * the index): probe latency ∝ the probed cells' sizes, so a
    * max/mean ratio ≫ 1 means the nprobe knob (s19's sweep) buys
    * recall erratically and the index wants retraining. Completes
    * the IVF operational story: s8 searches, s9 prices recall, s19
    * prices nprobe, s22 prices the index's own balance.
    *
    * Scale shape: one pass of the corpus through the codegen'd
    * nearest-centroid kernel (centroids are plan-time literals from
    * the session-cached Lloyd's run — the kmeans `_artifacts`
    * family) + one map-side-combined count to kc rows; the kc-row
    * literal cell list makes empty cells explicit; stats ride the
    * kc-row frame, never the corpus. */
  def s22IvfBalance(spark: SparkSession, dir: String,
                    kc: Int = 8, iters: Int = 4): DataFrame = {
    import spark.implicits._
    import graft.functions.VectorFunctions.quantizeE6
    val halfUp = graft.functions.IntMath.halfUpDiv _
    val cents = lloydCentroids(spark, dir, kc, iters)
    val corpus = Tables.read(spark, dir, "embeddings")
      .filter($"vec_id" >= 10)
      .select($"vec_id", quantizeE6($"embedding").as("el"))
    val sizes = assignCells(spark, corpus, cents)
      .groupBy($"cluster".as("cell")).agg(count(lit(1)).as("n"))
    val allCells = (0 until kc).map(_.toLong).toDF("cell")
    val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    allCells.join(sizes, Seq("cell"), "left")
      .withColumn("n_vecs", coalesce($"n", lit(0L)))
      .withColumn("total", sum($"n_vecs").over(w))
      .select($"cell", $"n_vecs",
        halfUp($"n_vecs" * 1000000L, $"total").as("share_e6"),
        halfUp($"n_vecs" * 1000000L,
          greatest(lit(1L), expr(s"total DIV $kc"))).as("ratio_mean_e6"))
      .orderBy("cell")
  }

  /** s22 oracle: the Lloyd chain + the same assignment argmin and
    * kc-row audit arithmetic. */
  val s22Sql: String = {
    val iters = 4; val kc = 8
    s"""WITH ${lloydCteParts(iters).mkString(",\n")},
       |cells AS (
       |  SELECT vec_id, cluster AS cell FROM (
       |    SELECT q.vec_id, c.cluster, sum((q.e - c.c)*(q.e - c.c)) AS dist
       |    FROM q JOIN c${iters - 1} c ON c.i = q.i
       |    WHERE q.vec_id >= 10 GROUP BY 1, 2
       |    QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY dist, cluster) = 1)),
       |sizes AS (SELECT cell, count(*) AS n FROM cells GROUP BY 1),
       |allc AS (SELECT unnest(range(0, $kc)) AS cell),
       |j AS (
       |  SELECT a.cell, coalesce(s.n, 0) AS n_vecs,
       |         (SELECT sum(n) FROM sizes) AS total
       |  FROM allc a LEFT JOIN sizes s ON s.cell = a.cell)
       |SELECT CAST(cell AS BIGINT) AS cell, CAST(n_vecs AS BIGINT) AS n_vecs,
       |  CAST((2*(n_vecs*1000000) + total) // (2*total) AS BIGINT) AS share_e6,
       |  CAST((2*(n_vecs*1000000) + greatest(1, total // $kc))
       |       // (2*greatest(1, total // $kc)) AS BIGINT) AS ratio_mean_e6
       |FROM j ORDER BY cell""".stripMargin
  }

  /** s21 oracle: s12's shortlist CTEs + the exact-integer-L2 rerank
    * over shortlist members only. */
  val s21Sql: String =
    s"""WITH $sq8RankCtes,
       |short AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 25),
       |ex AS (
       |  SELECT s.query_id, s.neighbor_id,
       |    CAST(sum((a.e - b.e)*(a.e - b.e)) AS BIGINT) AS exact_dist
       |  FROM short s
       |  JOIN eq a ON a.vec_id = s.query_id
       |  JOIN eq b ON b.vec_id = s.neighbor_id AND b.i = a.i
       |  GROUP BY 1, 2),
       |rr AS (
       |  SELECT query_id, neighbor_id, exact_dist,
       |    row_number() OVER (PARTITION BY query_id ORDER BY exact_dist, neighbor_id) AS rank
       |  FROM ex)
       |SELECT query_id, neighbor_id, exact_dist, rank FROM rr
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  /** s13: SQ8 recall audit — recall@k of s12's symmetric code-space
    * ranking vs the exact integer-L2 top-k (s11's yardstick): prices
    * the 4× memory cut. SQ8's per-dim resolution keeps recall far
    * above PQ's 16-centroid subspaces; this pair of audits is the
    * storage-tier decision table (SQ8 vs PQ vs full precision). */
  def s13Sq8Recall(spark: SparkSession, dir: String, k: Int = K): DataFrame =
    recallVsExactL2(spark, dir, k, s12Sq8Ann(spark, dir, k))

  /** s14: dimension-truncation recall audit (the Matryoshka/MRL
    * trade-off, Kusupati et al. NeurIPS 2022): rank by integer L2 on
    * the FIRST 16 of 64 dimensions — the cheapest storage tier of all
    * (truncate, no codebook at all, 4× cut like SQ8) — and price it
    * against the full-dim exact top-k. With s11 (PQ) and s13 (SQ8)
    * this completes the storage-tier decision table; unlike those,
    * truncation recall depends entirely on how much variance the
    * leading dims carry, which is exactly why the audit must run on
    * the live corpus rather than be assumed.
    *
    * Scale shape: s1's broadcast shape on SLICED arrays — slicing
    * happens before the join, so the streamed corpus rows carry 16
    * longs, not 64; same codegen'd kernels. */
  def s14MrlRecall(spark: SparkSession, dir: String, k: Int = K,
                   prefixDims: Int = 16): DataFrame = {
    import spark.implicits._
    import graft.functions.VectorFunctions.{dotI64, sumSqI64}
    val q = quantized(spark, dir)
      .select($"vec_id", slice($"el", 1, prefixDims).as("el"))
    val queries = q.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"el".as("qe"), sumSqI64($"el").as("qq"))
    val corpus = q.filter($"vec_id" >= 10)
      .select($"vec_id".as("neighbor_id"), $"el".as("ce"), sumSqI64($"el").as("cc"))
    val w = Window.partitionBy($"query_id").orderBy($"td", $"neighbor_id")
    val approx = corpus.join(broadcast(queries))
      .select($"query_id", $"neighbor_id",
        ($"qq" + $"cc" - lit(2L) * dotI64($"qe", $"ce")).as("td"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"query_id", $"neighbor_id")
    recallVsExactL2(spark, dir, k, approx)
  }

  /** s14 oracle: truncated-dim L2 top-k vs the full exact (the s11
    * CTE pattern; truncation = `i <= 16` on the exploded rows). */
  val s14Sql: String =
    s"""WITH eq AS (
       |  SELECT vec_id, i, CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS e
       |  FROM (SELECT vec_id, unnest(embedding) AS v,
       |               generate_subscripts(embedding, 1) AS i FROM embeddings)),
       |tl2 AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    CAST(sum((a.e - b.e)*(a.e - b.e)) AS BIGINT) AS td
       |  FROM eq a JOIN eq b ON a.i = b.i AND a.vec_id < 10 AND b.vec_id >= 10
       |  WHERE a.i <= 16
       |  GROUP BY 1, 2),
       |ap AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY td, neighbor_id) AS rank
       |    FROM tl2) WHERE rank <= $K),
       |el2 AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    CAST(sum((a.e - b.e)*(a.e - b.e)) AS BIGINT) AS l2_e12
       |  FROM eq a JOIN eq b ON a.i = b.i AND a.vec_id < 10 AND b.vec_id >= 10
       |  GROUP BY 1, 2),
       |ex AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY l2_e12, neighbor_id) AS rank
       |    FROM el2) WHERE rank <= $K)
       |SELECT ex.query_id, count(ap.neighbor_id) AS n_hits,
       |  CAST(count(ap.neighbor_id) * ${1000000L / K} AS BIGINT) AS recall_e6
       |FROM ex LEFT JOIN ap
       |  ON ap.query_id = ex.query_id AND ap.neighbor_id = ex.neighbor_id
       |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin

  /** s13 oracle: exact integer-L2 top-k composed with the s12 oracle
    * (the s11 pattern). */
  val s13Sql: String =
    s"""WITH ap AS ($s12Sql),
       |eq AS (
       |  SELECT vec_id, i, CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS e
       |  FROM (SELECT vec_id, unnest(embedding) AS v,
       |               generate_subscripts(embedding, 1) AS i FROM embeddings)),
       |el2 AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    CAST(sum((a.e - b.e)*(a.e - b.e)) AS BIGINT) AS l2_e12
       |  FROM eq a JOIN eq b ON a.i = b.i AND a.vec_id < 10 AND b.vec_id >= 10
       |  GROUP BY 1, 2),
       |ex AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY l2_e12, neighbor_id) AS rank
       |    FROM el2) WHERE rank <= $K)
       |SELECT ex.query_id, count(ap.neighbor_id) AS n_hits,
       |  CAST(count(ap.neighbor_id) * ${1000000L / K} AS BIGINT) AS recall_e6
       |FROM ex LEFT JOIN ap
       |  ON ap.query_id = ex.query_id AND ap.neighbor_id = ex.neighbor_id
       |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin

  // ---- s30/s31: IVF-PQ (coarse cells + residual product quantization)

  /** The IVF-PQ residual frame: every vector's ×1e6 residual against
    * its nearest s8 coarse centroid, computed by the one-pass
    * [[graft.functions.ResidualE6]] kernel (argmin semantics identical
    * to the cell assignment, so cell and residual can never disagree).
    * Memoized — the 8 per-subspace training loops, the corpus encode
    * and the audits all read one materialization (an index-build
    * artifact in production). */
  private def ivfpqResiduals(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.VectorFunctions.residualE6
    val cents = lloydCentroids(spark, dir)
    graft.operators.Indexes.memo(s"s30_resid:$dir") {
      assignCells(spark, quantized(spark, dir), cents)
        .select($"vec_id", $"cluster".as("cell"),
          residualE6($"el", cents.map(_._2).toArray).as("rel"))
    }
  }

  /** IVF-PQ codebooks: [[pqCodebooks]]' per-subspace Lloyd's, trained
    * on RESIDUALS — the Jégou et al. §IV-A refinement that makes PQ
    * codes spend their 4 bits on the within-cell geometry instead of
    * re-encoding the coarse centroid the cell id already names. */
  private[graft] def ivfpqBooks(spark: SparkSession, dir: String, iters: Int = 3)
  : Seq[(Int, Seq[(Int, Array[Long])])] =
    (0 until SubM).map { s =>
      s -> centCache.getOrElseUpdate(s"$dir:ivfpq:$s:$KCode:$iters", {
        import spark.implicits._
        lloydLoop(spark,
          ivfpqResiduals(spark, dir)
            .select($"vec_id", slice($"rel", s * SubDim + 1, SubDim).as("el")),
          KCode, iters, SubDim)
      })
    }

  /** s30: IVF-PQ ANN (Jégou/Douze/Schmid, TPAMI 2011, §V "IVFADC") —
    * the FAISS `IVFx,PQy` shape that carries billion-scale search:
    * s8's coarse cells prune the SCAN (only nprobe cells' codes are
    * touched) while s10's product quantization compresses the STORAGE
    * (each vector in a cell's posting list is m=8 codebook ids over
    * its residual), and the query ranks candidates by asymmetric
    * distance computed per probed cell against the query's OWN
    * residual there.
    *
    * Scale shape: the corpus contributes only its (cell, s, code)
    * posting rows — never vectors; the per-query ADC tables
    * (queries × nprobe × m × 16 small ints) BROADCAST onto them; one
    * hash agg sums m narrow ints per candidate and a per-query top-k
    * window finishes. Training and encode are index-build artifacts
    * (memoized residual frame + cached codebooks). Integer-exact end
    * to end → hash-checked oracle (every CTE materialized — the s29
    * lesson: DuckDB re-inlines plain CTEs per reference, and this
    * oracle's residual frame feeds 8 training chains). */
  /** The IVF-PQ posting-list frame — each corpus vector's m (cell, s,
    * code) rows, the only thing the search ever reads from the corpus.
    * Shared by the in-session s30 and [[saveIvfPqIndex]]. */
  private def ivfpqPostings(spark: SparkSession, dir: String,
                            books: Seq[(Int, Seq[(Int, Array[Long])])]): DataFrame = {
    import spark.implicits._
    import graft.functions.VectorFunctions.nearestCentE6
    val resid = ivfpqResiduals(spark, dir)
    def codeCol(s: Int, cs: Seq[(Int, Array[Long])]): Column = {
      val ids = lit(cs.map(_._1).toArray)
      element_at(ids,
        (pmod(nearestCentE6(slice($"rel", s * SubDim + 1, SubDim),
          cs.map(_._2).toArray), lit(16)) + 1).cast("int")).cast("long")
    }
    resid.filter($"vec_id" >= 10)
      .select($"vec_id".as("neighbor_id"), $"cell",
        explode(array(books.map { case (s, cs) =>
          struct(lit(s).as("s"), codeCol(s, cs).as("code")) }: _*)).as("sc"))
      .select($"neighbor_id", $"cell", $"sc.s".as("s"), $"sc.code".as("code"))
  }

  /** The per-(query, probed-cell) residual ADC distance table — pure
    * projections on the QUERY rows only (interpreted HOF arithmetic is
    * fine there — s8/s10's corpus/query split): the nprobe smallest
    * cells fall out of one array_sort, the query's residual in each
    * probed cell subtracts that cell's centroid looked up in the
    * nested literal, and the m×16 codeword distances explode to the
    * broadcastable table. Shared by s30 and [[s30FromIndex]]. */
  private def ivfpqDtab(spark: SparkSession, dir: String,
                        cents: Seq[(Int, Array[Long])],
                        books: Seq[(Int, Seq[(Int, Array[Long])])],
                        nprobe: Int): DataFrame = {
    import spark.implicits._
    val q = quantized(spark, dir)
    val cellDists = cents.map { case (c, arr) =>
      struct(
        aggregate(zip_with($"el", lit(arr), (a, b) => (a - b) * (a - b)),
          lit(0L), _ + _).as("cdist"),
        lit(c.toLong).as("cell"))
    }
    val centArrs = array(cents.map(c => lit(c._2)): _*)
    val cellIds = lit(cents.map(_._1.toLong).toArray)
    val qres = q.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"el",
        explode(slice(array_sort(array(cellDists: _*)), 1, nprobe)).as("probe"))
      .select($"query_id", $"probe.cell".as("cell"),
        zip_with($"el",
          element_at(centArrs, array_position(cellIds, $"probe.cell").cast("int")),
          (a, b) => a - b).as("qrel"))
    val dcols = books.flatMap { case (s, cs) =>
      cs.map { case (cid, arr) =>
        struct(lit(s).as("s"), lit(cid.toLong).as("code"),
          aggregate(zip_with(slice($"qrel", s * SubDim + 1, SubDim), lit(arr),
            (a, b) => (a - b) * (a - b)), lit(0L), _ + _).as("qdist"))
      }
    }
    qres
      .select($"query_id", $"cell", explode(array(dcols: _*)).as("d"))
      .select($"query_id", $"cell", $"d.s".as("s"), $"d.code".as("code"),
        $"d.qdist".as("qdist"))
  }

  /** ADC search over a posting frame: broadcast the distance table
    * onto the (cell, s, code)-keyed postings, sum m partials per
    * candidate, per-query top-k. */
  private def ivfpqSearch(postings: DataFrame, dtab: DataFrame, k: Int): DataFrame = {
    import postings.sparkSession.implicits._
    val w = Window.partitionBy($"query_id").orderBy($"adist_e12", $"neighbor_id")
    postings.join(broadcast(dtab), Seq("cell", "s", "code"))
      .groupBy($"query_id", $"neighbor_id")
      .agg(sum($"qdist").as("adist_e12"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
  }

  def s30IvfPqAnn(spark: SparkSession, dir: String, k: Int = K, nprobe: Int = 2,
                  iters: Int = 3): DataFrame = {
    val cents = lloydCentroids(spark, dir)
    val books = ivfpqBooks(spark, dir, iters)
    ivfpqSearch(ivfpqPostings(spark, dir, books),
      ivfpqDtab(spark, dir, cents, books, nprobe), k)
  }

  /** s30 oracle: coarse Lloyd's chain + residual frame + 8 residual
    * PQ training chains + encode, probe, ADC — every CTE MATERIALIZED
    * (plain CTEs re-inline per reference; the residual frame alone is
    * referenced ~40× through the subspace chains). */
  val s30Sql: String = {
    val cIters = 4
    val pIters = 3
    val fin = pIters - 1
    val coarse = (1 until cIters).flatMap { it =>
      Seq(
        s"""a$it AS MATERIALIZED (
           |  SELECT vec_id, cluster FROM (
           |    SELECT q.vec_id, c.cluster, sum((q.e - c.c)*(q.e - c.c)) AS dist
           |    FROM q JOIN c${it - 1} c ON c.i = q.i GROUP BY 1, 2
           |    QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY dist, cluster) = 1))""".stripMargin,
        s"""c$it AS MATERIALIZED (
           |  SELECT a.cluster, q.i,
           |    CAST(${halfUpSql("sum(q.e)", "count(*)")} AS BIGINT) AS c
           |  FROM a$it a JOIN q ON q.vec_id = a.vec_id GROUP BY 1, 2)""".stripMargin)
    }
    val per = (0 until SubM).flatMap { s =>
      val lo = s * SubDim
      val hi = (s + 1) * SubDim
      val head = Seq(
        s"rq$s AS MATERIALIZED (SELECT vec_id, cell, i, e FROM r WHERE i > $lo AND i <= $hi)",
        s"""v${s}c0 AS MATERIALIZED (
           |  SELECT ps.cluster, q.i, q.e AS c FROM vseeds ps JOIN rq$s q ON q.vec_id = ps.vec_id)""".stripMargin)
      val its = (1 until pIters).flatMap { it =>
        Seq(
          s"""v${s}a$it AS MATERIALIZED (
             |  SELECT vec_id, cluster FROM (
             |    SELECT q.vec_id, c.cluster, sum((q.e - c.c)*(q.e - c.c)) AS dist
             |    FROM rq$s q JOIN v${s}c${it - 1} c ON c.i = q.i GROUP BY 1, 2
             |    QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY dist, cluster) = 1))""".stripMargin,
          s"""v${s}c$it AS MATERIALIZED (
             |  SELECT a.cluster, q.i,
             |    CAST(${halfUpSql("sum(q.e)", "count(*)")} AS BIGINT) AS c
             |  FROM v${s}a$it a JOIN rq$s q ON q.vec_id = a.vec_id GROUP BY 1, 2)""".stripMargin)
      }
      head ++ its
    }
    val codes = (0 until SubM).map(s =>
      s"""SELECT vec_id, cell, $s AS s, cluster AS code FROM (
         |    SELECT q.vec_id, q.cell, c.cluster, sum((q.e - c.c)*(q.e - c.c)) AS dist
         |    FROM rq$s q JOIN v${s}c$fin c ON c.i = q.i
         |    WHERE q.vec_id >= 10 GROUP BY 1, 2, 3
         |    QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY dist, cluster) = 1)""".stripMargin)
      .mkString("\n  UNION ALL\n  ")
    val dtab = (0 until SubM).map(s =>
      s"""SELECT q.vec_id AS query_id, q.cell, $s AS s, c.cluster AS code,
         |    CAST(sum((q.e - c.c)*(q.e - c.c)) AS BIGINT) AS qdist
         |    FROM qr q JOIN v${s}c$fin c ON c.i = q.i
         |    GROUP BY 1, 2, 3, 4""".stripMargin)
      .mkString("\n  UNION ALL\n  ")
    s"""WITH q AS MATERIALIZED (
       |  SELECT vec_id, i, CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS e
       |  FROM (SELECT vec_id, unnest(embedding) AS v,
       |               generate_subscripts(embedding, 1) AS i FROM embeddings)),
       |seeds AS MATERIALIZED (
       |  SELECT vec_id, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cluster
       |  FROM embeddings
       |  QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 8),
       |c0 AS MATERIALIZED (
       |  SELECT s.cluster, q.i, q.e AS c FROM seeds s JOIN q ON q.vec_id = s.vec_id),
       |${coarse.mkString(",\n")},
       |asg AS MATERIALIZED (
       |  SELECT vec_id, cluster AS cell FROM (
       |    SELECT q.vec_id, c.cluster, sum((q.e - c.c)*(q.e - c.c)) AS dist
       |    FROM q JOIN c${cIters - 1} c ON c.i = q.i GROUP BY 1, 2
       |    QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY dist, cluster) = 1)),
       |r AS MATERIALIZED (
       |  SELECT q.vec_id, a.cell, q.i, q.e - c.c AS e
       |  FROM q JOIN asg a ON a.vec_id = q.vec_id
       |  JOIN c${cIters - 1} c ON c.cluster = a.cell AND c.i = q.i),
       |vseeds AS MATERIALIZED (
       |  SELECT vec_id, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cluster
       |  FROM embeddings
       |  QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= $KCode),
       |${per.mkString(",\n")},
       |codes AS MATERIALIZED (
       |  $codes),
       |probes AS MATERIALIZED (
       |  SELECT vec_id AS query_id, cluster AS cell FROM (
       |    SELECT q.vec_id, c.cluster, sum((q.e - c.c)*(q.e - c.c)) AS dist
       |    FROM q JOIN c${cIters - 1} c ON c.i = q.i
       |    WHERE q.vec_id < 10 GROUP BY 1, 2
       |    QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY dist, cluster) <= 2)),
       |qr AS MATERIALIZED (
       |  SELECT q.vec_id, p.cell, q.i, q.e - c.c AS e
       |  FROM q JOIN probes p ON p.query_id = q.vec_id
       |  JOIN c${cIters - 1} c ON c.cluster = p.cell AND c.i = q.i),
       |dtab AS MATERIALIZED (
       |  $dtab),
       |adc AS MATERIALIZED (
       |  SELECT d.query_id, cd.vec_id AS neighbor_id,
       |    CAST(sum(d.qdist) AS BIGINT) AS adist_e12
       |  FROM codes cd JOIN dtab d ON d.cell = cd.cell AND d.s = cd.s AND d.code = cd.code
       |  GROUP BY 1, 2),
       |rk AS (
       |  SELECT query_id, neighbor_id, adist_e12,
       |    row_number() OVER (PARTITION BY query_id ORDER BY adist_e12, neighbor_id) AS rank
       |  FROM adc)
       |SELECT query_id, neighbor_id, adist_e12, rank FROM rk
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
  }

  /** s31: IVF-PQ recall audit vs the exact integer-L2 top-k — prices
    * BOTH approximations at once (nprobe's pruning misses + the
    * residual codes' quantization error) against the same yardstick
    * s11/s13 use, completing the storage×scan decision table: full
    * precision (s1), scan-pruned (s9), compressed (s11/s13), and now
    * the composed production shape. */
  def s31IvfPqRecall(spark: SparkSession, dir: String, k: Int = K): DataFrame =
    recallVsExactL2(spark, dir, k, s30IvfPqAnn(spark, dir, k))

  /** s31 oracle: exact integer-L2 top-k vs the s30 oracle (the s11
    * pattern). */
  val s31Sql: String =
    s"""WITH ap AS ($s30Sql),
       |eq AS (
       |  SELECT vec_id, i, CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS e
       |  FROM (SELECT vec_id, unnest(embedding) AS v,
       |               generate_subscripts(embedding, 1) AS i FROM embeddings)),
       |el2 AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    CAST(sum((a.e - b.e)*(a.e - b.e)) AS BIGINT) AS l2_e12
       |  FROM eq a JOIN eq b ON a.i = b.i AND a.vec_id < 10 AND b.vec_id >= 10
       |  GROUP BY 1, 2),
       |ex AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY l2_e12, neighbor_id) AS rank
       |    FROM el2) WHERE rank <= $K)
       |SELECT ex.query_id, count(ap.neighbor_id) AS n_hits,
       |  CAST(count(ap.neighbor_id) * ${1000000L / K} AS BIGINT) AS recall_e6
       |FROM ex LEFT JOIN ap
       |  ON ap.query_id = ex.query_id AND ap.neighbor_id = ex.neighbor_id
       |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin

  /** s15: incremental index maintenance — d6's ingest pattern applied
    * to the vector index. The IVF coarse quantizer is trained ONCE on
    * the standing corpus (vec_id % 8 ≠ 7, the "index build"); an
    * arriving batch (% 8 = 7) is then placed by ONE assignment scan
    * of the batch against the k×Dim broadcast centroids — retraining
    * or re-scanning the 100 TB corpus per ingest is exactly what this
    * avoids (FAISS's add-after-train contract). Output is the
    * maintenance report a compaction policy reads: per cell, the
    * standing population, the arrivals, the arrivals' mean distance
    * to the centroid (drift — rising distance = the quantizer no
    * longer fits the incoming distribution and a re-train is due),
    * and the growth rate ×1e6 (skewed growth = a cell heading toward
    * a split).
    *
    * Scale shape: training is s3's loop on the old corpus (driver
    * traffic = k×Dim longs/iter, corpus never shuffles); the batch
    * pass is one codegen'd argmin scan of the BATCH only; both
    * summaries are map-side-combined k-row aggs joined at k rows.
    * Integer-exact end to end (quantized coords, BIGINT distances,
    * half-up means) → DuckDB hash-checked. */
  def s15IncrementalAnn(spark: SparkSession, dir: String, kc: Int = 8,
                        iters: Int = 4): DataFrame = {
    import spark.implicits._
    val q = quantized(spark, dir)
    val oldQ = q.filter(pmod($"vec_id", lit(8)) =!= 7)
    val newQ = q.filter(pmod($"vec_id", lit(8)) === 7)
    val cents = centCache.getOrElseUpdate(s"incr:$dir:$kc:$iters",
      lloydLoop(spark, oldQ, kc, iters, Dim))
    val standing = assignCells(spark, oldQ, cents)
      .groupBy($"cluster").agg(count(lit(1)).as("old_n"))
    val arrivals = assignCells(spark, newQ, cents)
      .select($"cluster", floor(sqrt($"dist".cast("double"))).as("dist_e6"))
      .groupBy($"cluster")
      .agg(count(lit(1)).as("new_n"),
        halfUpDiv(sum($"dist_e6"), count(lit(1))).as("mean_new_dist_e6"))
    standing.join(arrivals, Seq("cluster"), "left")
      .select($"cluster".as("cell"), $"old_n",
        coalesce($"new_n", lit(0L)).as("new_n"),
        coalesce($"mean_new_dist_e6", lit(-1L)).as("mean_new_dist_e6"),
        halfUpDiv(coalesce($"new_n", lit(0L)) * 1000000L, $"old_n")
          .as("growth_e6"))
      .orderBy("cell")
  }

  /** s15 oracle: the shared Lloyd's CTE chain with the training
    * filter pushed into `q`/`seeds` (so the loop trains on the old
    * corpus only), one extra assignment CTE for the arriving batch. */
  val s15Sql: String = {
    val iters = 4
    val parts = lloydCteParts(iters, "WHERE vec_id % 8 <> 7") ++ Seq(
      lloydAssignCteSql(iters, withDist = false),
      """qn AS (
        |  SELECT vec_id, i, CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS e
        |  FROM (SELECT vec_id, unnest(embedding) AS v,
        |               generate_subscripts(embedding, 1) AS i
        |        FROM embeddings WHERE vec_id % 8 = 7))""".stripMargin,
      s"""an AS (
        |  SELECT vec_id, cluster, dist FROM (
        |    SELECT qn.vec_id, c.cluster, sum((qn.e - c.c)*(qn.e - c.c)) AS dist
        |    FROM qn JOIN c${iters - 1} c ON c.i = qn.i GROUP BY 1, 2
        |    QUALIFY row_number() OVER (PARTITION BY qn.vec_id ORDER BY dist, cluster) = 1))""".stripMargin,
      s"""o AS (SELECT cluster, count(*) AS old_n FROM a$iters GROUP BY 1)""",
      s"""nn AS (
        |  SELECT cluster, count(*) AS new_n,
        |    CAST(${halfUpSql("sum(CAST(floor(sqrt(CAST(dist AS DOUBLE))) AS BIGINT))", "count(*)")} AS BIGINT) AS mean_new_dist_e6
        |  FROM an GROUP BY 1)""".stripMargin)
    s"""WITH ${parts.mkString(",\n")}
       |SELECT o.cluster AS cell, CAST(o.old_n AS BIGINT) AS old_n,
       |  CAST(coalesce(nn.new_n, 0) AS BIGINT) AS new_n,
       |  CAST(coalesce(nn.mean_new_dist_e6, -1) AS BIGINT) AS mean_new_dist_e6,
       |  CAST(${halfUpSql("coalesce(nn.new_n, 0) * 1000000", "o.old_n")} AS BIGINT) AS growth_e6
       |FROM o LEFT JOIN nn ON nn.cluster = o.cluster
       |ORDER BY cell""".stripMargin
  }

  /** s17: whole-corpus kNN-GRAPH construction — every vector's top-k
    * approximate neighbors in one pass, the batch primitive behind
    * NN-descent, SemDeDup-style cluster pruning, UMAP/graph layout
    * and label propagation. s1/s2 answer "neighbors of these 10
    * queries"; an actual curation pipeline needs "neighbors of
    * EVERYONE" — a different execution shape: there is no broadcast
    * side, so candidates must come from a bucket SELF-join.
    *
    * Shape: one scan computes the 8×8-bit band keys (codegen'd
    * BandKeysF32); the self-join shuffles (band_idx, band_key) —
    * candidate volume is Σ_buckets |bucket|², the banding bound, never
    * n²; cosines are scored per collision and deduped AFTER the
    * 3-narrow-column projection (the s2 convention: recomputing a
    * ≤bands-duplicated codegen'd dot beats shipping embeddings through
    * the dedup exchange); per-source top-k is one window partitioned
    * by src (n partitions — no global sort). Hot buckets (hub regions
    * of embedding space) are the skew risk at 100 TB: AQE skew-join
    * splits them, and the band width r is the structural pressure
    * valve (each +1 bit halves expected bucket size). Directed output:
    * (src, dst, cos, rank) — rank 1..k per src, a vector with no
    * band collision drops out (isolated node, no edges).
    *
    * Oracle-checked end to end: DuckDB reproduces the same planes,
    * band keys and candidate set (Lsh.bandsSqlCtes), so the graph
    * matches hash-for-hash — not a rows-only waiver. */
  def s17KnnGraph(spark: SparkSession, dir: String, k: Int = 3,
                  bands: Int = 8, r: Int = 8, dim: Int = 64): DataFrame =
    // r14-opt (guide §2.4, the r13 verdict's "one banding pass"): the
    // banded collision graph's RANKS don't depend on k — rank ≤ k is a
    // slice — yet each serving degree (3 default, 8/16 for the walk
    // adjacencies) memoized its own full band self-join + scoring
    // pass. One ranked-to-16 memo now feeds every default-banding
    // degree; at 100 TB that is one corpus banding pass instead of
    // three. Same window, same (cos DESC, id) ties, so every sliced
    // graph is row-identical to its direct build (oracle-pinned).
    if (bands == 8 && r == 8 && dim == 64 && k <= s17RankedKMax)
      s17Ranked(spark, dir).filter(col("rank") <= k)
    else s17KnnGraphOn(spark, dir, k, lit(true), bands, r, dim)

  /** The maximum serving degree the shared ranked graph carries —
    * s38's degree axis tops out at 16. */
  private val s17RankedKMax = 16

  /** The default-banding collision graph ranked to [[s17RankedKMax]],
    * memoized once per dir — the single banding pass every
    * [[s17KnnGraph]] degree slices from. */
  private def s17Ranked(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Indexes.memo(s"s17_ranked:$dir:$s17RankedKMax") {
      s17KnnGraphOn(spark, dir, s17RankedKMax, lit(true))
    }

  /** s17's body restricted to a vertex predicate — the s39 "old half"
    * / s40 "live half" index builds (a trivially-true predicate folds
    * away, so the registered s17 plan is unchanged). */
  private[graft] def s17KnnGraphOn(spark: SparkSession, dir: String, k: Int,
                                   pred: Column, bands: Int = 8, r: Int = 8,
                                   dim: Int = 64): DataFrame = {
    import spark.implicits._
    val e = Tables.read(spark, dir, "embeddings")
      .filter(pred)
      .repartition(spark.sessionState.conf.numShufflePartitions, $"vec_id")
      .select($"vec_id", $"embedding", vecNorm($"embedding").as("nrm"),
        Lsh.bandKeys($"embedding", bands, r, dim).as("bkeys"))
    val b = e.select($"vec_id", $"embedding", $"nrm",
      posexplode($"bkeys").as(Seq("band_idx", "band_key")))
    val src = b.select($"vec_id".as("src_id"), $"embedding".as("sv"),
      $"nrm".as("sn"), $"band_idx", $"band_key")
    val dst = b.select($"vec_id".as("neighbor_id"), $"embedding".as("dv"),
      $"nrm".as("dn"), $"band_idx", $"band_key")
    val w = Window.partitionBy($"src_id").orderBy($"cos_sim".desc, $"neighbor_id")
    src.join(dst, Seq("band_idx", "band_key"))
      .filter($"src_id" =!= $"neighbor_id")
      .select($"src_id", $"neighbor_id",
        round(dot($"sv", $"dv") / ($"sn" * $"dn"), 6).as("cos_sim"))
      .dropDuplicates("src_id", "neighbor_id")
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
  }

  /** s17's oracle CTE chain (unnest long form, shared planes/bands,
    * band-collision candidates, scored + ranked graph `s17r`) — a def
    * so s29's refinement oracle composes it without re-spelling the
    * banding (the Lloyd's-chain sharing convention). */
  private def s17Ctes: String =
    s"""u AS (
       |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
       |         generate_subscripts(embedding, 1) AS i
       |  FROM embeddings),
       |${Lsh.bandsSqlCtes(nPlanes = 64, r = 8, dim = 64)},
       |cand AS (
       |  SELECT DISTINCT ba.vec_id AS src_id, bb.vec_id AS neighbor_id
       |  FROM bands ba JOIN bands bb
       |    ON bb.band_idx = ba.band_idx AND bb.band_key = ba.band_key
       |  WHERE ba.vec_id <> bb.vec_id),
       |s AS (
       |  SELECT cd.src_id, cd.neighbor_id,
       |    round(sum(q.v * c.v ORDER BY q.i) / (sqrt(sum(q.v * q.v ORDER BY q.i)) * sqrt(sum(c.v * c.v ORDER BY c.i))), 6) AS cos_sim
       |  FROM cand cd
       |  JOIN u q ON q.vec_id = cd.src_id
       |  JOIN u c ON c.vec_id = cd.neighbor_id AND c.i = q.i
       |  GROUP BY 1, 2),
       |s17r AS (
       |  SELECT src_id, neighbor_id, cos_sim,
       |    row_number() OVER (PARTITION BY src_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM s)""".stripMargin

  /** s17 oracle: s2's candidate CTE with the query filter dropped —
    * the full band self-join, ranked per source. */
  def s17Sql: String =
    s"""WITH $s17Ctes
       |SELECT src_id, neighbor_id, cos_sim, rank FROM s17r
       |WHERE rank <= 3 ORDER BY src_id, rank""".stripMargin

  /** One NN-DESCENT round (Dong, Moses & Li, "Efficient K-Nearest
    * Neighbor Graph Construction for Generic Similarity Measures",
    * WWW 2011) over [[s17KnnGraph]]'s banded graph: the paper's
    * observation is that a neighbor of a neighbor is likely a
    * neighbor, so each round scores every vertex against its
    * neighbors' neighbor lists — FORWARD ∪ REVERSE (the paper's
    * B[v] ∪ R[v]) — and keeps the best k of (old edges ∪ new
    * candidates). One round repairs exactly the banding's failure
    * mode: two similar vectors that never shared a band still meet
    * through a common neighbor.
    *
    * Scale shape — never all-pairs, never a broadcast corpus:
    * candidates come from ONE equi-join of the symmetrized edge list
    * with itself on the middle vertex (≤ (2k)² pairs per vertex, edge
    * not corpus scale), deduped BEFORE scoring while the pair is two
    * bare longs (the NoN join duplicates pairs k-fold — the opposite
    * trade from s17, where band duplication is ≤bands and re-scoring
    * beat the wide-row exchange), then exact cosines via two
    * hash-joins into the id-partitioned embedding store, per-src top-k
    * window. The graph artifact is memoized: the audit (s29) consumes
    * the base edges twice more. */
  def nnDescentRound(spark: SparkSession, dir: String, k: Int = 3): DataFrame =
    nnDescentRoundOver(spark, dir, k,
      graft.operators.Indexes.memo(s"s29_base:$dir:$k") {
        s17KnnGraph(spark, dir, k).select(col("src_id"), col("neighbor_id"))
      })

  /** The NN-descent round body over ANY (memoized) base edge list —
    * shared by [[nnDescentRound]] (the full-corpus build) and the s39
    * old-half build. The vector store stays the full table: pool
    * members are base-graph vertices, so the inner score joins prune
    * to them regardless. */
  private[graft] def nnDescentRoundOver(spark: SparkSession, dir: String, k: Int,
                                        g: DataFrame): DataFrame = {
    import spark.implicits._
    val und = g.unionAll(
      g.select($"neighbor_id".as("src_id"), $"src_id".as("neighbor_id")))
    val non = und.as("a").join(und.as("b"),
        col("a.neighbor_id") === col("b.src_id"))
      .select(col("a.src_id").as("src_id"), col("b.neighbor_id").as("neighbor_id"))
      .filter($"src_id" =!= $"neighbor_id")
    val pool = non.unionAll(g).dropDuplicates("src_id", "neighbor_id")
    val e = Tables.read(spark, dir, "embeddings")
      .select($"vec_id", $"embedding", vecNorm($"embedding").as("nrm"))
      .repartition(spark.sessionState.conf.numShufflePartitions, $"vec_id")
    val w = Window.partitionBy($"src_id").orderBy($"cos_sim".desc, $"neighbor_id")
    pool
      .join(e.select($"vec_id".as("src_id"), $"embedding".as("sv"), $"nrm".as("sn")),
        Seq("src_id"))
      .join(e.select($"vec_id".as("neighbor_id"), $"embedding".as("dv"), $"nrm".as("dn")),
        Seq("neighbor_id"))
      .select($"src_id", $"neighbor_id",
        round(dot($"sv", $"dv") / ($"sn" * $"dn"), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
  }

  /** s29: the NN-descent refinement PRICED, s4-style — the audit IS
    * the registered query (the s-family convention: index quality is
    * oracle-gated, not claimed). Per s1 query: how many of the exact
    * top-[[K]] corpus neighbors appear in the banded base graph's
    * edge list vs in the one-round-refined graph's (both sliced to
    * corpus neighbors, since the whole-corpus graph may legitimately
    * rank another query vector as a neighbor). recall×1e6 uses s1's k
    * as the denominator; the graph holds ≤3 edges per vertex, so
    * 600000 is the attainable ceiling. */
  def s29NnDescent(spark: SparkSession, dir: String, k: Int = 3,
                   kExact: Int = K): DataFrame = {
    import spark.implicits._
    require(1000000 % kExact == 0, s"kExact=$kExact must divide 1e6")
    val g = graft.operators.Indexes.memo(s"s29_base:$dir:$k") {
      s17KnnGraph(spark, dir, k).select($"src_id", $"neighbor_id")
    }
    val refined = nnDescentRound(spark, dir, k)
    val exact = s1Brute(spark, dir, kExact).select($"query_id", $"neighbor_id")
    val baseQ = g.filter($"src_id" < 10 && $"neighbor_id" >= 10)
      .select($"src_id".as("bq"), $"neighbor_id".as("bn"))
    val refQ = refined.filter($"src_id" < 10 && $"neighbor_id" >= 10)
      .select($"src_id".as("rq"), $"neighbor_id".as("rn"))
    exact
      .join(baseQ, $"query_id" === $"bq" && $"neighbor_id" === $"bn", "left")
      .join(refQ, $"query_id" === $"rq" && $"neighbor_id" === $"rn", "left")
      .groupBy($"query_id")
      .agg(count($"bn").as("n_hits_base"), count($"rn").as("n_hits_ref"))
      .select($"query_id", $"n_hits_base", $"n_hits_ref",
        ($"n_hits_base" * lit(1000000L / kExact)).as("recall_base_e6"),
        ($"n_hits_ref" * lit(1000000L / kExact)).as("recall_ref_e6"))
  }

  /** s29 oracle: the shared s17 CTE chain, the same symmetrize/NoN/
    * re-rank refinement, s1's exact side composed verbatim (nested
    * WITH scopes per the s4 convention). The multi-referenced graph
    * CTEs are AS MATERIALIZED — plain CTEs re-inline PER REFERENCE in
    * DuckDB (the BPE-chain lesson), and `pool`'s five transitive
    * references to the banded scoring chain exhausted the process's
    * memory maps at sf0.1. */
  /** The NN-descent refinement chain as composable CTEs (`<p>g` →
    * `<p>und` → `<p>pool` → `<p>sc` → `<p>ref` = the refined edge
    * list) at an arbitrary DEGREE (s17/s29's k) — shared by s29Sql,
    * the s35 walk oracle, and s38's degree sweep (three prefixed
    * chains off ONE shared `s17r`, exactly as `nnDescentRound` is
    * shared on the Scala side — the banded collision graph carries
    * ranks for every k, so the degree slice is free). Expects
    * [[s17Ctes]]' `s17r`/`u` in scope. */
  private def s29RefCtesAt(p: String, degree: Int,
                           rankedName: String = "s17r"): String =
    s29RefCtesFrom(p, degree,
      s"SELECT src_id, neighbor_id FROM $rankedName WHERE rank <= $degree")

  /** [[s29RefCtesAt]] with the round's INPUT edge list given as a
    * full SELECT — one NN-descent round over ANY prior graph, which
    * is how the s42 oracle chains round 2 over round 1's `ref`
    * (exactly as [[nnDescentRoundOver]] composes on the Scala side). */
  private def s29RefCtesFrom(p: String, degree: Int, gSql: String): String =
    s"""${p}g AS MATERIALIZED ($gSql),
       |${p}und AS MATERIALIZED (
       |  SELECT src_id, neighbor_id FROM ${p}g
       |  UNION ALL SELECT neighbor_id, src_id FROM ${p}g),
       |${p}pool AS MATERIALIZED (
       |  SELECT DISTINCT a.src_id, b.neighbor_id
       |  FROM ${p}und a JOIN ${p}und b ON b.src_id = a.neighbor_id
       |  WHERE a.src_id <> b.neighbor_id
       |  UNION SELECT src_id, neighbor_id FROM ${p}g),
       |${p}sc AS (
       |  SELECT p.src_id, p.neighbor_id,
       |    round(sum(q.v * c.v ORDER BY q.i) / (sqrt(sum(q.v * q.v ORDER BY q.i)) * sqrt(sum(c.v * c.v ORDER BY c.i))), 6) AS cos_sim
       |  FROM ${p}pool p
       |  JOIN u q ON q.vec_id = p.src_id
       |  JOIN u c ON c.vec_id = p.neighbor_id AND c.i = q.i
       |  GROUP BY 1, 2),
       |${p}ref AS MATERIALIZED (
       |  SELECT src_id, neighbor_id FROM (
       |    SELECT src_id, neighbor_id,
       |      row_number() OVER (PARTITION BY src_id ORDER BY cos_sim DESC, neighbor_id) AS rn
       |    FROM ${p}sc) WHERE rn <= $degree)""".stripMargin

  /** The degree-3 chain under the historical unprefixed names (s29's
    * and the s35/s36/s37 oracles' spelling). */
  private def s29RefCtes: String = s29RefCtesAt("", 3)

  def s29Sql: String =
    s"""WITH $s17Ctes,
       |$s29RefCtes,
       |ex AS (SELECT query_id, neighbor_id FROM ($s1Sql)),
       |bq AS (
       |  SELECT src_id AS query_id, neighbor_id FROM g
       |  WHERE src_id < 10 AND neighbor_id >= 10),
       |rq AS (
       |  SELECT src_id AS query_id, neighbor_id FROM ref
       |  WHERE src_id < 10 AND neighbor_id >= 10)
       |SELECT ex.query_id,
       |  count(bq.neighbor_id) AS n_hits_base,
       |  count(rq.neighbor_id) AS n_hits_ref,
       |  CAST(count(bq.neighbor_id) * ${1000000L / K} AS BIGINT) AS recall_base_e6,
       |  CAST(count(rq.neighbor_id) * ${1000000L / K} AS BIGINT) AS recall_ref_e6
       |FROM ex
       |LEFT JOIN bq ON bq.query_id = ex.query_id AND bq.neighbor_id = ex.neighbor_id
       |LEFT JOIN rq ON rq.query_id = ex.query_id AND rq.neighbor_id = ex.neighbor_id
       |GROUP BY ex.query_id""".stripMargin

  // ---- s35/s36: graph-walk ANN serving tier -------------------------

  /** The s35 serving index: the refined kNN graph (s17 banding →
    * `refineRounds` × s29 NN-descent), symmetrized and id-partitioned
    * — memoized per (dir, degree, refineRounds) because
    * build-once/serve-many is the whole point of a graph index.
    * `degree` is s17/s29's k — the adjacency's out-degree budget, the
    * OTHER serving knob next to beam (HNSW's M, DiskANN's R): s38
    * prices it. `refineRounds` is the graph-QUALITY dial (NN-descent
    * iterations — each round converges the edge list toward the true
    * kNN graph): measured at sf0.1, d16×b16 walks CONVERGE at 0.74
    * recall@5 on the 1-round graph (more walk depth buys nothing) but
    * reach 0.86 on the 2-round graph — when the s38-priced joint
    * frontier saturates, the next recall increment is BUILD depth,
    * paid once and persisted ([[saveWalkIndexFrom]] ships any
    * (adjacency, centroids) pair). The registered sweeps hold it at 1
    * so their degree/beam axes stay comparable. */
  private[graft] def walkAdjacency(spark: SparkSession, dir: String,
                                   degree: Int = 3,
                                   refineRounds: Int = 1): DataFrame = {
    import spark.implicits._
    require(refineRounds >= 1, s"refineRounds=$refineRounds must be >= 1")
    val key = (if (degree == 3) s"s35_adj:$dir" else s"s35_adj:$dir:$degree") +
      (if (refineRounds == 1) "" else s":r$refineRounds")
    // each refinement GENERATION is memoized on its own key, so the
    // r-round build reuses the (r−1)-round edges instead of re-paying
    // every earlier round's (2d)² NoN join — s42 builds BOTH the
    // 1-round and 2-round degree-16 graphs in one session, and before
    // this the 2-round build recomputed round 1 from the base graph
    // (only the SYMMETRIZED final product was memoized per rounds)
    def refAt(r: Int): DataFrame =
      graft.operators.Indexes.memo(s"s35_ref:$dir:$degree:r$r") {
        if (r == 1) nnDescentRound(spark, dir, degree).select($"src_id", $"neighbor_id")
        // cut per generation (the iterative-loop lineage convention)
        // so round r doesn't re-analyze rounds 1..r−1
        else graft.operators.State.cut(
          nnDescentRoundOver(spark, dir, degree, refAt(r - 1))
            .select($"src_id", $"neighbor_id"))
      }
    graft.operators.Indexes.memo(key) {
      val ref = refAt(refineRounds)
      ref.unionAll(ref.select($"neighbor_id".as("src_id"), $"src_id".as("neighbor_id")))
        .dropDuplicates("src_id", "neighbor_id")
        .repartition(spark.sessionState.conf.numShufflePartitions, $"src_id")
    }
  }

  /** s35: GRAPH-WALK ANN serving — beam search over the persisted
    * s17→s29 kNN graph: the HNSW/DiskANN serving shape (Malkov &
    * Yashunin TPAMI 2018; Subramanya et al. NeurIPS 2019) that
    * dominates sub-100M-vector latency benchmarks, completing the
    * production ANN ladder next to the five quantization tiers.
    * Entry points come from the s8 coarse quantizer (the query's
    * nearest cell's `beam` lowest-id members — a DiskANN-style fixed,
    * index-derived entry set: no corpus scan, no extra training);
    * then `rounds` frontier expansions over the symmetrized refined
    * edges keep the best `beam` candidates per round by exact cosine,
    * and the final top-k of everything visited is the answer.
    *
    * Scale shape — work ∝ queries × beam × degree × rounds, NEVER
    * corpus-sized: each round is one (queries×beam)-row equi-join
    * into the id-partitioned edge list (the memoized index artifact
    * — [[walkAdjacency]]), a dedup while the pair is two bare longs,
    * and exact scoring via a hash-join into the vector store — only
    * VISITED vectors' floats ever move, which is why the graph tier
    * serves from disk at DiskANN scale. Storage = degree×8 B of ids
    * + the full-precision vector (s32's seventh row: 3·8 + 256 =
    * 280 B/vec). Deterministic end to end (round-6 ordered-sum
    * cosines, (cos DESC, id) tie-breaks, lowest-id entry set) →
    * DuckDB hash oracle, iterations unrolled. */
  def s35GraphWalk(spark: SparkSession, dir: String, k: Int = K,
                   beam: Int = 4, rounds: Int = 3, kc: Int = 8,
                   iters: Int = 4): DataFrame =
    graphWalk(spark, dir, walkAdjacency(spark, dir),
      lloydCentroids(spark, dir, kc, iters), k, beam, rounds)

  /** The walk body over ANY (adjacency, entry-centroid) index pair —
    * shared by the in-session [[s35GraphWalk]], the persisted-index
    * [[s35FromIndex]] serving path, and the s37 beam sweep (which
    * also reads the VISITED pool — the walk's scan cost). */
  private def graphWalk(spark: SparkSession, dir: String, adj: DataFrame,
                        cents: Seq[(Int, Array[Long])], k: Int,
                        beam: Int, rounds: Int): DataFrame =
    graphWalkParts(spark, dir, adj, cents, k, beam, rounds)._2

  /** (final visited pool, final ranked top-k). `live` restricts the
    * ENTRY-POINT candidates (s40's tombstone serving: a deleted
    * vector must not seed a walk; the frontier can't reach tombstones
    * because the repaired adjacency no longer carries them) — the
    * default true-literal folds away, so the registered s35/s37/s38
    * plans are unchanged. */
  private[graft] def graphWalkParts(spark: SparkSession, dir: String, adj: DataFrame,
                                    cents: Seq[(Int, Array[Long])], k: Int,
                                    beam: Int, rounds: Int,
                                    live: Column = lit(true)): (DataFrame, DataFrame) = {
    import spark.implicits._
    import graft.functions.VectorFunctions.quantizeE6
    val e = Tables.read(spark, dir, "embeddings")
      .repartition(spark.sessionState.conf.numShufflePartitions, $"vec_id")
      .select($"vec_id", $"embedding", vecNorm($"embedding").as("nrm"),
        quantizeE6($"embedding").as("el"))
    // nprobe=1 probe selection: plan-time literal centroid distances,
    // array_sort struct order = (dist, cell) — s8's convention
    val cellDists = cents.map { case (c, arr) =>
      struct(
        aggregate(zip_with($"el", lit(arr), (a, b) => (a - b) * (a - b)),
          lit(0L), _ + _).as("cdist"),
        lit(c.toLong).as("cell"))
    }
    // the ENTRY-SIDE frames are walk-invariant (they depend on the
    // centroids and the live predicate, never on beam/degree/rounds),
    // so a sweep's N walks must not re-derive them N times: at 100 TB
    // the corpus cell-assign is a full scan, and s38's five walks —
    // or s37's three — would pay it five times over. Memoized per
    // (dir, centroid values, live predicate); the structural hashCode
    // of the centroid VALUES keys correctly across the full-corpus /
    // old-half trainings, and the predicate's SQL keys the s40/s41
    // live-entry variants (the walkAdjacencyOn pred-keyed lesson).
    val centsKey = cents.map { case (c, a) => (c, a.toSeq) }.hashCode
    val liveKey = Bridge.sql(live)
    // the query frame is queries-sized: eagerly cut so the 4 scored()
    // passes and the entry join read 10 materialized rows, not 4+
    // re-derivations of the scan+argmin lineage
    val queries = graft.operators.Indexes.memo(s"walk_queries:$dir:$centsKey") {
      graft.operators.State.cut(e.filter($"vec_id" < 10)
        .select($"vec_id".as("query_id"), $"embedding".as("q"), $"nrm".as("qn"),
          element_at(array_sort(array(cellDists: _*)), 1).getField("cell").as("cell")))
    }
    val corpusCells = graft.operators.Indexes.memo(
        s"walk_cells:$dir:$centsKey:$liveKey") {
      assignCells(spark, e.filter($"vec_id" >= 10).filter(live), cents)
        .select($"vec_id".as("neighbor_id"), $"cluster".as("cell"))
    }
    val wEntry = Window.partitionBy($"query_id").orderBy($"neighbor_id")
    val entry = corpusCells
      .join(broadcast(queries.select($"query_id", $"cell")), Seq("cell"))
      .withColumn("rn", row_number().over(wEntry)).filter($"rn" <= beam)
      .select($"query_id", $"neighbor_id")
    val qSide = queries.select($"query_id", $"q", $"qn")
    // the serving VECTOR STORE is pinned once per dir (the rounds'
    // scored() joins and the final rerank all probe it) — the session
    // analogue of the RAM/disk-resident store a graph index serves
    // from; without it every round re-plans a raw corpus scan
    val store = graft.operators.Indexes.memo(s"s35_store:$dir") {
      e.filter($"vec_id" >= 10)
        .select($"vec_id".as("neighbor_id"), $"embedding".as("c"), $"nrm".as("cn"))
    }
    def scored(pool: DataFrame): DataFrame =
      pool.join(store, Seq("neighbor_id"))
        .join(broadcast(qSide), Seq("query_id"))
        .select($"query_id", $"neighbor_id",
          round(dot($"q", $"c") / ($"qn" * $"cn"), 6).as("cos_sim"))
    val wBeam = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"neighbor_id")
    // per-round lineage cut (the g-family's iterative convention):
    // round r's visited set embeds round r−1's TWICE (directly in the
    // union and under the frontier's beam), so an uncut loop re-plans
    // the entry scan 2^rounds times; the frames are queries×pool-sized
    var visited = entry
    var prevCut: Option[DataFrame] = None
    for (_ <- 1 to rounds) {
      val beamR = scored(visited)
        .withColumn("rn", row_number().over(wBeam)).filter($"rn" <= beam)
        .select($"query_id", $"neighbor_id")
      val frontier = beamR.alias("bm")
        .join(adj.alias("ad"), col("bm.neighbor_id") === col("ad.src_id"))
        .select(col("bm.query_id").as("query_id"),
          col("ad.neighbor_id").as("neighbor_id"))
        .filter($"neighbor_id" >= 10)
      val next = graft.operators.State.cut(
        visited.unionAll(frontier).dropDuplicates("query_id", "neighbor_id"))
      // release ONLY superseded CUT generations: entry's lineage holds
      // the shared `queries` checkpoint leaf, which qSide still reads —
      // release walks to every LogicalRDD leaf, so releasing entry
      // would unpersist it under the later rounds
      prevCut.foreach(graft.operators.State.release)
      prevCut = Some(next)
      visited = next
    }
    (visited,
      scored(visited)
        .withColumn("rank", row_number().over(wBeam))
        .filter($"rank" <= k))
  }

  /** Exact-cosine scoring CTE over a (query_id, neighbor_id) frame —
    * the walk oracles' shared kernel. */
  private def walkScoreCte(name: String, from: String): String =
    s"""$name AS (
       |  SELECT p.query_id, p.neighbor_id,
       |    round(sum(uq.v * uc.v ORDER BY uq.i) / (sqrt(sum(uq.v * uq.v ORDER BY uq.i)) * sqrt(sum(uc.v * uc.v ORDER BY uc.i))), 6) AS cos_sim
       |  FROM $from p
       |  JOIN u uq ON uq.vec_id = p.query_id
       |  JOIN u uc ON uc.vec_id = p.neighbor_id AND uc.i = uq.i
       |  GROUP BY 1, 2)""".stripMargin

  /** The entry-point half of the walk prelude: the Lloyd's chain and
    * the `gcells`/`gprobes` entry-cell assignment — degree- AND
    * beam-independent, so both the s37 beam sweep and the s38 degree
    * sweep compose it exactly once. */
  private def walkEntryCtes(iters: Int = 4,
                            cellsWhere: String = "q.vec_id >= 10"): String =
    s"""${lloydCteParts(iters).mkString(",\n")},
       |gcells AS MATERIALIZED (
       |  SELECT vec_id, cluster AS cell FROM (
       |    SELECT q.vec_id, c.cluster, sum((q.e - c.c)*(q.e - c.c)) AS dist
       |    FROM q JOIN c${iters - 1} c ON c.i = q.i
       |    WHERE $cellsWhere GROUP BY 1, 2
       |    QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY dist, cluster) = 1)),
       |gprobes AS MATERIALIZED (
       |  SELECT vec_id AS query_id, cluster AS cell FROM (
       |    SELECT q.vec_id, c.cluster, sum((q.e - c.c)*(q.e - c.c)) AS dist
       |    FROM q JOIN c${iters - 1} c ON c.i = q.i
       |    WHERE q.vec_id < 10 GROUP BY 1, 2
       |    QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY dist, cluster) = 1))""".stripMargin

  /** The full degree-3 walk prelude under the historical names —
    * s17 banding + NN-descent refinement → symmetrized `adj`, plus
    * the entry chain: everything the s35/s36/s37 oracles share. */
  private def walkPreludeCtes(iters: Int = 4): String =
    s"""$s17Ctes,
       |$s29RefCtes,
       |adj AS MATERIALIZED (
       |  SELECT src_id, neighbor_id FROM ref
       |  UNION SELECT neighbor_id AS src_id, src_id AS neighbor_id FROM ref),
       |${walkEntryCtes(iters)}""".stripMargin

  /** One beam setting's walk chain (entry → unrolled rounds → scored
    * final pool) over the adjacency CTE `adjName`, CTE names prefixed
    * by `p` so a sweep composes several in one WITH. Leaves
    * `${p}v$rounds` (the visited pool) and `${p}gfin` (its exact
    * scores) in scope. */
  private def walkCtes(p: String, beam: Int, rounds: Int,
                       adjName: String = "adj"): String = {
    val roundCtes = (1 to rounds).map { rd =>
      s"""${walkScoreCte(s"${p}gsc$rd", s"${p}v${rd - 1}")},
         |${p}gb$rd AS (
         |  SELECT query_id, neighbor_id FROM ${p}gsc$rd
         |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) <= $beam),
         |${p}gf$rd AS (
         |  SELECT b.query_id, a.neighbor_id
         |  FROM ${p}gb$rd b JOIN $adjName a ON a.src_id = b.neighbor_id
         |  WHERE a.neighbor_id >= 10),
         |${p}v$rd AS MATERIALIZED (
         |  SELECT query_id, neighbor_id FROM ${p}v${rd - 1}
         |  UNION SELECT query_id, neighbor_id FROM ${p}gf$rd)""".stripMargin
    }
    s"""${p}v0 AS MATERIALIZED (
       |  SELECT query_id, vec_id AS neighbor_id FROM (
       |    SELECT pr.query_id, cl.vec_id,
       |      row_number() OVER (PARTITION BY pr.query_id ORDER BY cl.vec_id) AS rn
       |    FROM gprobes pr JOIN gcells cl ON cl.cell = pr.cell) WHERE rn <= $beam),
       |${roundCtes.mkString(",\n")},
       |${walkScoreCte(s"${p}gfin", s"${p}v$rounds")}""".stripMargin
  }

  /** s35 oracle: the shared walk prelude + one beam-4 chain. Multi-
    * referenced frames are MATERIALIZED (the s29 re-inline lesson). */
  def s35Sql: String =
    s"""WITH ${walkPreludeCtes()},
       |${walkCtes("", 4, 3)}
       |SELECT query_id, neighbor_id, cos_sim, rank FROM (
       |  SELECT query_id, neighbor_id, cos_sim,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM gfin)
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  /** s36: recall@k audit of the graph-walk tier vs the exact s1
    * top-k (the s9/s11/s13 pattern — index quality is measured, not
    * claimed): prices what beam=4 × 3 rounds over a degree-3 graph
    * buys, and feeds s32's seventh (graph) tier row. */
  def s36WalkRecall(spark: SparkSession, dir: String, k: Int = K): DataFrame = {
    import spark.implicits._
    require(1000000 % k == 0, s"k=$k must divide 1e6 for an exact recall_e6")
    val exact = s1Brute(spark, dir, k).select($"query_id", $"neighbor_id")
    val approx = s35GraphWalk(spark, dir, k)
      .select($"query_id".as("q2"), $"neighbor_id".as("n2"))
    exact.join(approx, $"query_id" === $"q2" && $"neighbor_id" === $"n2", "left")
      .groupBy($"query_id")
      .agg(count($"n2").as("n_hits"))
      .select($"query_id", $"n_hits",
        ($"n_hits" * lit(1000000L / k)).as("recall_e6"))
  }

  /** s36 oracle: s1 and s35 oracles composed (the s9 pattern). */
  def s36Sql: String =
    s"""WITH ex AS ($s1Sql),
       |ap AS ($s35Sql)
       |SELECT ex.query_id, count(ap.neighbor_id) AS n_hits,
       |  CAST(count(ap.neighbor_id) * ${1000000L / K} AS BIGINT) AS recall_e6
       |FROM ex LEFT JOIN ap
       |  ON ap.query_id = ex.query_id AND ap.neighbor_id = ex.neighbor_id
       |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin

  /** The s37 beam settings — shared by the Spark sweep and its oracle
    * (one registered contract, the s19/d14 convention). */
  private val WalkBeams = Seq(2, 4, 8)

  /** s37: WALK BEAM SWEEP — recall AND scan cost of the graph tier at
    * beam = 2/4/8, in one query: the s19-for-the-walk (s19 prices
    * IVF's nprobe dial, d14 prices LSH's banding dial; this prices
    * the graph tier's one serving knob). Each row is (beam,
    * n_queries, mean/min recall@5 ×1e6, sum_visited): visited-pool
    * size IS the per-query scan cost a serving deployment pays
    * (exactly the vectors whose floats move), so the curve says what
    * each beam increment buys — the number a team reads before
    * pinning beam in production.
    *
    * Shape: the adjacency, vector store and query frames are the
    * SAME memoized/checkpointed artifacts every walk shares; the
    * sweep runs three query-set-sized walks (work ∝ queries × beam ×
    * degree × rounds each) and three query-set-sized audit joins —
    * the corpus is never rescanned per setting. Recall is against
    * s1's exact top-k; all arithmetic integer-exact (halfUp means). */
  def s37WalkSweep(spark: SparkSession, dir: String, k: Int = K,
                   rounds: Int = 3, kc: Int = 8, iters: Int = 4): DataFrame = {
    import spark.implicits._
    require(1000000 % k == 0, s"k=$k must divide 1e6 for an exact recall_e6")
    val halfUp = graft.functions.IntMath.halfUpDiv _
    val adj = walkAdjacency(spark, dir)
    val cents = lloydCentroids(spark, dir, kc, iters)
    val exact = s1Brute(spark, dir, k)
      .select($"query_id".as("eq"), $"neighbor_id".as("en"))
    // the three beam walks are independent serving runs over the SAME
    // memoized index — overlap their round-checkpoint jobs instead of
    // paying 3 × rounds small-job latencies back to back
    graft.operators.Overlap.map(WalkBeams) { b =>
      val (visited, topk) = graphWalkParts(spark, dir, adj, cents, k, b, rounds)
      val hits = exact
        .join(topk.select($"query_id", $"neighbor_id"),
          $"eq" === $"query_id" && $"en" === $"neighbor_id", "left")
        .groupBy($"eq").agg(count($"neighbor_id").as("n_hits"))
      val vis = visited.groupBy($"query_id").agg(count(lit(1)).as("n_visited"))
      hits.join(vis, $"eq" === $"query_id")
        .agg(count(lit(1)).as("n_queries"),
          halfUp(sum($"n_hits") * lit(1000000L / k), count(lit(1))).as("mean_recall_e6"),
          min($"n_hits" * lit(1000000L / k)).as("min_recall_e6"),
          sum($"n_visited").as("sum_visited"))
        .select(lit(b.toLong).as("beam"), $"n_queries", $"mean_recall_e6",
          $"min_recall_e6", $"sum_visited")
    }.reduce(_ unionAll _)
  }

  /** s37 oracle: ONE shared walk prelude + three prefixed beam chains
    * + the exact yardstick, rolled to one row per beam. */
  def s37Sql: String = {
    def hu(n: String, d: String) = s"((2*($n) + ($d)) // (2*($d)))"
    val chains = WalkBeams.map(b => walkCtes(s"b$b", b, 3)).mkString(",\n")
    val rows = WalkBeams.map { b =>
      s"""SELECT CAST($b AS BIGINT) AS beam, count(*) AS n_queries,
         |  CAST(${hu(s"sum(j.n_hits) * ${1000000L / K}", "count(*)")} AS BIGINT) AS mean_recall_e6,
         |  CAST(min(j.n_hits) * ${1000000L / K} AS BIGINT) AS min_recall_e6,
         |  CAST(sum(j.n_visited) AS BIGINT) AS sum_visited
         |FROM (
         |  SELECT h.query_id, h.n_hits, v.n_visited FROM (
         |    SELECT ex.query_id, count(tk.neighbor_id) AS n_hits
         |    FROM ex LEFT JOIN (
         |      SELECT query_id, neighbor_id FROM (
         |        SELECT query_id, neighbor_id,
         |          row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
         |        FROM b${b}gfin) WHERE rank <= $K) tk
         |      ON tk.query_id = ex.query_id AND tk.neighbor_id = ex.neighbor_id
         |    GROUP BY ex.query_id) h
         |  JOIN (SELECT query_id, count(*) AS n_visited FROM b${b}v3 GROUP BY 1) v
         |    ON v.query_id = h.query_id) j""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH ${walkPreludeCtes()},
       |$chains,
       |ex AS MATERIALIZED (SELECT query_id, neighbor_id FROM ($s1Sql))
       |$rows
       |ORDER BY beam""".stripMargin
  }

  /** The s38 (degree, beam) operating points — shared by the Spark
    * sweep and its oracle. Degree 3 = the budget tier s35 serves by
    * default; 8/16 = the HNSW-M/DiskANN-R territory real deployments
    * run. The joint d16×b8 / d16×b16 points price the path to
    * shipping-class recall: degree alone (at beam 4) and beam alone
    * (on the degree-3 graph, s37) each saturate well short of the
    * 0.9-class recall@5 real ANN serving ships — the joint frontier
    * is where it lives, and the sweep measures exactly where. */
  private val WalkPoints = Seq((3, 4), (8, 4), (16, 4), (16, 8), (16, 16))

  /** s38: WALK DEGREE SWEEP — the graph tier's OTHER serving knob,
    * priced (s37 sweeps beam; this sweeps the adjacency's out-degree
    * budget, HNSW's M / DiskANN's R — the knob that actually buys
    * recall once beam saturates: beam alone tops out at 0.30 recall@5
    * on the degree-3 graph). One row per [[WalkPoints]] operating
    * point — the degree axis at beam 4 PLUS the joint d16×b8/d16×b16
    * points that chase shipping-class recall (neither dial reaches it
    * alone): recall@k vs s1's exact top-k, the visited-pool scan cost,
    * the MEASURED edge count and the resulting index bytes/vector
    * (8 B per directed edge + the 256 B full-precision vector the walk
    * scores against) — recall AND memory on one axis, the s32 capacity
    * table's missing column for the graph family.
    *
    * Shape: ONE banded collision graph feeds every degree (the
    * ranked s17 edges are degree-sliced — rank ≤ d — before each
    * degree's own NN-descent round; the band self-join never re-runs),
    * each DISTINCT degree's adjacency is built once however many beams
    * walk it (memoized), and each point's walk rides the SAME memoized
    * vector store, centroids and query checkpoint as every other walk.
    * Work per point ∝ queries × beam × degree × rounds + (per distinct
    * degree) the refinement's edge-scale NoN join ((2d)² per vertex —
    * index BUILD cost, paid once and amortized by serving, exactly the
    * trade the sweep prices). Integer-exact rollups → DuckDB hash
    * oracle (one shared prelude, one chain per degree, one walk per
    * point — the s37 convention). */
  def s38DegreeSweep(spark: SparkSession, dir: String, k: Int = K,
                     rounds: Int = 3, kc: Int = 8,
                     iters: Int = 4): DataFrame = {
    import spark.implicits._
    require(1000000 % k == 0, s"k=$k must divide 1e6 for an exact recall_e6")
    val halfUp = graft.functions.IntMath.halfUpDiv _
    val cents = lloydCentroids(spark, dir, kc, iters)
    val exact = s1Brute(spark, dir, k)
      .select($"query_id".as("eq"), $"neighbor_id".as("en"))
    val nVecs = Tables.read(spark, dir, "embeddings")
      .agg(count(lit(1)).as("n_vecs"))
    // the five operating points are independent walks over memoized
    // adjacencies (same-degree builds collapse onto one latch) —
    // overlap them; results come back in WalkPoints order
    graft.operators.Overlap.map(WalkPoints) { case (d, b) =>
      val adj = walkAdjacency(spark, dir, d)
      val (visited, topk) = graphWalkParts(spark, dir, adj, cents, k, b, rounds)
      val hits = exact
        .join(topk.select($"query_id", $"neighbor_id"),
          $"eq" === $"query_id" && $"en" === $"neighbor_id", "left")
        .groupBy($"eq").agg(count($"neighbor_id").as("n_hits"))
      val vis = visited.groupBy($"query_id").agg(count(lit(1)).as("n_visited"))
      val edges = adj.agg(count(lit(1)).as("n_edges"))
      // 1-row × 1-row crossJoins: the documented scalar-broadcast
      // convention (aggregate-sized frames, never data)
      hits.join(vis, $"eq" === $"query_id")
        .agg(count(lit(1)).as("n_queries"),
          halfUp(sum($"n_hits") * lit(1000000L / k), count(lit(1))).as("mean_recall_e6"),
          min($"n_hits" * lit(1000000L / k)).as("min_recall_e6"),
          sum($"n_visited").as("sum_visited"))
        .crossJoin(edges).crossJoin(nVecs)
        .select(lit(d.toLong).as("degree"), lit(b.toLong).as("beam"),
          $"n_queries", $"mean_recall_e6",
          $"min_recall_e6", $"sum_visited", $"n_edges",
          (halfUp($"n_edges" * 8L, $"n_vecs") + lit(4L * Dim)).as("bytes_per_vec"))
    }.reduce(_ unionAll _)
  }

  /** s38 oracle: ONE shared banding prelude (`s17r` carries ranks for
    * every degree) + entry chain + one prefixed degree chain per
    * DISTINCT degree (its own NN-descent refinement and symmetrized
    * adjacency — built once however many beams walk it) + one walk
    * chain per (degree, beam) point + the exact yardstick, rolled to
    * one row per point. */
  def s38Sql: String = {
    def hu(n: String, d: String) = s"((2*($n) + ($d)) // (2*($d)))"
    val chains = WalkPoints.map(_._1).distinct.map { d =>
      val p = s"d$d"
      s"""${s29RefCtesAt(p, d)},
         |${p}adj AS MATERIALIZED (
         |  SELECT src_id, neighbor_id FROM ${p}ref
         |  UNION SELECT neighbor_id AS src_id, src_id AS neighbor_id FROM ${p}ref)""".stripMargin
    }.mkString(",\n")
    val walks = WalkPoints.map { case (d, b) =>
      walkCtes(s"d${d}b$b", b, 3, s"d${d}adj")
    }.mkString(",\n")
    val rows = WalkPoints.map { case (d, b) =>
      val p = s"d${d}b$b"
      s"""SELECT CAST($d AS BIGINT) AS degree, CAST($b AS BIGINT) AS beam,
         |  count(*) AS n_queries,
         |  CAST(${hu(s"sum(j.n_hits) * ${1000000L / K}", "count(*)")} AS BIGINT) AS mean_recall_e6,
         |  CAST(min(j.n_hits) * ${1000000L / K} AS BIGINT) AS min_recall_e6,
         |  CAST(sum(j.n_visited) AS BIGINT) AS sum_visited,
         |  (SELECT count(*) FROM d${d}adj) AS n_edges,
         |  CAST(${hu(s"(SELECT count(*) FROM d${d}adj) * 8", "(SELECT count(*) FROM embeddings)")} + 256 AS BIGINT) AS bytes_per_vec
         |FROM (
         |  SELECT h.query_id, h.n_hits, v.n_visited FROM (
         |    SELECT ex.query_id, count(tk.neighbor_id) AS n_hits
         |    FROM ex LEFT JOIN (
         |      SELECT query_id, neighbor_id FROM (
         |        SELECT query_id, neighbor_id,
         |          row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
         |        FROM ${p}gfin) WHERE rank <= $K) tk
         |      ON tk.query_id = ex.query_id AND tk.neighbor_id = ex.neighbor_id
         |    GROUP BY ex.query_id) h
         |  JOIN (SELECT query_id, count(*) AS n_visited FROM ${p}v3 GROUP BY 1) v
         |    ON v.query_id = h.query_id) j""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH $s17Ctes,
       |${walkEntryCtes()},
       |$chains,
       |$walks,
       |ex AS MATERIALIZED (SELECT query_id, neighbor_id FROM ($s1Sql))
       |$rows
       |ORDER BY degree, beam""".stripMargin
  }

  // ---- s39: incremental walk-index maintenance ----------------------

  /** The s15 incremental split: vectors with vec_id % 8 == 7 are the
    * ARRIVING batch; everything else is the standing old corpus the
    * persisted index was built on. */
  private def oldHalf: Column = pmod(col("vec_id"), lit(8)) =!= 7

  /** A walk index built over a vertex SUB-POPULATION (s39's old half;
    * s40's from-scratch live-rebuild yardstick): s17 banding + s29
    * NN-descent restricted to `pred`, symmetrized. Memoized per
    * (tag, dir, degree). */
  private[graft] def walkAdjacencyOn(spark: SparkSession, dir: String,
                                     degree: Int, pred: Column,
                                     tag: String): DataFrame = {
    import spark.implicits._
    // the PREDICATE is part of the memo key: two callers sharing a
    // tag with different vertex splits must never share an artifact
    // (a key without it would hand the first build back silently).
    // Bridge.sql, NOT expression(...).sql — the latter renders every
    // Spark-4 Column as the same constant string (see Bridge.sql)
    val pk = Bridge.sql(pred)
    graft.operators.Indexes.memo(s"${tag}_adj:$dir:$degree:$pk") {
      val base = graft.operators.Indexes.memo(s"${tag}_base:$dir:$degree:$pk") {
        s17KnnGraphOn(spark, dir, degree, pred)
          .select($"src_id", $"neighbor_id")
      }
      val ref = nnDescentRoundOver(spark, dir, degree, base)
        .select($"src_id", $"neighbor_id")
      ref.unionAll(ref.select($"neighbor_id".as("src_id"), $"src_id".as("neighbor_id")))
        .dropDuplicates("src_id", "neighbor_id")
        .repartition(spark.sessionState.conf.numShufflePartitions, $"src_id")
    }
  }

  /** The walk index built on the OLD HALF only — what a deployment
    * holds on disk when the batch arrives. */
  private[graft] def walkAdjacencyOld(spark: SparkSession, dir: String,
                                      degree: Int = 3): DataFrame =
    walkAdjacencyOn(spark, dir, degree, oldHalf, "s39_old")

  /** Lineage-cut view of a memoized adjacency, itself memoized so the
    * maintenance ops (s39 attach, s40 repair) and their audits share
    * ONE checkpoint: an adjacency artifact carries the full
    * banding+refinement plan, and every reference in a repair join or
    * a footprint count re-analyzes it — the cut collapses it to a
    * leaf (measured on s40: the repaired-index walk dropped 5.9 s →
    * the 1.7 s cut-twin class). */
  private def cutAdj(key: String, adj: => DataFrame): DataFrame =
    graft.operators.Indexes.memo(key)(graft.operators.State.cut(adj))

  /** Old-corpus entry centroids — s15's shared training artifact
    * (same cache key: the incremental family trains ONCE on the
    * standing corpus). */
  private[graft] def oldCentroids(spark: SparkSession, dir: String, kc: Int,
                                  iters: Int): Seq[(Int, Array[Long])] =
    centCache.getOrElseUpdate(s"incr:$dir:$kc:$iters",
      lloydLoop(spark, quantized(spark, dir).filter(oldHalf), kc, iters, Dim))

  /** ATTACH a new-vector batch to the old walk index WITHOUT a full
    * rebuild — DiskANN's in-place insert shape, the graph family's
    * answer to s15/s23 (IVF insert/delete): each batch vector's
    * candidates are its nearest old CELL's members plus their
    * adjacency rows (one NN-descent-style expansion through the old
    * edges — s29's machinery at batch scale), exact-cosine scored,
    * top-`degree` kept, symmetrized back-edges added so walks REACH
    * the new vectors. Work ∝ batch × (cell + degree²) — the standing
    * corpus is never re-banded, never rescanned beyond the score
    * joins' id-pruned probes. Returns the MERGED adjacency (memoized:
    * the updated index artifact s39 serves from). Batch↔batch edges
    * are deliberately not formed (DiskANN's insert attaches to the
    * standing graph; intra-batch links arrive with later rounds /
    * periodic re-refinement). */
  private[graft] def walkAttachAdjacency(spark: SparkSession, dir: String,
                                         degree: Int = 3, kc: Int = 8,
                                         iters: Int = 4): DataFrame = {
    import spark.implicits._
    graft.operators.Indexes.memo(s"s39_madj:$dir:$degree:$kc:$iters") {
      val cents = oldCentroids(spark, dir, kc, iters)
      // lineage cut at the standing-index boundary (the s40 lesson:
      // the attach references oadj twice and the merged index's
      // consumers re-analyze whatever plan it carries)
      val oadj = cutAdj(s"s39_oadj_cut:$dir:$degree",
        walkAdjacencyOld(spark, dir, degree))
      val q = quantized(spark, dir)
      // batch = CORPUS vectors only: the query panel (vec_id < 10) is
      // never index content, so query vec 7 must not be attached or
      // counted in the insert audit's batch footprint
      val batchCells = assignCells(spark,
          q.filter(pmod($"vec_id", lit(8)) === 7 && $"vec_id" >= 10), cents)
        .select($"vec_id".as("src_id"), $"cluster".as("cell"))
      val oldCells = assignCells(spark, q.filter(oldHalf && $"vec_id" >= 10), cents)
        .select($"vec_id".as("neighbor_id"), $"cluster".as("cell"))
      val cand0 = batchCells.join(oldCells, Seq("cell"))
        .select($"src_id", $"neighbor_id")
      val non = cand0.as("c").join(oadj.as("oa"),
          col("c.neighbor_id") === col("oa.src_id"))
        .select(col("c.src_id").as("src_id"), col("oa.neighbor_id").as("neighbor_id"))
        .filter($"neighbor_id" >= 10)
      val pool = non.unionAll(cand0).dropDuplicates("src_id", "neighbor_id")
      val e = Tables.read(spark, dir, "embeddings")
        .select($"vec_id", $"embedding", vecNorm($"embedding").as("nrm"))
        .repartition(spark.sessionState.conf.numShufflePartitions, $"vec_id")
      val w = Window.partitionBy($"src_id").orderBy($"cos_sim".desc, $"neighbor_id")
      val bref = pool
        .join(e.select($"vec_id".as("src_id"), $"embedding".as("sv"), $"nrm".as("sn")),
          Seq("src_id"))
        .join(e.select($"vec_id".as("neighbor_id"), $"embedding".as("dv"), $"nrm".as("dn")),
          Seq("neighbor_id"))
        .select($"src_id", $"neighbor_id",
          round(dot($"sv", $"dv") / ($"sn" * $"dn"), 6).as("cos_sim"))
        .withColumn("rn", row_number().over(w)).filter($"rn" <= degree)
        .select($"src_id", $"neighbor_id")
      oadj
        .unionAll(bref)
        .unionAll(bref.select($"neighbor_id".as("src_id"), $"src_id".as("neighbor_id")))
        .dropDuplicates("src_id", "neighbor_id")
        .repartition(spark.sessionState.conf.numShufflePartitions, $"src_id")
    }
  }

  /** s39: WALK-INDEX INSERT audit — the registered proof that the
    * attach works: the 10 standard queries served over the MERGED
    * index (old-corpus entry cells — a deployment does not retrain its
    * quantizer per batch), recall@k against s1's exact top-k over the
    * FULL corpus (batch members included: a merged index must surface
    * them), plus the attach's own footprint (batch size, new edge
    * count) so the audit is visibly non-vacuous. The spec pins the
    * from-scratch bound: merged-index serving recall within a fixed
    * distance of the full rebuild's (s36). Completes insert parity
    * for the graph family next to s15/s23's IVF insert/delete. */
  def s39WalkInsert(spark: SparkSession, dir: String, k: Int = K,
                    degree: Int = 3, beam: Int = 4, rounds: Int = 3,
                    kc: Int = 8, iters: Int = 4): DataFrame = {
    import spark.implicits._
    require(1000000 % k == 0, s"k=$k must divide 1e6 for an exact recall_e6")
    val cents = oldCentroids(spark, dir, kc, iters)
    val madj = walkAttachAdjacency(spark, dir, degree, kc, iters)
    val (_, topk) = graphWalkParts(spark, dir, madj, cents, k, beam, rounds)
    val exact = s1Brute(spark, dir, k)
      .select($"query_id".as("eq"), $"neighbor_id".as("en"))
    val nBatch = Tables.read(spark, dir, "embeddings")
      .filter(pmod($"vec_id", lit(8)) === 7 && $"vec_id" >= 10)
      .agg(count(lit(1)).as("n_batch"))
    val nNew = madj.agg(count(lit(1)).as("m"))
      .crossJoin(cutAdj(s"s39_oadj_cut:$dir:$degree",
        walkAdjacencyOld(spark, dir, degree)).agg(count(lit(1)).as("o")))
      .select(($"m" - $"o").as("n_new_edges"))
    exact
      .join(topk.select($"query_id", $"neighbor_id"),
        $"eq" === $"query_id" && $"en" === $"neighbor_id", "left")
      .groupBy($"eq").agg(count($"neighbor_id").as("n_hits"))
      .select($"eq".as("query_id"), $"n_hits",
        ($"n_hits" * lit(1000000L / k)).as("recall_e6"))
      .crossJoin(nBatch).crossJoin(nNew)
  }

  /** s39 oracle: old-half banding + refinement + symmetrized `oadj`
    * (the `WHERE vec_id % 8 <> 7` twin of the s17/s29 chains), the
    * old-trained Lloyd's with full-corpus cell assignment, the attach
    * CTEs (cell candidates → one adjacency expansion → score →
    * top-degree → symmetrize → `madj`), one beam-4 walk chain over
    * `madj`, and the exact yardstick. */
  def s39Sql: String = {
    val iters = 4
    val degree = 3
    val assignAll = (name: String, where: String, alias: String) =>
      s"""$name AS MATERIALIZED (
         |  SELECT vec_id$alias, cluster AS cell FROM (
         |    SELECT qa.vec_id, c.cluster, sum((qa.e - c.c)*(qa.e - c.c)) AS dist
         |    FROM qa JOIN c${iters - 1} c ON c.i = qa.i
         |    $where GROUP BY 1, 2
         |    QUALIFY row_number() OVER (PARTITION BY qa.vec_id ORDER BY dist, cluster) = 1))""".stripMargin
    s"""WITH $s17Ctes,
       |ocand AS (
       |  SELECT DISTINCT ba.vec_id AS src_id, bb.vec_id AS neighbor_id
       |  FROM bands ba JOIN bands bb
       |    ON bb.band_idx = ba.band_idx AND bb.band_key = ba.band_key
       |  WHERE ba.vec_id <> bb.vec_id
       |    AND ba.vec_id % 8 <> 7 AND bb.vec_id % 8 <> 7),
       |os AS (
       |  SELECT cd.src_id, cd.neighbor_id,
       |    round(sum(q.v * c.v ORDER BY q.i) / (sqrt(sum(q.v * q.v ORDER BY q.i)) * sqrt(sum(c.v * c.v ORDER BY c.i))), 6) AS cos_sim
       |  FROM ocand cd
       |  JOIN u q ON q.vec_id = cd.src_id
       |  JOIN u c ON c.vec_id = cd.neighbor_id AND c.i = q.i
       |  GROUP BY 1, 2),
       |os17r AS (
       |  SELECT src_id, neighbor_id, cos_sim,
       |    row_number() OVER (PARTITION BY src_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM os),
       |${s29RefCtesAt("o", degree, "os17r")},
       |oadj AS MATERIALIZED (
       |  SELECT src_id, neighbor_id FROM oref
       |  UNION SELECT neighbor_id AS src_id, src_id AS neighbor_id FROM oref),
       |${lloydCteParts(iters, "WHERE vec_id % 8 <> 7").mkString(",\n")},
       |qa AS (
       |  SELECT vec_id, i, CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS e
       |  FROM (SELECT vec_id, unnest(embedding) AS v,
       |               generate_subscripts(embedding, 1) AS i FROM embeddings)),
       |${assignAll("gcells", "WHERE qa.vec_id >= 10", "")},
       |${assignAll("gprobes", "WHERE qa.vec_id < 10", " AS query_id")},
       |${assignAll("bassign", "WHERE qa.vec_id % 8 = 7 AND qa.vec_id >= 10", " AS src_id")},
       |bc AS (
       |  SELECT b.src_id, m.vec_id AS neighbor_id
       |  FROM bassign b JOIN gcells m ON m.cell = b.cell
       |  WHERE m.vec_id % 8 <> 7),
       |bpool AS MATERIALIZED (
       |  SELECT DISTINCT c.src_id, oa.neighbor_id
       |  FROM bc c JOIN oadj oa ON oa.src_id = c.neighbor_id
       |  WHERE oa.neighbor_id >= 10
       |  UNION SELECT src_id, neighbor_id FROM bc),
       |bsc AS (
       |  SELECT p.src_id, p.neighbor_id,
       |    round(sum(uq.v * uc.v ORDER BY uq.i) / (sqrt(sum(uq.v * uq.v ORDER BY uq.i)) * sqrt(sum(uc.v * uc.v ORDER BY uc.i))), 6) AS cos_sim
       |  FROM bpool p
       |  JOIN u uq ON uq.vec_id = p.src_id
       |  JOIN u uc ON uc.vec_id = p.neighbor_id AND uc.i = uq.i
       |  GROUP BY 1, 2),
       |bref AS MATERIALIZED (
       |  SELECT src_id, neighbor_id FROM (
       |    SELECT src_id, neighbor_id,
       |      row_number() OVER (PARTITION BY src_id ORDER BY cos_sim DESC, neighbor_id) AS rn
       |    FROM bsc) WHERE rn <= $degree),
       |madj AS MATERIALIZED (
       |  SELECT src_id, neighbor_id FROM oadj
       |  UNION SELECT src_id, neighbor_id FROM bref
       |  UNION SELECT neighbor_id AS src_id, src_id AS neighbor_id FROM bref),
       |${walkCtes("", 4, 3, "madj")},
       |ex AS MATERIALIZED (SELECT query_id, neighbor_id FROM ($s1Sql))
       |SELECT ex.query_id, count(tk.neighbor_id) AS n_hits,
       |  CAST(count(tk.neighbor_id) * ${1000000L / K} AS BIGINT) AS recall_e6,
       |  (SELECT count(*) FROM embeddings WHERE vec_id % 8 = 7 AND vec_id >= 10) AS n_batch,
       |  (SELECT count(*) FROM madj) - (SELECT count(*) FROM oadj) AS n_new_edges
       |FROM ex LEFT JOIN (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |    FROM gfin) WHERE rank <= $K) tk
       |  ON tk.query_id = ex.query_id AND tk.neighbor_id = ex.neighbor_id
       |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin
  }

  // ---- s40: walk-index delete consolidation --------------------------

  /** The s23 tombstone split: vectors with vec_id % 8 == 3 are the
    * DELETED batch the standing index must retire. */
  private def tombstoned(c: Column): Column = pmod(c, lit(8)) === 3

  /** DELETE-CONSOLIDATE the walk index — DiskANN's delete repair, the
    * graph family's s23 (IVF retires a tombstone by dropping its
    * posting; a GRAPH must also re-link, or every deleted hub tears a
    * hole in the navigable structure): tombstoned endpoints are
    * purged, and every live vertex that LOST an edge re-ranks its
    * surviving edges together with its deleted neighbors' own live
    * edge lists (the NoN bridge — exactly the paths walks would have
    * taken THROUGH the tombstone), keeping top-`degree`. Untouched
    * vertices keep their edges verbatim: work ∝ affected vertices ×
    * degree², never corpus. The result re-symmetrizes (repair
    * back-edges may push a vertex past the degree budget — DiskANN's
    * back-edge overflow, pruned by periodic re-refinement).
    * Memoized: the repaired index is the serving artifact. */
  private[graft] def walkDeleteAdjacency(spark: SparkSession, dir: String,
                                         degree: Int = 3): DataFrame =
    graft.operators.Indexes.memo(s"s40_fadj:$dir:$degree") {
      // lineage CUT at the base-index boundary: the repair references
      // the adjacency 5× (affected, surviving, both bridge legs,
      // untouched), and each reference would otherwise EXPAND the
      // full banding+refinement plan — the walk over the repaired
      // index then re-analyzes that ×rounds (measured: 5.9 s of
      // driver planning per walk vs 1.7 s over the cut twin). The
      // base is a memoized artifact; the cut is its cheap leaf view.
      deleteConsolidateOver(spark, dir,
        cutAdj(s"s40_adj_cut:$dir:$degree", walkAdjacency(spark, dir, degree)),
        degree)
    }

  /** The delete-consolidate body over ANY (cut) base adjacency —
    * shared by [[walkDeleteAdjacency]] (s40: repair the from-scratch
    * index) and [[walkChurnAdjacency]] (s41: repair s39's merged
    * index, the second leg of the churn cycle). Same plan either
    * way: work ∝ affected vertices × degree², never corpus. */
  private def deleteConsolidateOver(spark: SparkSession, dir: String,
                                    adj: DataFrame, degree: Int): DataFrame = {
    import spark.implicits._
    val aff = adj
      .filter(tombstoned($"neighbor_id") && !tombstoned($"src_id"))
      .select($"src_id").distinct()
    val surv = adj.join(aff, Seq("src_id"))
      .filter(!tombstoned($"neighbor_id"))
      .select($"src_id", $"neighbor_id")
    val bridge = adj.as("a1").join(adj.as("a2"),
        col("a1.neighbor_id") === col("a2.src_id"))
      .filter(tombstoned(col("a1.neighbor_id")) &&
        !tombstoned(col("a1.src_id")) &&
        !tombstoned(col("a2.neighbor_id")) &&
        col("a2.neighbor_id") =!= col("a1.src_id"))
      .select(col("a1.src_id").as("src_id"), col("a2.neighbor_id").as("neighbor_id"))
    val rpool = surv.unionAll(bridge).dropDuplicates("src_id", "neighbor_id")
    val e = Tables.read(spark, dir, "embeddings")
      .select($"vec_id", $"embedding", vecNorm($"embedding").as("nrm"))
      .repartition(spark.sessionState.conf.numShufflePartitions, $"vec_id")
    val w = Window.partitionBy($"src_id").orderBy($"cos_sim".desc, $"neighbor_id")
    val rtop = rpool
      .join(e.select($"vec_id".as("src_id"), $"embedding".as("sv"), $"nrm".as("sn")),
        Seq("src_id"))
      .join(e.select($"vec_id".as("neighbor_id"), $"embedding".as("dv"), $"nrm".as("dn")),
        Seq("neighbor_id"))
      .select($"src_id", $"neighbor_id",
        round(dot($"sv", $"dv") / ($"sn" * $"dn"), 6).as("cos_sim"))
      .withColumn("rn", row_number().over(w)).filter($"rn" <= degree)
      .select($"src_id", $"neighbor_id")
    val keep = adj
      .filter(!tombstoned($"src_id") && !tombstoned($"neighbor_id"))
      .join(aff, Seq("src_id"), "left_anti")
    val f0 = keep.unionAll(rtop)
    f0
      .unionAll(f0.select($"neighbor_id".as("src_id"), $"src_id".as("neighbor_id")))
      .dropDuplicates("src_id", "neighbor_id")
      .repartition(spark.sessionState.conf.numShufflePartitions, $"src_id")
  }

  /** s40: WALK-INDEX DELETE audit — the registered proof the repair
    * works: the 10 standard queries served over the CONSOLIDATED
    * index (entry points restricted to live vectors; the frontier
    * cannot reach tombstones because the repaired adjacency no longer
    * carries them), recall@k against the exact top-k over the LIVE
    * corpus only (a deleted vector must neither surface nor count
    * against recall), plus the retire footprint (tombstone count,
    * edges before/after). With s39's insert this completes FULL
    * insert/delete parity for the graph family next to s15/s23's IVF
    * pair. */
  def s40WalkDelete(spark: SparkSession, dir: String, k: Int = K,
                    degree: Int = 3, beam: Int = 4, rounds: Int = 3,
                    kc: Int = 8, iters: Int = 4): DataFrame = {
    import spark.implicits._
    require(1000000 % k == 0, s"k=$k must divide 1e6 for an exact recall_e6")
    // full-corpus cents: a deployment does NOT retrain its quantizer
    // on delete (s23's premise) — only entry SELECTION goes live-only
    val cents = lloydCentroids(spark, dir, kc, iters)
    val fadj = walkDeleteAdjacency(spark, dir, degree)
    val (_, topk) = graphWalkParts(spark, dir, fadj, cents, k, beam, rounds,
      live = !tombstoned($"vec_id"))
    // exact yardstick over the LIVE corpus (s1's shape + the filter)
    val e = Tables.read(spark, dir, "embeddings")
      .select($"vec_id", $"embedding", vecNorm($"embedding").as("nrm"))
    val queries = e.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"embedding".as("q"), $"nrm".as("qn"))
    val corpus = e.filter($"vec_id" >= 10 && !tombstoned($"vec_id"))
      .select($"vec_id".as("neighbor_id"), $"embedding".as("c"), $"nrm".as("cn"))
      .repartition(spark.sessionState.conf.numShufflePartitions)
    val wx = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"neighbor_id")
    val exact = corpus.join(broadcast(queries))
      .select($"query_id", $"neighbor_id",
        round(dot($"q", $"c") / ($"qn" * $"cn"), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(wx)).filter($"rank" <= k)
      .select($"query_id".as("eq"), $"neighbor_id".as("en"))
    val nTomb = Tables.read(spark, dir, "embeddings")
      .filter(tombstoned($"vec_id"))
      .agg(count(lit(1)).as("n_tombstones"))
    val edges = cutAdj(s"s40_adj_cut:$dir:$degree",
        walkAdjacency(spark, dir, degree))
      .agg(count(lit(1)).as("n_edges_before"))
      .crossJoin(fadj.agg(count(lit(1)).as("n_edges_after")))
    exact
      .join(topk.select($"query_id", $"neighbor_id"),
        $"eq" === $"query_id" && $"en" === $"neighbor_id", "left")
      .groupBy($"eq").agg(count($"neighbor_id").as("n_hits"))
      .select($"eq".as("query_id"), $"n_hits",
        ($"n_hits" * lit(1000000L / k)).as("recall_e6"))
      .crossJoin(nTomb).crossJoin(edges)
  }

  /** s40 oracle: the shared full-corpus walk prelude (banding +
    * refinement + `adj`), the tombstone/affected/bridge/repair CTEs,
    * the re-symmetrized `fadj`, one beam-4 walk with LIVE entry
    * cells, and the live-corpus exact yardstick. */
  def s40Sql: String = {
    val degree = 3
    s"""WITH $s17Ctes,
       |$s29RefCtes,
       |adj AS MATERIALIZED (
       |  SELECT src_id, neighbor_id FROM ref
       |  UNION SELECT neighbor_id AS src_id, src_id AS neighbor_id FROM ref),
       |${walkEntryCtes(cellsWhere = "q.vec_id >= 10 AND q.vec_id % 8 <> 3")},
       |aff AS MATERIALIZED (
       |  SELECT DISTINCT src_id FROM adj
       |  WHERE neighbor_id % 8 = 3 AND src_id % 8 <> 3),
       |surv AS (
       |  SELECT a.src_id, a.neighbor_id FROM adj a
       |  JOIN aff ON aff.src_id = a.src_id
       |  WHERE a.neighbor_id % 8 <> 3),
       |bridge AS (
       |  SELECT DISTINCT a1.src_id, a2.neighbor_id
       |  FROM adj a1 JOIN adj a2 ON a2.src_id = a1.neighbor_id
       |  WHERE a1.neighbor_id % 8 = 3 AND a1.src_id % 8 <> 3
       |    AND a2.neighbor_id % 8 <> 3 AND a2.neighbor_id <> a1.src_id),
       |rpool AS MATERIALIZED (
       |  SELECT src_id, neighbor_id FROM surv
       |  UNION SELECT src_id, neighbor_id FROM bridge),
       |rsc AS (
       |  SELECT p.src_id, p.neighbor_id,
       |    round(sum(uq.v * uc.v ORDER BY uq.i) / (sqrt(sum(uq.v * uq.v ORDER BY uq.i)) * sqrt(sum(uc.v * uc.v ORDER BY uc.i))), 6) AS cos_sim
       |  FROM rpool p
       |  JOIN u uq ON uq.vec_id = p.src_id
       |  JOIN u uc ON uc.vec_id = p.neighbor_id AND uc.i = uq.i
       |  GROUP BY 1, 2),
       |rtop AS (
       |  SELECT src_id, neighbor_id FROM (
       |    SELECT src_id, neighbor_id,
       |      row_number() OVER (PARTITION BY src_id ORDER BY cos_sim DESC, neighbor_id) AS rn
       |    FROM rsc) WHERE rn <= $degree),
       |keepu AS (
       |  SELECT a.src_id, a.neighbor_id FROM adj a
       |  WHERE a.src_id % 8 <> 3 AND a.neighbor_id % 8 <> 3
       |    AND a.src_id NOT IN (SELECT src_id FROM aff)),
       |f0 AS (
       |  SELECT src_id, neighbor_id FROM keepu
       |  UNION SELECT src_id, neighbor_id FROM rtop),
       |fadj AS MATERIALIZED (
       |  SELECT src_id, neighbor_id FROM f0
       |  UNION SELECT neighbor_id AS src_id, src_id AS neighbor_id FROM f0),
       |${walkCtes("", 4, 3, "fadj")},
       |ex AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |    FROM (
       |      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |        round(sum(q.v * c.v ORDER BY q.i) / (sqrt(sum(q.v * q.v ORDER BY q.i)) * sqrt(sum(c.v * c.v ORDER BY c.i))), 6) AS cos_sim
       |      FROM u q JOIN u c ON q.i = c.i
       |        AND q.vec_id < 10 AND c.vec_id >= 10 AND c.vec_id % 8 <> 3
       |      GROUP BY 1, 2)) WHERE rank <= $K)
       |SELECT ex.query_id, count(tk.neighbor_id) AS n_hits,
       |  CAST(count(tk.neighbor_id) * ${1000000L / K} AS BIGINT) AS recall_e6,
       |  (SELECT count(*) FROM embeddings WHERE vec_id % 8 = 3) AS n_tombstones,
       |  (SELECT count(*) FROM adj) AS n_edges_before,
       |  (SELECT count(*) FROM fadj) AS n_edges_after
       |FROM ex LEFT JOIN (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |    FROM gfin) WHERE rank <= $K) tk
       |  ON tk.query_id = ex.query_id AND tk.neighbor_id = ex.neighbor_id
       |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin
  }

  // ---- s41: walk-index churn compaction ------------------------------

  /** The CHURNED walk index: s39's merged (batch-attached) adjacency
    * with the s40 delete-consolidation applied over it — what a
    * standing index looks like after one full maintenance cycle
    * (insert batch %8==7 attached, tombstone batch %8==3 retired; the
    * two populations are disjoint by construction). It carries exactly
    * the damage both maintenance docs defer to "periodic
    * re-refinement": NO intra-batch edges (the attach links new
    * vectors to the standing graph only) and back-edge OVERFLOW past
    * the symmetrized 2·degree budget (attach back-edges and repair
    * re-symmetrization land unpruned). */
  private[graft] def walkChurnAdjacency(spark: SparkSession, dir: String,
                                        degree: Int = 3, kc: Int = 8,
                                        iters: Int = 4): DataFrame =
    graft.operators.Indexes.memo(s"s41_churn:$dir:$degree:$kc:$iters") {
      deleteConsolidateOver(spark, dir,
        cutAdj(s"s41_madj_cut:$dir:$degree:$kc:$iters",
          walkAttachAdjacency(spark, dir, degree, kc, iters)),
        degree)
    }

  /** The compaction's re-refinement TARGET SET: live batch vertices
    * (attached with no intra-batch edges — the insert's deliberate
    * deferral) ∪ vertices whose churned out-degree exceeds the
    * symmetrized 2·degree budget (back-edge overflow victims).
    * Memoized — the compaction body and the s41 audit's footprint
    * column share one artifact. */
  private def churnAffected(spark: SparkSession, dir: String, degree: Int,
                            kc: Int, iters: Int): DataFrame = {
    import spark.implicits._
    graft.operators.Indexes.memo(s"s41_aff:$dir:$degree:$kc:$iters") {
      val churn = cutAdj(s"s41_churn_cut:$dir:$degree:$kc:$iters",
        walkChurnAdjacency(spark, dir, degree, kc, iters))
      churn.groupBy($"src_id").agg(count(lit(1)).as("deg"))
        .filter($"deg" > 2L * degree).select($"src_id")
        .unionAll(churn
          .filter(pmod($"src_id", lit(8)) === 7 && $"src_id" >= 10)
          .select($"src_id"))
        .distinct()
    }
  }

  /** COMPACT the churned index — FreshDiskANN's periodic consolidation
    * (Singh et al., "FreshDiskANN", 2021: the pass that restores graph
    * quality after sustained insert/delete streaming), i.e. the
    * re-refinement the s39 attach and s40 repair docs defer to. One
    * NN-descent-style round (s29's machinery) restricted to the
    * [[churnAffected]] vertices: each re-ranks its current edges
    * together with ONE neighbor-of-neighbor expansion through the
    * churned graph (intra-batch links form here — batch→old→batch
    * paths become direct edges), keeping top-degree; untouched
    * vertices keep their lists verbatim; the new directed lists'
    * back-edges are re-added, and any vertex the re-symmetrization
    * pushes past 2·degree prunes to its best 2·degree by exact cosine
    * (only over-budget lists are re-scored — DiskANN's RobustPrune
    * role). Work ∝ affected × degree² + overflow × degree, never
    * corpus. Memoized: the compacted index is the serving artifact
    * completing the build→serve→insert→delete→compact lifecycle. */
  private[graft] def walkCompactAdjacency(spark: SparkSession, dir: String,
                                          degree: Int = 3, kc: Int = 8,
                                          iters: Int = 4): DataFrame = {
    import spark.implicits._
    graft.operators.Indexes.memo(s"s41_cadj:$dir:$degree:$kc:$iters") {
      val churn = cutAdj(s"s41_churn_cut:$dir:$degree:$kc:$iters",
        walkChurnAdjacency(spark, dir, degree, kc, iters))
      val affected = churnAffected(spark, dir, degree, kc, iters)
      val cur = churn.join(affected, Seq("src_id"))
      val non = cur.as("a").join(churn.as("b"),
          col("a.neighbor_id") === col("b.src_id"))
        .select(col("a.src_id").as("src_id"), col("b.neighbor_id").as("neighbor_id"))
        .filter($"src_id" =!= $"neighbor_id")
      val cpool = non.unionAll(cur.select($"src_id", $"neighbor_id"))
        .dropDuplicates("src_id", "neighbor_id")
      val e = Tables.read(spark, dir, "embeddings")
        .select($"vec_id", $"embedding", vecNorm($"embedding").as("nrm"))
        .repartition(spark.sessionState.conf.numShufflePartitions, $"vec_id")
      def scoreEdges(p: DataFrame): DataFrame = p
        .join(e.select($"vec_id".as("src_id"), $"embedding".as("sv"), $"nrm".as("sn")),
          Seq("src_id"))
        .join(e.select($"vec_id".as("neighbor_id"), $"embedding".as("dv"), $"nrm".as("dn")),
          Seq("neighbor_id"))
        .select($"src_id", $"neighbor_id",
          round(dot($"sv", $"dv") / ($"sn" * $"dn"), 6).as("cos_sim"))
      val w = Window.partitionBy($"src_id").orderBy($"cos_sim".desc, $"neighbor_id")
      val ctop = scoreEdges(cpool)
        .withColumn("rn", row_number().over(w)).filter($"rn" <= degree)
        .select($"src_id", $"neighbor_id")
      val keep = churn.join(affected, Seq("src_id"), "left_anti")
      // cut before the overflow pass: `comp0` is referenced three
      // times below (over-budget scan, anti-join, prune score) — the
      // s40 lineage-cut lesson applies to the compaction's own output
      val comp0 = graft.operators.State.cut(keep
        .unionAll(ctop)
        .unionAll(ctop.select($"neighbor_id".as("src_id"), $"src_id".as("neighbor_id")))
        .dropDuplicates("src_id", "neighbor_id"))
      val over = comp0.groupBy($"src_id").agg(count(lit(1)).as("deg"))
        .filter($"deg" > 2L * degree).select($"src_id")
      val prunedOver = scoreEdges(comp0.join(over, Seq("src_id")))
        .withColumn("rn", row_number().over(w)).filter($"rn" <= 2 * degree)
        .select($"src_id", $"neighbor_id")
      comp0.join(over, Seq("src_id"), "left_anti")
        .unionAll(prunedOver)
        .repartition(spark.sessionState.conf.numShufflePartitions, $"src_id")
    }
  }

  /** s41: WALK-INDEX CHURN-COMPACTION audit — the registered proof
    * the lifecycle's last leg works: the 10 standard queries served
    * over the COMPACTED index (old-corpus entry centroids, live-only
    * entries — the s39/s40 deployment premises carried through),
    * recall@k against the exact top-k over the LIVE corpus, plus the
    * compaction's own footprint so the audit is visibly non-vacuous:
    * n_affected (the bounded re-refinement target set), max out-degree
    * before/after (the restored 2·degree budget is the headline — the
    * churned index violates it by contract), and the intra-batch edge
    * count (zero before compaction by s39's design; the NoN round
    * forms them). Specs pin the budget, the recall floor vs the
    * pre-compaction churned index, and the from-scratch bound. */
  def s41WalkCompact(spark: SparkSession, dir: String, k: Int = K,
                     degree: Int = 3, beam: Int = 4, rounds: Int = 3,
                     kc: Int = 8, iters: Int = 4): DataFrame = {
    import spark.implicits._
    require(1000000 % k == 0, s"k=$k must divide 1e6 for an exact recall_e6")
    val cents = oldCentroids(spark, dir, kc, iters)
    val cadj = walkCompactAdjacency(spark, dir, degree, kc, iters)
    val (_, topk) = graphWalkParts(spark, dir, cadj, cents, k, beam, rounds,
      live = !tombstoned($"vec_id"))
    // exact yardstick over the LIVE corpus (s40's shape)
    val e = Tables.read(spark, dir, "embeddings")
      .select($"vec_id", $"embedding", vecNorm($"embedding").as("nrm"))
    val queries = e.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"embedding".as("q"), $"nrm".as("qn"))
    val corpus = e.filter($"vec_id" >= 10 && !tombstoned($"vec_id"))
      .select($"vec_id".as("neighbor_id"), $"embedding".as("c"), $"nrm".as("cn"))
      .repartition(spark.sessionState.conf.numShufflePartitions)
    val wx = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"neighbor_id")
    val exact = corpus.join(broadcast(queries))
      .select($"query_id", $"neighbor_id",
        round(dot($"q", $"c") / ($"qn" * $"cn"), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(wx)).filter($"rank" <= k)
      .select($"query_id".as("eq"), $"neighbor_id".as("en"))
    val churn = cutAdj(s"s41_churn_cut:$dir:$degree:$kc:$iters",
      walkChurnAdjacency(spark, dir, degree, kc, iters))
    val isBatch = (c: Column) => pmod(c, lit(8)) === 7 && c >= 10
    // 1-row scalar footprints (the documented crossJoin convention)
    val stats = churnAffected(spark, dir, degree, kc, iters)
      .agg(count(lit(1)).as("n_affected"))
      .crossJoin(churn.groupBy($"src_id").agg(count(lit(1)).as("d"))
        .agg(max($"d").as("max_deg_before")))
      .crossJoin(cadj.groupBy($"src_id").agg(count(lit(1)).as("d"))
        .agg(max($"d").as("max_deg_after")))
      .crossJoin(cadj.filter(isBatch($"src_id") && isBatch($"neighbor_id"))
        .agg(count(lit(1)).as("n_intra_batch")))
    exact
      .join(topk.select($"query_id", $"neighbor_id"),
        $"eq" === $"query_id" && $"en" === $"neighbor_id", "left")
      .groupBy($"eq").agg(count($"neighbor_id").as("n_hits"))
      .select($"eq".as("query_id"), $"n_hits",
        ($"n_hits" * lit(1000000L / k)).as("recall_e6"))
      .crossJoin(stats)
  }

  /** s41 oracle: the s39 chain (old-half banding + refinement +
    * old-trained Lloyd's + attach → `madj`) composed with the s40
    * delete-consolidation CTEs OVER `madj` (→ `churn`), the compaction
    * CTEs (affected = overflow ∪ live batch; NoN pool; top-degree;
    * re-symmetrize; over-budget prune → `cadj`), one beam-4 walk with
    * live entry cells, the live-corpus exact yardstick, and the
    * footprint scalars. */
  def s41Sql: String = {
    val iters = 4
    val degree = 3
    val assignAll = (name: String, where: String, alias: String) =>
      s"""$name AS MATERIALIZED (
         |  SELECT vec_id$alias, cluster AS cell FROM (
         |    SELECT qa.vec_id, c.cluster, sum((qa.e - c.c)*(qa.e - c.c)) AS dist
         |    FROM qa JOIN c${iters - 1} c ON c.i = qa.i
         |    $where GROUP BY 1, 2
         |    QUALIFY row_number() OVER (PARTITION BY qa.vec_id ORDER BY dist, cluster) = 1))""".stripMargin
    def edgeScore(name: String, from: String): String =
      s"""$name AS (
         |  SELECT p.src_id, p.neighbor_id,
         |    round(sum(uq.v * uc.v ORDER BY uq.i) / (sqrt(sum(uq.v * uq.v ORDER BY uq.i)) * sqrt(sum(uc.v * uc.v ORDER BY uc.i))), 6) AS cos_sim
         |  FROM $from p
         |  JOIN u uq ON uq.vec_id = p.src_id
         |  JOIN u uc ON uc.vec_id = p.neighbor_id AND uc.i = uq.i
         |  GROUP BY 1, 2)""".stripMargin
    s"""WITH $s17Ctes,
       |ocand AS (
       |  SELECT DISTINCT ba.vec_id AS src_id, bb.vec_id AS neighbor_id
       |  FROM bands ba JOIN bands bb
       |    ON bb.band_idx = ba.band_idx AND bb.band_key = ba.band_key
       |  WHERE ba.vec_id <> bb.vec_id
       |    AND ba.vec_id % 8 <> 7 AND bb.vec_id % 8 <> 7),
       |${edgeScore("os", "ocand")},
       |os17r AS (
       |  SELECT src_id, neighbor_id, cos_sim,
       |    row_number() OVER (PARTITION BY src_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM os),
       |${s29RefCtesAt("o", degree, "os17r")},
       |oadj AS MATERIALIZED (
       |  SELECT src_id, neighbor_id FROM oref
       |  UNION SELECT neighbor_id AS src_id, src_id AS neighbor_id FROM oref),
       |${lloydCteParts(iters, "WHERE vec_id % 8 <> 7").mkString(",\n")},
       |qa AS (
       |  SELECT vec_id, i, CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS e
       |  FROM (SELECT vec_id, unnest(embedding) AS v,
       |               generate_subscripts(embedding, 1) AS i FROM embeddings)),
       |${assignAll("acells", "WHERE qa.vec_id >= 10", "")},
       |gcells AS MATERIALIZED (
       |  SELECT vec_id, cell FROM acells WHERE vec_id % 8 <> 3),
       |${assignAll("gprobes", "WHERE qa.vec_id < 10", " AS query_id")},
       |${assignAll("bassign", "WHERE qa.vec_id % 8 = 7 AND qa.vec_id >= 10", " AS src_id")},
       |bc AS (
       |  SELECT b.src_id, m.vec_id AS neighbor_id
       |  FROM bassign b JOIN acells m ON m.cell = b.cell
       |  WHERE m.vec_id % 8 <> 7),
       |bpool AS MATERIALIZED (
       |  SELECT DISTINCT c.src_id, oa.neighbor_id
       |  FROM bc c JOIN oadj oa ON oa.src_id = c.neighbor_id
       |  WHERE oa.neighbor_id >= 10
       |  UNION SELECT src_id, neighbor_id FROM bc),
       |${edgeScore("bsc", "bpool")},
       |bref AS MATERIALIZED (
       |  SELECT src_id, neighbor_id FROM (
       |    SELECT src_id, neighbor_id,
       |      row_number() OVER (PARTITION BY src_id ORDER BY cos_sim DESC, neighbor_id) AS rn
       |    FROM bsc) WHERE rn <= $degree),
       |madj AS MATERIALIZED (
       |  SELECT src_id, neighbor_id FROM oadj
       |  UNION SELECT src_id, neighbor_id FROM bref
       |  UNION SELECT neighbor_id AS src_id, src_id AS neighbor_id FROM bref),
       |maff AS MATERIALIZED (
       |  SELECT DISTINCT src_id FROM madj
       |  WHERE neighbor_id % 8 = 3 AND src_id % 8 <> 3),
       |msurv AS (
       |  SELECT a.src_id, a.neighbor_id FROM madj a
       |  JOIN maff ON maff.src_id = a.src_id
       |  WHERE a.neighbor_id % 8 <> 3),
       |mbridge AS (
       |  SELECT DISTINCT a1.src_id, a2.neighbor_id
       |  FROM madj a1 JOIN madj a2 ON a2.src_id = a1.neighbor_id
       |  WHERE a1.neighbor_id % 8 = 3 AND a1.src_id % 8 <> 3
       |    AND a2.neighbor_id % 8 <> 3 AND a2.neighbor_id <> a1.src_id),
       |mrpool AS MATERIALIZED (
       |  SELECT src_id, neighbor_id FROM msurv
       |  UNION SELECT src_id, neighbor_id FROM mbridge),
       |${edgeScore("mrsc", "mrpool")},
       |mrtop AS (
       |  SELECT src_id, neighbor_id FROM (
       |    SELECT src_id, neighbor_id,
       |      row_number() OVER (PARTITION BY src_id ORDER BY cos_sim DESC, neighbor_id) AS rn
       |    FROM mrsc) WHERE rn <= $degree),
       |mkeep AS (
       |  SELECT a.src_id, a.neighbor_id FROM madj a
       |  WHERE a.src_id % 8 <> 3 AND a.neighbor_id % 8 <> 3
       |    AND a.src_id NOT IN (SELECT src_id FROM maff)),
       |mf0 AS (
       |  SELECT src_id, neighbor_id FROM mkeep
       |  UNION SELECT src_id, neighbor_id FROM mrtop),
       |churn AS MATERIALIZED (
       |  SELECT src_id, neighbor_id FROM mf0
       |  UNION SELECT neighbor_id AS src_id, src_id AS neighbor_id FROM mf0),
       |cdeg AS MATERIALIZED (
       |  SELECT src_id, count(*) AS deg FROM churn GROUP BY 1),
       |affected AS MATERIALIZED (
       |  SELECT src_id FROM cdeg WHERE deg > ${2 * degree}
       |  UNION
       |  SELECT DISTINCT src_id FROM churn
       |  WHERE src_id % 8 = 7 AND src_id >= 10),
       |ccur AS (
       |  SELECT c.src_id, c.neighbor_id FROM churn c
       |  JOIN affected f ON f.src_id = c.src_id),
       |cpool AS MATERIALIZED (
       |  SELECT DISTINCT a.src_id, b.neighbor_id
       |  FROM ccur a JOIN churn b ON b.src_id = a.neighbor_id
       |  WHERE a.src_id <> b.neighbor_id
       |  UNION SELECT src_id, neighbor_id FROM ccur),
       |${edgeScore("csc", "cpool")},
       |ctop AS MATERIALIZED (
       |  SELECT src_id, neighbor_id FROM (
       |    SELECT src_id, neighbor_id,
       |      row_number() OVER (PARTITION BY src_id ORDER BY cos_sim DESC, neighbor_id) AS rn
       |    FROM csc) WHERE rn <= $degree),
       |comp0 AS MATERIALIZED (
       |  SELECT src_id, neighbor_id FROM (
       |    SELECT c.src_id, c.neighbor_id FROM churn c
       |    WHERE c.src_id NOT IN (SELECT src_id FROM affected)
       |    UNION SELECT src_id, neighbor_id FROM ctop
       |    UNION SELECT neighbor_id AS src_id, src_id AS neighbor_id FROM ctop)),
       |cover AS MATERIALIZED (
       |  SELECT src_id FROM (
       |    SELECT src_id, count(*) AS deg FROM comp0 GROUP BY 1)
       |  WHERE deg > ${2 * degree}),
       |ovpool AS (
       |  SELECT c.src_id, c.neighbor_id FROM comp0 c
       |  JOIN cover o ON o.src_id = c.src_id),
       |${edgeScore("ovsc", "ovpool")},
       |ovprune AS (
       |  SELECT src_id, neighbor_id FROM (
       |    SELECT src_id, neighbor_id,
       |      row_number() OVER (PARTITION BY src_id ORDER BY cos_sim DESC, neighbor_id) AS rn
       |    FROM ovsc) WHERE rn <= ${2 * degree}),
       |cadj AS MATERIALIZED (
       |  SELECT c.src_id, c.neighbor_id FROM comp0 c
       |  WHERE c.src_id NOT IN (SELECT src_id FROM cover)
       |  UNION ALL SELECT src_id, neighbor_id FROM ovprune),
       |${walkCtes("", 4, 3, "cadj")},
       |ex AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |    FROM (
       |      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |        round(sum(q.v * c.v ORDER BY q.i) / (sqrt(sum(q.v * q.v ORDER BY q.i)) * sqrt(sum(c.v * c.v ORDER BY c.i))), 6) AS cos_sim
       |      FROM u q JOIN u c ON q.i = c.i
       |        AND q.vec_id < 10 AND c.vec_id >= 10 AND c.vec_id % 8 <> 3
       |      GROUP BY 1, 2)) WHERE rank <= $K)
       |SELECT ex.query_id, count(tk.neighbor_id) AS n_hits,
       |  CAST(count(tk.neighbor_id) * ${1000000L / K} AS BIGINT) AS recall_e6,
       |  (SELECT count(*) FROM affected) AS n_affected,
       |  (SELECT max(deg) FROM cdeg) AS max_deg_before,
       |  (SELECT max(deg) FROM (SELECT src_id, count(*) AS deg FROM cadj GROUP BY 1)) AS max_deg_after,
       |  (SELECT count(*) FROM cadj
       |   WHERE src_id % 8 = 7 AND src_id >= 10
       |     AND neighbor_id % 8 = 7 AND neighbor_id >= 10) AS n_intra_batch
       |FROM ex LEFT JOIN (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |    FROM gfin) WHERE rank <= $K) tk
       |  ON tk.query_id = ex.query_id AND tk.neighbor_id = ex.neighbor_id
       |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin
  }

  // ---- s42: refinement-depth audit -----------------------------------

  /** s42: REFINE-DEPTH audit — the graph tier's THIRD dial priced at
    * the serving level, s29-style (s29 measures what one NN-descent
    * round buys in EDGE containment; this measures what a SECOND
    * round buys in SERVED recall, which is what a deployment actually
    * ships). Motivated by the measured sf0.1 ceiling: d16×b16 walks
    * CONVERGE at 0.74 on the 1-round graph — more beam or rounds buy
    * nothing — while the 2-round graph serves 0.86 at identical index
    * bytes. One row per query: hits/recall served over the 1-round
    * vs the 2-round degree-16 graph at the registered beam-4 serving
    * shape, plus both edge counts so the build delta is visible.
    *
    * The audit is honest in BOTH directions: at tiny corpora the
    * 2-round graph can serve WORSE (measured sf0.001 b4: 31 → 24
    * total hits) — NN-descent purges the banding's "wrong" edges, but
    * those edges were long-range shortcuts that aided navigation on a
    * 500-vector graph (the small-world effect HNSW engineers
    * deliberately; a pure kNN graph is poorly navigable). The dial
    * pays off exactly where it matters — when the corpus outgrows the
    * walk's reach (the sf0.1 ladder above) — and the registered audit
    * row PRICES the trade instead of assuming it.
    *
    * Shape: both adjacencies are memoized build artifacts (round 2
    * re-expands round 1's edges — work ∝ edges × (2d)², build cost,
    * paid once); the two walks ride the SAME memoized entry frames,
    * store and query checkpoint; the audit adds two query-set-sized
    * left joins. Oracle: the s17 prelude + round-1 chain + round-2
    * chain composed FROM round 1 (`s29RefCtesFrom`), two symmetrized
    * adjacencies, two walk chains, the exact yardstick. */
  def s42RefineAudit(spark: SparkSession, dir: String, k: Int = K,
                     degree: Int = 16, beam: Int = 4, rounds: Int = 3,
                     refineRounds: Int = 2): DataFrame = {
    import spark.implicits._
    require(1000000 % k == 0, s"k=$k must divide 1e6 for an exact recall_e6")
    val cents = lloydCentroids(spark, dir)
    // the two servings (1-round vs 2-round graph) are independent —
    // build both adjacencies and walk both in overlapped driver
    // threads (the a2 build's NN-descent and a1's walk share no state
    // beyond latch-guarded memos)
    val Seq(t1, t2) = graft.operators.Overlap.map(Seq(1, refineRounds)) { rr =>
      val a = walkAdjacency(spark, dir, degree, rr)
      graphWalkParts(spark, dir, a, cents, k, beam, rounds)._2
    }
    val a1 = walkAdjacency(spark, dir, degree)
    val a2 = walkAdjacency(spark, dir, degree, refineRounds)
    val exact = s1Brute(spark, dir, k)
      .select($"query_id".as("eq"), $"neighbor_id".as("en"))
    val edges = a1.agg(count(lit(1)).as("n_edges_r1"))
      .crossJoin(a2.agg(count(lit(1)).as("n_edges_r2")))
    exact
      .join(t1.select($"query_id".as("q1"), $"neighbor_id".as("n1")),
        $"eq" === $"q1" && $"en" === $"n1", "left")
      .join(t2.select($"query_id".as("q2"), $"neighbor_id".as("n2")),
        $"eq" === $"q2" && $"en" === $"n2", "left")
      .groupBy($"eq")
      .agg(count($"n1").as("n_hits_r1"), count($"n2").as("n_hits_r2"))
      .select($"eq".as("query_id"), $"n_hits_r1", $"n_hits_r2",
        ($"n_hits_r1" * lit(1000000L / k)).as("recall_r1_e6"),
        ($"n_hits_r2" * lit(1000000L / k)).as("recall_r2_e6"))
      .crossJoin(edges)
  }

  /** s42 oracle: shared s17 prelude + the d16 round-1 chain + the
    * round-2 chain composed FROM round 1 + both adjacencies + two
    * beam-4 walks + the exact yardstick, one row per query. */
  def s42Sql: String = {
    val degree = 16
    s"""WITH $s17Ctes,
       |${s29RefCtesAt("d16", degree)},
       |${s29RefCtesFrom("e16", degree, "SELECT src_id, neighbor_id FROM d16ref")},
       |r1adj AS MATERIALIZED (
       |  SELECT src_id, neighbor_id FROM d16ref
       |  UNION SELECT neighbor_id AS src_id, src_id AS neighbor_id FROM d16ref),
       |r2adj AS MATERIALIZED (
       |  SELECT src_id, neighbor_id FROM e16ref
       |  UNION SELECT neighbor_id AS src_id, src_id AS neighbor_id FROM e16ref),
       |${walkEntryCtes()},
       |${walkCtes("wa", 4, 3, "r1adj")},
       |${walkCtes("wb", 4, 3, "r2adj")},
       |ex AS MATERIALIZED (SELECT query_id, neighbor_id FROM ($s1Sql)),
       |tk1 AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |    FROM wagfin) WHERE rank <= $K),
       |tk2 AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |    FROM wbgfin) WHERE rank <= $K)
       |SELECT ex.query_id,
       |  count(tk1.neighbor_id) AS n_hits_r1,
       |  count(tk2.neighbor_id) AS n_hits_r2,
       |  CAST(count(tk1.neighbor_id) * ${1000000L / K} AS BIGINT) AS recall_r1_e6,
       |  CAST(count(tk2.neighbor_id) * ${1000000L / K} AS BIGINT) AS recall_r2_e6,
       |  (SELECT count(*) FROM r1adj) AS n_edges_r1,
       |  (SELECT count(*) FROM r2adj) AS n_edges_r2
       |FROM ex
       |LEFT JOIN tk1 ON tk1.query_id = ex.query_id AND tk1.neighbor_id = ex.neighbor_id
       |LEFT JOIN tk2 ON tk2.query_id = ex.query_id AND tk2.neighbor_id = ex.neighbor_id
       |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin
  }

  /** s18: HARD-NEGATIVE mining — for each query vector, the k corpus
    * neighbors with the HIGHEST cosine but a DIFFERENT label: the
    * contrastive-training staple (CLIP/SimCLR/DPR batches are only as
    * good as their hard negatives — random negatives are trivially
    * separable; the informative ones are the near-misses this emits).
    * The mirror image of s16's filtered ANN: s16 keeps same-label
    * neighbors, s18 keeps the best-scoring WRONG-label ones.
    *
    * Shape: s1's exact broadcast-queries contract (10 queries ride a
    * broadcast hash; the corpus streams through, never shuffles), the
    * label INEQUALITY applied as a cheap post-dot filter — an
    * anti-predicate has no equi-key to ride, so the deliberate
    * BNLJ-over-broadcast-queries shape is exactly right (the
    * s1/s5-whitelisted plan); per-query top-k is one window over the
    * query key. At scale the bucketed variant drops in as for s2 —
    * the negative filter only thins buckets (never empties them,
    * unlike s16's equality: every OTHER label qualifies). */
  def s18HardNegatives(spark: SparkSession, dir: String, k: Int = K): DataFrame = {
    import spark.implicits._
    val e = Tables.read(spark, dir, "embeddings")
      .select($"vec_id", $"label", $"embedding", vecNorm($"embedding").as("nrm"))
    val queries = e.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"label".as("q_label"),
        $"embedding".as("q"), $"nrm".as("qn"))
    val corpus = e.filter($"vec_id" >= 10)
      .select($"vec_id".as("neighbor_id"), $"label".as("n_label"),
        $"embedding".as("c"), $"nrm".as("cn"))
      .repartition(spark.sessionState.conf.numShufflePartitions)
    val w = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"neighbor_id")
    corpus.join(broadcast(queries))
      .filter($"n_label" =!= $"q_label")
      .select($"query_id", $"q_label", $"neighbor_id", $"n_label",
        round(dot($"q", $"c") / ($"qn" * $"cn"), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
  }

  /** s18 oracle: s1's pairing chain with the label inequality. */
  val s18Sql: String =
    """WITH u AS (
      |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
      |         generate_subscripts(embedding, 1) AS i
      |  FROM embeddings),
      |lb AS (SELECT vec_id, label FROM embeddings),
      |s AS (
      |  SELECT q.vec_id AS query_id, lq.label AS q_label,
      |    c.vec_id AS neighbor_id, lc.label AS n_label,
      |    round(sum(q.v * c.v ORDER BY q.i) / (sqrt(sum(q.v * q.v ORDER BY q.i)) * sqrt(sum(c.v * c.v ORDER BY c.i))), 6) AS cos_sim
      |  FROM u q JOIN u c ON q.i = c.i AND q.vec_id < 10 AND c.vec_id >= 10
      |  JOIN lb lq ON lq.vec_id = q.vec_id
      |  JOIN lb lc ON lc.vec_id = c.vec_id AND lc.label <> lq.label
      |  GROUP BY 1, 2, 3, 4),
      |r AS (
      |  SELECT query_id, q_label, neighbor_id, n_label, cos_sim,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
      |  FROM s)
      |SELECT query_id, q_label, neighbor_id, n_label, cos_sim, rank FROM r
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** s19: IVF PROBE-COUNT sweep — recall AND scan cost of s8's index
    * at nprobe = 1..4, in one query: the d14-for-IVF (d14 prices LSH
    * re-banding; this prices the other index family's one tuning
    * dial). Each row is (nprobe, n_cands, hits, recall_e6): the
    * candidate count IS the scan fraction the deployment pays, recall
    * is against s1's exact top-k — the curve a team reads before
    * pinning nprobe in production.
    *
    * Shape: the sweep does NOT run s8 four times. Probes are ranked
    * ONCE (kc literal distances per query, metadata-sized), the
    * corpus joins the ≤maxProbe probe set ONCE through the broadcast
    * equi-join on the cell id (a neighbor lives in exactly one cell,
    * so each (query, neighbor) candidate carries exactly one
    * probe_rank), cosines are computed once — and the four
    * configurations are four windows over that one shared candidate
    * frame (candidate-sized, never corpus-sized). Adding a probe only
    * ADDS candidates, so recall is monotone in nprobe by
    * construction; the sweep shows where it saturates. */
  def s19ProbeSweep(spark: SparkSession, dir: String, k: Int = K,
                    kc: Int = 8, iters: Int = 4, maxProbe: Int = 4): DataFrame = {
    import spark.implicits._
    import graft.functions.VectorFunctions.quantizeE6
    require(1000000 % k == 0)
    val cents = lloydCentroids(spark, dir, kc, iters)
    val e = Tables.read(spark, dir, "embeddings")
      .repartition(spark.sessionState.conf.numShufflePartitions, $"vec_id")
      .select($"vec_id", $"embedding", vecNorm($"embedding").as("nrm"),
        quantizeE6($"embedding").as("el"))
    val corpus = assignCells(spark, e.filter($"vec_id" >= 10), cents)
      .select($"vec_id".as("neighbor_id"), $"embedding".as("c"), $"nrm".as("cn"),
        $"cluster".as("cell"))
    val cellDists = cents.map { case (cid, arr) =>
      struct(
        aggregate(zip_with($"el", lit(arr), (a, b) => (a - b) * (a - b)),
          lit(0L), _ + _).as("cdist"),
        lit(cid.toLong).as("cell"))
    }
    val probes = e.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"embedding".as("q"), $"nrm".as("qn"),
        posexplode(slice(array_sort(array(cellDists: _*)), 1, maxProbe))
          .as(Seq("pr0", "probe")))
      .select($"query_id", $"q", $"qn", ($"pr0" + 1).as("probe_rank"),
        $"probe.cell".as("cell"))
    val cand = corpus.join(broadcast(probes), Seq("cell"))
      .select($"query_id", $"neighbor_id", $"probe_rank",
        round(dot($"q", $"c") / ($"qn" * $"cn"), 6).as("cos_sim"))
    val candP = graft.operators.Indexes.memo(s"s19_cand:$dir:$kc:$iters:$maxProbe")(cand)
    // queries×k rows, referenced by all four sweep configs — memoized
    // so the exact side's corpus pass runs once, not once per config
    val exact = graft.operators.Indexes.memo(s"s19_exact:$dir:$k") {
      s1Brute(spark, dir, k)
        .select($"query_id".as("qx"), $"neighbor_id".as("nx"))
    }
    val rows = (1 to maxProbe).map { p =>
      val w = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"neighbor_id")
      val sub = candP.filter($"probe_rank" <= p)
      val top = sub
        .withColumn("rank", row_number().over(w))
        .filter($"rank" <= k)
      val hits = top.join(exact,
          $"query_id" === $"qx" && $"neighbor_id" === $"nx", "left_semi")
        .agg(count(lit(1)).as("hits"))
      sub.agg(count(lit(1)).as("n_cands")).crossJoin(hits)
        .select(lit(p).as("nprobe"), $"n_cands", $"hits",
          halfUpDiv($"hits" * 1000000L, lit(10L * k)).as("recall_e6"))
    }
    rows.reduce(_ unionAll _).orderBy("nprobe")
  }

  /** s19 oracle: the shared Lloyd's CTEs + ranked probes computed
    * ONCE, four filtered rank/recall blocks over the one candidate
    * frame (mirroring the Spark plan's shared-candidate shape). */
  val s19Sql: String = {
    val iters = 4
    val perP = (1 to 4).map { p =>
      s"""SELECT $p AS nprobe,
         |  (SELECT count(*) FROM cand WHERE probe_rank <= $p) AS n_cands,
         |  (SELECT count(*) FROM (
         |     SELECT query_id, neighbor_id FROM (
         |       SELECT query_id, neighbor_id,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
         |       FROM cs WHERE probe_rank <= $p) WHERE rank <= 5) t
         |   JOIN ex ON ex.query_id = t.query_id AND ex.neighbor_id = t.neighbor_id) AS hits""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${lloydCteParts(iters).mkString(",\n")},
       |cells AS (
       |  SELECT vec_id, cluster AS cell FROM (
       |    SELECT q.vec_id, c.cluster, sum((q.e - c.c)*(q.e - c.c)) AS dist
       |    FROM q JOIN c${iters - 1} c ON c.i = q.i
       |    WHERE q.vec_id >= 10 GROUP BY 1, 2
       |    QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY dist, cluster) = 1)),
       |pr AS (
       |  SELECT vec_id AS query_id, cluster AS cell, rn AS probe_rank FROM (
       |    SELECT q.vec_id, c.cluster, sum((q.e - c.c)*(q.e - c.c)) AS dist,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY sum((q.e - c.c)*(q.e - c.c)), c.cluster) AS rn
       |    FROM q JOIN c${iters - 1} c ON c.i = q.i
       |    WHERE q.vec_id < 10 GROUP BY 1, 2) WHERE rn <= 4),
       |cand AS (
       |  SELECT p.query_id, cl.vec_id AS neighbor_id, p.probe_rank
       |  FROM pr p JOIN cells cl ON cl.cell = p.cell),
       |u AS (
       |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
       |         generate_subscripts(embedding, 1) AS i
       |  FROM embeddings),
       |cs AS (
       |  SELECT cd.query_id, cd.neighbor_id, cd.probe_rank,
       |    round(sum(qq.v * cc.v ORDER BY qq.i) / (sqrt(sum(qq.v * qq.v ORDER BY qq.i)) * sqrt(sum(cc.v * cc.v ORDER BY cc.i))), 6) AS cos_sim
       |  FROM cand cd
       |  JOIN u qq ON qq.vec_id = cd.query_id
       |  JOIN u cc ON cc.vec_id = cd.neighbor_id AND cc.i = qq.i
       |  GROUP BY 1, 2, 3),
       |ex AS (SELECT query_id, neighbor_id FROM ($s1Sql)),
       |sw AS ($perP)
       |SELECT nprobe, CAST(n_cands AS BIGINT) AS n_cands,
       |  CAST(hits AS BIGINT) AS hits,
       |  CAST((2 * hits * 1000000 + 50) // (2 * 50) AS BIGINT) AS recall_e6
       |FROM sw ORDER BY nprobe""".stripMargin
  }

  /** s23: DELETE maintenance for the IVF index — s15's twin on the
    * other side of the ledger. A tombstone batch (GDPR erasure,
    * licence takedown, recalled shard — here vec_id ≡ 3 mod 8)
    * retires from the standing index WITHOUT retraining: per cell,
    * survivors = members minus tombstones, plus the ×1e6 deletion
    * share — the signal that decides when a cell has hollowed out
    * enough that the s22 balance audit should trigger a re-train.
    *
    * Scale shape: centroids come from the SHARED training cache (s3 /
    * s8's index — deletion never re-runs Lloyd's); the audit is one
    * pass over the assigned corpus with a map-side-combined rollup to
    * k rows. At 100 TB the tombstone list is a broadcast (or
    * partition-local semi-join against bucketed posting lists) — the
    * corpus is scanned once, never shuffled. KnnSpec pins the search
    * contract: a post-delete query never returns a tombstone and
    * ranks survivors exactly as a from-scratch index would. */
  def s23AnnDelete(spark: SparkSession, dir: String, kc: Int = 8,
                   iters: Int = 4): DataFrame = {
    import spark.implicits._
    val q = quantized(spark, dir)
    val cents = lloydCentroids(spark, dir, kc, iters)
    assignCells(spark, q, cents)
      .groupBy($"cluster")
      .agg(count(lit(1)).as("n_before"),
        sum(when(pmod($"vec_id", lit(8)) === 3, 1L).otherwise(0L)).as("n_deleted"))
      .select($"cluster".as("cell"), $"n_before", $"n_deleted",
        ($"n_before" - $"n_deleted").as("n_after"),
        halfUpDiv($"n_deleted" * 1000000L, $"n_before").as("del_share_e6"))
      .orderBy("cell")
  }

  /** s24: OOD / outlier flags — vectors whose distance to their own
    * centroid exceeds the corpus p99 (exact percentile_disc over the
    * distance histogram): the geometric-outlier filter a curation
    * pipeline runs before training (mislabeled shards, corrupted
    * embeddings, genuine novelty all surface here), and the per-cell
    * concentration of those outliers — OOD piling into ONE cell means
    * that region of the space is under-clustered (s22's re-train
    * signal from the other direction).
    *
    * Scale shape: one corpus pass through the shared nearest-centroid
    * kernel, checkpointed (2-column, narrow) because BOTH the fence
    * histogram and the per-cell rollup consume it; the fence is an
    * exact disc percentile over the value-bounded distance histogram
    * (q25's histogram-first convention) riding a 1-row broadcast. */
  def s24OodFlags(spark: SparkSession, dir: String, kc: Int = 8,
                  iters: Int = 4): DataFrame = {
    import spark.implicits._
    val q = quantized(spark, dir)
    val cents = lloydCentroids(spark, dir, kc, iters)
    val assigned = graft.operators.State.cut(assignCells(spark, q, cents)
      .select($"cluster", floor(sqrt($"dist".cast("double"))).cast("long").as("dist_e6")))
    val hist = assigned.groupBy($"dist_e6").agg(count(lit(1)).as("cnt"))
    val cum = Window.orderBy($"dist_e6").rowsBetween(Window.unboundedPreceding, 0)
    val tot = hist.agg(sum($"cnt").as("n"))
    val fence = hist
      .withColumn("cum", sum($"cnt").over(cum))
      .crossJoin(broadcast(tot))
      .agg(min(when($"cum" >= expr("(99 * n + 99) DIV 100"), $"dist_e6"))
        .as("fence_e6"))
    assigned.crossJoin(broadcast(fence))
      .groupBy($"cluster")
      .agg(count(lit(1)).as("n_vectors"),
        sum(when($"dist_e6" > $"fence_e6", 1L).otherwise(0L)).as("n_ood"),
        max($"fence_e6").as("fence_e6"))
      .select($"cluster".as("cell"), $"n_vectors", $"n_ood",
        halfUpDiv($"n_ood" * 1000000L, $"n_vectors").as("ood_share_e6"),
        $"fence_e6")
      .orderBy("cell")
  }

  /** s24 oracle: Lloyd's chain + assignment with distance, the disc
    * p99 over the distance histogram, per-cell rollup. */
  val s24Sql: String = {
    val iters = 4
    val parts = lloydCteParts(iters) :+ lloydAssignCteSql(iters, withDist = true) :+
      s"""ad AS (
         |  SELECT cluster, CAST(floor(sqrt(CAST(dist AS DOUBLE))) AS BIGINT) AS dist_e6
         |  FROM a$iters)""".stripMargin :+
      """fh AS (
        |  SELECT dist_e6, count(*) AS cnt,
        |    sum(count(*)) OVER (ORDER BY dist_e6) AS cum,
        |    sum(count(*)) OVER () AS n
        |  FROM ad GROUP BY dist_e6)""".stripMargin :+
      """fence AS (
        |  SELECT min(CASE WHEN cum >= (99 * n + 99) // 100 THEN dist_e6 END) AS fence_e6
        |  FROM fh)""".stripMargin
    s"""WITH ${parts.mkString(",\n")}
       |SELECT ad.cluster AS cell, count(*) AS n_vectors,
       |  CAST(sum(CASE WHEN ad.dist_e6 > f.fence_e6 THEN 1 ELSE 0 END) AS BIGINT) AS n_ood,
       |  CAST(${halfUpSql("sum(CASE WHEN ad.dist_e6 > f.fence_e6 THEN 1 ELSE 0 END) * 1000000", "count(*)")} AS BIGINT) AS ood_share_e6,
       |  CAST(max(f.fence_e6) AS BIGINT) AS fence_e6
       |FROM ad, fence f GROUP BY ad.cluster ORDER BY cell""".stripMargin
  }

  /** s23 oracle: the shared Lloyd's chain + final assignment, rolled
    * up with the tombstone predicate. */
  val s23Sql: String = {
    val iters = 4
    val parts = lloydCteParts(iters) :+ lloydAssignCteSql(iters, withDist = false)
    s"""WITH ${parts.mkString(",\n")}
       |SELECT cluster AS cell, count(*) AS n_before,
       |  CAST(sum(CASE WHEN vec_id % 8 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
       |  CAST(count(*) - sum(CASE WHEN vec_id % 8 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_after,
       |  CAST(${halfUpSql("sum(CASE WHEN vec_id % 8 = 3 THEN 1 ELSE 0 END) * 1000000", "count(*)")} AS BIGINT) AS del_share_e6
       |FROM a$iters GROUP BY cluster ORDER BY cell""".stripMargin
  }

  /** s25: CENTROID-DRIFT / index-staleness audit — run ONE more
    * Lloyd's update past the standing s8 index's training and measure
    * how far each centroid would still move (exact integer L2 in the
    * ×1e6 grid): near-zero drift = the index is converged and fresh;
    * large drift in a populated cell = the corpus has shifted under
    * the index (s15's inserts / s23's deletes accumulating) and s22's
    * balance numbers are about to degrade — the RE-TRAIN trigger,
    * measured rather than scheduled. Completes the IVF lifecycle:
    * s8 searches, s9 recall, s19 nprobe, s22 balance, s23 deletes,
    * s25 says when to rebuild.
    *
    * Scale shape: centroids come from the SHARED session training
    * cache (never re-runs Lloyd's); the audit is ONE corpus pass
    * through the codegen'd nearest-centroid kernel + a map-side-
    * combined k×(Dim+1)-cell rollup; the update/diff arithmetic is
    * k×Dim longs on the driver — the same documented tiny-collect
    * boundary as the trainer itself ([[lloydLoop]]). */
  def s25CentroidDrift(spark: SparkSession, dir: String, kc: Int = 8,
                       iters: Int = 4): DataFrame = {
    import spark.implicits._
    val q = quantized(spark, dir)
    val cents = lloydCentroids(spark, dir, kc, iters).toMap
    val aggCols = count(lit(1)).as("n") +:
      (0 until Dim).map(i => sum(element_at($"el", i + 1)).as(s"s$i"))
    val rows = assignCells(spark, q, cents.toSeq.sortBy(_._1))
      .groupBy($"cluster")
      .agg(aggCols.head, aggCols.tail: _*).collect()
    val out = rows.map { r =>
      val cl = r.getLong(0)
      val n = r.getLong(1)
      val old = cents(cl.toInt)
      val driftSq = (0 until Dim).map { i =>
        val d = halfUpDivL(r.getLong(i + 2), n) - old(i)
        d * d
      }.sum
      (cl, n, driftSq, math.floor(math.sqrt(driftSq.toDouble)).toLong)
    }.toSeq
    out.toDF("cell", "n_vectors", "drift_sq", "drift_e6").orderBy("cell")
  }

  /** s25 oracle: the Lloyd's chain extended one update round — c3 is
    * the standing index, c4 the would-be retrain; drift is their
    * exact per-cell squared distance. */
  val s25Sql: String = {
    val iters = 4 // standing index depth; the chain below adds round 5
    val parts = lloydCteParts(iters + 1)
    s"""WITH ${parts.mkString(",\n")},
       |nv AS (SELECT cluster, count(*) AS n_vectors FROM a$iters GROUP BY 1),
       |dr AS (
       |  SELECT n.cluster, sum((n.c - o.c) * (n.c - o.c)) AS drift_sq
       |  FROM c$iters n JOIN c${iters - 1} o
       |    ON o.cluster = n.cluster AND o.i = n.i
       |  GROUP BY 1)
       |SELECT dr.cluster AS cell, nv.n_vectors,
       |  CAST(dr.drift_sq AS BIGINT) AS drift_sq,
       |  CAST(floor(sqrt(CAST(dr.drift_sq AS DOUBLE))) AS BIGINT) AS drift_e6
       |FROM dr JOIN nv ON nv.cluster = dr.cluster
       |ORDER BY cell""".stripMargin
  }

  /** s26: per-DIMENSION variance screen of the embedding space — for
    * each coordinate: mean ×1e6, exact population variance in the
    * (×1e6)² grid, and share ×1e6 of the summed per-dim variance.
    * This is the embedding HEALTH check run before committing to an
    * index family: a front-loaded variance profile is the empirical
    * licence for s14's Matryoshka truncation depth (cut where the
    * cumulative share flattens), near-zero-variance dims are dead
    * weight PQ subspaces (s10) and prime OPQ-rotation candidates,
    * and a mean far off 0 says the corpus needs centering before
    * hyperplane LSH (s2's hyperplanes assume origin-centered data).
    *
    * Exactness: same co-moment form as q35 — n·Σv² − (Σv)² staged
    * through DECIMAL(38,0)/HUGEINT on the ×1e6-quantized grid, so
    * var_e12 = cvv DIV n² is bit-identical cross-engine (float
    * var_pop() depends on summation order). The share is defined
    * over the per-dim var_e12 longs (all dims share the same n, so
    * this is cvv-proportional) with the product staged back through
    * DECIMAL — Dim·1e12·1e6 passes 2⁶³ at 64 dims.
    *
    * Scale shape: ONE pass over the shared quantized memo (posexplode
    * → map-side-combined Dim-sized rollup); everything after is
    * arithmetic on a 64-row frame with a 1-row broadcast total. */
  def s26DimVariance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d38 = "decimal(38,0)"
    val dims = quantized(spark, dir)
      .select(posexplode($"el").as(Seq("dim", "v")))
      .groupBy($"dim".cast("long").as("dim"))
      .agg(count(lit(1)).cast(d38).as("n"),
        sum($"v".cast(d38)).as("sv"),
        sum(($"v".cast(d38)) * $"v").as("svv"))
      .withColumn("cvv", expr("n * svv - sv * sv"))
      .select($"dim", $"n".cast("long").as("n_vectors"),
        expr("""CAST(CASE WHEN sv >= 0 THEN (2 * sv + n) DIV (2 * n)
               |  ELSE -((2 * (-sv) + n) DIV (2 * n)) END AS BIGINT)""".stripMargin)
          .as("mean_e6"),
        expr("CAST(cvv DIV (n * n) AS BIGINT)").as("var_e12"))
    val tot = dims.agg(sum($"var_e12").as("tv"))
    dims.crossJoin(broadcast(tot))
      .select($"dim", $"n_vectors", $"mean_e6", $"var_e12",
        expr("""CAST((2 * (CAST(var_e12 AS DECIMAL(38,0)) * 1000000) + tv)
               |  DIV (2 * CAST(tv AS DECIMAL(38,0))) AS BIGINT)""".stripMargin)
          .as("var_share_e6"))
      .orderBy("dim")
  }

  /** s26 oracle: the same quantized-grid co-moment chain on HUGEINT. */
  val s26Sql: String =
    """WITH u AS (
      |  SELECT CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS v,
      |         generate_subscripts(embedding, 1) - 1 AS dim
      |  FROM embeddings),
      |a AS (
      |  SELECT dim, CAST(count(*) AS HUGEINT) AS n, CAST(sum(v) AS HUGEINT) AS sv,
      |    sum(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS svv
      |  FROM u GROUP BY 1),
      |c AS (
      |  SELECT dim, n, sv, n * svv - sv * sv AS cvv FROM a),
      |d AS (
      |  SELECT dim, CAST(n AS BIGINT) AS n_vectors,
      |    CAST(CASE WHEN sv >= 0 THEN (2 * sv + n) // (2 * n)
      |      ELSE -((2 * (-sv) + n) // (2 * n)) END AS BIGINT) AS mean_e6,
      |    CAST(cvv // (n * n) AS BIGINT) AS var_e12
      |  FROM c),
      |t AS (SELECT CAST(sum(var_e12) AS HUGEINT) AS tv FROM d)
      |SELECT CAST(d.dim AS BIGINT) AS dim, d.n_vectors, d.mean_e6, d.var_e12,
      |  CAST((2 * (CAST(d.var_e12 AS HUGEINT) * 1000000) + t.tv)
      |       // (2 * t.tv) AS BIGINT) AS var_share_e6
      |FROM d, t ORDER BY dim""".stripMargin

  /** s27: CORESET selection by farthest-first traversal — Gonzalez's
    * (1985) 2-approximation to k-center: seed at the min vec_id, then
    * k−1 times pick the point FARTHEST from everything selected (max
    * of min-distance², ties to the smallest id) and fold it into the
    * min-distance state. The output is the selection trace plus the
    * final covering radius — the DIVERSITY sampler a curation pipeline
    * runs when it wants k exemplars that SPAN the embedding space
    * (dedup keeps one of each near-dup family; this keeps one of each
    * REGION — coreset/active-learning seeding, s8's k-means++-style
    * init done exactly), and the radius curve says how much space each
    * additional exemplar buys.
    *
    * Exactness: all distances are integer L2 on the shared ×1e6
    * quantized grid (the s3 convention) through the packed
    * nearest-centroid kernel, so the trace is bit-identical
    * cross-engine; every argmax is (dist DESC, id) deterministic.
    *
    * Scale shape: the min-distance state is a LINEAR (vec_id, el,
    * mind) frame updated with ONE kernel pass per round against the
    * single new center (the delta pattern — never re-scoring against
    * all selected), eagerly checkpointed; each argmax is a k-row
    * TakeOrdered, each center vector a 1-row collect (the trainer's
    * documented tiny-collect boundary). k corpus passes total. */
  def s27Coreset(spark: SparkSession, dir: String, k: Int = 4): DataFrame = {
    import spark.implicits._
    import graft.functions.VectorFunctions.nearestCentE6
    require(k >= 1 && k <= 16, s"s27 coreset supports 1..16 centers, got $k")
    val q = quantized(spark, dir)
    // ONE TakeOrdered fetches the seed id AND its vector (a separate
    // agg(min) + filter pair would cost a redundant corpus pass)
    val seedRow = q.orderBy($"vec_id").select($"vec_id", $"el").head()
    val seedId = seedRow.getLong(0)
    val seedVec = seedRow.getAs[scala.collection.Seq[Long]]("el").toArray
    // initialize min-distance to the seed in one kernel pass
    var state = graft.operators.State.cut(
      q.withColumn("__p", nearestCentE6($"el", Array(seedVec)))
        .select($"vec_id", $"el", unpackDistE6(col("__p")).as("mind")))
    val trace = scala.collection.mutable.ArrayBuffer[(Long, Option[Long], Long)]()
    trace += ((0L, Some(seedId), 0L))
    for (r <- 1 until k) {
      val pick = state.orderBy($"mind".desc, $"vec_id").select($"vec_id", $"mind", $"el")
        .head()
      val (pid, pd) = (pick.getLong(0), pick.getLong(1))
      val pvec = pick.getAs[scala.collection.Seq[Long]]("el").toArray
      trace += ((r.toLong, Some(pid), pd))
      val prev = state
      state = graft.operators.State.cut(state
        .withColumn("__p", nearestCentE6($"el", Array(pvec)))
        .select($"vec_id", $"el",
          least($"mind", unpackDistE6(col("__p"))).as("mind")))
      graft.operators.State.release(prev)
    }
    val coverage = state.agg(max($"mind")).head().getLong(0)
    trace += ((k.toLong, None, coverage))
    trace.toSeq.toDF("round", "center_id", "radius_sq").orderBy("round")
  }

  /** s27 oracle BUILDER: the identical farthest-first trace unrolled
    * for ANY k on the unnest long form — parameterized so the oracle
    * can never silently diverge from a non-default `k` passed to
    * [[s27Coreset]] (the registry pins both to the default). */
  def s27SqlFor(k: Int): String = {
    require(k >= 1 && k <= 16, s"s27 oracle supports 1..16 centers, got $k")
    def distCte(name: String, centerSel: String): String =
      s"""$name AS (
         |  SELECT q.vec_id, sum((q.e - s.e) * (q.e - s.e)) AS d
         |  FROM q JOIN (SELECT i, e FROM q WHERE vec_id = ($centerSel)) s
         |    ON s.i = q.i
         |  GROUP BY 1)""".stripMargin
    val parts = Seq(
      """q AS (
        |  SELECT vec_id, i, CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS e
        |  FROM (SELECT vec_id, unnest(embedding) AS v,
        |               generate_subscripts(embedding, 1) AS i FROM embeddings))""".stripMargin,
      distCte("e0", "SELECT min(vec_id) FROM embeddings"),
      """d0 AS (SELECT vec_id, d AS mind FROM e0)""") ++
      (1 until k).flatMap { r =>
        Seq(
          s"""c$r AS (SELECT vec_id, mind FROM d${r - 1} ORDER BY mind DESC, vec_id LIMIT 1)""",
          distCte(s"e$r", s"SELECT vec_id FROM c$r"),
          s"""d$r AS (SELECT d${r - 1}.vec_id, least(d${r - 1}.mind, e$r.d) AS mind
             |       FROM d${r - 1} JOIN e$r ON e$r.vec_id = d${r - 1}.vec_id)""".stripMargin)
      }
    val rows = Seq(
      """SELECT CAST(0 AS BIGINT) AS round,
        |       (SELECT min(vec_id) FROM embeddings) AS center_id,
        |       CAST(0 AS BIGINT) AS radius_sq""".stripMargin) ++
      (1 until k).map(r => s"SELECT $r, vec_id, CAST(mind AS BIGINT) FROM c$r") ++
      Seq(s"SELECT $k, NULL, CAST(max(mind) AS BIGINT) FROM d${k - 1}")
    s"""WITH ${parts.mkString(",\n")}
       |SELECT * FROM (
       |  ${rows.mkString("\n  UNION ALL\n  ")})
       |ORDER BY round""".stripMargin
  }

  /** s27 oracle at the registry's default depth. */
  val s27Sql: String = s27SqlFor(4)

  /** s28: DBSCAN density clustering over the embedding corpus
    * (Ester et al. 1996), on the banded-LSH ε-graph — the density
    * companion to s3/s8's centroid clustering and d8's transitive
    * dedup: clusters are density-connected regions (no k chosen up
    * front), borders attach to a neighboring core, low-density
    * vectors surface as NOISE — the outlier sieve a curation pipeline
    * runs beside the dedup pass (s24 flags distance outliers against
    * centroids; this finds them structurally). Semantics on the
    * candidate graph: neighbor = banded candidate pair with cosine ≥
    * `eps` (SELF excluded from the count); core ⟺ ≥ `minPts`
    * neighbors; clusters = connected components over CORE–CORE edges
    * (label = min member id, the d7/d8 convention); border = non-core
    * with ≥1 core neighbor, attached to its min core-neighbor label
    * (classic DBSCAN leaves border assignment scan-order-dependent;
    * min is the deterministic, oracle-reproducible choice).
    *
    * Scale shape: the ε-graph is [[graft.dedup.Dedup.scoredCandidatePairs]]'
    * bucketed self-join (shuffle ∝ band collisions, never n² — pairs
    * missed by banding are missed deterministically on both engines,
    * the s6 recall trade); degrees and border labels are
    * map-side-combined aggs over edge-sized frames; CC runs on the
    * core–core subgraph only. */
  def s28Dbscan(spark: SparkSession, dir: String, eps: Double = 0.30,
                minPts: Int = 3): DataFrame = {
    import spark.implicits._
    // edge-sized and consumed by three branches (degrees, core-core
    // subgraph, border labels) — memoized like every shared artifact,
    // and lineage-CUT eagerly: the upstream plan carries the 128
    // literal LSH planes, and the CC loop's nested generations would
    // otherwise stringify it exponentially in every round's listener
    // plan description (the round-6 explainString disease — observed
    // here as ~70 s/round of 2 GB plan-string truncation)
    val edges = graft.operators.Indexes.memo(s"s28_edges:$dir:$eps") {
      graft.operators.State.cut(graft.dedup.Dedup.scoredCandidatePairs(spark, dir)
        .filter($"cos_sim" >= eps)
        .select($"vec_id1".as("a"), $"vec_id2".as("b")))
    }
    val sym = edges.unionAll(edges.select($"b".as("a"), $"a".as("b")))
    // node-sized, consumed by three branches (output spine, core-id
    // filter, the singleton side of CC) — memoized so each doesn't
    // re-derive the corpus scan (the scan-gate convention)
    val deg = graft.operators.Indexes.memo(s"s28_deg:$dir:$eps:$minPts") {
      Tables.read(spark, dir, "embeddings").select($"vec_id")
        .join(sym.groupBy($"a".as("vec_id")).agg(count(lit(1)).as("nn")),
          Seq("vec_id"), "left")
        .select($"vec_id", coalesce($"nn", lit(0L)).as("n_neighbors"))
        .withColumn("is_core", ($"n_neighbors" >= minPts).cast("long"))
    }
    val coreIds = deg.filter($"is_core" === 1L).select($"vec_id")
    val coreEdges = edges
      .join(coreIds.select($"vec_id".as("a")), Seq("a"), "left_semi")
      .join(coreIds.select($"vec_id".as("b")), Seq("b"), "left_semi")
      .select($"a", $"b")
    val cc = graft.operators.Graph.connectedComponents(coreEdges, coreIds, "s28")
      .select($"id".as("vec_id"), $"label")
    val borderLabel = sym.select($"a".as("vec_id"), $"b".as("nbr"))
      .join(cc.select($"vec_id".as("nbr"), $"label".as("nl")), Seq("nbr"))
      .groupBy($"vec_id").agg(min($"nl").as("border_label"))
    deg
      .join(cc.withColumnRenamed("label", "core_label"), Seq("vec_id"), "left")
      .join(borderLabel, Seq("vec_id"), "left")
      .select($"vec_id", $"n_neighbors", $"is_core",
        coalesce($"core_label", $"border_label").as("cluster"),
        when($"is_core" === 1L, lit("core"))
          .when($"border_label".isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"))
  }

  /** s28 oracle: d5's banded candidate CTEs + ε filter, degree count,
    * recursive min-label closure over core–core edges, min-label
    * border attach. `def`, not `val`: it references Dedup's CTE
    * string and an object-level val would run at class init — the
    * cross-object clinit-deadlock footgun under Bench's concurrent
    * artifact chains. */
  def s28Sql: String = s28SqlFor(0.3, 3)

  def s28SqlFor(eps: Double, minPts: Int): String =
    s"""WITH RECURSIVE ${graft.dedup.Dedup.d5Ctes},
       |ee AS MATERIALIZED (
       |  SELECT vec_id1, vec_id2 FROM p WHERE round(c, 6) >= $eps),
       |sym AS (SELECT vec_id1 AS a, vec_id2 AS b FROM ee
       |        UNION ALL SELECT vec_id2, vec_id1 FROM ee),
       |deg AS (
       |  SELECT e.vec_id, coalesce(d.n, 0) AS n_neighbors
       |  FROM embeddings e LEFT JOIN
       |    (SELECT a AS vec_id, count(*) AS n FROM sym GROUP BY 1) d USING (vec_id)),
       |core AS (SELECT vec_id FROM deg WHERE n_neighbors >= $minPts),
       |ce AS MATERIALIZED (
       |  SELECT e.vec_id1 AS a, e.vec_id2 AS b FROM ee e
       |  JOIN core c1 ON c1.vec_id = e.vec_id1
       |  JOIN core c2 ON c2.vec_id = e.vec_id2),
       |ces AS (SELECT a, b FROM ce UNION SELECT b, a FROM ce),
       |reach AS (
       |  SELECT vec_id AS a, vec_id AS b FROM core
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN ces e ON r.b = e.a),
       |cc AS (SELECT a AS vec_id, min(b) AS label FROM reach GROUP BY a),
       |blab AS (
       |  SELECT s.a AS vec_id, min(c.label) AS border_label
       |  FROM sym s JOIN cc c ON c.vec_id = s.b GROUP BY s.a)
       |SELECT d.vec_id, CAST(d.n_neighbors AS BIGINT) AS n_neighbors,
       |  CAST(CASE WHEN d.n_neighbors >= $minPts THEN 1 ELSE 0 END AS BIGINT) AS is_core,
       |  CAST(coalesce(cc.label, blab.border_label) AS BIGINT) AS cluster,
       |  CASE WHEN d.n_neighbors >= $minPts THEN 'core'
       |       WHEN blab.border_label IS NOT NULL THEN 'border'
       |       ELSE 'noise' END AS role
       |FROM deg d
       |LEFT JOIN cc ON cc.vec_id = d.vec_id
       |LEFT JOIN blab ON blab.vec_id = d.vec_id
       |ORDER BY d.vec_id""".stripMargin

  // ---- s32: the ANN storage-tier decision table ---------------------

  /** s32: the STORAGE×SCAN DECISION TABLE — every approximate tier's
    * recall audit collapsed to one comparable row: (tier, queries,
    * mean/min recall@5 ×1e6, bytes per vector). This is the table an
    * index-capacity plan actually reads: s9 prices scan pruning at
    * full precision, s11/s13/s14 price the three compression
    * families, s31 prices the composed production shape, s34 the
    * 1-bit sign sketch, s36 the graph-walk serving tier — and memory
    * is the axis that decides which fits a 100 TB corpus in RAM.
    * Bytes/vector are the tiers' storage formulas as plan-time
    * constants (Dim=64, float32, m=8 subspaces × 4-bit codes, 1-byte
    * cell tag): ivf_km 64·4+8=264 (full vectors, cell-tagged), pq
    * m·log₂k/8=4, sq8 Dim·1=64, mrl16 16·4=64, ivfpq 4+1=5, bq
    * Dim/8=8 (1 bit/dim), graph degree·8+Dim·4=280 (3 neighbor ids +
    * the full-precision vector the walk scores against). The graph
    * row audits the DEGREE-3 budget build s35 serves by default; the
    * SHIPPING operating point is s38's joint d16×b16 row — the first
    * registered point at 0.9-class recall@5 (measured 1.00 mean /
    * 1.00 min at the sf0.01 gate corpus, 406 B/vec measured vs the
    * d3 row's 0.20@288) — which ships through
    * `saveWalkIndex(degree = 16)` (the layout records it;
    * spec-pinned) and is oracle-certified end to end inside the
    * registered s38 sweep. Corpus ceiling, documented AND measured:
    * at 10× the corpus (sf0.1) d16×b16 reads 0.58 at the registered
    * rounds=3; walk depth recovers to 0.74 by rounds=6 and then
    * CONVERGES (rounds=10 is bit-identical — the frontier exhausts
    * the 1-round graph's reachable neighborhoods), so the next
    * increment is GRAPH-BUILD depth, not walk depth: a second
    * NN-descent refinement round ([[walkAdjacency]]'s `refineRounds`
    * dial) lifts the same d16×b16×r6 serve to 0.86. Build depth is
    * paid once and persists through the standard layout; index bytes
    * and the s38-priced storage trade are unchanged.
    *
    * Scale shape: each audit is its own registered, plan-audited
    * operator riding memoized index artifacts; s32 adds only seven
    * query-set-sized aggregations and a 7-row union. halfUp means →
    * hash-exact oracle composing the seven audit oracles as CTEs. */
  def s32TierTable(spark: SparkSession, dir: String, k: Int = K): DataFrame = {
    import spark.implicits._
    val halfUp = graft.functions.IntMath.halfUpDiv _
    // the seven tier audits are independent pipelines over their own
    // memoized indexes; their CONSTRUCTION fires the index-build /
    // checkpoint actions, so overlap it — same rows, same order
    val tierFns: Seq[(String, () => DataFrame, Long)] = Seq(
      ("ivf_km", () => s8IvfRecallAudit(spark, dir, k), 264L),
      ("pq", () => s11PqRecall(spark, dir, k), 4L),
      ("sq8", () => s13Sq8Recall(spark, dir, k), 64L),
      ("mrl16", () => s14MrlRecall(spark, dir, k), 64L),
      ("ivfpq", () => s31IvfPqRecall(spark, dir, k), 5L),
      ("bq", () => s34BqRecall(spark, dir, k), 8L),
      ("graph", () => s36WalkRecall(spark, dir, k), 280L))
    val tiers = graft.operators.Overlap.map(tierFns) { case (t, fn, b) =>
      (t, fn(), b)
    }
    tiers.map { case (t, df, bytes) =>
      df.agg(count(lit(1)).as("n_queries"),
          halfUp(sum($"recall_e6"), count(lit(1))).as("mean_recall_e6"),
          min($"recall_e6").as("min_recall_e6"))
        .select(lit(t).as("tier"), $"n_queries", $"mean_recall_e6",
          $"min_recall_e6", lit(bytes).as("bytes_per_vec"))
    }.reduce(_ unionAll _)
  }

  /** s32 oracle: the seven audit oracles as CTEs + the same halfUp
    * rollups (each nested WITH is subquery-scoped, so their CTE names
    * cannot collide). A def, not a val: s34Sql is declared later in
    * the object and a val here would interpolate null (the t9Sql
    * initialization-order lesson). */
  def s32Sql: String = {
    def hu(n: String, d: String) = s"((2*($n) + ($d)) // (2*($d)))"
    def row(tier: String, cte: String, bytes: Long) =
      s"""SELECT '$tier' AS tier, count(*) AS n_queries,
         |  CAST(${hu("sum(recall_e6)", "count(*)")} AS BIGINT) AS mean_recall_e6,
         |  CAST(min(recall_e6) AS BIGINT) AS min_recall_e6,
         |  CAST($bytes AS BIGINT) AS bytes_per_vec FROM $cte""".stripMargin
    s"""WITH tivf AS ($s9Sql),
       |tpq AS ($s11Sql),
       |tsq8 AS ($s13Sql),
       |tmrl AS ($s14Sql),
       |tivfpq AS ($s31Sql),
       |tbq AS ($s34Sql),
       |tgw AS ($s36Sql)
       |${row("ivf_km", "tivf", 264L)}
       |UNION ALL ${row("pq", "tpq", 4L)}
       |UNION ALL ${row("sq8", "tsq8", 64L)}
       |UNION ALL ${row("mrl16", "tmrl", 64L)}
       |UNION ALL ${row("ivfpq", "tivfpq", 5L)}
       |UNION ALL ${row("bq", "tbq", 8L)}
       |UNION ALL ${row("graph", "tgw", 280L)}
       |ORDER BY tier""".stripMargin
  }

  /** One 32-dim half of the sign sketch: bit i set iff the quantized
    * component is strictly positive. 32 codegen'd when() terms OR'd
    * (d3's column-expansion trick — a HOF fold here would run
    * interpreted on every corpus row); two halves avoid the BIGINT
    * top-bit aggregation hazard (a sum/bit_or carrying bit 63 behaves
    * differently across engines' overflow promotion). */
  private def signHalfI(el: Column, off: Int): Column =
    Seq.tabulate(32)(i =>
      when(element_at(el, off + i + 1) > 0L, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)

  /** s33: BINARY-QUANTIZATION ANN — the CHEAPEST storage tier of the
    * quantization ladder (1 bit/dim = 8 bytes/vector at Dim=64; the
    * "binary embeddings" serving mode): corpus and queries reduce to
    * a 64-bit sign sketch, stage 1 ranks by HAMMING distance (two
    * xor+bit_count longs per comparison — registers, not arrays),
    * stage 2 re-ranks the 5× over-fetched shortlist by exact integer
    * L2 (s21's retrieve-then-rerank contract). s34 prices the recall.
    *
    * Scale shape: the bit table is memoized (one embeddings scan,
    * three consumers); stage 1 is the deliberate broadcast-queries
    * compressed scan (s12's contract — 16 bytes/vector moves, never
    * the float arrays); stage 2 equi-joins shortlist ids back into
    * the quantized store, so full-width vectors move only for
    * shortlist members. */
  def s33BqAnn(spark: SparkSession, dir: String, k: Int = K,
               shortlist: Int = 25): DataFrame = {
    import spark.implicits._
    import graft.functions.VectorFunctions.{dotI64, sumSqI64}
    val bits = graft.operators.Indexes.memo(s"s33_bits:$dir") {
      quantized(spark, dir).select($"vec_id", $"el",
        signHalfI($"el", 0).as("blo"), signHalfI($"el", 32).as("bhi"))
    }
    val queries = bits.filter($"vec_id" < 10)
    val corpus = bits.filter($"vec_id" >= 10)
    val wH = Window.partitionBy($"query_id").orderBy($"hamming", $"neighbor_id")
    val short = corpus.select($"vec_id".as("neighbor_id"), $"blo", $"bhi")
      .join(broadcast(queries.select($"vec_id".as("query_id"),
        $"blo".as("qlo"), $"bhi".as("qhi"))))
      .select($"query_id", $"neighbor_id",
        (bit_count($"blo".bitwiseXOR($"qlo")) +
          bit_count($"bhi".bitwiseXOR($"qhi"))).cast("long").as("hamming"))
      .withColumn("hrank", row_number().over(wH))
      .filter($"hrank" <= shortlist).drop("hrank")
    val w = Window.partitionBy($"query_id").orderBy($"sq_dist", $"neighbor_id")
    short
      .join(corpus.select($"vec_id".as("neighbor_id"), $"el".as("ce"),
        sumSqI64($"el").as("cc")), "neighbor_id")
      .join(broadcast(queries.select($"vec_id".as("query_id"), $"el".as("qe"),
        sumSqI64($"el").as("qq"))), "query_id")
      .select($"query_id", $"neighbor_id", $"hamming",
        ($"qq" + $"cc" - lit(2L) * dotI64($"qe", $"ce")).as("sq_dist"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
  }

  /** The s33 formation through ranked shortlist+rerank — shared by
    * the s33 oracle and s34's audit composition. */
  private def s33Ctes: String =
    s"""eq AS (
       |  SELECT vec_id, i, CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS e
       |  FROM (SELECT vec_id, unnest(embedding) AS v,
       |               generate_subscripts(embedding, 1) AS i FROM embeddings)),
       |bits AS (
       |  SELECT vec_id,
       |    bit_or(CASE WHEN i <= 32 AND e > 0 THEN (1::BIGINT << (i-1)) ELSE 0 END) AS blo,
       |    bit_or(CASE WHEN i > 32 AND e > 0 THEN (1::BIGINT << (i-33)) ELSE 0 END) AS bhi
       |  FROM eq GROUP BY 1),
       |hm AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    CAST(bit_count(xor(q.blo, c.blo)) + bit_count(xor(q.bhi, c.bhi)) AS BIGINT) AS hamming
       |  FROM bits q, bits c WHERE q.vec_id < 10 AND c.vec_id >= 10),
       |sh AS (
       |  SELECT query_id, neighbor_id, hamming FROM (
       |    SELECT query_id, neighbor_id, hamming,
       |      row_number() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS hrank
       |    FROM hm) WHERE hrank <= 25),
       |dd AS (
       |  SELECT sh.query_id, sh.neighbor_id, sh.hamming,
       |    CAST(sum((a.e - b.e)*(a.e - b.e)) AS BIGINT) AS sq_dist
       |  FROM sh
       |  JOIN eq a ON a.vec_id = sh.query_id
       |  JOIN eq b ON b.vec_id = sh.neighbor_id AND b.i = a.i
       |  GROUP BY 1, 2, 3),
       |rr AS (
       |  SELECT query_id, neighbor_id, hamming, sq_dist,
       |    row_number() OVER (PARTITION BY query_id ORDER BY sq_dist, neighbor_id) AS rank
       |  FROM dd)""".stripMargin

  /** s33 oracle: same sign sketch (two 32-bit halves via bit_or —
    * never a bit-63 sum), Hamming shortlist, exact-L2 rerank. */
  val s33Sql: String =
    s"""WITH $s33Ctes
       |SELECT query_id, neighbor_id, hamming, sq_dist, rank FROM rr
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  /** s34: recall@k audit of the binary-quantization tier against the
    * exact integer-L2 top-k (the s11/s13 pattern) — what 8 bytes per
    * vector costs in recall, priced on the live corpus. */
  def s34BqRecall(spark: SparkSession, dir: String, k: Int = K): DataFrame = {
    import spark.implicits._
    recallVsExactL2(spark, dir, k,
      s33BqAnn(spark, dir, k).select($"query_id", $"neighbor_id"))
  }

  /** s34 oracle: s33's CTE chain composed with the exact-L2 top-k
    * (s11's tail). */
  val s34Sql: String =
    s"""WITH $s33Ctes,
       |ap AS (SELECT query_id, neighbor_id FROM rr WHERE rank <= $K),
       |el2 AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    CAST(sum((a.e - b.e)*(a.e - b.e)) AS BIGINT) AS l2_e12
       |  FROM eq a JOIN eq b ON a.i = b.i AND a.vec_id < 10 AND b.vec_id >= 10
       |  GROUP BY 1, 2),
       |ex AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY l2_e12, neighbor_id) AS rank
       |    FROM el2) WHERE rank <= $K)
       |SELECT ex.query_id, count(ap.neighbor_id) AS n_hits,
       |  CAST(count(ap.neighbor_id) * ${1000000L / K} AS BIGINT) AS recall_e6
       |FROM ex LEFT JOIN ap
       |  ON ap.query_id = ex.query_id AND ap.neighbor_id = ex.neighbor_id
       |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin

  /** PERSISTED IVF-Flat index — the production serving split the
    * session memo cannot give: build once, write to storage, serve
    * from any later session/cluster without retraining. Layout:
    * `centroids.parquet` (kc rows) + `postings.parquet` PARTITIONED
    * BY cell — so a probe of nprobe cells is a PARTITION-PRUNED read
    * (Spark's dynamic partition pruning fires on the broadcast
    * probe⋈cell join): at 100 TB a 2-of-1024-cell probe reads ~0.2%
    * of the index bytes, the file-skipping twin of s8's "corpus
    * never shuffles" property. */
  def saveIvfIndex(spark: SparkSession, dir: String, indexPath: String,
                   kc: Int = 8, iters: Int = 4): Unit = {
    import spark.implicits._
    import graft.functions.VectorFunctions.quantizeE6
    val cents = lloydCentroids(spark, dir, kc, iters)
    cents.map { case (c, a) => (c, a.toSeq) }.toDF("cell", "cent")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$indexPath/centroids.parquet")
    val e = Tables.read(spark, dir, "embeddings")
      .select($"vec_id", $"embedding", vecNorm($"embedding").as("nrm"),
        quantizeE6($"embedding").as("el"))
    assignCells(spark, e.filter($"vec_id" >= 10), cents)
      .select($"vec_id".as("neighbor_id"), $"embedding".as("c"),
        $"nrm".as("cn"), $"cluster".as("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$indexPath/postings.parquet")
  }

  /** Serve s8's exact query shape from a [[saveIvfIndex]] layout —
    * no training, no corpus scan: centroids come off the kc-row
    * parquet, postings off the cell-partitioned files the probe
    * join prunes to. Bit-identical to [[s8IvfKm]] on the same corpus
    * (spec-pinned), because assignment, probe selection and scoring
    * reuse the same integer/IEEE-exact arithmetic. */
  def s8FromIndex(spark: SparkSession, dir: String, indexPath: String,
                  k: Int = K, nprobe: Int = 2): DataFrame = {
    import spark.implicits._
    import graft.functions.VectorFunctions.quantizeE6
    val cents = Tables.parquet(spark, s"$indexPath/centroids.parquet")
      .collect()
      .map(r => (r.getAs[Int]("cell"), r.getSeq[Long](r.fieldIndex("cent")).toArray))
      .sortBy(_._1).toSeq
    val corpus = Tables.parquet(spark, s"$indexPath/postings.parquet")
      .select($"neighbor_id", $"c", $"cn", $"cell".cast("long").as("cell"))
    val cellDists = cents.map { case (c, arr) =>
      struct(
        aggregate(zip_with($"el", lit(arr), (a, b) => (a - b) * (a - b)),
          lit(0L), _ + _).as("cdist"),
        lit(c.toLong).as("cell"))
    }
    val probes = Tables.read(spark, dir, "embeddings").filter($"vec_id" < 10)
      .select($"vec_id", $"embedding", vecNorm($"embedding").as("nrm"),
        quantizeE6($"embedding").as("el"))
      .select($"vec_id".as("query_id"), $"embedding".as("q"), $"nrm".as("qn"),
        explode(slice(array_sort(array(cellDists: _*)), 1, nprobe)).as("probe"))
      .select($"query_id", $"q", $"qn", $"probe.cell".as("cell"))
    val w = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"neighbor_id")
    corpus.join(broadcast(probes), Seq("cell"))
      .select($"query_id", $"neighbor_id",
        round(dot($"q", $"c") / ($"qn" * $"cn"), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
  }

  /** PERSISTED IVF-PQ index — [[saveIvfIndex]]'s build-once/serve-many
    * split for the COMPRESSED tier: `centroids.parquet` (kc coarse
    * rows) + `codebooks.parquet` (m×16 residual codewords — the ADC
    * sidecar) + `postings.parquet` PARTITIONED BY cell carrying ONLY
    * (neighbor_id, s, code) — 8 small ints per vector, never a float:
    * an nprobe-of-kc probe is a partition-pruned read of ~nprobe/kc of
    * the already-64×-compressed index bytes, the FAISS on-disk IVFADC
    * layout. */
  def saveIvfPqIndex(spark: SparkSession, dir: String, indexPath: String,
                     iters: Int = 3): Unit = {
    import spark.implicits._
    val cents = lloydCentroids(spark, dir)
    val books = ivfpqBooks(spark, dir, iters)
    cents.map { case (c, a) => (c, a.toSeq) }.toDF("cell", "cent")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$indexPath/centroids.parquet")
    books.flatMap { case (s, cs) => cs.map { case (code, a) => (s, code, a.toSeq) } }
      .toDF("s", "code", "cent")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$indexPath/codebooks.parquet")
    ivfpqPostings(spark, dir, books)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$indexPath/postings.parquet")
  }

  /** Serve s30's exact query shape from a [[saveIvfPqIndex]] layout —
    * no training, no residual encode, no corpus scan: coarse centroids
    * and codebooks come off the tiny sidecars, postings off the
    * cell-partitioned files the broadcast ADC join prunes to.
    * Bit-identical to [[s30IvfPqAnn]] on the same corpus (spec-pinned)
    * because probe selection and the ADC table reuse the same integer
    * arithmetic over the same saved codewords. */
  def s30FromIndex(spark: SparkSession, dir: String, indexPath: String,
                   k: Int = K, nprobe: Int = 2): DataFrame = {
    import spark.implicits._
    val cents = Tables.parquet(spark, s"$indexPath/centroids.parquet").collect()
      .map(r => (r.getAs[Int]("cell"), r.getSeq[Long](r.fieldIndex("cent")).toArray))
      .sortBy(_._1).toSeq
    val books = Tables.parquet(spark, s"$indexPath/codebooks.parquet").collect()
      .map(r => (r.getAs[Int]("s"), r.getAs[Int]("code"),
        r.getSeq[Long](r.fieldIndex("cent")).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (s, rows) =>
        s -> rows.map(t => (t._2, t._3)).sortBy(_._1).toSeq }
    val postings = Tables.parquet(spark, s"$indexPath/postings.parquet")
      .select($"neighbor_id", $"s", $"code", $"cell".cast("long").as("cell"))
    ivfpqSearch(postings, ivfpqDtab(spark, dir, cents, books, nprobe), k)
  }

  /** PERSISTED BINARY-QUANTIZATION index: the corpus sign sketches —
    * (vec_id, blo, bhi), 16 B/row — as one parquet. No partitioning:
    * the Hamming stage deliberately scans EVERY sketch (that is the
    * tier's contract — 8 B/vec of index, no pruning structure), and
    * the rerank stage reads full vectors from the TABLE, only for
    * shortlist members: the production split where the bit index fits
    * in RAM and the float store stays on disk. */
  def saveBqIndex(spark: SparkSession, dir: String, indexPath: String): Unit = {
    import spark.implicits._
    quantized(spark, dir).filter($"vec_id" >= 10)
      .select($"vec_id", signHalfI($"el", 0).as("blo"), signHalfI($"el", 32).as("bhi"))
      .write.mode("overwrite").parquet(s"$indexPath/bits.parquet")
  }

  /** PERSISTED GRAPH-WALK index — [[saveIvfIndex]]'s build-once/
    * serve-many split for the s35 serving tier: `centroids.parquet`
    * (the kc entry-cell rows) + `adjacency.parquet` (the symmetrized
    * refined kNN edges, bare long pairs — degree×8 B/vector, the
    * tier's index cost in s32) + `meta.parquet` recording the BUILD
    * parameters (degree, kc, iters) — the layout is self-describing,
    * so a serving deployment can read which operating point it holds
    * (s38 prices the degree choice; a production build passes the
    * degree-16 point it selects there). Building runs the s17 banding
    * + s29 NN-descent refinement ONCE; any later session (or cluster)
    * serves walks without re-banding. */
  def saveWalkIndex(spark: SparkSession, dir: String, indexPath: String,
                    kc: Int = 8, iters: Int = 4, degree: Int = 3): Unit =
    saveWalkIndexFrom(spark, indexPath, walkAdjacency(spark, dir, degree),
      lloydCentroids(spark, dir, kc, iters), degree, kc, iters)

  /** Persist ANY (adjacency, entry-centroid) pair as a
    * [[saveWalkIndex]] layout — the MAINTAINED-index checkpoint:
    * s39's merged and s41's compacted adjacencies are session memos,
    * so without this a deployment that ran the maintenance ops would
    * have to re-run them after every restart; saving the
    * post-maintenance graph (with the old-corpus centroids the
    * incremental family serves by — a deployment does not retrain its
    * quantizer per batch) checkpoints maintenance instead. Serving
    * replays bit-identically through [[s35FromIndex]] (spec-pinned,
    * the other three index families' convention). */
  def saveWalkIndexFrom(spark: SparkSession, indexPath: String,
                        adj: DataFrame, cents: Seq[(Int, Array[Long])],
                        degree: Int, kc: Int = 8, iters: Int = 4): Unit = {
    import spark.implicits._
    cents.map { case (c, a) => (c, a.toSeq) }.toDF("cell", "cent")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$indexPath/centroids.parquet")
    adj.write.mode("overwrite").parquet(s"$indexPath/adjacency.parquet")
    // meta LAST: it describes the adjacency, so it must not land
    // before the (expensive) edge write commits — a crash between the
    // two would otherwise leave a layout whose recorded degree
    // misdescribes the previous generation's edge file
    Seq((degree, kc, iters)).toDF("degree", "kc", "iters")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$indexPath/meta.parquet")
  }

  /** The (degree, kc, iters) a [[saveWalkIndex]] layout was built
    * with. */
  def walkIndexMeta(spark: SparkSession, indexPath: String): (Int, Int, Int) = {
    val r = Tables.parquet(spark, s"$indexPath/meta.parquet").collect().head
    (r.getAs[Int]("degree"), r.getAs[Int]("kc"), r.getAs[Int]("iters"))
  }

  /** Serve s35's exact query shape from a [[saveWalkIndex]] layout —
    * no banding, no NN-descent, no training: entry centroids off the
    * kc-row sidecar, frontier expansions off the persisted edge list
    * (re-partitioned on src_id — the id-partitioned probe layout the
    * rounds join against). Bit-identical to [[s35GraphWalk]]
    * (spec-pinned). */
  def s35FromIndex(spark: SparkSession, dir: String, indexPath: String,
                   k: Int = K, beam: Int = 4, rounds: Int = 3,
                   live: Column = lit(true)): DataFrame = {
    import spark.implicits._
    val cents = Tables.parquet(spark, s"$indexPath/centroids.parquet").collect()
      .map(r => (r.getAs[Int]("cell"), r.getSeq[Long](r.fieldIndex("cent")).toArray))
      .sortBy(_._1).toSeq
    val adj = Tables.parquet(spark, s"$indexPath/adjacency.parquet")
      .repartition(spark.sessionState.conf.numShufflePartitions, $"src_id")
    graphWalkParts(spark, dir, adj, cents, k, beam, rounds, live)._2
  }

  /** Serve s33's exact query shape from a [[saveBqIndex]] layout —
    * stage 1 Hamming-ranks the saved sketches against broadcast query
    * sketches (computed on the fly: queries are the tiny side), stage
    * 2 re-ranks the shortlist by exact integer L2 against the table's
    * full-precision vectors. Bit-identical to [[s33BqAnn]]
    * (spec-pinned). */
  def s33FromIndex(spark: SparkSession, dir: String, indexPath: String,
                   k: Int = K, shortlist: Int = 25): DataFrame = {
    import spark.implicits._
    import graft.functions.VectorFunctions.{dotI64, sumSqI64}
    val corpusBits = Tables.parquet(spark, s"$indexPath/bits.parquet")
      .select($"vec_id".as("neighbor_id"), $"blo", $"bhi")
    val q = quantized(spark, dir)
    val queries = q.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"el",
        signHalfI($"el", 0).as("qlo"), signHalfI($"el", 32).as("qhi"))
    val wH = Window.partitionBy($"query_id").orderBy($"hamming", $"neighbor_id")
    val short = corpusBits
      .join(broadcast(queries.select($"query_id", $"qlo", $"qhi")))
      .select($"query_id", $"neighbor_id",
        (bit_count($"blo".bitwiseXOR($"qlo")) +
          bit_count($"bhi".bitwiseXOR($"qhi"))).cast("long").as("hamming"))
      .withColumn("hrank", row_number().over(wH))
      .filter($"hrank" <= shortlist).drop("hrank")
    val w = Window.partitionBy($"query_id").orderBy($"sq_dist", $"neighbor_id")
    short
      .join(q.filter($"vec_id" >= 10).select($"vec_id".as("neighbor_id"),
        $"el".as("ce"), sumSqI64($"el").as("cc")), "neighbor_id")
      .join(broadcast(queries.select($"query_id", $"el".as("qe"),
        sumSqI64($"el").as("qq"))), "query_id")
      .select($"query_id", $"neighbor_id", $"hamming",
        ($"qq" + $"cc" - lit(2L) * dotI64($"qe", $"ce")).as("sq_dist"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
  }
}
