package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** STREAMING text-corpus ingest — the crawl-shard landing pipeline as
  * a Structured Streaming job (the text-side sibling of
  * [[EventStream]]'s event twins): a file-watch source picks up
  * line-delimited shards as they arrive and lands them in the
  * `documents` contract plus the t28 chunk table, exactly-once via
  * the checkpointed file-source offsets.
  *
  * Design notes (reference has no streaming; this is the 100 TB
  * production shape):
  *  - The doc_id derivation needs a per-file line numbering
  *    (`Tables.documentsFromLines`), which is a window — illegal in a
  *    continuous streaming plan. It is SOUND per micro-batch because
  *    Spark's file source reads WHOLE files per batch: a file never
  *    spans batches, so batch-local numbering equals the batch
  *    recompute. foreachBatch makes that explicit.
  *  - Chunking is a stateless projection and rides the same batch.
  *  - foreachBatch is AT-LEAST-ONCE (a crash after a write but before
  *    the offset commit re-delivers the batch), so plain appends
  *    would duplicate doc_ids on restart. Each write lands in an
  *    `ingest_batch=<id>` partition under DYNAMIC partition
  *    overwrite: a replayed batch rewrites exactly its own partition
  *    — idempotent, and docs/chunks cannot diverge past one replay.
  *    At-least-once delivery × idempotent write = effectively-once.
  *  - At scale: `maxFilesPerTrigger` bounds batch size; the per-file
  *    window shuffles one shard's lines to one task, so shard size
  *    (hundreds of MB) is the parallelism unit — split multi-GB dumps
  *    upstream, same caveat as the batch ingest.
  */
object DocStream {

  /** Lands one micro-batch output in its `ingest_batch=<id>` partition.
    * The target partition is explicitly deleted first: dynamic
    * partition overwrite only replaces partitions the NEW frame lands
    * rows in, so a replayed batch whose side went to zero rows (e.g. a
    * quality threshold retuned between attempts) would otherwise leave
    * the stale first-attempt partition alive — a doc appearing in both
    * kept and rejected for the same batch id. Delete + write keeps
    * replay idempotent even across a between-attempt retune. */
  private def landBatch(df: DataFrame, path: String, batchId: Long): Unit = {
    val part = new org.apache.hadoop.fs.Path(s"$path/ingest_batch=$batchId")
    try {
      val fs = part.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
      fs.delete(part, true)
    } catch { case _: java.io.IOException => () } // fresh table: nothing to clear
    df.withColumn("ingest_batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_batch").parquet(path)
  }

  /** File-watch source over line-delimited text shards: one row per
    * line, stamped with its source file (the streaming twin of
    * [[graft.sources.Tables.text]]). */
  def readLinesStream(spark: SparkSession, path: String,
                      maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(path)
      .withColumn("input_file", input_file_name())

  /** Land the line stream as `documents` + chunk parquet, one
    * `ingest_batch` partition per micro-batch (idempotent under
    * batch replay — see object notes). Returns the started query;
    * callers own lifecycle (processAllAvailable/stop in tests,
    * awaitTermination in production). */
  def docIngestSink(lines: DataFrame, docsPath: String, chunksPath: String,
                    checkpoint: String, lang: String = "und",
                    window: Int = 200, stride: Int = 160): StreamingQuery =
    lines.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val docs = graft.sources.Tables.documentsFromLines(batch, lang)
          .persist()
        try {
          landBatch(docs, docsPath, batchId)
          landBatch(graft.text.TextAnalysis.chunk(docs, window, stride), chunksPath, batchId)
        } finally { docs.unpersist(); () }
      }
      .start()

  /** STREAMING NEAR-DUP INGEST — d11's batch-vs-corpus shape as a
    * continuous pipeline (the dedup family's missing streaming half:
    * `EventStream.dedupStream` catches exact re-crawls; this catches
    * re-renders). Each micro-batch of fresh documents is MinHash-signed
    * (the d2 kernel, [[graft.dedup.Dedup.signaturesOf]]) and
    * band-joined against the PERSISTED corpus signature index; docs
    * with a corpus near-match ≥ `threshold` are verdicted `drop`, the
    * rest `keep`, and the KEPT docs' signatures are appended to the
    * index so later batches dedup against them too.
    *
    * Scale shape: work per batch ∝ batch size + band collisions
    * (the d11 contract) — the corpus side is a narrow (k+1)-long-per-
    * doc signature table, never the corpus text; candidates come from
    * the band equi-join, never batch × corpus. At 100 TB the index
    * would additionally bucket its band rows by band_key so the probe
    * join prunes files; here bands are derived per batch from the
    * signature scan (k cheap md5s per corpus doc).
    *
    * Exactly-once: foreachBatch is at-least-once, so BOTH outputs land
    * in `ingest_batch=<id>` partitions under dynamic partition
    * overwrite (the [[docIngestSink]] idempotency pattern), and the
    * corpus index is read with `ingest_batch < batchId` — a replayed
    * batch sees exactly the index view its first run saw (its own
    * half-written partition, or a later batch's, cannot leak in), so
    * replay rewrites identical partitions and the stream converges. */
  def nearDupIngestSink(docs: DataFrame, indexPath: String, decisionsPath: String,
                        checkpoint: String, k: Int = 32, bands: Int = 8,
                        threshold: Double = 0.7): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val (report, keptSigs) =
          nearDupVerdicts(batch, indexPath, batchId, k, bands, threshold)
        landBatch(report, decisionsPath, batchId)
        landBatch(keptSigs, indexPath, batchId)
      }
      .start()

  /** The batch-vs-index near-dup verdict core shared by
    * [[nearDupIngestSink]] and [[curatedIngestSink]]: signs the batch
    * (d2's MinHash kernel), band-joins against the persisted corpus
    * signature index (strictly OLDER `ingest_batch` partitions — a
    * replayed batch sees exactly the view its first run saw), and
    * returns (per-doc verdict report, kept docs' signatures). Both
    * frames are EAGERLY lineage-cut: their lineage reads `indexPath`,
    * which the caller appends to right after — the cut makes the
    * verdicts compute exactly once and keeps Spark's self-overwrite
    * check out of the way. */
  private def nearDupVerdicts(batch: DataFrame, indexPath: String, batchId: Long,
                              k: Int, bands: Int, threshold: Double)
  : (DataFrame, DataFrame) = {
    val spark = batch.sparkSession
    import spark.implicits._
    import graft.dedup.Dedup
    val sigs = Dedup.signaturesOf(batch, k).persist()
    try {
      val corpusSigs = readSigIndex(spark, indexPath, k)
        .filter($"ingest_batch" < batchId)
        .drop("ingest_batch")
      val cand = Dedup.bandRowsOf(sigs, k, bands)
        .select($"doc_id".as("doc_id1"), $"band_idx", $"band_key")
        .join(Dedup.bandRowsOf(corpusSigs, k, bands)
            .select($"doc_id".as("doc_id2"), $"band_idx", $"band_key"),
          Seq("band_idx", "band_key"))
        .select($"doc_id1", $"doc_id2")
        .dropDuplicates("doc_id1", "doc_id2")
      val matches = Dedup.slotAgreement(cand, sigs, corpusSigs, k)
        .filter($"est_jaccard" >= threshold)
        .groupBy($"doc_id1")
        .agg(count(lit(1)).as("n_corpus_matches"),
          min($"doc_id2").as("min_match_id"),
          max($"est_jaccard").as("max_est"))
        .withColumnRenamed("doc_id1", "doc_id")
      // every batch doc gets a verdict row — docs with <3 tokens
      // have no signature (nothing to match on) and keep
      val report = graft.operators.State.cut(batch.select($"doc_id").dropDuplicates("doc_id")
        .join(matches, Seq("doc_id"), "left")
        .select($"doc_id",
          coalesce($"n_corpus_matches", lit(0L)).as("n_corpus_matches"),
          $"min_match_id", $"max_est",
          when(coalesce($"n_corpus_matches", lit(0L)) > 0, "drop")
            .otherwise("keep").as("verdict")))
      val keptSigs = graft.operators.State.cut(sigs.join(
          report.filter($"verdict" === "keep").select($"doc_id"),
          Seq("doc_id"), "left_semi"))
      (report, keptSigs)
    } finally { sigs.unpersist(); () }
  }

  /** STREAMING CURATED INGEST — the c6 capstone at the ingest
    * boundary: the three certified sinks' stages composed into ONE
    * micro-batch pipeline, quality gate (the batch t2 formula + t37
    * encoding detectors) → near-dup probe against the persisted
    * signature index (d11's batch-vs-corpus shape) → deterministic
    * shard assignment (t38/c6's seeded digest slice). Kept docs land
    * WITH their shard at `keptPath`; everything else lands at
    * `rejectedPath` with its reason (`encoding` beats `low_quality`
    * beats `near_dup` — cheap gates run first, t37/c1's order, and a
    * doc rejected by the gate never pays for signing); kept docs'
    * signatures append to the index so later batches dedup against
    * them.
    *
    * Exactly-once: all three outputs ride [[landBatch]]'s delete-then-
    * dynamic-overwrite `ingest_batch` partitions and the index reads
    * `ingest_batch < batchId`, so a replayed batch recomputes
    * identical partitions even if a threshold was retuned between
    * attempts (StreamingSpec pins stale-checkpoint replay and
    * bit-parity of kept/shard against the batch stages). */
  def curatedIngestSink(lines: DataFrame, keptPath: String, rejectedPath: String,
                        indexPath: String, checkpoint: String,
                        minQualityE6: Long = 300000L, lang: String = "und",
                        seed: String = "graft", shards: Int = 16,
                        k: Int = 32, bands: Int = 8,
                        threshold: Double = 0.7): StreamingQuery =
    lines.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        curateBatch(graft.sources.Tables.documentsFromLines(batch, lang),
          None, batchId, keptPath, rejectedPath, indexPath,
          minQualityE6, seed, shards, k, bands, threshold)
      }
      .start()

  /** One micro-batch of the curation chain (gate → near-dup → shard),
    * shared by [[curatedIngestSink]] and the event-time variant.
    * `preRejected`, when present, is a (doc_id, quality_e6, reason)
    * frame of docs ALREADY rejected upstream (late arrivals, bad
    * timestamps) — they land in the same rejected partition so the
    * batch's outputs stay one-write-per-side idempotent. */
  private def curateBatch(docs: DataFrame, preRejected: Option[DataFrame],
                          batchId: Long, keptPath: String, rejectedPath: String,
                          indexPath: String, minQualityE6: Long, seed: String,
                          shards: Int, k: Int, bands: Int,
                          threshold: Double): Unit = {
    // LEFT join: a zero-token doc (empty/whitespace/punct-only
    // crawl line) produces NO quality row — the score is a rollup
    // over exploded tokens — and an inner join would land it in
    // NEITHER kept nor rejected, breaking the sink's "nothing
    // dropped silently" contract. No tokens = no content: score 0
    // so the gate rejects it (low_quality), unless the t37
    // detector already names it `encoding`.
    val gated = docs
      .join(graft.text.TextAnalysis.qualityOf(docs)
        .select(col("doc_id"), col("quality_e6")), Seq("doc_id"), "left")
      .withColumn("quality_e6", coalesce(col("quality_e6"), lit(0L)))
      .withColumn("gate_reason",
        when(graft.text.TextAnalysis.encodingFlag(col("text")) === 1L, "encoding")
          .when(col("quality_e6") < minQualityE6, "low_quality"))
      .persist()
    try {
      val clean = gated.filter(col("gate_reason").isNull).drop("gate_reason")
      val (report, keptSigs) =
        nearDupVerdicts(clean, indexPath, batchId, k, bands, threshold)
      val kept = clean
        .join(report.filter(col("verdict") === "keep").select(col("doc_id")),
          Seq("doc_id"), "left_semi")
        .withColumn("shard",
          conv(substring(md5(concat(lit(seed), lit(":"),
            col("doc_id").cast("string"))), 13, 4), 16, 10)
            .cast("long") % shards)
      val rejected = gated.filter(col("gate_reason").isNotNull)
        .select(col("doc_id"), col("quality_e6"),
          col("gate_reason").as("reason"))
        .unionByName(clean
          .join(report.filter(col("verdict") === "drop").select(col("doc_id")),
            Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("quality_e6"), lit("near_dup").as("reason")))
      val rejectedAll = preRejected.fold(rejected)(pre =>
        rejected.unionByName(pre.select(col("doc_id"), col("quality_e6"), col("reason"))))
      landBatch(kept, keptPath, batchId)
      landBatch(rejectedAll, rejectedPath, batchId)
      landBatch(keptSigs, indexPath, batchId)
    } finally { gated.unpersist(); () }
  }

  /** EVENT-TIME curated ingest — [[curatedIngestSink]] with the
    * e39/planWatermark loop closed: each crawl line carries its
    * capture time (`<epoch_micros>\t<text>` — the crawl-record
    * contract), and a doc whose event time has fallen more than the
    * configured delay behind the stream's high watermark is rejected
    * as `late` BEFORE the gate chain — exactly Spark's watermark
    * semantics applied at the micro-batch boundary, which is where
    * Structured Streaming itself advances watermarks (state updates
    * between batches, so same-batch disorder never drops — the
    * faithful production behavior, not a per-row approximation).
    *
    * Delay resolution follows the EventStream convention: an explicit
    * `delay` always wins; `None` defers to the
    * [[EventStream.WatermarkDelayKey]] session conf (what
    * [[EventStream.planWatermark]] writes — e39's audited pick), then
    * to [[EventStream.DefaultAggWatermark]].
    *
    * Exactly-once: the high watermark is itself a per-batch landed
    * artifact (`hwmPath`, one `ingest_batch` partition per batch) and
    * each batch reads only STRICTLY OLDER partitions — a replayed
    * batch sees exactly the watermark its first run saw (the
    * signature-index pattern), so late verdicts replay identically.
    * Malformed lines (no tab / non-numeric prefix) reject as
    * `bad_ts`: nothing is dropped silently. */
  def eventTimeCuratedIngestSink(lines: DataFrame, keptPath: String,
                                 rejectedPath: String, indexPath: String,
                                 hwmPath: String, checkpoint: String,
                                 delay: Option[String] = None,
                                 minQualityE6: Long = 300000L,
                                 lang: String = "und", seed: String = "graft",
                                 shards: Int = 16, k: Int = 32, bands: Int = 8,
                                 threshold: Double = 0.7): StreamingQuery =
    lines.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val delayUs = parseDelayUs(
          delay.getOrElse(spark.conf
            .getOption(EventStream.WatermarkDelayKey).filter(_.nonEmpty)
            .getOrElse(EventStream.DefaultAggWatermark)))
        val parsed = batch
          .withColumn("ts_us",
            expr("TRY_CAST(substring(value, 1, instr(value, '\t') - 1) AS BIGINT)"))
          .withColumn("value",
            when(col("ts_us").isNotNull,
              expr("substring(value, instr(value, '\t') + 1)"))
              .otherwise(col("value")))
        val docs = graft.sources.Tables.documentsFromLines(parsed, lang,
          passthrough = Seq("ts_us")).persist()
        try {
          val hwmPrev = readHwm(spark, hwmPath, batchId)
          val isLate = hwmPrev match {
            case Some(h) => col("ts_us") < lit(h - delayUs)
            case None    => lit(false)
          }
          val pre = docs
            .withColumn("reason",
              when(col("ts_us").isNull, "bad_ts")
                .when(isLate, "late"))
          val onTime = pre.filter(col("reason").isNull)
            .drop("reason")
          val preRejected = pre.filter(col("reason").isNotNull)
            .select(col("doc_id"), lit(0L).as("quality_e6"), col("reason"))
          curateBatch(onTime, Some(preRejected), batchId, keptPath,
            rejectedPath, indexPath, minQualityE6, seed, shards, k, bands,
            threshold)
          // watermark advance: max event time SEEN (late rows included
          // — they can only trail the max), floored at the previous
          // watermark so an all-late batch never regresses it
          import spark.implicits._
          val batchMax = docs.agg(max(col("ts_us"))).collect()(0)
          val newHwm = Seq(hwmPrev, if (batchMax.isNullAt(0)) None
            else Some(batchMax.getLong(0))).flatten
          landBatch(newHwm.maxOption.toSeq.toDF("hwm_us"), hwmPath, batchId)
        } finally { docs.unpersist(); () }
      }
      .start()

  /** "N seconds|minutes|hours" → microseconds (the delay vocabulary
    * planWatermark emits and DefaultAggWatermark uses). */
  private[graft] def parseDelayUs(delay: String): Long = {
    val m = "^\\s*(\\d+)\\s*(second|minute|hour)s?\\s*$".r
      .findFirstMatchIn(delay.toLowerCase)
      .getOrElse(sys.error(s"unparseable watermark delay '$delay' " +
        "(expected 'N seconds|minutes|hours')"))
    val unit = m.group(2) match {
      case "second" => 1000000L
      case "minute" => 60000000L
      case "hour"   => 3600000000L
    }
    m.group(1).toLong * unit
  }

  /** The high watermark as of STRICTLY BEFORE `batchId` — None before
    * any batch landed one (no late verdicts possible yet).
    *
    * GUARD: `hwmPath` partitions with `ingest_batch > batchId` can
    * only come from a PRIOR INCARNATION whose checkpoint was deleted
    * or swapped (batch ids restart at 0 under a fresh checkpoint
    * while the old run's landed partitions persist) — silently
    * reading them would leak a stale, possibly far-future watermark
    * into early batches and reject fresh on-time docs as `late`, so
    * the sink refuses loudly instead: reset `hwmPath` (and the sig
    * `indexPath` — same lifecycle, though a stale index only
    * re-flags dups, never drops data) together with the checkpoint.
    * `ingest_batch == batchId` stays legal: a batch that crashed
    * after landing but before the checkpoint commit replays itself
    * idempotently (delete-then-overwrite). */
  private def readHwm(spark: SparkSession, path: String, batchId: Long): Option[Long] = {
    val prev =
      try graft.sources.Tables.parquet(spark, path)
        // partition columns read back as INT when the values are small
        // — cast before the driver getLong
        .agg(max(when(col("ingest_batch") < batchId, col("hwm_us"))),
          max(col("ingest_batch").cast("long"))).collect()(0)
      catch { case _: org.apache.spark.sql.AnalysisException => return None }
    if (!prev.isNullAt(1) && prev.getLong(1) > batchId)
      sys.error(s"hwmPath '$path' carries partition ingest_batch=" +
        s"${prev.getLong(1)} > current batch $batchId: the checkpoint was " +
        "reset while the landed watermark survived a prior run. Reset " +
        "hwmPath (and the signature indexPath) together with the " +
        "checkpoint — serving a stale watermark would reject on-time docs.")
    if (prev.isNullAt(0)) None else Some(prev.getLong(0))
  }

  /** STREAMING QUALITY GATE — curation at the ingest boundary: each
    * micro-batch of crawl lines is scored with EXACTLY the batch t2
    * quality formula ([[graft.text.TextAnalysis.qualityOf]]) and the
    * t37 encoding detectors, then split: clean, above-threshold docs
    * land at `keptPath`, the rest at `rejectedPath` WITH their reason
    * (`encoding` beats `low_quality`, t37's gate-before-quality
    * order) and score — nothing is dropped silently, rejected shards
    * stay re-processable after a threshold retune (the Ingest
    * quarantine principle applied to content quality).
    *
    * Scale shape: score = one explode + one map-side-combinable
    * groupBy per batch (work ∝ batch); both landings ride the
    * `ingest_batch` delete-then-dynamic-overwrite partition pattern
    * ([[landBatch]] — the explicit delete covers the side a replay
    * lands ZERO rows on, e.g. after a threshold retune between
    * attempts), so a replayed batch rewrites exactly its own
    * partitions: at-least-once delivery × idempotent write =
    * effectively-once, and kept/rejected cannot diverge past one
    * replay. */
  def qualityGateSink(lines: DataFrame, keptPath: String, rejectedPath: String,
                      checkpoint: String, minQualityE6: Long = 300000L,
                      lang: String = "und"): StreamingQuery =
    lines.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val docs = graft.sources.Tables.documentsFromLines(batch, lang)
        // LEFT join + score-0 backfill: same zero-token contract as
        // [[curatedIngestSink]] — empty lines reject as low_quality
        // instead of vanishing from both outputs
        val scored = docs
          .join(graft.text.TextAnalysis.qualityOf(docs)
            .select(col("doc_id"), col("quality_e6")), Seq("doc_id"), "left")
          .withColumn("quality_e6", coalesce(col("quality_e6"), lit(0L)))
          .withColumn("reason",
            when(graft.text.TextAnalysis.encodingFlag(col("text")) === 1L, "encoding")
              .when(col("quality_e6") < minQualityE6, "low_quality"))
          .persist()
        try {
          landBatch(scored.filter(col("reason").isNull).drop("reason"), keptPath, batchId)
          landBatch(scored.filter(col("reason").isNotNull), rejectedPath, batchId)
        } finally { scored.unpersist(); () }
      }
      .start()

  /** Corpus signature index reader; empty-with-schema before the first
    * batch lands. */
  private def readSigIndex(spark: SparkSession, path: String, k: Int): DataFrame = {
    import spark.implicits._
    val empty = spark.range(0).select(
      ($"id".as("doc_id") +: (0 until k).map(j => $"id".as(s"h$j")) :+
        $"id".as("ingest_batch")): _*)
    try {
      val df = graft.sources.Tables.parquet(spark, path)
      // a crash between the two landings can leave a decisions
      // partition without its index twin (or vice versa) — schema is
      // what matters; replay rewrites both
      if (df.columns.contains("doc_id")) df else empty
    } catch { case _: org.apache.spark.sql.AnalysisException => empty }
  }
}
