package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Small-file COMPACTION for parquet datasets — the table-maintenance
  * job every long-lived 100 TB lake runs (Delta OPTIMIZE / Iceberg
  * rewriteDataFiles re-expressed over plain parquet directories).
  * Streaming sinks and fine-grained incremental writes accumulate
  * thousands of KB-sized files; each costs a scan task, a footer
  * round-trip and a namenode entry, so at cluster scale read latency
  * becomes file-count-bound long before it is byte-bound.
  *
  * Split into PLAN and EXECUTE so the decision is auditable (and
  * testable) separately from the rewrite:
  *
  *  - [[plan]] lists the leaf parquet files and first-fit-decreasing
  *    bin-packs every file below `smallBytes` into rewrite groups of
  *    ≤ `targetBytes` — the classic 11/9·OPT bound is irrelevant at
  *    this grain; what matters is that FFD never builds a group the
  *    target wouldn't want and touches ONLY small files (compaction
  *    must not rewrite the healthy bulk of the table: rewrite cost is
  *    proportional to the damage, not the dataset).
  *  - [[compact]] reads each group and writes it back as ONE file per
  *    group (coalesce(1) per group — the group was sized to be one
  *    healthy file), staging everything and publishing with the same
  *    park-then-rename protocol as [[AtomicSnapshot]]: readers never
  *    observe a half-compacted directory, and a crash leaves either
  *    the old layout or the new one, never a mix.
  *
  * The driver-side file LISTING is metadata-sized (one entry per
  * file, the same listing every Spark scan already performs); the
  * data path is fully distributed. Groups rewrite independently, so
  * a 1000-executor cluster compacts a damaged table in one wave.
  */
object Compaction {

  /** One planned rewrite group. */
  final case class Group(id: Int, files: Seq[String], bytes: Long)

  /** The compaction decision for a directory. */
  final case class Plan(groups: Seq[Group], skipped: Seq[String],
                        skippedBytes: Long) {
    def nSmallFiles: Int = groups.map(_.files.size).sum
    def isNoop: Boolean = groups.forall(_.files.size <= 1)
  }

  /** List leaf parquet part-files under `dir` (non-recursive data
    * files only; `_`-prefixed metadata like _SUCCESS is ignored).
    * REFUSES a directory with data subdirectories (a partitioned
    * layout): plan/compact operate on ONE leaf directory, and a
    * publish that only carried the top-level files would silently
    * destroy every partition subtree at the final swap. Partitioned
    * tables go through [[planPartitioned]]/[[compactPartitioned]],
    * which walk the layout and run this per leaf. */
  private def listParts(spark: SparkSession, dir: String): Seq[(String, Long)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val all = fs.listStatus(p).toSeq
    val subdirs = all.filter(s => s.isDirectory && !s.getPath.getName.startsWith("_")
      && !s.getPath.getName.startsWith("."))
    require(subdirs.isEmpty,
      s"Compaction: $dir has partition subdirectories (${subdirs.take(3).map(_.getPath.getName).mkString(", ")}…) — " +
        "compact each leaf partition directory individually")
    all.filter(s => s.isFile && !s.getPath.getName.startsWith("_")
        && !s.getPath.getName.startsWith("."))
      .map(s => (s.getPath.toString, s.getLen))
  }

  /** FFD bin-packing of the sub-`smallBytes` files into ≤`targetBytes`
    * groups. Files ≥ `smallBytes` are healthy and land in `skipped`.
    * Deterministic: files sort by (size DESC, path) before packing. */
  def plan(spark: SparkSession, dir: String,
           targetBytes: Long = 128L * 1024 * 1024,
           smallBytes: Long = 32L * 1024 * 1024): Plan = {
    require(smallBytes <= targetBytes,
      s"smallBytes $smallBytes must be <= targetBytes $targetBytes")
    val parts = listParts(spark, dir)
    val (small, healthy) = parts.partition(_._2 < smallBytes)
    val bins = scala.collection.mutable.ArrayBuffer.empty[(scala.collection.mutable.ArrayBuffer[String], Long)]
    for ((path, len) <- small.sortBy { case (p, l) => (-l, p) }) {
      bins.indexWhere(_._2 + len <= targetBytes) match {
        case -1 => bins += ((scala.collection.mutable.ArrayBuffer(path), len))
        case i  => val (fs, tot) = bins(i); fs += path; bins(i) = (fs, tot + len)
      }
    }
    Plan(
      bins.toSeq.zipWithIndex.map { case ((fs, tot), i) => Group(i, fs.toSeq, tot) },
      healthy.map(_._1), healthy.map(_._2).sum)
  }

  /** Execute `plan` against `dir`: rewrite each multi-file group as one
    * file, carry skipped (healthy) files over unchanged, and publish
    * the new layout atomically (stage → park old → rename). Returns
    * the published file count. Single-file groups are carried over
    * like healthy files — rewriting them buys nothing. */
  def compact(spark: SparkSession, rawDir: String, plan: Plan): Int = {
    // trailing slashes would make __staging/__prev CHILDREN of the
    // target: parking the target would swallow staging and the final
    // rename would fail with the live directory already gone
    val dir = rawDir.reverse.dropWhile(_ == '/').reverse
    val dst = new Path(dir)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.filter(s => s.isFile
        && !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
    // re-list and DIFF against the plan: fires the partitioned-layout
    // refusal even on a hand-built Plan, and refuses when the file set
    // changed since plan() — a streaming sink's file committed in the
    // window would be absent from staging and silently destroyed by
    // the final swap; a planned file that vanished means the plan is
    // stale either way
    val now = listParts(spark, dir).map(_._1).toSet
    val planned = (plan.groups.flatMap(_.files) ++ plan.skipped).toSet
    require(now == planned,
      s"Compaction: $dir changed since plan() (" +
        s"new: ${(now -- planned).take(3).mkString(", ")}; " +
        s"gone: ${(planned -- now).take(3).mkString(", ")}) — re-plan")
    // no multi-file group -> nothing to rewrite; a publish here would
    // copy the whole directory for zero layout change
    if (plan.isNoop) return dataFiles(dst).size
    val staging = new Path(dir + "__staging")
    val prev = new Path(dir + "__prev")
    fs.delete(staging, true)
    fs.mkdirs(staging)
    val (rewrite, carry) = plan.groups.partition(_.files.size > 1)
    // distributed rewrite: each group is one independent read+write;
    // groups are submitted CONCURRENTLY (Spark schedules jobs from
    // multiple threads fine) so the wave is as wide as the cluster,
    // not serialized on the driver loop
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(rewrite.size, 8)))
    try {
      val futures = rewrite.map { g =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit =
            // mergeSchema: a group mixing files written before and
            // after a column was added must keep the union schema —
            // single-file inference would silently DROP the column
            // for the whole group
            spark.read.option("mergeSchema", "true").parquet(g.files: _*)
              .coalesce(1)
              .write.mode("append").parquet(new Path(staging, s"group=${g.id}").toString)
        })
      }
      futures.foreach(_.get()) // propagate the first failure loudly
    } finally pool.shutdown()
    // pull the group files up to the staging root so the result is a
    // plain flat parquet dir (the group= dirs were only write scopes)
    fs.listStatus(staging).filter(_.isDirectory).foreach { d =>
      fs.listStatus(d.getPath).filter(s => s.isFile
          && !s.getPath.getName.startsWith("_")).zipWithIndex.foreach {
        case (s, i) =>
          if (!fs.rename(s.getPath,
              new Path(staging, s"${d.getPath.getName}-$i-${s.getPath.getName}")))
            sys.error(s"Compaction: failed to stage ${s.getPath}")
      }
      fs.delete(d.getPath, true)
    }
    val carryFiles = carry.flatMap(_.files) ++ plan.skipped
    carryFiles.foreach { f =>
      val src = new Path(f)
      // COPY, not move: the live directory stays fully readable until
      // the final atomic swap below
      org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
        new Path(staging, src.getName), false, spark.sparkContext.hadoopConfiguration)
    }
    fs.delete(prev, true)
    if (fs.exists(dst) && !fs.rename(dst, prev))
      sys.error(s"Compaction: failed to park $dst at $prev")
    if (!fs.rename(staging, dst))
      sys.error(s"Compaction: failed to publish $staging as $dst")
    fs.delete(prev, true)
    dataFiles(dst).size
  }

  // ---------------------------------------------------------------
  // Partitioned (Hive `key=value` directory) layouts
  // ---------------------------------------------------------------

  /** One partition's compaction decision; `partition` is the
    * root-relative spec path (`dt=2024-01-01/hr=3`, "" for an
    * unpartitioned root). */
  final case class PartPlan(partition: String, plan: Plan)

  /** Whole-table decision: one [[Plan]] per leaf partition directory.
    * Partitions whose plan is a no-op are left physically untouched by
    * [[compactPartitioned]] — rewrite cost stays proportional to the
    * damage, never the table. */
  final case class PartitionedPlan(parts: Seq[PartPlan]) {
    def damaged: Seq[PartPlan] = parts.filterNot(_.plan.isNoop)
    def isNoop: Boolean = damaged.isEmpty
  }

  /** Leaf data directories of a (possibly nested) Hive-partitioned
    * table, as root-relative paths. Descends ONLY `key=value`-named
    * subdirectories — any other subdirectory is an unknown layout and
    * refuses loudly, as does a directory mixing data files with
    * partition subdirs, or a `__staging`/`__prev` leftover (a crashed
    * compaction to recover by hand before planning anew). An
    * unpartitioned root is its own single leaf (""). */
  private def leafDirs(spark: SparkSession, root: String): Seq[String] = {
    val rp = new Path(root)
    val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: Path, rel: String): Seq[String] = {
      val all = fs.listStatus(p).toSeq
        .filterNot(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
      val leftovers = all.filter(s => s.getPath.getName.endsWith("__staging")
        || s.getPath.getName.endsWith("__prev"))
      require(leftovers.isEmpty,
        s"Compaction: crashed-compaction leftover under $p " +
          s"(${leftovers.map(_.getPath.getName).mkString(", ")}) — recover before re-planning")
      val (dirs, files) = all.partition(_.isDirectory)
      if (dirs.isEmpty) { if (files.nonEmpty) Seq(rel) else Seq.empty }
      else {
        require(files.isEmpty,
          s"Compaction: $p mixes data files with subdirectories — not a partitioned layout")
        val odd = dirs.filterNot(_.getPath.getName.contains("="))
        require(odd.isEmpty,
          s"Compaction: $p has non-partition subdirectories " +
            s"(${odd.take(3).map(_.getPath.getName).mkString(", ")}) — unknown layout")
        dirs.sortBy(_.getPath.getName).flatMap(d =>
          walk(d.getPath, if (rel.isEmpty) d.getPath.getName else s"$rel/${d.getPath.getName}"))
      }
    }
    walk(rp, "")
  }

  /** FFD-plan every leaf partition of a Hive layout (or the bare root
    * when unpartitioned). The listing is one metadata pass per leaf —
    * the same work any partition-pruned scan performs. */
  def planPartitioned(spark: SparkSession, rawDir: String,
                      targetBytes: Long = 128L * 1024 * 1024,
                      smallBytes: Long = 32L * 1024 * 1024): PartitionedPlan = {
    val dir = rawDir.reverse.dropWhile(_ == '/').reverse
    PartitionedPlan(leafDirs(spark, dir).map { rel =>
      val leaf = if (rel.isEmpty) dir else s"$dir/$rel"
      PartPlan(rel, plan(spark, leaf, targetBytes, smallBytes))
    })
  }

  /** Execute a [[PartitionedPlan]]: each damaged leaf partition runs
    * the full single-directory protocol — drift re-list guard, FFD
    * groups rewritten concurrently, park-then-rename atomic publish —
    * against ITS OWN directory, so readers of any partition see either
    * its old layout or its new one, never a mix, and healthy
    * partitions are never touched (their directories keep their
    * mtimes). Cross-partition atomicity is deliberately NOT promised:
    * partition directories are independent publish units in every
    * lakehouse layout, and holding the whole table for one swap would
    * serialize the wave. A partition that changed since planning fails
    * ITS swap loudly (stale-plan guard) without blocking the rest —
    * failures are collected and rethrown after the wave. Returns
    * per-partition published file counts for the compacted set. */
  def compactPartitioned(spark: SparkSession, rawDir: String,
                         pplan: PartitionedPlan): Map[String, Int] = {
    val dir = rawDir.reverse.dropWhile(_ == '/').reverse
    val results = pplan.damaged.map { pp =>
      val leaf = if (pp.partition.isEmpty) dir else s"$dir/${pp.partition}"
      pp.partition -> scala.util.Try(compact(spark, leaf, pp.plan))
    }
    val failures = results.collect { case (part, scala.util.Failure(e)) => (part, e) }
    if (failures.nonEmpty)
      throw new IllegalStateException(
        s"Compaction: ${failures.size}/${results.size} partitions failed " +
          s"(first: ${failures.head._1}: ${failures.head._2.getMessage})",
        failures.head._2)
    results.collect { case (part, scala.util.Success(n)) => part -> n }.toMap
  }
}
