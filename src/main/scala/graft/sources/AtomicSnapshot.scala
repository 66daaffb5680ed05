package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Stage-then-rename atomic publish for parquet snapshots — the
  * declarative-engine analogue of the reference's
  * `START TRANSACTION … COMMIT/ROLLBACK` wrapper (orchestrator.js:26,
  * 98-107): readers never observe a partially-written target.
  *
  * Protocol: write the full snapshot to `<target>__staging`, park the
  * previous target at `<target>__prev`, rename staging → target. The
  * previous snapshot is parked FIRST, so no moment exists where all
  * copies are gone; [[readCurrent]] falls back to `__prev` if a crash
  * landed between the two renames. Renames are checked — a failed
  * rename aborts loudly rather than publishing half a state.
  *
  * Shared by the batch merge publish ([[graft.merge.Orchestrator]])
  * and the streaming upsert sink
  * ([[graft.streaming.EventStream.upsertSink]]) — one crash-safety
  * code path for both.
  */
object AtomicSnapshot {

  private def paths(rawTarget: String): (Path, Path, Path) = {
    // trailing slashes would make __prev/__staging CHILDREN of the
    // target — parking would then swallow staging and the final
    // rename fail with the live dir already parked (Compaction's
    // normalization, shared hazard)
    val target = rawTarget.reverse.dropWhile(_ == '/').reverse
    (new Path(target), new Path(target + "__prev"), new Path(target + "__staging"))
  }

  /** Current readable snapshot: the target, else the parked previous
    * (crash between renames), else None. */
  def readCurrent(spark: SparkSession, target: String): Option[DataFrame] = {
    val (dst, prev, _) = paths(target)
    // the target's OWN filesystem, not the cluster default FS
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dst)) Some(Tables.parquet(spark, dst.toString))
    else if (fs.exists(prev)) Some(Tables.parquet(spark, prev.toString))
    else None
  }

  /** Write `df` as parquet and atomically swap it in as `target`. */
  def publish(df: DataFrame, target: String): Unit = {
    val spark = df.sparkSession
    val (dst, prev, tmp) = paths(target)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    df.write.mode("overwrite").parquet(tmp.toString)
    fs.delete(prev, true)
    if (fs.exists(dst) && !fs.rename(dst, prev))
      sys.error(s"AtomicSnapshot: failed to park $dst at $prev")
    if (!fs.rename(tmp, dst))
      sys.error(s"AtomicSnapshot: failed to publish $tmp as $dst")
  }
}
