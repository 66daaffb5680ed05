package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Round-state materialization for iterative operators (connected
  * components, k-core, BFS, farthest-first/Lloyd's): one EAGER lineage
  * cut per round, with a conf-gated choice of durability.
  *
  * Default (`spark.graft.checkpointDir` unset): `localCheckpoint(true)`
  * — blocks live in executor storage, cheap, but lost with an executor.
  * Fine for local mode and restartable queries.
  *
  * Reliable mode (`spark.graft.checkpointDir = <fault-tolerant path>`):
  * `checkpoint(eager = true)` to that directory — on a 1000-executor
  * run a lost executor no longer kills a long iterative query
  * mid-flight, because round state re-reads from storage instead of
  * recomputing a lineage that no longer exists. The reference engine is
  * a single process and has no equivalent; at 100 TB this is the
  * difference between "restart the whole 40-round CC" and "lose one
  * task". The round plan is persisted across the checkpoint write (the
  * classic persist-before-checkpoint contract — an unpersisted plan
  * computes TWICE, once for the eager action and once writing the
  * files) and [[release]] deletes a superseded generation's checkpoint
  * directory, so per-round files do not accumulate for the session.
  */
object State {

  /** Session conf key: set to a fault-tolerant directory (HDFS/object
    * store on a cluster; any path locally) to make every iterative
    * operator's round cuts RELIABLE checkpoints instead of
    * executor-local ones. */
  val CheckpointDirKey = "spark.graft.checkpointDir"

  /** Eagerly materializes `df` and cuts its lineage — reliable
    * checkpoint when [[CheckpointDirKey]] is set, localCheckpoint
    * otherwise. The SparkContext checkpoint dir is initialized from
    * the conf on first use and left alone if already set (each
    * `setCheckpointDir` call mints a fresh UUID subdirectory). */
  def cut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption(CheckpointDirKey).filter(_.nonEmpty) match {
      case Some(dir) =>
        // re-point when the CONFIGURED dir changed, not only when the
        // context has none: setCheckpointDir mints a UUID subdirectory
        // under the configured path, so a context still pointing into
        // a previously-configured (possibly deleted) path would write
        // every later session's cuts there while the conf claims
        // otherwise. The conf is the source of truth.
        // compare FULL QUALIFIED URIs (scheme + authority + path): a
        // path-only check both misses scheme/namenode changes (file:
        // vs hdfs:, different authorities) and lets /ckpt2/<uuid>
        // pass a /ckpt config via bare startsWith — require equality
        // or a proper child path. Both sides are fs-qualified so a
        // bare configured path compares against the fully-qualified
        // URI getCheckpointDir returns.
        val hconf = spark.sparkContext.hadoopConfiguration
        def qualified(p: String): String = {
          val path = new org.apache.hadoop.fs.Path(p)
          path.getFileSystem(hconf).makeQualified(path)
            .toUri.toString.stripSuffix("/")
        }
        val want = qualified(dir)
        val inside = spark.sparkContext.getCheckpointDir.map(qualified)
          .exists(c => c == want || c.startsWith(want + "/"))
        if (!inside) spark.sparkContext.setCheckpointDir(dir)
        // persist-before-checkpoint: the eager action fills the cache
        // and the checkpoint file write re-reads it, instead of
        // recomputing the round's whole lineage a second time
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try df.checkpoint(eager = true)
        finally df.unpersist(blocking = false)
      case None => df.localCheckpoint(true)
    }
  }

  /** The cut for a frame of a few rows (a report): collects it once
    * into a driver-side local relation. Nothing is left to recompute or
    * to lose with an executor, and a later `collect` runs no job. */
  def cutToDriver(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** Frees a PREVIOUS round generation's storage once the next one is
    * materialized. localCheckpoint state is cached RDD blocks that the
    * ContextCleaner frees only at GC time, so a long session running
    * many iterative queries otherwise accumulates node-sized block sets
    * per round. Walks to the generation's `LogicalRDD` leaves and
    * unpersists their RDDs (non-blocking); a RELIABLE-checkpoint
    * generation instead has its checkpoint directory DELETED
    * (best-effort — `getCheckpointFile` is Some only for reliable
    * checkpoints), so a 40-round query leaves one live generation of
    * files, not 40. NEVER call it on a generation that still has
    * downstream consumers — unlike CacheManager unpersist, the blocks
    * don't recompute (the original lineage is gone), they're simply
    * missing. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
        lr.rdd.getCheckpointFile.foreach { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          try p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
            .delete(p, true)
          catch { case _: java.io.IOException => () } // best-effort cleanup
        }
      case _ => ()
    }
}
