package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Graph, State}

/** Pins [[graft.operators.State]]'s conf-gated durability contract:
  * with `spark.graft.checkpointDir` set, every iterative operator's
  * round cuts become RELIABLE checkpoints (files on the checkpoint
  * path — what survives executor loss on a cluster), and results stay
  * bit-identical to the default localCheckpoint mode. */
class StateSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private lazy val pairs = Seq(
    (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), // a 5-chain
    (10L, 11L), (11L, 12L), (10L, 12L),     // a triangle
    (20L, 21L)                              // an edge
  ).toDF("x", "y")
  private lazy val nodes =
    (Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L, 12L, 20L, 21L) :+ 99L).toDF("id")

  private def ccRows(key: String) =
    Graph.connectedComponents(pairs, nodes, key).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
  private def kcoreRows() =
    Graph.kCore(pairs, k = 2, rounds = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
  private def bfsRows() =
    Graph.bfsHops(pairs, rounds = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  test("reliable mode: identical results, checkpoint files actually written") {
    val localCc = ccRows("state-spec-local")
    val localKc = kcoreRows()
    val localBfs = bfsRows()
    // fixture sanity before comparing modes
    assert(localCc.filter(_._1 <= 5L).forall(_._2 == 1L))
    assert(localCc.contains((99L, 99L)))

    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
    spark.conf.set(State.CheckpointDirKey, dir.getAbsolutePath)
    try {
      assert(ccRows("state-spec-reliable") == localCc)
      assert(kcoreRows() == localKc)
      assert(bfsRows() == localBfs)
      // reliable mode ENGAGED: rdd checkpoint dirs exist under the path
      def rddDirs(f: java.io.File): Int =
        Option(f.listFiles).toSeq.flatten.map { c =>
          (if (c.isDirectory && c.getName.startsWith("rdd-")) 1 else 0) +
            (if (c.isDirectory) rddDirs(c) else 0)
        }.sum
      assert(rddDirs(dir) > 0, s"no rdd-* checkpoint dirs under $dir")
    } finally {
      spark.conf.unset(State.CheckpointDirKey)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).toSeq.flatten.foreach(rm); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("reliable mode: s27 farthest-first trace is bit-identical too") {
    // the non-graph iterative operator routed through State.cut — its
    // round state is corpus-sized (vec_id, vec, mind), so the durable
    // path must not perturb the argmax trace
    spark.conf.unset(State.CheckpointDirKey)
    val local = graft.similarity.Knn.s27Coreset(spark, sf).collect().map(_.toString).toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-s27").toFile
    spark.conf.set(State.CheckpointDirKey, dir.getAbsolutePath)
    try {
      val rel = graft.similarity.Knn.s27Coreset(spark, sf).collect().map(_.toString).toSeq
      assert(rel == local)
    } finally {
      spark.conf.unset(State.CheckpointDirKey)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).toSeq.flatten.foreach(rm); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("release frees a dead generation's blocks; live generations keep theirs") {
    spark.conf.unset(State.CheckpointDirKey)
    val gen0 = State.cut(Seq(1L, 2L, 3L).toDF("v"))
    val rdd = gen0.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.head
    assert(rdd.getStorageLevel.useMemory || rdd.getStorageLevel.useDisk,
      "localCheckpoint state must be stored")
    val gen1 = State.cut(gen0.select(($"v" + 1L).as("v")))
    State.release(gen0)
    // non-blocking unpersist: poll briefly for the level to drop
    val deadline = System.nanoTime() + 10e9.toLong
    while (rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE &&
      System.nanoTime() < deadline) Thread.sleep(50)
    assert(rdd.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "released generation still registered as stored")
    // the LIVE generation is untouched and still answers
    assert(gen1.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L, 4L))
  }

  test("release deletes a superseded RELIABLE generation's checkpoint directory") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-rel").toFile
    def rddDirs(f: java.io.File): Int =
      Option(f.listFiles).toSeq.flatten.map { c =>
        (if (c.isDirectory && c.getName.startsWith("rdd-")) 1 else 0) +
          (if (c.isDirectory) rddDirs(c) else 0)
      }.sum
    spark.conf.set(State.CheckpointDirKey, dir.getAbsolutePath)
    try {
      val gen0 = State.cut(Seq(1L, 2L, 3L).toDF("v"))
      val before = rddDirs(dir)
      assert(before > 0, "reliable cut wrote no checkpoint files")
      val gen1 = State.cut(gen0.select(($"v" + 1L).as("v")))
      assert(rddDirs(dir) > before)
      State.release(gen0)
      // superseded generation's files are GONE (a 40-round query keeps
      // one live generation of files, not 40)...
      assert(rddDirs(dir) == before,
        "released reliable generation's checkpoint files linger")
      // ...and the live generation still answers from its own files
      assert(gen1.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L, 4L))
    } finally {
      spark.conf.unset(State.CheckpointDirKey)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).toSeq.flatten.foreach(rm); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("src/main cuts lineage with localCheckpoint only inside State") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(Paths.get("src/main/scala"))
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val hits = files.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex
        .collect { case (l, i) if l.contains("localCheckpoint(") => (f.toString, i + 1) }
    }
    val stateFile = "src/main/scala/graft/operators/State.scala"
    assert(hits.exists(_._1 == stateFile), "State.cut's own localCheckpoint was not found")
    hits.foreach { case (f, line) =>
      assert(f == stateFile, s"$f:$line cuts lineage outside State.cut")
    }
  }
}
