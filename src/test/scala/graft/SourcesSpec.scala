package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables

class SourcesSpec extends AnyFunSuite {
  import TestSpark._

  test("jdbc source spec builds a fully parallel partitioned read") {
    val src = Tables.JdbcSource(
      url = "jdbc:mysql://srchost:3306/openmrs",
      table = "obs",
      partitionColumn = "obs_id",
      lowerBound = 1L, upperBound = 50000000L, numPartitions = 64,
      extraOptions = Map("sessionInitStatement" -> "SET TRANSACTION READ ONLY"))
    val o = src.options
    assert(o("partitionColumn") == "obs_id")
    assert(o("numPartitions") == "64")
    assert(o("lowerBound") == "1" && o("upperBound") == "50000000")
    assert(o("fetchsize").toInt >= 1000)
    assert(o("pushDownPredicate") == "true")
    assert(o("sessionInitStatement").nonEmpty)
  }

  test("ScaleDefaults sizes shuffle partitions from cores and data volume") {
    import graft.ScaleDefaults.shufflePartitions
    // small shuffle on a big cluster: core-bound (2 per core)
    assert(shufflePartitions(totalCores = 1000, expectedShuffleGB = 10) == 2000)
    // huge shuffle: size-bound at ~200MB per partition
    assert(shufflePartitions(totalCores = 1000, expectedShuffleGB = 100000) == 512000)
    // never below the core count
    assert(shufflePartitions(totalCores = 32, expectedShuffleGB = 0.001) >= 32)
  }

  test("jdbc sink spec mirrors the reference's batched transactional write") {
    val sink = Tables.JdbcSink("jdbc:mysql://desthost:3306/openmrs", "obs",
      batchSize = 1000, truncate = false)
    val o = sink.options
    assert(o("batchsize") == "1000")
    assert(o("isolationLevel") == "READ_COMMITTED")
    assert(o("truncate") == "false" && o("dbtable") == "obs")
  }

  test("gated merge refuses to run when a relation has orphans") {
    import spark.implicits._
    val child = Seq((1L, 10L), (2L, 99L)).toDF("id", "fk")   // fk=99 is orphaned
    val parent = Seq((10L, "x")).toDF("pk", "v")
    val bad = Seq(("child->parent", child, "fk", parent, "pk"))
    val ex = intercept[graft.merge.MergePipeline.IntegrityViolation] {
      graft.merge.MergePipeline.m7MergeGated(spark, sf, bad)
    }
    assert(ex.relations == Seq(("child->parent", 1L)))
    // clean relations → the merge actually runs
    val ok = Seq(("child->parent", child.filter($"fk" === 10L), "fk", parent, "pk"))
    assert(graft.merge.MergePipeline.m7MergeGated(spark, sf, ok).count() > 0)
    // the standard OpenMRS shape: the FK column carries the SAME name
    // as the parent pk (users.person_id -> person.person_id) — an
    // unaliased parent key here was AMBIGUOUS_REFERENCE
    val users = Seq((1L, 10L), (2L, 99L)).toDF("user_id", "person_id")
    val person = Seq((10L, "p")).toDF("person_id", "name")
    val sameName = graft.merge.MergeOps.orphanCheck(
      Seq(("users->person", users, "person_id", person, "person_id"))).collect()
    assert(sameName.head.getAs[Long]("orphan_count") == 1L)
  }

  test("all star-schema tables read with expected keys present") {
    Tables.names.foreach { n =>
      val df = if (n == "events") Tables.events(spark, sf) else Tables.read(spark, sf, n)
      assert(df.columns.nonEmpty && df.count() > 0, s"table $n")
    }
    // events ts must be a real timestamp after nanos normalization
    assert(Tables.events(spark, sf).schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  test("writeParquet round-trips with partitioning") {
    val dir = java.nio.file.Files.createTempDirectory("graft-w").toString
    val df = Tables.read(spark, sf, "nation")
    Tables.writeParquet(df, s"$dir/nation", partitionBy = Seq("n_regionkey"))
    val back = spark.read.parquet(s"$dir/nation")
    assert(back.count() == df.count())
    // the point of partitioning: a filter on the partition column must
    // reach the scan as a PartitionFilter (directory pruning — at
    // 100 TB this is the difference between reading one partition and
    // reading everything), not as a post-scan Filter
    import org.apache.spark.sql.functions.col
    val pruned = back.filter(col("n_regionkey") === 1)
    val scan = pruned.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*n_regionkey#\\d+ = 1".r.findFirstIn(scan).isDefined,
      scan.linesIterator.take(6).mkString("\n"))
    assert(pruned.count() == df.filter(col("n_regionkey") === 1).count())
  }

  /** `body`'s result and the number of Spark jobs it submitted. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.testbus.Bus
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    // earlier tests' job events must not reach the listener
    Bus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      Bus.drain(spark.sparkContext)
      (r, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("Tables.read infers a directory's schema once: a second read of it submits no job") {
    val dir = java.nio.file.Files.createTempDirectory("graft-schema").toString
    Tables.read(spark, sf, "nation").write.parquet(s"$dir/nation.parquet")
    val (cold, coldJobs) = jobsDuring(Tables.read(spark, dir, "nation"))
    val (warm, warmJobs) = jobsDuring(Tables.read(spark, dir, "nation"))
    assert(coldJobs >= 1, "the first read infers the schema with a job")
    assert(warmJobs == 0, s"the second read of an unchanged directory ran $warmJobs jobs")
    assert(warm.schema == cold.schema)
    assert(sortedRows(warm) == sortedRows(cold))
  }

  test("Tables.parquet reads a directory rewritten by AtomicSnapshot.publish or Compaction.compact with its new schema") {
    import graft.sources.{AtomicSnapshot, Compaction}
    import org.apache.spark.sql.functions.{col, sum}
    val base = java.nio.file.Files.createTempDirectory("graft-rewrite").toString
    val snap = s"$base/snap"
    AtomicSnapshot.publish(spark.range(3).toDF("id"), snap)
    assert(Tables.parquet(spark, snap).columns.toSeq == Seq("id"))
    val wide = spark.range(5).select(col("id"), (col("id") * 10).as("extra"))
    AtomicSnapshot.publish(wide, snap)
    val snapBack = Tables.parquet(spark, snap)
    assert(snapBack.columns.toSeq == Seq("id", "extra"))
    assert(sortedRows(snapBack) == sortedRows(wide))

    // narrow files, read once, then wider files appended: compaction
    // merges every group's schema into one file
    val dir = s"$base/compact"
    spark.range(0, 40).repartition(4).write.parquet(dir)
    assert(Tables.parquet(spark, dir).columns.toSeq == Seq("id"))
    spark.range(40, 80).select(col("id"), (col("id") * 2).as("extra"))
      .repartition(4).write.mode("append").parquet(dir)
    val plan = Compaction.plan(spark, dir, 10L * 1024 * 1024, 5L * 1024 * 1024)
    assert(Compaction.compact(spark, dir, plan) == 1)
    val compacted = Tables.parquet(spark, dir)
    assert(compacted.columns.toSeq == Seq("id", "extra"))
    assert(compacted.count() == 80)
    assert(compacted.agg(sum(col("extra"))).head.getLong(0) == (40L until 80L).map(_ * 2).sum)
  }

  test("Tables.parquet re-infers when a schema-inference conf changes") {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val dir = java.nio.file.Files.createTempDirectory("graft-ntz").toString
    // a naive (isAdjustedToUTC = false) timestamp written without the
    // Spark schema footer, which a Spark writer adds and inference
    // prefers over the conf
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    val naive = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message naive { required int64 ts (TIMESTAMP(MICROS,false)); }")
    val conf = spark.sparkContext.hadoopConfiguration
    val out = HadoopOutputFile.fromPath(new org.apache.hadoop.fs.Path(s"$dir/part-0.parquet"), conf)
    val writer = ExampleParquetWriter.builder(out).withType(naive).withConf(conf).build()
    try writer.write(new SimpleGroupFactory(naive).newGroup().append("ts", 1704164645000000L))
    finally writer.close()
    val before = spark.conf.get(key)
    assert(Tables.parquet(spark, dir).schema("ts").dataType == TimestampType)
    try {
      spark.conf.set(key, "true")
      assert(Tables.parquet(spark, dir).schema("ts").dataType == TimestampNTZType)
    } finally spark.conf.set(key, before)
    assert(Tables.parquet(spark, dir).schema("ts").dataType == TimestampType)
  }

  test("Tables.parquet fails on a missing or empty path exactly as spark.read.parquet does") {
    import org.apache.spark.sql.AnalysisException
    val base = java.nio.file.Files.createTempDirectory("graft-missing").toString
    val empty = new java.io.File(s"$base/empty.parquet")
    assert(empty.mkdir())
    Seq(s"$base/missing.parquet", empty.toString).foreach { path =>
      val plain = intercept[AnalysisException](spark.read.parquet(path))
      // twice: a failed read leaves nothing behind to serve
      (1 to 2).foreach { _ =>
        val ours = intercept[AnalysisException](Tables.parquet(spark, path))
        assert(ours.getCondition == plain.getCondition)
        assert(ours.getMessage == plain.getMessage)
      }
    }
  }

  test("a warm read of a partitioned directory keeps its columns, partition type, rows and pruning") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-warm-part").toString + "/nation"
    Tables.writeParquet(Tables.read(spark, sf, "nation"), dir, partitionBy = Seq("n_regionkey"))
    val inferred = spark.read.parquet(dir)
    Tables.parquet(spark, dir)
    val (warm, jobs) = jobsDuring(Tables.parquet(spark, dir))
    assert(jobs == 0, s"the warm read ran $jobs jobs")
    assert(warm.schema == inferred.schema)
    assert(warm.columns.last == "n_regionkey")
    assert(warm.schema("n_regionkey").dataType == inferred.schema("n_regionkey").dataType)
    assert(sortedRows(warm) == sortedRows(inferred))
    val pruned = warm.filter(col("n_regionkey") === 1)
    val scan = pruned.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*n_regionkey#\\d+ = 1".r.findFirstIn(scan).isDefined,
      scan.linesIterator.take(6).mkString("\n"))
    assert(sortedRows(pruned) == sortedRows(inferred.filter(col("n_regionkey") === 1)))
  }

  test("src/main reads parquet directories only inside Tables.parquet") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val read = """\.read\s*\.(parquet\(|format\(\s*"parquet"\s*\))""".r
    val walk = Files.walk(Paths.get("src/main/scala"))
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val hits = files.flatMap { f =>
      val text = new String(Files.readAllBytes(f), "UTF-8")
      read.findAllMatchIn(text).map(m => (f.toString, text.take(m.start).count(_ == '\n') + 1))
    }
    val tablesFile = "src/main/scala/graft/sources/Tables.scala"
    val lines = Files.readAllLines(Paths.get(tablesFile)).asScala.toSeq
    val first = lines.indexWhere(_.contains("def parquet(spark: SparkSession")) + 1
    val last = first + lines.drop(first).indexWhere(_ == "  }")
    assert(first > 0 && last >= first, s"Tables.parquet not found in $tablesFile")
    assert(hits.nonEmpty, "the primitive's own read was not found")
    hits.foreach { case (f, line) =>
      assert(f == tablesFile && line >= first && line <= last,
        s"$f:$line reads parquet outside Tables.parquet (lines $first-$last)")
    }
  }

  test("compaction: FFD plan touches only small files; rewrite preserves rows and shrinks file count") {
    import org.apache.spark.sql.functions.col
    import graft.sources.Compaction
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString + "/li"
    // a deliberately shattered layout: 64 tiny files
    val df = Tables.read(spark, sf, "lineitem")
    df.repartition(64).write.parquet(dir)
    val before = new java.io.File(dir).listFiles
      .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(before >= 32, s"fixture should be shattered, got $before files")
    val expected = df.count()

    val plan = Compaction.plan(spark, dir,
      targetBytes = 10L * 1024 * 1024, smallBytes = 5L * 1024 * 1024)
    // every part of this fixture is tiny -> everything is planned,
    // nothing skipped, and groups respect the target byte bound
    assert(plan.skipped.isEmpty && plan.nSmallFiles == before)
    assert(plan.groups.forall(_.bytes <= 10L * 1024 * 1024))
    // determinism: same listing -> same plan
    assert(Compaction.plan(spark, dir, 10L * 1024 * 1024, 5L * 1024 * 1024)
      .groups == plan.groups)

    val after = Compaction.compact(spark, dir, plan)
    assert(after == plan.groups.size, s"one file per group, got $after")
    assert(after < before)
    val back = spark.read.parquet(dir)
    assert(back.count() == expected)
    // content identity, not just count: per-key checksum survives
    val s0 = df.agg(org.apache.spark.sql.functions.sum(col("l_orderkey") * col("l_linenumber"))).head.getLong(0)
    val s1 = back.agg(org.apache.spark.sql.functions.sum(col("l_orderkey") * col("l_linenumber"))).head.getLong(0)
    assert(s0 == s1)

    // second pass: groups are now healthy-sized relative to smallBytes
    // ... unless they are still under it, in which case the plan must
    // be a no-op-or-fewer-files plan, never an oscillation
    val plan2 = Compaction.plan(spark, dir,
      targetBytes = 10L * 1024 * 1024, smallBytes = 5L * 1024 * 1024)
    assert(plan2.groups.count(_.files.size > 1) <= 1)

    // a file landing AFTER plan() (the streaming-sink race) must make
    // compact() refuse — staging is built from the plan, and the swap
    // would silently destroy the unplanned file
    val stale = Compaction.plan(spark, dir, 10L * 1024 * 1024, 5L * 1024 * 1024)
    val lateFile = java.nio.file.Paths.get(dir, "part-late.parquet")
    java.nio.file.Files.write(lateFile, Array.fill[Byte](64)(1))
    val drift = intercept[IllegalArgumentException] {
      Compaction.compact(spark, dir, stale)
    }
    assert(drift.getMessage.contains("changed since plan()"))
    java.nio.file.Files.delete(lateFile)

    // a healthy directory (nothing under smallBytes) plans as a no-op
    // and compact() must not rewrite or republish anything
    val healthyPlan = Compaction.plan(spark, dir,
      targetBytes = 10L * 1024 * 1024, smallBytes = 1L)
    assert(healthyPlan.isNoop && healthyPlan.groups.forall(_.files.size <= 1))
    val filesBefore = new java.io.File(dir).listFiles.filter(_.isFile)
      .map(f => (f.getName, f.lastModified)).sortBy(_._1).toSeq
    Compaction.compact(spark, dir, healthyPlan)
    val filesAfter = new java.io.File(dir).listFiles.filter(_.isFile)
      .map(f => (f.getName, f.lastModified)).sortBy(_._1).toSeq
    assert(filesBefore == filesAfter, "no-op compaction must leave the dir untouched")
  }

  test("compaction: partitioned layout compacts per leaf; healthy partitions untouched") {
    import org.apache.spark.sql.functions.{col, sum => fsum}
    import graft.sources.Compaction
    val dir = java.nio.file.Files.createTempDirectory("graft-compact-part").toString + "/li"
    // a dt=-partitioned table where SOME partitions are shattered:
    // flag R shatters into 32 tiny files, A and N stay one healthy
    // file each (per-partition damage, the real lakehouse shape)
    val li = Tables.read(spark, sf, "lineitem")
    li.filter(col("l_returnflag") === "R").repartition(32)
      .write.parquet(s"$dir/dt=R")
    li.filter(col("l_returnflag") === "A").coalesce(1).write.parquet(s"$dir/dt=A")
    li.filter(col("l_returnflag") === "N").coalesce(1).write.parquet(s"$dir/dt=N")
    val expectRows = li.count()
    val checksum = li.agg(fsum(col("l_orderkey") * col("l_linenumber"))).head.getLong(0)

    // the single-directory surface still refuses the root loudly
    val refuse = intercept[IllegalArgumentException] {
      Compaction.plan(spark, dir, 10L * 1024 * 1024, 5L * 1024 * 1024)
    }
    assert(refuse.getMessage.contains("partition subdirectories"))

    val pplan = Compaction.planPartitioned(spark, dir,
      targetBytes = 10L * 1024 * 1024, smallBytes = 5L * 1024 * 1024)
    assert(pplan.parts.map(_.partition).sorted == Seq("dt=A", "dt=N", "dt=R"))
    // only the shattered partition is damaged
    assert(pplan.damaged.map(_.partition) == Seq("dt=R"))

    val healthyBefore = Seq("dt=A", "dt=N").map { p =>
      p -> new java.io.File(s"$dir/$p").listFiles.filter(_.isFile)
        .map(f => (f.getName, f.lastModified)).sortBy(_._1).toSeq
    }
    val counts = Compaction.compactPartitioned(spark, dir, pplan)
    assert(counts.keySet == Set("dt=R") && counts("dt=R") < 32)
    // healthy partitions byte-for-byte untouched (names + mtimes)
    healthyBefore.foreach { case (p, before) =>
      val after = new java.io.File(s"$dir/$p").listFiles.filter(_.isFile)
        .map(f => (f.getName, f.lastModified)).sortBy(_._1).toSeq
      assert(after == before, s"$p was touched")
    }
    // whole-table identity through the partition-aware reader
    val back = spark.read.option("basePath", dir).parquet(s"$dir/dt=A", s"$dir/dt=N", s"$dir/dt=R")
    assert(back.count() == expectRows)
    assert(back.agg(fsum(col("l_orderkey") * col("l_linenumber"))).head.getLong(0) == checksum)

    // a second planning pass over the compacted tree is a no-op
    assert(Compaction.planPartitioned(spark, dir,
      targetBytes = 10L * 1024 * 1024, smallBytes = 5L * 1024 * 1024).isNoop)

    // a crashed-compaction leftover (__prev would ALSO match the
    // key=value name test — it contains '=') must refuse loudly, not
    // be planned as a partition
    val leftover = new java.io.File(s"$dir/dt=R__prev")
    leftover.mkdirs()
    java.nio.file.Files.write(leftover.toPath.resolve("part-old.parquet"),
      Array.fill[Byte](8)(1))
    val crashed = intercept[IllegalArgumentException] {
      Compaction.planPartitioned(spark, dir, 10L * 1024 * 1024, 5L * 1024 * 1024)
    }
    assert(crashed.getMessage.contains("crashed-compaction leftover"))
    assert(leftover.toPath.resolve("part-old.parquet").toFile.delete()
      && leftover.delete())

    // non-partition subdirectory → unknown layout, loud refusal
    val odd = new java.io.File(s"$dir/not_a_partition")
    odd.mkdirs()
    java.nio.file.Files.write(odd.toPath.resolve("x.parquet"), Array.fill[Byte](8)(1))
    val unknown = intercept[IllegalArgumentException] {
      Compaction.planPartitioned(spark, dir, 10L * 1024 * 1024, 5L * 1024 * 1024)
    }
    assert(unknown.getMessage.contains("non-partition subdirectories"))
  }

  test("csv, json and orc sources round-trip the nation table") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cj").toString
    val df = Tables.read(spark, sf, "nation")
    df.write.option("header", "true").csv(s"$dir/nation_csv")
    df.write.json(s"$dir/nation_json")
    Tables.writeOrc(df, s"$dir/nation_orc")
    assert(Tables.csv(spark, s"$dir/nation_csv").count() == df.count())
    val j = Tables.json(spark, s"$dir/nation_json")
    assert(j.count() == df.count())
    assert(j.columns.toSet == df.columns.toSet)
    // ORC preserves schema exactly (columnar, typed) — full row equality
    val o = Tables.orc(spark, s"$dir/nation_orc")
    assert(o.schema == df.schema)
    assert(o.orderBy("n_nationkey").collect().map(_.toSeq).toSeq ==
      df.orderBy("n_nationkey").collect().map(_.toSeq).toSeq)
  }

  test("bucketed tables join without any exchange (co-located SMJ)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Tables.writeBucketed(Tables.read(spark, sf, "orders"), "orders_b", "o_custkey", 4)
      Tables.writeBucketed(Tables.read(spark, sf, "customer"), "customer_b", "c_custkey", 4)
      val joined = spark.table("orders_b")
        .join(spark.table("customer_b"), $"o_custkey" === $"c_custkey")
      val physical = joined.queryExecution.executedPlan.toString
      assert(physical.contains("SortMergeJoin"))
      assert(!physical.contains("Exchange"), s"plan should be exchange-free:\n$physical")
      assert(joined.count() ==
        Tables.read(spark, sf, "orders").join(Tables.read(spark, sf, "customer"),
          $"o_custkey" === $"c_custkey").count())
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }

  test("salted join equals the plain join") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val orders = Tables.read(spark, sf, "orders")
    val cust = Tables.read(spark, sf, "customer")
    val salted = graft.operators.Skew.saltedJoin(orders, "o_custkey", cust, "c_custkey",
      buckets = 4, saltSrc = $"o_orderkey")
    val plain = orders.join(cust, $"o_custkey" === $"c_custkey")
    assert(salted.count() == plain.count())
    val a = salted.groupBy($"c_nationkey").count().collect()
      .map(r => r.get(0).toString -> r.getLong(1)).toMap
    val b = plain.groupBy($"c_nationkey").count().collect()
      .map(r => r.get(0).toString -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("z-order layout: box query prunes on BOTH dims where a 1-D sort cannot") {
    import graft.sources.Layout
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    // 64×64 grid, 16 files: the z layout's files become ~16×16 tiles
    val grid = (0 until 64 * 64).map(i => (i / 64, i % 64, i.toLong)).toDF("x", "y", "v")
    Layout.zorderWrite(grid, "x", "y", s"$dir/z", 16)
    grid.repartitionByRange(16, $"x").sortWithinPartitions("x")
      .write.parquet(s"$dir/linear")

    // box predicate: every x, narrow y band — the dimension the 1-D
    // layout did NOT sort by
    def box(path: String) = spark.read.parquet(path)
      .filter($"y" >= 8 && $"y" <= 11)
    assert(box(s"$dir/z").count() == 64L * 4 &&
      box(s"$dir/linear").count() == 64L * 4) // same answer, both layouts

    // layout property: how many FILES can possibly contain a match
    // (per-file y bounding boxes, which is what parquet min/max stats
    // expose to the reader)
    def touchable(path: String): Long = spark.read.parquet(path)
      .groupBy(input_file_name()).agg(min($"y").as("lo"), max($"y").as("hi"))
      .filter($"lo" <= 11 && $"hi" >= 8).count()
    val zFiles = touchable(s"$dir/z")
    val linFiles = touchable(s"$dir/linear")
    assert(linFiles == 16L, s"1-D x-sort: every file spans all y, got $linFiles")
    assert(zFiles <= 6L, s"z layout: only tile-row files intersect, got $zFiles")

    // actual effect: rows the scan materializes (row groups surviving
    // the pushed y-filter; collect() keeps the plan non-adaptive so
    // the FileSourceScanExec metric is reachable)
    def scanned(path: String): Long = {
      val q = box(path)
      q.collect()
      q.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numOutputRows").value
      }.sum
    }
    val zRows = scanned(s"$dir/z")
    val linRows = scanned(s"$dir/linear")
    assert(linRows == 4096L, s"1-D layout materializes everything, got $linRows")
    assert(zRows < linRows / 2, s"z layout skipped row groups: $zRows vs $linRows")
  }

  test("binaryFile asset source reads raw bytes; glob prunes at the listing") {
    val dir = java.nio.file.Files.createTempDirectory("graft-assets")
    val img = Array[Byte](0x50, 0x4b, 7, 9, -1, 0, 42)
    java.nio.file.Files.write(dir.resolve("a.img"), img)
    java.nio.file.Files.write(dir.resolve("b.img"), Array[Byte](1, 2, 3))
    java.nio.file.Files.write(dir.resolve("notes.txt"), "skip me".getBytes)
    val all = graft.sources.Tables.binaryDir(spark, dir.toString).collect()
    assert(all.length == 3)
    val imgs = graft.sources.Tables.binaryDir(spark, dir.toString, "*.img").collect()
    assert(imgs.length == 2)
    val a = imgs.find(_.getAs[String]("asset_id").endsWith("a.img")).get
    assert(a.getAs[Array[Byte]]("payload").toSeq == img.toSeq)
    assert(a.getAs[Long]("n_bytes") == img.length.toLong)
    // the glob is a LISTING filter: the pruned file contributes no
    // partition at all (check the scan's input files, not just rows)
    val files = graft.sources.Tables.binaryDir(spark, dir.toString, "*.img")
      .queryExecution.executedPlan.collectLeaves()
      .flatMap(_.collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.inputFiles.toSeq }).flatten
    assert(files.nonEmpty && files.forall(_.endsWith(".img")), files.mkString(","))
    // the adapter lands the bytes in the typed MediaRow contract the
    // mm operators consume — ids deterministic, payloads intact
    val media = graft.multimodal.Media.assetsAsMedia(
      graft.sources.Tables.binaryDir(spark, dir.toString, "*.img")).collect()
    assert(media.length == 2)
    assert(media.map(_.doc_id).distinct.length == 2)
    // binaryFile paths carry the file: URI scheme; the parent-dir
    // source therefore ends with (not equals) the raw path
    assert(media.forall(_.source.endsWith(dir.toString)))
    assert(media.exists(_.payload.toSeq == img.toSeq))
  }

  test("text ingest lands the documents contract with content-stable ids; xml source reads dumps") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-text").toString
    // crawl_a repeats a line: real crawls do (blank lines,
    // boilerplate) — each occurrence must still land as its OWN doc
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/crawl_a.txt"),
      "the quick brown fox\nthe lazy dog sleeps\nthe quick brown fox\n".getBytes)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/crawl_b.txt"),
      "une ligne en francais\n".getBytes)
    val docs = graft.sources.Tables.documentsFromText(spark, dir)
    val rows = docs.collect()
    assert(rows.length == 4)
    // exactly the documents-table contract, so every text operator
    // runs on a landed crawl unchanged
    assert(docs.columns.toSeq == Seq("doc_id", "text", "lang", "source", "n_chars"))
    assert(rows.map(_.getAs[String]("source")).toSet == Set("crawl_a.txt", "crawl_b.txt"))
    assert(rows.forall(r => r.getAs[Long]("n_chars") == r.getAs[String]("text").length))
    // ids are a pure function of provenance+position+content: stable
    // across re-ingest, distinct across rows INCLUDING the repeated
    // line (4 rows, 4 ids — the line number disambiguates)
    val again = graft.sources.Tables.documentsFromText(spark, dir).collect()
    assert(again.map(_.getAs[Long]("doc_id")).sorted.toSeq ==
      rows.map(_.getAs[Long]("doc_id")).sorted.toSeq)
    assert(rows.map(_.getAs[Long]("doc_id")).distinct.length == 4)
    // and a real operator consumes the landed corpus end-to-end
    val pdir = java.nio.file.Files.createTempDirectory("graft-text-p").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$pdir/documents.parquet")
    val t1 = graft.text.TextAnalysis.t1LangId(spark, pdir).collect()
    assert(t1.length == 4 && t1.forall(_.getAs[String]("pred_lang").nonEmpty))
    // XML: the export-dump shape through Spark 4's native source
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/dump.xml"),
      ("<locations><location><location_id>1</location_id><name>clinic A</name></location>" +
        "<location><location_id>2</location_id><name>clinic B</name></location></locations>").getBytes)
    val x = graft.sources.Tables.xml(spark, s"$dir/dump.xml", rowTag = "location")
    assert(x.count() == 2)
    assert(x.select("name").collect().map(_.getString(0)).toSet ==
      Set("clinic A", "clinic B"))
  }

  test("jsonl ingest: every line lands in exactly one of good/quarantine with the right reason") {
    import graft.sources.Ingest
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl")
    val lines = Seq(
      """{"doc_id": 1, "text": "hello world", "lang": "en"}""",        // good
      """{"doc_id": 2, "text": "bonjour", "lang": null}""",            // good (lang optional)
      """{"doc_id": 3, "text": "no lang field at all"}""",             // good (lang optional)
      """{"doc_id": null, "text": "key missing"}""",                   // missing_required
      """{"text": "no id", "lang": "en"}""",                           // missing_required
      """{"doc_id": 6, "text": "truncated mid-str""",                  // malformed (unterminated)
      """not json at all""",                                           // malformed
      """{"doc_id": 8 "text": "no comma"}""",                          // malformed
      """{}"""                                                         // missing_required (parses)
    )
    java.nio.file.Files.write(dir.resolve("part-000.jsonl"),
      String.join("\n", lines: _*).getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType)))
    val split = Ingest.jsonl(spark, dir.toString, schema, required = Seq("doc_id", "text"))
    val good = split.good.collect()
    val quar = split.quarantine.collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // reconciliation: nothing dropped, nothing duplicated
    assert(good.length + quar.size == lines.length)
    assert(good.map(_.getAs[Long]("doc_id")).sorted.toSeq == Seq(1L, 2L, 3L))
    assert(split.good.schema.fieldNames.toSeq == schema.fieldNames.toSeq,
      "good carries exactly the declared schema (no corrupt channel leak)")
    // reasons are exact
    assert(quar.count(_._2 == "malformed_json") == 3)
    assert(quar.count(_._2 == "missing_required") == 3)
    assert(quar("""not json at all""") == "malformed_json")
    assert(quar("""{}""") == "missing_required")
    // optional-field semantics: lang may be null in good
    assert(good.count(_.isNullAt(2)) == 2)
    // drift report: null rates per field, half-up e6
    val drift = Ingest.driftReport(split.good).collect()
      .map(r => r.getAs[String]("field") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("n_null"), r.getAs[Long]("null_rate_e6"))).toMap
    assert(drift("doc_id") == ((3L, 0L, 0L)))
    assert(drift("lang") == ((3L, 2L, 666667L)))
  }
}
