// The benchmark's JVM side: drives graft's two public surfaces
// (MergeConfig.execute and SparkEntry.queries) in a closed loop with one
// client thread, times every call, and in traced cycles records spans
// around those calls plus the Spark jobs that ran under each span.
// perfbench/run.py builds it, starts it, checks the outputs it leaves
// behind and turns its result.json (and trace/*.jsonl) into metrics.

package org.apache.spark.perfbench {
  /** Blocks until the listener bus has delivered every queued event, so
    * a job is only read back once its end event has arrived. */
  object Bus {
    def drain(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package perfbench {

  import java.io.{File, PrintWriter}
  import java.nio.file.{Files, Paths}
  import scala.collection.mutable
  import org.apache.spark.scheduler._
  import org.apache.spark.sql.{Row, SparkSession}
  import org.json4s._
  import org.json4s.jackson.{JsonMethods, Serialization}

  /** Per-job Spark work, keyed by the span the job ran under. */
  final class JobRecorder extends SparkListener {
    final class Job(val id: Int, val span: String, val submitMs: Long, val name: String,
                    val stack: String) {
      var endMs = -1L; var ok = false; var stages = 0; var tasks = 0
      var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
      var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var written = 0L
      def toMap: Map[String, Any] = Map("id" -> id, "span" -> span, "submit_ms" -> submitMs,
        "end_ms" -> endMs, "ok" -> ok, "name" -> name, "stack" -> stack, "stages" -> stages,
        "tasks" -> tasks, "run_ms" -> runMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
        "shuffle_read" -> shuffleRead, "shuffle_write" -> shuffleWrite, "spill" -> spill,
        "bytes_written" -> written)
    }
    private val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val stageJob = mutable.HashMap.empty[Int, Int]
    // SQL execution id -> call site (short, long) of the action that
    // started it. Adaptive execution submits most of a query's jobs from
    // its own threads, whose call site shows no graft frame; the
    // execution's call site is the one that names the graft code.
    private val execSite = mutable.HashMap.empty[Long, (String, String)]

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => synchronized {
        execSite(s.executionId) = execSite.getOrElse(s.rootExecutionId.getOrElse(s.executionId),
          (s.description, s.details))
      }
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val result = e.stageInfos.maxBy(_.stageId)
      val props = Option(e.properties)
      val span = props.map(_.getProperty(Tracer.SpanKey)).orNull
      val (name, stack) = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execSite.get(id.toLong)).getOrElse((result.name, result.details))
      jobs(e.jobId) = new Job(e.jobId, span, e.time, name, stack)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (j <- stageJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.runMs += m.executorRunTime; j.cpuNs += m.executorCpuTime; j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.written += m.outputMetrics.bytesWritten
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach { j => j.endMs = e.time; j.ok = e.jobResult == JobSucceeded }
    }
    /** Completed jobs since the last call; jobs still running stay. */
    def takeCompleted(): Seq[Job] = synchronized {
      val done = jobs.values.filter(_.endMs >= 0).toSeq
      done.foreach(j => jobs.remove(j.id))
      done
    }
  }

  object Tracer { val SpanKey = "perfbench.span" }

  /** Spans around the benchmark's calls into graft. A span's id is put on
    * the SparkContext as a local property, so every job it submits from
    * this thread carries it; threads graft starts itself may not inherit
    * it, and trace.py then falls back to the innermost span whose interval
    * holds the job's submit time. `persisted_delta` counts the persisted
    * frames that appeared during the span (memo builds). Disabled, it
    * only runs the body. */
  final class Tracer(epochMs0: Long, nano0: Long) {
    var enabled = false
    var spark: SparkSession = _
    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    private val open = mutable.Stack.empty[Int]
    private var nextId = 0
    def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

    def span[A](name: String)(body: => A): A =
      if (!enabled) body
      else {
        val id = { nextId += 1; nextId }
        val parent = open.headOption.getOrElse(0)
        val sc = spark.sparkContext
        val persisted0 = sc.getPersistentRDDs.keySet.toSet
        open.push(id)
        sc.setLocalProperty(Tracer.SpanKey, id.toString)
        val start = nowMs
        try body
        finally {
          val end = nowMs
          open.pop()
          sc.setLocalProperty(Tracer.SpanKey, if (parent == 0) null else parent.toString)
          spans += Map("id" -> id, "name" -> name, "parent" -> parent, "start_ms" -> start,
            "end_ms" -> end, "persisted_delta" -> (sc.getPersistentRDDs.keySet.toSet -- persisted0).size)
        }
      }
  }

  object Harness {
    def main(args: Array[String]): Unit = {
      // run.py holds this process's stdin open; when run.py ends, however
      // it ends, stdin reaches end of file and the JVM stops with it
      val orphanGuard = new Thread(() => {
        while (System.in.read() >= 0) {}
        Runtime.getRuntime.halt(3)
      })
      orphanGuard.setDaemon(true)
      orphanGuard.start()
      val params = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(args(0))), "UTF-8"))
      new Harness(params).run()
    }
  }

  final class Harness(p: JValue) {
    private implicit val formats: Formats = DefaultFormats
    private val workload = (p \ "workload").extract[String]
    private val dataDir = (p \ "data").extract[String]
    private val workDir = (p \ "work").extract[String]
    private val seconds = (p \ "seconds").extract[Double]
    private val traced = (p \ "trace").extract[Boolean]
    private val cores = (p \ "cores").extract[Int]
    private val sessionConf = (p \ "session").extract[Map[String, String]]
    private val mix = (p \ "mix").extractOpt[Seq[String]].getOrElse(Nil)
    private val tables = (p \ "tables").extract[Seq[String]]
    private val minCycles = (p \ "min_cycles").extract[Int]
    private val warmupCycles = (p \ "warmup_cycles").extract[Int]
    // set-up is timed from run.py's launch of this JVM
    private val spawnMs = (p \ "spawn_ms").extract[Double]

    private val tracer = new Tracer(System.currentTimeMillis(), System.nanoTime())
    private val recorder = new JobRecorder
    private val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
    private var spark: SparkSession = _

    private def now: Double = tracer.nowMs
    private def secs(fromMs: Double): Double = (now - fromMs) / 1000.0


    // ------------------------------------------------------------ ops

    /** One call into the workload's entry point; failures are recorded,
      * never thrown, so the closed loop keeps going. */
    private def op(cycle: Int, name: String)(body: => Map[String, Any]): Map[String, Any] = {
      val t0 = now
      try body + ("name" -> name)
      catch {
        case e: Throwable =>
          failures += Map("cycle" -> cycle, "op" -> name, "error" -> String.valueOf(e.getMessage).take(500))
          Map("name" -> name, "s" -> secs(t0), "failed" -> true)
      }
    }

    /** Build, plan and collect one catalog query; only the three phases
      * are timed. The rows' fingerprint is taken after the clock stops. */
    private def query(cycle: Int, name: String, keepRows: Boolean): Map[String, Any] =
      op(cycle, name) {
        val t0 = now
        val (df, t1, t2, rows) = tracer.span(s"query:$name") {
          val df = tracer.span("query.construct")(graft.SparkEntry.queries(name)(spark, dataDir))
          val t1 = now
          tracer.span("query.plan")(df.queryExecution.executedPlan)
          val t2 = now
          (df, t1, t2, tracer.span("query.exec")(df.collect()))
        }
        val t3 = now
        if (keepRows) firstRows(name) = (rows, df.schema)
        Map("s" -> (t3 - t0) / 1000.0, "construct_s" -> (t1 - t0) / 1000.0,
          "plan_s" -> (t2 - t1) / 1000.0, "exec_s" -> (t3 - t2) / 1000.0,
          "rows" -> rows.length, "fingerprint" -> fingerprint(rows))
      }

    /** The first measured cycle's rows, written for run.py's oracle
      * check once measuring is over. */
    private val firstRows =
      mutable.LinkedHashMap.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]

    private def fingerprint(rows: Array[Row]): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map(_.toString).sorted.foreach(r => md.update(r.getBytes("UTF-8")))
      md.digest().map("%02x".format(_)).mkString
    }

    private lazy val mergeCfg = graft.merge.MergeConfig.fromJson(
      new String(Files.readAllBytes(Paths.get(s"$dataDir/config.json")), "UTF-8"))

    private def report(df: org.apache.spark.sql.DataFrame): Seq[Map[String, Any]] =
      df.collect().toSeq.map(r => Map("table" -> r.getAs[String]("table_name"),
        "mode" -> r.getAs[String]("mode"), "src_rows" -> r.getAs[Long]("src_rows"),
        "already_in_dest" -> r.getAs[Long]("already_in_dest"),
        "would_insert" -> r.getAs[Long]("would_insert")))

    private def dryRun(cycle: Int): Map[String, Any] = op(cycle, "dry_run") {
      val t0 = now
      val rep = tracer.span("merge.dryrun") {
        report(graft.merge.MergeConfig.execute(spark, mergeCfg, dryRun = true))
      }
      Map("s" -> secs(t0), "report" -> rep)
    }

    private def merge(cycle: Int, out: String): Map[String, Any] = op(cycle, "merge") {
      val t0 = now
      val rep = tracer.span("merge.execute") {
        report(graft.merge.MergeConfig.execute(spark, mergeCfg.copy(output = out), dryRun = false))
      }
      Map("s" -> secs(t0), "report" -> rep, "output" -> out)
    }

    // --------------------------------------------------------- cycles

    /** One closed-loop cycle of the workload (warm-up cycles have
      * negative numbers); `keepRows` keeps catalog results for checking.
      * A merge warm-up cycle only rehearses: a cold full merge costs
      * more than a run can afford, so the measured merge is the first of
      * its session, after the rehearsal, as in a rehearse-then-merge
      * session. */
    private def cycle(i: Int, keepRows: Boolean): Map[String, Any] = {
      val t0 = now
      val ops = tracer.span("cycle") {
        workload match {
          case "merge" if i < 0 => Seq(dryRun(i))
          case "merge" => Seq(dryRun(i), merge(i, s"$workDir/out/cycle$i"))
          case "catalog" => mix.map(q => query(i, q, keepRows))
        }
      }
      Map("wall_s" -> secs(t0), "ops" -> ops, "cached_mb" -> cachedMb)
    }

    private def cachedMb: Double =
      spark.sparkContext.getRDDStorageInfo.map(s => s.memSize + s.diskSize).sum / 1048576.0

    /** JVM launch, class loading and a fresh session with every input
      * table staged (read and counted). */
    private def setup(): Double = {
      val b = SparkSession.builder().master(s"local[$cores]")
      sessionConf.foreach { case (k, v) => b.config(k, v.replace("{cores}", cores.toString)) }
      spark = b.getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec", org.apache.logging.log4j.Level.ERROR)
      tracer.spark = spark
      tables.foreach(t => spark.read.parquet(s"$dataDir/$t").count())
      secs(spawnMs)
    }

    def run(): Unit = {
      val setupS = setup()
      // JIT and codegen warm-up: the catalog's passes keep getting faster
      // for a few passes, the merge's rehearsal is one dry run
      val warmup0 = now
      (1 to warmupCycles).foreach(k => cycle(-k, keepRows = false))
      val warmupS = secs(warmup0)
      val cycles = mutable.ArrayBuffer.empty[Map[String, Any]]
      val start = now
      var i = 0
      // a traced run measures the same cycles as an untraced one, every
      // one traced, so its walls against an untraced run's are the
      // tracing overhead
      if (traced) {
        spark.sparkContext.addSparkListener(recorder)
        tracer.enabled = true
      }
      // whole cycles while the next one, as long as the last, still ends
      // inside the window: every run measures about `seconds`, and a
      // merge run keeps to its one long cycle
      var lastMs = 0.0
      while (i < minCycles || now - start + lastMs <= seconds * 1000) {
        val c0 = now
        cycles += cycle(i, keepRows = i == 0)
        lastMs = now - c0
        i += 1
      }
      val measuredS = secs(start)
      tracer.enabled = false
      val jobs = if (!traced) Nil else {
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        recorder.takeCompleted().map(_.toMap)
      }
      firstRows.foreach { case (name, (rows, schema)) =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$workDir/results/$name")
      }
      val result = Map("workload" -> workload, "cores" -> cores, "setup_s" -> setupS,
        "warmup_s" -> warmupS,
        "measured_s" -> measuredS, "cycles" -> cycles.toSeq, "failures" -> failures.toSeq,
        "oracle" -> mix.flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
      write(s"$workDir/result.json", Seq(Serialization.write(result)))
      if (traced) {
        new File(s"$workDir/trace").mkdirs()
        write(s"$workDir/trace/spans.jsonl", tracer.spans.map(Serialization.write(_)).toSeq)
        write(s"$workDir/trace/jobs.jsonl", jobs.map(Serialization.write(_)))
      }
      spark.stop()
    }

    private def write(path: String, lines: Seq[String]): Unit = {
      val w = new PrintWriter(path, "UTF-8")
      try lines.foreach(w.println) finally w.close()
    }
  }
}
