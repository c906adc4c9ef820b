package graft.perfbench

import graft.exec.Materializer
import graft.run.{Engine, EventLog}

import scala.collection.mutable

/** `incr_batches`: an orchestrator driving the library. One full build
  * of the project over the base source files, then micro-batches: each
  * lands a batch's files beside the earlier ones and runs
  * `Engine.fromProject` + `build` again in the same session. After every
  * build the live files of the checked relations are kept (as hard
  * links) for run.py to check with DuckDB against the landed source
  * files. */
object IncrWorkload {
  private val Sources = Seq("orders", "lineitem", "customer")
  private val ReadRelations = Seq("stg_orders", "stg_customer", "stg_lineitem",
    "fct_orders", "fct_lineitem", "mart_revenue", "snap_customer", "nation")
  private val CheckedRelations = Seq("fct_orders", "fct_lineitem", "mart_revenue", "snap_customer")
  private val MinBatches = 3

  def run(work: String, seconds: Double, trace: Boolean, threads: Int): Outcome = {
    val out = new Outcome
    val tracer = new Tracer("incr_batches", trace)
    val proj = s"$work/project"
    val wh = s"$work/wh"
    val src = s"$work/src"
    val landing = new java.io.File(s"$work/landing")
    val batches = Option(landing.list()).getOrElse(Array.empty[String]).sorted.toSeq
    val logLines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    EventLog.format = "json"
    EventLog.minLevel = "info"
    EventLog.sink = l => logLines.add(l): Unit

    val (spark, _) = tracer.timed("session")(Harness.cliSession(threads))
    val listener = if (trace) Some(new JobListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    spark.range(1000).selectExpr("sum(id)").collect()

    def land(b: String): Double = {
      var bytes = 0L
      Sources.foreach { t =>
        val from = new java.io.File(landing, s"$b/$t.parquet")
        val dir = new java.io.File(s"$src/$t"); dir.mkdirs()
        bytes += from.length()
        java.nio.file.Files.move(from.toPath, new java.io.File(dir, s"$b.parquet").toPath)
      }
      bytes / 1e6
    }

    final case class Step(wall: Double, parseSec: Double, initSec: Double, buildSec: Double,
        results: Seq[Materializer.Result], initJobs: Int, writeMb: Double,
        files: Int, srcMb: Double, t0: Long, t1: Long, engine: Engine)

    def step(label: String, srcMb: Double): Step = {
      val (before, beforeFiles) = Harness.treeStats(new java.io.File(wh))
      val (res, wall) = tracer.timed(label) {
        // the parse fromProject repeats, timed on its own when traced
        val parseSec = if (trace) tracer.timed("parse")(graft.parse.ProjectLoader.load(proj))._2 else 0.0
        val i0 = System.nanoTime()
        val (eng, initSec) = tracer.timed("fromProject")(Engine.fromProject(spark, proj, wh))
        val i1 = System.nanoTime()
        val (results, buildSec) = tracer.timed("build")(eng.build(threads = threads))
        (parseSec, initSec, buildSec, results, i0, i1, eng)
      }
      val (parseSec, initSec, buildSec, results, i0, i1, eng) = res
      val (after, afterFiles) = Harness.treeStats(new java.io.File(wh))
      val initJobs = listener.map { l =>
        JobListener.drain(spark); l.jobs.count(j => j.start >= i0 && j.start <= i1)
      }.getOrElse(0)
      Step(wall, parseSec, math.max(0.0, initSec - parseSec), buildSec, results, initJobs,
        (after - before) / 1e6, (afterFiles -- beforeFiles).size, srcMb, i0, System.nanoTime(), eng)
    }

    val setupSec = Harness.uptimeSec
    val gc0 = Harness.gcSec
    val steps = mutable.ArrayBuffer.empty[Step]
    var timedSum = 0.0
    var i = 0
    while (i < batches.size && (i <= MinBatches || timedSum < seconds)) {
      val b = batches(i)
      val mb = land(b)
      val s = step(if (i == 0) "full build" else s"batch $i", mb)
      steps += s
      timedSum += s.wall
      out.attempted += 1
      val bad = s.results.filterNot(r => r.status == "success" || r.status == "pass")
      if (bad.nonEmpty) {
        out.failed += 1
        out.fail(s"$b: ${bad.size} nodes not successful, e.g. ${bad.head.uniqueId}: ${bad.head.status} ${bad.head.message}")
      }
      capture(wh, work, b, s.results, out)
      System.err.println(f"[harness] $b: build ${s.wall}%.2f s; " +
        s.results.sortBy(-_.elapsedSec).map(r => f"${r.uniqueId.split('.').last} ${r.elapsedSec}%.2f").mkString(", "))
      i += 1
    }
    val gcTimed = Harness.gcSec - gc0
    val batchSteps = steps.drop(1).toSeq

    // a full read of every model relation through Warehouse.read
    val reader = steps.last.engine
    val (liveFiles, readSec) = tracer.timed("read") {
      ReadRelations.map { r =>
        // views live in the session, tables in the warehouse
        val df = if (r.startsWith("stg_")) spark.table(r) else reader.wh.read(r)
        df.write.format("noop").mode("overwrite").save()
        df.inputFiles.length
      }.sum
    }
    val versions = ReadRelations.filterNot(_.startsWith("stg_"))
      .map(r => reader.wh.versions(r).size).sum
    val whMb = Harness.treeStats(new java.io.File(wh))._1 / 1e6
    val heapMb = Harness.retainedHeapMb

    out.metrics("setup_s") = setupSec
    out.metrics("first_s") = steps.head.wall
    out.metrics("repeat_s") = Harness.median(batchSteps.map(_.wall))
    if (trace) {
      val l = listener.get
      JobListener.drain(spark)
      val m = out.metrics
      m("run.session_s") = tracer.all.find(_.name == "session").map(s => (s.end - s.start) / 1e9).getOrElse(0.0)
      m("run.init_s") = Harness.median(batchSteps.map(_.initSec))
      m("run.init_jobs") = Harness.median(batchSteps.map(_.initJobs.toDouble))
      m("run.s") = Harness.median(batchSteps.map(_.buildSec))
      val nodeRes = batchSteps.flatMap(_.results)
      val isTest = (r: Materializer.Result) => r.uniqueId.startsWith("test.")
      m("run.node_p50_ms") = Harness.pct(nodeRes.filterNot(isTest).map(_.elapsedSec * 1e3), 50)
      m("run.node_p95_ms") = Harness.pct(nodeRes.filterNot(isTest).map(_.elapsedSec * 1e3), 95)
      m("run.test_p50_ms") = Harness.pct(nodeRes.filter(isTest).map(_.elapsedSec * 1e3), 50)
      m("run.idle_s") = Harness.median(batchSteps.map(s =>
        math.max(0.0, threads * s.buildSec - s.results.map(_.elapsedSec).sum)))
      m("parse.partial_s") = Harness.median(batchSteps.map(_.parseSec))
      m("parse.nodes") = reader.manifest.nodes.size.toDouble
      val perBatch = batchSteps.map { s =>
        l.work(l.jobs.filter(j => j.group.nonEmpty && j.start >= s.t0 && j.start <= s.t1))
      }
      m("exec.jobs") = Harness.median(perBatch.map(_.jobs.toDouble))
      m("exec.stages") = Harness.median(perBatch.map(_.stages.toDouble))
      m("exec.tasks") = Harness.median(perBatch.map(_.tasks.toDouble))
      m("exec.jobs_per_node") = Harness.median(batchSteps.zip(perBatch).map { case (s, w) =>
        w.jobs.toDouble / math.max(1, s.results.size) })
      m("exec.task_s") = Harness.median(perBatch.map(_.taskSec))
      m("exec.shuffle_mb") = Harness.median(perBatch.map(_.shuffleMb))
      m("exec.spill_mb") = Harness.median(perBatch.map(_.spillMb))
      m("exec.write_mb") = Harness.median(batchSteps.map(_.writeMb))
      m("exec.write_amp") = Harness.median(batchSteps.map(s => s.writeMb / math.max(1e-9, s.srcMb)))
      m("exec.files_written") = Harness.median(batchSteps.map(_.files.toDouble))
      m("exec.live_files") = liveFiles.toDouble
      m("exec.versions") = versions.toDouble
      m("incr.read_s") = readSec
      m("incr.warehouse_mb") = whMb
      m("jvm.gc_s") = gcTimed
      m("jvm.retained_heap_mb") = heapMb
      // node spans from the engine's own event log, jobs under them
      l.addJobSpans(tracer, Tracer.nodeSpans(tracer, logLines))
      tracer.writeJsonl(s"$work/spans.jsonl")
    }
    out.counts("batches") = batchSteps.size
    out.counts("nodes") = steps.map(_.results.count(r => !r.uniqueId.startsWith("test."))).sum
    out.counts("tests") = steps.map(_.results.count(_.uniqueId.startsWith("test."))).sum
    out.counts("read_s") = readSec
    out.counts("warehouse_mb") = whMb
    out.counts("retained_heap_mb") = heapMb
    out.counts("log_lines") = logLines.size
    spark.stop()
    out
  }

  /** Keeps the state a build left for the checks run.py makes after the
    * run: hard links to every live data file of the checked relations,
    * under `<work>/check/<batch>/<relation>/`, and the data tests'
    * verdicts. Untimed. */
  private def capture(wh: String, work: String, batch: String,
      results: Seq[Materializer.Result], out: Outcome): Unit = {
    CheckedRelations.foreach { rel =>
      livePaths(wh, rel).foreach { v =>
        val from = java.nio.file.Paths.get(v)
        val to = java.nio.file.Paths.get(work, "check", batch, rel, from.getFileName.toString)
        java.nio.file.Files.walk(from).forEach { f =>
          val dest = to.resolve(from.relativize(f))
          if (java.nio.file.Files.isDirectory(f)) java.nio.file.Files.createDirectories(dest)
          else java.nio.file.Files.createLink(dest, f)
        }
      }
    }
    val tests = results.filter(_.uniqueId.startsWith("test."))
    if (tests.isEmpty || tests.exists(_.status != "pass"))
      out.fail(s"$batch: data tests: ${tests.count(_.status == "pass")} of ${tests.size} passed")
  }

  /** The live version directories of a relation, from its commit log:
    * read with plain Spark, not through the engine. */
  def livePaths(wh: String, name: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(wh, name, "_commits")).asScala.toSeq
      .filterNot(l => l.startsWith("format=") || l.startsWith("hide="))
      .map(v => s"$wh/$name/$v")
  }
}
