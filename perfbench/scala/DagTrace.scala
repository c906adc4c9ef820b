package graft.perfbench

import graft.exec.Materializer
import graft.parse.{PartialParse, ProjectLoader}
import graft.run.{Engine, EventLog}

/** The traced run of `dag200`: the layers `graft.run.Cli build` runs,
  * called in-process one by one with a session built the way the CLI
  * builds it. The first build parses without saved state into an empty
  * warehouse; the second repeats it over that warehouse and the saved
  * parse state. */
object DagTrace {
  def run(proj: String, wh: String, threads: Int, endsJson: String): Outcome = {
    val out = new Outcome
    val tracer = new Tracer("dag200", enabled = true)
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    EventLog.format = "json"
    EventLog.minLevel = "info"
    EventLog.sink = l => lines.add(l): Unit
    val (spark, sessionSec) = tracer.timed("session")(Harness.cliSession(threads))
    val listener = new JobListener
    spark.sparkContext.addSparkListener(listener)
    val target = s"$proj/target"
    val m = out.metrics

    final case class Cycle(wall: Double, parseSec: Double, initSec: Double, initJobs: Int,
        graphSec: Double, renderUs: Seq[Double], buildSec: Double,
        results: Seq[Materializer.Result], artifactsSec: Double, lines: Int,
        b0: Long, b1: Long, nodes: Int)

    def cycle(label: String, partial: Boolean): Cycle = {
      val lines0 = lines.size
      val (c, wall) = tracer.timed(label) {
        val (p, parseSec) = tracer.timed("parse") {
          if (partial) ProjectLoader.load(proj, PartialParse.Options())
          else ProjectLoader.load(proj)
        }
        val (_, graphSec) = tracer.timed("graph") {
          val dag = graft.graph.Dag.fromManifest(p.manifest)
          dag.topoSort
          graft.graph.Selector.select(p.manifest, dag, Nil)
        }
        val i0 = System.nanoTime()
        val (eng, fromSec) = tracer.timed("fromProject")(Engine.fromProject(spark, proj, wh,
          partialParse = Some(PartialParse.Options())))
        val i1 = System.nanoTime()
        val renderUs = tracer.timed("render") {
          eng.manifest.models.values.toSeq.sortBy(_.uniqueId).map { n =>
            val t = System.nanoTime(); eng.compile(n); (System.nanoTime() - t) / 1e3
          }
        }._1
        val b0 = System.nanoTime()
        val (results, buildSec) = tracer.timed("build")(eng.build(threads = threads))
        val b1 = System.nanoTime()
        val (_, artSec) = tracer.timed("artifacts")(eng.writeArtifacts(target, results))
        JobListener.drain(spark)
        val initJobs = listener.jobs.count(j => j.start >= i0 && j.start <= i1)
        Cycle(0, parseSec, math.max(0.0, fromSec - parseSec), initJobs, graphSec, renderUs,
          buildSec, results, artSec, 0, b0, b1, p.manifest.nodes.size)
      }
      c.copy(wall = wall, lines = lines.size - lines0)
    }

    val whDir = new java.io.File(wh)
    val first = cycle("build", partial = false)
    val (whBytes, whFiles) = Harness.treeStats(whDir)
    val second = cycle("rebuild", partial = true)
    val whBytes2 = Harness.treeStats(whDir)._1
    Seq(first, second).foreach { c =>
      out.attempted += 1
      val bad = c.results.filterNot(r => r.status == "success" || r.status == "pass")
      if (bad.nonEmpty) {
        out.failed += 1
        out.fail(s"${bad.size} nodes not successful, e.g. ${bad.head.uniqueId}: ${bad.head.status}")
      }
    }
    // outputs: tables read back, chain ends return their root id
    val eng = Engine.fromProject(spark, proj, wh)
    val tables = eng.manifest.models.values.filter(_.config.materialized == "table").map(_.name)
    tables.foreach { t =>
      val got = Harness.rows(eng.wh.read(t))
      val want = Seq(s"${t.stripPrefix("t_")}|y")
      out.attempted += 1
      if (got != want) { out.failed += 1; out.fail(s"$t reads back $got, expected $want") }
    }
    val ends = """"(v_\d+)":\s*(\d+)""".r.findAllMatchIn(
      java.nio.file.Files.readString(java.nio.file.Paths.get(endsJson)))
      .map(mm => mm.group(1) -> mm.group(2)).toSeq
    // views are session-scoped: the last build registered them
    ends.foreach { case (v, root) =>
      val got = Harness.rows(spark.table(v).select("id"))
      out.attempted += 1
      if (got != Seq(root)) { out.failed += 1; out.fail(s"$v returns $got, expected $root") }
    }

    val isTest = (r: Materializer.Result) => r.uniqueId.startsWith("test.")
    val nodeMs = first.results.filterNot(isTest).map(_.elapsedSec * 1e3)
    m("first_s") = first.wall
    m("repeat_s") = second.wall
    m("parse.full_s") = first.parseSec
    m("parse.partial_s") = second.parseSec
    m("parse.nodes") = first.nodes.toDouble
    m("render.s") = first.renderUs.sum / 1e6
    m("render.node_p95_us") = Harness.pct(first.renderUs, 95)
    m("graph.s") = first.graphSec
    m("run.session_s") = sessionSec
    m("run.init_s") = second.initSec
    m("run.init_jobs") = second.initJobs.toDouble
    m("run.s") = first.buildSec
    m("run.node_p50_ms") = Harness.pct(nodeMs, 50)
    m("run.node_p95_ms") = Harness.pct(nodeMs, 95)
    m("run.test_p50_ms") = Harness.pct(first.results.filter(isTest).map(_.elapsedSec * 1e3), 50)
    m("run.idle_s") = math.max(0.0, threads * first.buildSec - first.results.map(_.elapsedSec).sum)
    m("run.artifacts_s") = first.artifactsSec
    m("run.log_lines") = first.lines.toDouble
    val w = listener.work(listener.jobs.filter(j =>
      j.group.nonEmpty && j.start >= first.b0 && j.start <= first.b1))
    m("exec.jobs") = w.jobs.toDouble
    m("exec.stages") = w.stages.toDouble
    m("exec.tasks") = w.tasks.toDouble
    m("exec.jobs_per_node") = w.jobs.toDouble / math.max(1, first.results.size)
    m("exec.task_s") = w.taskSec
    m("exec.shuffle_mb") = w.shuffleMb
    m("exec.spill_mb") = w.spillMb
    m("exec.write_mb") = whBytes / 1e6
    m("exec.files_written") = whFiles.size.toDouble
    m("exec.live_files") = tables.map(t => eng.wh.read(t).inputFiles.length).sum.toDouble
    m("exec.versions") = tables.map(t => eng.wh.versions(t).size).sum.toDouble
    out.counts("rebuild_write_mb") = (whBytes2 - whBytes) / 1e6
    out.counts("nodes") = first.results.count(!isTest(_)) + second.results.count(!isTest(_))
    out.counts("tests") = first.results.count(isTest) + second.results.count(isTest)
    out.counts("init_s_build") = first.initSec
    out.counts("init_jobs_build") = first.initJobs
    out.counts("recovered_tables") = tables.size
    out.counts("checks") = tables.size + ends.size
    listener.addJobSpans(tracer, Tracer.nodeSpans(tracer, lines))
    tracer.writeJsonl(s"$wh/../spans.jsonl")
    spark.stop()
    out
  }
}
