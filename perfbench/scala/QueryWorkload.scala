package graft.perfbench

import graft.QueryDef
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** `query_mix`: a fixed list of throughput queries, one at a time. A
  * cold pass (index builds included) writes every result as parquet for
  * the DuckDB oracle check run.py makes; warm passes for the run's
  * seconds then drain each result to a `noop` sink. Each query runs in
  * its own job group. */
object QueryWorkload {
  private def relationalNames: Set[String] =
    (graft.queries.Relational.queries ++ graft.queries.Relational2.queries ++
      graft.queries.Relational3.queries ++ graft.queries.Relational4.queries)
      .map(_.name).toSet

  /** The query service session: `local[nproc]`, adaptive execution, a
    * generated-code cache sized for a suite, as `graft.Bench` sets it. */
  def session(cpus: Int): SparkSession = Harness.cliSession(cpus, Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> "64MB",
    "spark.sql.codegen.cache.maxEntries" -> "4096"))

  final case class Sample(name: String, wall: Double, define: Double, plan: Double,
      exec: Double, ok: Boolean)

  def run(dataDir: String, seconds: Double, trace: Boolean, outDir: String,
      names: Seq[String]): Outcome = {
    val out = new Outcome
    val tracer = new Tracer("query_mix", trace)
    val byName = graft.SparkEntry.allQueries.map(q => q.name -> q).toMap
    val unknown = names.filterNot(byName.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val qs: Seq[QueryDef] = names.map(byName)
    val cpus = Runtime.getRuntime.availableProcessors()
    val (spark, _) = tracer.timed("session")(session(cpus))
    scala.util.Try(org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window", org.apache.logging.log4j.Level.ERROR))
    val listener = if (trace) Some(new JobListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    spark.range(1000).selectExpr("sum(id)").collect()
    val sc = spark.sparkContext

    def one(q: QueryDef, pass: Int): Sample = {
      val group = s"$pass:${q.name}"
      sc.setJobGroup(group, q.name, interruptOnCancel = false)
      graft.queries.IndexCache.currentConsumer.set(q.name)
      try {
        val (s, wall) = tracer.timed(q.name, group) {
          val (df, d) = tracer.timed("define")(q.run(spark, dataDir))
          val (_, p) = tracer.timed("plan")(df.queryExecution.executedPlan)
          // the cold pass keeps each result for the oracle check
          val w = df.write.mode("overwrite")
          val (_, e) = tracer.timed("exec") {
            if (pass == 0) w.parquet(s"$outDir/${q.name}") else w.format("noop").save()
          }
          (d, p, e)
        }
        Sample(q.name, wall, s._1, s._2, s._3, ok = true)
      } catch {
        case e: Throwable =>
          out.fail(s"${q.name}: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
          Sample(q.name, 0.0, 0.0, 0.0, 0.0, ok = false)
      } finally {
        graft.queries.IndexCache.currentConsumer.remove()
        sc.clearJobGroup()
      }
    }

    def pass(i: Int): (Seq[Sample], Double) = tracer.timed(s"pass $i") {
      qs.map(q => one(q, i))
    }

    val setupSec = Harness.uptimeSec
    val (cold, coldWall) = pass(0)
    val ledger = graft.queries.IndexCache.buildsForDir(dataDir)
    val gc0 = Harness.gcSec
    val warm = mutable.ArrayBuffer.empty[(Seq[Sample], Double)]
    var timedSum = 0.0
    while (warm.isEmpty || timedSum < seconds) {
      val p = pass(warm.size + 1)
      warm += p
      timedSum += p._2
    }
    val gcTimed = Harness.gcSec - gc0
    val heapMb = Harness.retainedHeapMb
    Seq((cold, coldWall)).++(warm).foreach { case (ss, _) =>
      out.attempted += ss.size
      out.failed += ss.count(!_.ok)
    }

    java.nio.file.Files.writeString(java.nio.file.Paths.get(outDir, "oracle_sql.json"),
      Json.value(qs.flatMap(q => q.oracle.map(q.name -> _)).toMap))

    val warmSamples = warm.toSeq.flatMap(_._1).filter(_.ok)
    out.metrics("setup_s") = setupSec
    out.metrics("first_s") = coldWall
    // a warm pass: each query at its median over the warm passes
    out.metrics("repeat_s") = qs.map(q => Harness.median(
      warmSamples.filter(_.name == q.name).map(_.wall))).sum
    val walls = warmSamples.map(_.wall * 1e3)
    val tail = Harness.tailPct(walls.size)
    out.counts("queries") = qs.size
    out.counts("warm_passes") = warm.size
    out.counts("query_samples") = walls.size
    out.counts("query_p50_ms") = Harness.pct(walls, 50)
    out.counts("tail_percentile") = tail
    out.counts("query_tail_ms") = if (tail > 0) Harness.pct(walls, tail) else 0.0
    out.counts("retained_heap_mb") = heapMb
    if (trace) {
      val l = listener.get
      JobListener.drain(spark)
      val m = out.metrics
      val passes = warm.size.toDouble
      val rel = relationalNames
      m("run.session_s") = tracer.all.find(_.name == "session").map(s => (s.end - s.start) / 1e9).getOrElse(0.0)
      m("queries.define_s") = warmSamples.map(_.define).sum / passes
      m("queries.plan_s") = warmSamples.map(_.plan).sum / passes
      m("queries.exec_s") = warmSamples.map(_.exec).sum / passes
      val warmJobs = l.jobs.filter(j => j.group.nonEmpty && !j.group.startsWith("0:"))
      val w = l.work(warmJobs)
      m("queries.jobs") = w.jobs / passes
      m("queries.stages") = w.stages / passes
      m("queries.tasks") = w.tasks / passes
      m("queries.task_s") = w.taskSec / passes
      m("queries.shuffle_mb") = w.shuffleMb / passes
      // least-squares slope of a warm query's wall on its job count
      val jobsOf = warmJobs.groupBy(_.group).view.mapValues(_.size.toDouble).toMap
      val pts = warm.toSeq.zipWithIndex.flatMap { case ((ss, _), i) =>
        ss.filter(_.ok).map(s => (jobsOf.getOrElse(s"${i + 1}:${s.name}", 0.0), s.wall * 1e3))
      }
      val mx = pts.map(_._1).sum / pts.size; val my = pts.map(_._2).sum / pts.size
      val sxx = pts.map(p => (p._1 - mx) * (p._1 - mx)).sum
      m("queries.ms_per_job") = if (sxx > 0) pts.map(p => (p._1 - mx) * (p._2 - my)).sum / sxx else 0.0
      m("queries.relational_s") = warmSamples.filter(s => rel(s.name)).map(_.wall).sum / passes
      m("queries.other_s") = warmSamples.filterNot(s => rel(s.name)).map(_.wall).sum / passes
      m("queries.p50_ms") = Harness.pct(walls, 50)
      m("queries.tail_ms") = if (tail > 0) Harness.pct(walls, tail) else 0.0
      m("index.builds") = ledger.size.toDouble
      m("index.build_s") = ledger.values.sum
      m("jvm.gc_s") = gcTimed
      m("jvm.retained_heap_mb") = heapMb
      val groupSpan = tracer.all.filter(_.group.nonEmpty).map(s => s.group -> s.id).toMap
      l.addJobSpans(tracer, groupSpan)
      tracer.writeJsonl(s"$outDir/spans.jsonl")
    }
    spark.stop()
    out
  }
}
