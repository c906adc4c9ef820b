package graft.perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** In-memory spans: name, start, end, parent and run id. Spans are
  * recorded by the benchmark around calls into the program's public
  * functions; nothing inside the program is instrumented. Spark jobs
  * become child spans of the node or query span whose job group they
  * carry (see [[JobListener]]). Spans stay in memory and are written
  * once, when the run ends.
  */
final class Tracer(val runId: String, val enabled: Boolean) {
  import Tracer.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private var nextId = 0

  private def newId(): Int = synchronized { nextId += 1; nextId }

  def add(name: String, start: Long, end: Long, parent: Int, group: String = ""): Int = {
    val id = newId()
    if (enabled) synchronized { spans += Span(id, name, start, end, parent, group) }
    id
  }

  /** Times `body` as a span nested under the innermost open span of
    * this thread; returns the result and the wall in seconds. The wall
    * is measured whether or not tracing is on. */
  def timed[T](name: String, group: String = "")(body: => T): (T, Double) = {
    val id = newId()
    val parent = stack.get.headOption.getOrElse(0)
    stack.set(id :: stack.get)
    val t0 = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      val t1 = System.nanoTime()
      stack.set(stack.get.tail)
      if (enabled) synchronized { spans += Span(id, name, t0, t1, parent, group) }
    }
  }

  def all: Seq[Span] = synchronized(spans.toSeq)

  /** Self time of each span: its duration minus the union of the
    * intervals its children cover. */
  def selfTimes: Map[Int, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val ivs = kids.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start),
        math.min(c.end, s.end))).filter(iv => iv._2 > iv._1).sortBy(_._1)
      var covered = 0L; var curS = -1L; var curE = -1L
      ivs.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> (s.end - s.start - covered) / 1e9
    }.toMap
  }

  def writeJsonl(path: String): Unit = {
    val self = selfTimes
    val sb = new StringBuilder
    all.sortBy(_.start).foreach { s =>
      sb ++= Json.obj(Seq("run" -> runId, "id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "group" -> s.group,
        "start_ns" -> s.start, "end_ns" -> s.end,
        "dur_s" -> (s.end - s.start) / 1e9, "self_s" -> self(s.id))) += '\n'
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

object Tracer {
  final case class Span(id: Int, name: String, start: Long, end: Long,
      parent: Int, group: String = "")

  /** Turns the engine's node_started / node_finished events (its JSON
    * event log) into spans under the `build` span open at the time;
    * returns node id -> span id. */
  def nodeSpans(tracer: Tracer, lines: java.util.Collection[String]): Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    val offset = System.nanoTime() - System.currentTimeMillis() * 1000000L
    val Ev = """\{"event": "(node_started|node_finished)", "ts": "([^"]+)".*"unique_id": "([^"]+)".*""".r
    val starts = mutable.Map.empty[String, Long]
    val builds = tracer.all.filter(_.name == "build")
    val ids = mutable.Map.empty[String, Int]
    lines.asScala.foreach {
      case Ev(ev, ts, id) =>
        val i = java.time.Instant.parse(ts)
        val ns = i.getEpochSecond * 1000000000L + i.getNano + offset
        if (ev == "node_started") starts(id) = ns
        else starts.remove(id).foreach { s =>
          val parent = builds.find(b => b.start <= s && s <= b.end).map(_.id).getOrElse(0)
          ids(id) = tracer.add(id, s, ns, parent, id)
        }
      case _ => ()
    }
    ids.toMap
  }
}

/** One SparkListener: per job its group, start/end and stages; per
  * stage its task count, executor run time, shuffle write and spill.
  * Callers drain the listener bus (graftshim.drainListenerBus) before
  * reading it. */
final class JobListener extends SparkListener {
  import JobListener._

  private val jobsM = mutable.LinkedHashMap.empty[Int, Job]
  private val stagesM = mutable.Map.empty[Int, Stage]
  // wall clock (ms) to nanoTime offset, so job spans line up with spans
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobsM(e.jobId) = Job(e.jobId, g, e.time * 1000000L + offsetNs, -1L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsM.get(e.jobId).foreach(_.end = e.time * 1000000L + offsetNs)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    stagesM(i.stageId) = Stage(i.numTasks,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  def jobs: Seq[Job] = synchronized(jobsM.values.toSeq)

  def work(js: Seq[Job]): Work = synchronized {
    val st = js.flatMap(_.stages).distinct.flatMap(stagesM.get)
    Work(js.size, st.size, st.map(_.tasks).sum, st.map(_.runMs).sum / 1e3,
      st.map(_.shuffleWrite).sum / 1e6, st.map(_.spill).sum / 1e6)
  }

  /** Adds every job as a child span of the span carrying its group
    * (a root span when none does). */
  def addJobSpans(t: Tracer, groupSpan: Map[String, Int]): Unit =
    jobs.foreach { j =>
      t.add(s"job ${j.id}", j.start, if (j.end > 0) j.end else j.start,
        groupSpan.getOrElse(j.group, 0), j.group)
    }
}

object JobListener {
  final case class Job(id: Int, group: String, start: Long, var end: Long,
      stages: Seq[Int])
  final case class Stage(tasks: Int, runMs: Long, shuffleWrite: Long, spill: Long)
  final case class Work(jobs: Int, stages: Int, tasks: Int, taskSec: Double,
      shuffleMb: Double, spillMb: Double)

  def drain(spark: org.apache.spark.sql.SparkSession): Unit = spark match {
    case c: org.apache.spark.sql.classic.SparkSession =>
      org.apache.spark.sql.graftshim.drainListenerBus(c)
    case _ => ()
  }
}
