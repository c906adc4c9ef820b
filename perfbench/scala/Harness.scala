package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** JVM side of the benchmark. `perfbench/run.py` starts it once per run:
  *
  * {{{
  *   Harness incr  <workDir> <seconds> <trace 0|1> <threads>
  *   Harness query <dataDir> <seconds> <trace 0|1> <outDir> <q1,q2,...>
  *   Harness dag   <projectDir> <warehouseDir> <threads> <ends.json>
  * }}}
  *
  * The last stdout line is one JSON object: `ok`, `attempted`, `failed`,
  * `errors`, `metrics` (end-to-end and, when traced, per-layer), and
  * `counts`. Spans go to `<work>/spans.jsonl` when traced.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val out = args(0) match {
      case "incr" => IncrWorkload.run(args(1), args(2).toDouble, args(3) == "1", args(4).toInt)
      case "query" => QueryWorkload.run(args(1), args(2).toDouble, args(3) == "1", args(4),
        args(5).split(",").toSeq.filter(_.nonEmpty))
      case "dag" => DagTrace.run(args(1), args(2), args(3).toInt, args(4))
      case other => sys.error(s"unknown mode $other")
    }
    println(out.json)
    System.out.flush()
    // Spark leaves non-daemon threads behind; the result is printed
    sys.exit(if (out.ok) 0 else 1)
  }

  /** The session `run/Cli.scala` builds, with `nproc` cores. */
  def cliSession(cpus: Int, extra: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def uptimeSec: Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  def gcSec: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  }

  /** Heap in use after a full GC: what caches and persisted frames keep. */
  def retainedHeapMb: Double = {
    System.gc(); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  /** The highest percentile (of 50, 75, 90, 95, 99, 99.9) with at least
    * ten samples above it; 0 when there are fewer than forty samples. */
  def tailPct(n: Int): Double =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0).find(p => n * (1 - p / 100.0) >= 10.0 - 1e-9)
      .filter(_ => n >= 40).getOrElse(0.0)

  /** Bytes and data files under a directory tree, each file counted once
    * however many hard links it has (the warehouse carries unchanged
    * partitions into a new version by hard link). Files are identified by
    * their file key (device and inode). */
  def treeStats(root: java.io.File): (Long, Set[AnyRef]) = {
    val files = mutable.Map.empty[AnyRef, Long]
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(walk)
      else if (f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_")) {
        val a = java.nio.file.Files.readAttributes(f.toPath,
          classOf[java.nio.file.attribute.BasicFileAttributes])
        files(a.fileKey) = a.size
      }
    walk(root)
    (files.values.sum, files.keySet.toSet)
  }

  /** Rows as `a|b|c` strings. */
  def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toSeq.mkString("|"))
}

/** What one JVM run hands back to run.py. */
final class Outcome {
  var ok = true
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val counts = mutable.LinkedHashMap.empty[String, Any]

  def fail(msg: String): Unit = { ok = false; if (errors.size < 50) errors += msg }

  def json: String = Json.obj(Seq("ok" -> ok, "attempted" -> attempted,
    "failed" -> failed, "errors" -> errors.toSeq, "metrics" -> metrics.toMap,
    "counts" -> counts.toMap))
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\t' => "\\t"
    case '\r' => "\\r"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
