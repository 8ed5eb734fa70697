package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.file.Files
import scala.collection.mutable

/** What every workload run shares: the session, the seed, the run
  * length, whether spans are traced, and a scratch directory that is
  * fresh for this run. */
final class Ctx(val spark: SparkSession, val workload: String, val seed: Long,
    val seconds: Int, val trace: Boolean, val work: File, val cores: Int, val sessionS: Double) {
  private var n = 0
  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  /** Log the end of a run phase, with seconds since process start. */
  def phase(name: String): Unit =
    System.err.println(f"perfbench: $name done at ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s")
  /** A directory no earlier iteration of this run has used. */
  def freshDir(tag: String): File = {
    n += 1
    val d = new File(work, f"$tag-$n%04d")
    Files.createDirectories(d.toPath)
    d
  }
}

/** The measurements and check outcomes of one run. */
final class Result {
  val endToEnd = mutable.LinkedHashMap[String, (Double, String)]()
  val perLayer = mutable.LinkedHashMap[String, (Double, String)]()
  /** Workload-specific figures that go to the run record only. */
  val extra = mutable.LinkedHashMap[String, (Double, String)]()
  val failures = mutable.ArrayBuffer[String]()
  var inputHash = ""
  /** Spans of a traced run, with their counters. */
  var spans: Seq[(Span, SpanCounters)] = Nil
  var attempted = 0L
  var failed = 0L

  /** Count one operation; a false `ok` makes it a failed one. */
  def op(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 20) failures += what }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def deleteTree(f: File): Unit =
    if (f.exists()) graft.sources.VersionedTable.deleteRecursively(f.toPath)

  /** Peak resident set of this process (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  /** (total, steal) jiffies from the first line of `/proc/stat`. */
  def cpuStat(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        finally src.close()
      (f.sum, if (f.length > 7) f(7) else 0L)
    } catch { case _: Exception => (0L, 0L) }

  def stealPct(a: (Long, Long), b: (Long, Long)): Double = {
    val dt = b._1 - a._1
    if (dt <= 0) 0.0 else 100.0 * (b._2 - a._2) / dt
  }
}

/** Per-layer metrics from traced spans: the seven core metrics of
  * every layer span, each the median over the span's occurrences, and
  * the driver's self time outside any layer span. */
object LayerMetrics {
  val Spans: Map[String, Seq[String]] = Map(
    "marc_etl" -> Seq("harvest", "records", "transform", "validate", "index",
      "bm25_append", "bm25_search"),
    "corpus_curation" -> Seq("text", "dedup_exact", "dedup_lsh", "dedup_cc", "corpus",
      "ann_build", "ann_append", "ann_search", "ann_maintain"))
  val AllSpans: Seq[String] = Seq("marc_etl", "corpus_curation").flatMap(Spans)
  val Core: Seq[(String, String)] = Seq("wall_s" -> "s", "plan_ms" -> "ms", "jobs" -> "count",
    "exec_cpu_s" -> "s", "slot_util" -> "ratio", "shuffle_bytes" -> "B", "spill_bytes" -> "B")
  /** Layer counters the workloads report besides the span metrics. */
  val Extras: Seq[(String, String)] = Seq("harvest.rows_out" -> "count",
    "validate.keep_ratio" -> "ratio", "dedup_lsh.pairs" -> "count",
    "bm25.segments_live" -> "count", "ann.segments_live" -> "count")
  /** The span that encloses one iteration. */
  val Root = "pipeline"

  def fill(res: Result, spans: Seq[(Span, SpanCounters)], cores: Int): Unit = {
    val children = spans.groupBy(_._1.parent)
    AllSpans.foreach { name =>
      val occ = spans.filter(_._1.name == name)
      def med(f: ((Span, SpanCounters)) => Double): Double =
        if (occ.isEmpty) 0.0 else Stats.median(occ.map(f))
      val values = Map(
        "wall_s" -> med(_._1.wallS),
        "plan_ms" -> med(_._2.planMs.toDouble),
        "jobs" -> med(_._2.jobs.toDouble),
        "exec_cpu_s" -> med(_._2.cpuNs / 1e9),
        "slot_util" -> med { case (s, c) => c.runTimeMs / 1e3 / (s.wallS * cores) },
        "shuffle_bytes" -> med(_._2.shuffleBytes.toDouble),
        "spill_bytes" -> med(_._2.spillBytes.toDouble))
      Core.foreach { case (m, unit) => res.perLayer(s"$name.$m") = (values(m), unit) }
    }
    val roots = spans.filter(_._1.name == Root).map(_._1)
    val self = roots.map { r =>
      val kids = children.getOrElse(r.id, Nil).map(k => (k._1.startNs, k._1.endNs))
      Tracer.selfTime(r.startNs, r.endNs, kids) / 1e9
    }
    res.perLayer("pipeline.self_s") = (if (self.isEmpty) 0.0 else Stats.median(self), "s")
    Extras.foreach { case (m, unit) =>
      res.perLayer(m) = (res.extra.get(m).map(_._1).getOrElse(0.0), unit)
    }
  }
}

object Main {
  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(sys.error("--seed is required"))
    val seconds = arg(args, "--seconds").map(_.toInt).getOrElse(10)
    val trace = arg(args, "--trace").contains("1")
    val work = new File(arg(args, "--work").getOrElse(sys.error("--work is required")))
    val spansOut = arg(args, "--spans").map(new File(_))
    val runner: Ctx => Result = workload match {
      case "marc_etl" => MarcEtl.run
      case "corpus_curation" => CorpusCuration.run
      case other => sys.error(s"unknown workload $other")
    }
    val cores = Runtime.getRuntime.availableProcessors
    Stats.deleteTree(work)
    Files.createDirectories(work.toPath)
    val spark = graft.GraftSession.create(s"local[$cores]")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val stat0 = Stats.cpuStat()
    val res =
      try runner(new Ctx(spark, workload, seed, seconds, trace, work, cores, sessionS))
      finally {
        spark.stop()
        Stats.deleteTree(work)
      }
    val steal = Stats.stealPct(stat0, Stats.cpuStat())
    res.perLayer("process.peak_rss_mb") = (Stats.peakRssMb(), "MB")
    val errorRate = res.failed.toDouble / res.attempted.max(1L)
    res.extra("error_rate") = (errorRate, "fraction")
    spansOut.foreach(f => Files.writeString(f.toPath, Json.spans(res.spans)))
    println(Json.runRecord(workload, seed, seconds, trace, cores, steal, res))
    println(Json.resultLine(res, trace))
  }
}

/** The run's JSON output, rendered with json4s from Spark's jars. */
object Json {
  import org.json4s._
  import org.json4s.jackson.JsonMethods.{compact, render}

  def num(v: Double): JValue = if (v.isNaN || v.isInfinite) JNull else JDouble(v)

  def metrics(m: Iterable[(String, (Double, String))]): JObject =
    JObject(m.toList.map { case (k, (v, u)) => k -> JObject("value" -> num(v), "unit" -> JString(u)) })

  /** The full run record: every metric of the run with its unit, the
    * run's settings and host steal; printed before the result line. */
  def runRecord(workload: String, seed: Long, seconds: Int, trace: Boolean, cores: Int,
      steal: Double, res: Result): String =
    compact(render(JObject("run_record" -> JObject(
      "workload" -> JString(workload), "seed" -> JLong(seed), "seconds" -> JInt(seconds),
      "trace" -> JInt(if (trace) 1 else 0), "cores" -> JInt(cores), "steal_pct" -> num(steal),
      "input_hash" -> JString(res.inputHash),
      "attempted" -> JLong(res.attempted), "failed" -> JLong(res.failed),
      "failures" -> JArray(res.failures.toList.map(JString(_))),
      "end_to_end" -> metrics(res.endToEnd), "workload_metrics" -> metrics(res.extra),
      "per_layer" -> metrics(res.perLayer)))))

  /** One JSON object per span, one per line. */
  def spans(xs: Seq[(Span, SpanCounters)]): String =
    xs.map { case (s, c) =>
      compact(render(JObject("id" -> JLong(s.id), "name" -> JString(s.name),
        "parent" -> JLong(s.parent), "run_id" -> JString(s.runId),
        "start_ms" -> JLong(s.startMs), "end_ms" -> JLong(s.endMs), "wall_s" -> num(s.wallS),
        "jobs" -> JLong(c.jobs), "plan_ms" -> JLong(c.planMs), "exec_run_ms" -> JLong(c.runTimeMs),
        "exec_cpu_ns" -> JLong(c.cpuNs), "shuffle_bytes" -> JLong(c.shuffleBytes),
        "spill_bytes" -> JLong(c.spillBytes)))) + "\n"
    }.mkString

  /** The contract line: end-to-end metrics untraced, per-layer traced. */
  def resultLine(res: Result, trace: Boolean): String =
    compact(render(JObject("correct" -> JBool(res.failed == 0),
      "attempted" -> JLong(res.attempted.max(1L)), "failed" -> JLong(res.failed),
      "metrics" -> metrics(if (trace) res.perLayer else res.endToEnd))))
}
