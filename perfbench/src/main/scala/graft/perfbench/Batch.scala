package graft.perfbench

import java.io.File

/** A batch workload: seeded inputs on disk, and an iteration that runs
  * its stages in order, each reading the previous stage's written output. */
trait BatchWorkload {
  type Truth
  /** Number of input records one iteration processes. */
  def size: Int
  /** Write the seeded inputs under `in`; return the planted truth. */
  def generate(ctx: Ctx, in: File): Truth
  def inputHash(t: Truth): String
  /** Run every stage, each inside `tr.span(<stage>)`, writing under `out`. */
  def iteration(ctx: Ctx, in: File, out: File, truth: Truth, tr: Tracer): Unit
  /** Check every stage's written output against the truth: one
    * operation per stage. Also adds workload metrics to the result. */
  def check(ctx: Ctx, in: File, out: File, truth: Truth, res: Result): Unit
}

object BatchRunner {
  /** Untimed passes before timing: the first pass loads classes and
    * compiles the plans, and costs far more than any later one. */
  val WarmupPasses = 1
  /** Fewest timed iterations, whatever the run length. */
  val MinIters = 1
  /** Fewest traced and untraced iterations each in a traced run, so
    * the tracing overhead compares medians, not single iterations. */
  val MinTracedPairs = 2

  def run(w: BatchWorkload)(ctx: Ctx): Result = {
    val res = new Result
    val off = new Tracer(ctx.spark, enabled = false, "setup")
    val tracer = new Tracer(ctx.spark, enabled = true, s"${ctx.workload}-${ctx.seed}")

    // set-up: input generation, then untimed warm-up passes
    val s0 = System.nanoTime()
    val in = ctx.freshDir("input")
    val truth = w.generate(ctx, in)
    val inputBytes = Stats.dirBytes(in).toDouble
    ctx.phase("generate")
    (1 to WarmupPasses).foreach { _ =>
      val warm = ctx.freshDir("warmup")
      w.iteration(ctx, in, warm, truth, off)
      Stats.deleteTree(warm)
    }
    val setupS = (System.nanoTime() - s0) / 1e9
    ctx.phase("warm-up")
    res.inputHash = w.inputHash(truth)
    res.endToEnd("setup_s") = (ctx.sessionS + setupS, "s")

    val untraced = collection.mutable.ArrayBuffer[Double]()
    val traced = collection.mutable.ArrayBuffer[Double]()
    val written = collection.mutable.ArrayBuffer[Double]()
    val minIters = if (ctx.trace) 2 * MinTracedPairs else MinIters
    val loop0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - loop0) / 1e9 < ctx.seconds || i < minIters) {
      // traced runs mix traced and untraced iterations, which gives the
      // tracing overhead without a second run; the order untraced,
      // traced, traced, untraced cancels a steady drift over the run
      val withTrace = ctx.trace && (i % 4 == 1 || i % 4 == 2)
      val tr = if (withTrace) tracer else off
      val out = ctx.freshDir("iter")
      if (withTrace) tracer.start()
      val t0 = System.nanoTime()
      val ok =
        try { tr.span(LayerMetrics.Root)(w.iteration(ctx, in, out, truth, tr)); true }
        catch { case e: Exception => res.op(ok = false, s"iteration $i threw: $e"); false }
      val dt = (System.nanoTime() - t0) / 1e9
      if (withTrace) { tracer.drain(); tracer.stop() }
      if (ok) {
        (if (withTrace) traced else untraced) += dt
        written += Stats.dirBytes(out).toDouble
        w.check(ctx, in, out, truth, res)
      }
      Stats.deleteTree(out)
      i += 1
      ctx.phase(s"iteration $i")
    }
    val med = Stats.median(untraced.toSeq)
    res.endToEnd("throughput_rps") = (w.size / med, "1/s")
    res.endToEnd("latency_p50_ms") = (med * 1e3, "ms")
    res.endToEnd("write_amp") = (Stats.median(written.toSeq) / inputBytes, "ratio")
    res.extra("iterations") = (untraced.size.toDouble, "count")
    res.extra("input_records") = (w.size.toDouble, "count")
    res.extra("input_bytes") = (inputBytes, "B")
    if (ctx.trace) {
      res.spans = tracer.snapshot()
      LayerMetrics.fill(res, res.spans, ctx.cores)
      res.perLayer("pipeline.trace_overhead") = (Stats.median(traced.toSeq) / med - 1, "ratio")
    }
    res
  }
}
