package perfbench

import java.nio.file.{Files, Path, Paths}

/**
 * Benchmark entry point:
 * {{{
 *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --dir <work dir>
 * }}}
 * Set-up (session start, seeded input generation, table build) runs three
 * times and its median plus the one JIT/codegen warm-up pass, run in the
 * last set-up's session, is `setup_s`.
 * Then whole op cycles (at least three) run until `--seconds` have passed.
 * With `--trace 1` a second, traced window follows the untraced one; the
 * per-layer metrics come from it and the throughput difference is the
 * tracing overhead.
 * Report lines go to stdout; the result object is written to
 * `<dir>/result.json` for the launcher to print last.
 */
object Main {

  final val SETUP_REPS = 3
  /** The first measured cycle can still run partly tier-1 JIT code; with
    * three cycles every op kind has three samples for the lower median. */
  final val MIN_CYCLES = 3

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = kv.getOrElse("workload", sys.error("--workload is required"))
    val seed = kv.getOrElse("seed", "1").toLong
    val seconds = kv.getOrElse("seconds", "10").toDouble
    val trace = kv.getOrElse("trace", "0") == "1"
    val dir = Paths.get(kv.getOrElse("dir", sys.error("--dir is required"))).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors() // local[nproc]
    val wl = Workload(workload)
    val result = run(wl, seed, seconds, trace, dir, cores)
    Files.writeString(dir.resolve("result.json"), result)
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def run(wl: Workload, seed: Long, seconds: Double, trace: Boolean, dir: Path, cores: Int): String = {
    Files.createDirectories(dir)
    val ctx = new Ctx(wl.name, seed, dir, cores)
    def setupOnce(): Double = {
      ctx.stopSession()
      Files.createDirectories(ctx.inputDir)
      val t0 = System.nanoTime()
      ctx.newSession()
      val t1 = System.nanoTime()
      wl.setup(ctx)
      println(f"[perfbench] set-up: session ${(t1 - t0) / 1e9}%.2f s, inputs and build ${(System.nanoTime() - t1) / 1e9}%.2f s")
      (System.nanoTime() - t0) / 1e9
    }
    // every set-up starts a fresh session; the warm-up pass runs in the
    // last one, the session the measured window uses, so the window
    // starts with warm JIT code and warm session caches
    val setupS = (1 to SETUP_REPS).map(_ => setupOnce())
    val warmT0 = System.nanoTime()
    wl.warmup(ctx)
    val warmS = (System.nanoTime() - warmT0) / 1e9
    val setupTotal = Stats.median(setupS) + warmS
    println(f"[perfbench] ${wl.name} seed=$seed cores=$cores set-up runs " +
      f"${setupS.map(s => f"$s%.2f").mkString(", ")} s, warm-up $warmS%.2f s")

    def window(w: Int): Seq[OpRecord] = {
      ctx.window = w
      val t0 = System.nanoTime()
      var cycles = 0
      while (cycles < MIN_CYCLES || (System.nanoTime() - t0) / 1e9 < seconds) { wl.cycle(ctx); cycles += 1 }
      ctx.windowOps(w)
    }
    val untraced = window(1)
    println("[perfbench] op ms min/p50/max: " + untraced.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, os) =>
      val w = os.map(_.wallMs)
      f"$k ${w.min}%.0f/${Stats.median(w)}%.0f/${w.max}%.0f (n=${os.size})" }.mkString(", "))
    wl.inputProps(ctx).foreach { case (k, v) => println(s"[perfbench] input $k = $v") }
    val gated = wl.gated(ctx, untraced, setupTotal)
    wl.report(ctx, untraced, setupTotal).foreach { m =>
      println(f"[perfbench] metric ${m.name} = ${m.value}%.4f ${m.unit} (n=${m.samples})")
    }
    val metrics: Seq[(String, Double, String)] =
      if (!trace) gated.map(m => (m.name, m.value, m.unit))
      else {
        ctx.tracer = new Tracer(true)
        ctx.tracer.attach(ctx.spark)
        val traced = window(2)
        val tput = (ops: Seq[OpRecord]) =>
          wl.gated(ctx, ops, setupTotal).find(_.name == "throughput_per_s").get.value
        val overhead = 100.0 * (tput(untraced) - tput(traced)) / tput(untraced)
        val layers = (wl.layers(ctx, traced) + ("trace.overhead_pct" -> overhead)).toSeq.sortBy(_._1)
        Files.writeString(dir.resolve("spans.jsonl"), ctx.tracer.spansJsonl)
        Files.writeString(dir.resolve("layers.json"), layers.map { case (k, v) =>
          s"""  "$k": ${fmt(v)}""" }.mkString("{\n", ",\n", "\n}\n"))
        println(f"[perfbench] traced window: ${traced.size} ops, ${ctx.tracer.allSpans.size} spans, " +
          f"tracing overhead $overhead%.1f%% of throughput")
        layers.map { case (k, v) => (k, v, Layers.unitOf(k)) }
      }
    val attempted = ctx.ops.size
    val failed = ctx.ops.count(!_.ok)
    ctx.failures.foreach(f => println(s"[perfbench] FAILED $f"))
    println(f"[perfbench] metric failed_op_ratio = ${failed.toDouble / attempted}%.6f ratio (n=$attempted)")
    ctx.stopSession()
    val ms = metrics.map { case (k, v, u) => s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}
