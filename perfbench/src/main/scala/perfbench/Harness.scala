package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One measured operation. `units` is the op's share of the workload's
  * throughput unit (docs, queries or upserted rows). */
final case class OpRecord(kind: String, wallMs: Double, cpuMs: Double, units: Long, ok: Boolean,
    window: Int)

/** A metric as printed: value, unit and the number of samples behind it. */
final case class Metric(name: String, value: Double, unit: String, samples: Int)

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt; val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** The lower median: the smaller middle value for an even count (the
    * minimum of two samples), so one slow outlier never moves it. */
  def lowMedian(xs: Seq[Double]): Double = xs.sorted.apply((xs.length - 1) / 2)
  /** Total of a per-kind statistic over ops: each kind contributes its
    * op count times its low-median, so a single stalled op (host noise,
    * a GC pause) does not swing a window's sum. */
  def robustSum(ops: Seq[OpRecord], f: OpRecord => Double): Double =
    ops.groupBy(_.kind).values.map(os => os.size * lowMedian(os.map(f))).sum
  /** Typical op latency: the geometric mean, over op kinds, of each
    * kind's lower-median latency. Every kind weighs the same, so the
    * value averages the kinds' noise instead of following whichever kind
    * happens to sit in the middle of a mixed median. */
  def kindGeomean(ops: Seq[OpRecord]): Double = {
    val meds = ops.groupBy(_.kind).values.map(os => math.log(lowMedian(os.map(_.wallMs))))
    math.exp(meds.sum / meds.size)
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

/** Session, input directory, tracer and op log shared by a workload. */
final class Ctx(val workload: String, val seed: Long, val dir: Path, val cores: Int) {

  var spark: SparkSession = _
  var tracer = new Tracer(false)
  /** Every op attempted, warm-up (window 0) and measured windows alike. */
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  val failures = mutable.ArrayBuffer.empty[String]
  var window = 0

  def inputDir: Path = dir.resolve("input")

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = osBean.getProcessCpuTime

  def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    spark = s
    s
  }

  def stopSession(): Unit = if (spark != null) {
    spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    spark = null
  }

  /** Time `run` as one operation, then check its result (untimed). A
    * thrown exception or a failed check marks the op failed. */
  def op[R](kind: String, units: Long)(run: => R)(check: R => Option[String]): Unit = {
    val c0 = cpuNs
    val t0 = System.nanoTime()
    val res = scala.util.Try(tracer.op(kind)(run))
    val wall = (System.nanoTime() - t0) / 1e6
    val cpu = (cpuNs - c0) / 1e6
    val err = res.fold(e => Some(s"$kind threw ${e.getClass.getSimpleName}: ${e.getMessage}"),
      r => scala.util.Try(check(r)).fold(e => Some(s"$kind check threw: $e"), identity))
    err.foreach(m => if (failures.size < 20) failures += m)
    ops += OpRecord(kind, wall, cpu, units, err.isEmpty, window)
  }

  def windowOps(w: Int): Seq[OpRecord] = ops.iterator.filter(_.window == w).toSeq
}

/** A benchmark workload: seeded set-up, a warm-up, and a cycle of ops. */
trait Workload {
  def name: String
  /** Generate the inputs (from the seed) and build whatever the ops read. */
  def setup(ctx: Ctx): Unit
  /** One pass over every op type before timing (JIT, codegen, caches). */
  def warmup(ctx: Ctx): Unit = cycle(ctx)
  /** One cycle of ops; the measured window runs whole cycles, at least
    * [[Main.MIN_CYCLES]] of them. */
  def cycle(ctx: Ctx): Unit
  /** Input properties recorded with the result. */
  def inputProps(ctx: Ctx): Seq[(String, String)]
  /** End-to-end metrics under the workload's own names (docs_per_s, commit_ms_p50, ...). */
  def report(ctx: Ctx, ops: Seq[OpRecord], setupS: Double): Seq[Metric]
  /** The uniform, gated end-to-end metrics. */
  def gated(ctx: Ctx, ops: Seq[OpRecord], setupS: Double): Seq[Metric]
  /** Per-layer metrics of a traced window (idle layers report 0). */
  def layers(ctx: Ctx, traced: Seq[OpRecord]): Map[String, Double]
}

object Workload {
  def apply(name: String): Workload = name match {
    case "geo_batch" => new GeoBatch
    case "geo_service" => new GeoService
    case "snapshot_ingest" => new SnapshotIngest
    case "doc_assemble" => new DocAssemble
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
  val names: Seq[String] = Seq("geo_batch", "geo_service", "snapshot_ingest", "doc_assemble")

  /** The gated metrics, the same on every workload: set-up time, units
    * (docs, upserted rows) per second of the throughput ops' wall time,
    * the typical op latency ([[Stats.kindGeomean]]) and process CPU per
    * unit. Wall and CPU totals are [[Stats.robustSum]]s. */
  def uniform(ops: Seq[OpRecord], throughputOps: Seq[OpRecord], setupS: Double): Seq[Metric] = {
    val units = throughputOps.map(_.units).sum.toDouble
    Seq(
      Metric("setup_s", setupS, "s", Main.SETUP_REPS),
      Metric("throughput_per_s", units / (Stats.robustSum(throughputOps, _.wallMs) / 1000.0),
        "1/s", throughputOps.size),
      Metric("op_ms_gmean", Stats.kindGeomean(ops), "ms", ops.size),
      Metric("cpu_us_per_unit", Stats.robustSum(ops, _.cpuMs) * 1000.0 / units, "us", ops.size))
  }
}
