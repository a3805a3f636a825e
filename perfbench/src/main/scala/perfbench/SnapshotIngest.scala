package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.cell.{CellFunctions, CellIndex}
import graft.gen.GeoWorld
import graft.index.SnapshotTable

/**
 * snapshot_ingest: one point-index SnapshotTable (routing-cell partitions,
 * `cell` as stats column) built in set-up, then a loop of one upsert of a
 * seeded delta (~1% of rows in a few partitions) and four bbox reads —
 * two through `readParts`, two as DSv2 SQL with `part IN (...)` pushdown.
 * Every second commit runs `compact` and `expire` inline. Reads are
 * checked against the benchmark's in-memory model of the live rows.
 */
final class SnapshotIngest extends Workload {
  val name = "snapshot_ingest"
  /** Routing-cell resolution of the `part` column (11.25 x 5.6 degree cells). */
  final val PART_RES = 5
  final val MAINTAIN_EVERY = 2
  final val READ_BOX_DEG = 1.0

  private var keys: Array[(Long, Int)] = _
  private var deltaRows: Seq[DeltaRow] = _
  private var root: Path = _
  private var table: SnapshotTable = _
  private var round = 0
  private var reads = 0L
  /** pid -> (ver, lon, lat): the live rows the table must hold. */
  private val live = mutable.HashMap.empty[Long, (Long, Double, Double)]
  // traced-window counters
  private val commitBytes = mutable.ArrayBuffer.empty[Double]
  private val commitFiles = mutable.ArrayBuffer.empty[Double]
  private val sqlRows = mutable.ArrayBuffer.empty[Long]
  private lazy val pts: Array[Pt] = Gen.points(keys)
  private lazy val parts = Gen.populatedParts(pts, partOf)
  private var ctxSeed = 0L

  private def sf(ctx: Ctx) = ctx.inputDir.toString
  private def partOf(lon: Double, lat: Double): Long = CellIndex.encode(lon, lat, PART_RES)

  def setup(ctx: Ctx): Unit = {
    val sz = Gen.sizing(name)
    keys = Gen.lineitemKeys(ctx.seed, sz.orders)
    ctxSeed = ctx.seed
    Gen.writeCore(ctx.spark, ctx.inputDir, keys)
    deltaRows = Gen.deltas(ctx.seed, pts, sz, partOf)
    Gen.writeDeltas(ctx.spark, ctx.inputDir, deltaRows)
    root = ctx.dir.resolve("table")
    if (Files.exists(root)) rmTree(root)
    GeoWorld.registerUdfs(ctx.spark)
    table = new SnapshotTable(ctx.spark, root.toString, statsCol = Some("cell"))
    table.init(rowsOf(GeoWorld.points(ctx.spark, sf(ctx)).withColumn("ver", lit(1L))))
    ctx.spark.read.format("graft.sources.SnapshotSource").option("root", root.toString)
      .option("statscol", "cell").load().createOrReplaceTempView("snap_idx")
    live.clear()
    pts.foreach(p => live(p.pid) = (1L, p.lon, p.lat))
    round = 0; reads = 0
  }

  /** Table layout: pid, cell (res 11), lon, lat, ver, part. */
  private def rowsOf(df: DataFrame): DataFrame = df.select(col("pid"),
    CellFunctions.zcell(col("lon"), col("lat"), lit(CellIndex.RES_MID)).as("cell"),
    col("lon"), col("lat"), col("ver"),
    CellFunctions.zcell(col("lon"), col("lat"), lit(PART_RES)).as("part"))

  private def rmTree(p: Path): Unit = {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_)) finally s.close()
  }

  private def disk(): (Long, Int) = {
    val s = Files.walk(root)
    try {
      val fs = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (fs.map(Files.size).sum, fs.count(_.toString.endsWith(".parquet")))
    } finally s.close()
  }

  /** One cycle: MAINTAIN_EVERY x (commit + four reads), then compact and
    * expire, so every measured window holds the same op mix. */
  def cycle(ctx: Ctx): Unit = {
    (0 until MAINTAIN_EVERY).foreach { _ =>
      commit(ctx)
      (0 until 4).foreach(i => read(ctx, sql = i % 2 == 1))
    }
    ctx.op("compact", 0)(ctx.tracer.span("index.compact")(table.compact()))(_ => None)
    ctx.op("expire", 0)(ctx.tracer.span("index.expire")(table.expire(keepLast = 2, orphanGraceMs = 0L)))(n =>
      if (n < 0) Some(s"expire returned $n") else None)
  }

  private def commit(ctx: Ctx): Unit = {
    val r = round % Gen.sizing(name).deltaRounds
    val rows = deltaRows.filter(_.round == r)
    val before = table.currentVersion
    val traced = ctx.tracer.enabled
    val (b0, f0) = if (traced) disk() else (0L, 0)
    ctx.op("commit", rows.size.toLong) {
      val delta = ctx.spark.read.parquet(ctx.inputDir.resolve("deltas.parquet").toString)
        .filter(col("round") === r).drop("round")
      ctx.tracer.span("index.upsert")(table.upsert(rowsOf(delta), Seq("pid")))
    }(v => if (v == before + 1) None else Some(s"upsert committed v$v on top of v$before"))
    // the model follows the stream whether or not the commit landed;
    // later reads then flag a lost commit
    rows.foreach(d => live(d.pid) = (d.ver, d.lon, d.lat))
    if (traced) {
      val (b1, f1) = disk()
      val liveBytes = table.pruneFiles(None, None).map(_.bytes).sum.toDouble
      commitBytes += (b1 - b0) / (rows.size * liveBytes / live.size)
      commitFiles += (f1 - f0)
    }
    round += 1
  }

  /** A 1x1 degree box inside one partition: even reads in a partition the
    * latest delta touched, odd reads in any populated partition. */
  private def box(): (Double, Double, Double, Double) = {
    val rng = new SplittableRandom(ctxSeed * 7919L + reads)
    val part =
      if (reads % 2 == 0) {
        val ds = deltaRows.filter(_.round == (round - 1) % Gen.sizing(name).deltaRounds)
        val d = ds(rng.nextInt(ds.size)); partOf(d.lon, d.lat)
      } else parts(rng.nextInt(parts.size))._1
    val (x0, y0, x1, y1) = CellIndex.bounds(part, PART_RES)
    val lon = x0 + rng.nextDouble() * (x1 - x0 - READ_BOX_DEG)
    val lat = y0 + rng.nextDouble() * (y1 - y0 - READ_BOX_DEG)
    (lon, lat, lon + READ_BOX_DEG, lat + READ_BOX_DEG)
  }

  private def read(ctx: Ctx, sql: Boolean): Unit = {
    val (lo0, la0, lo1, la1) = box()
    reads += 1
    val parts = CellIndex.rectCover(lo0, la0, lo1, la1, PART_RES).toSet
    val t = ctx.tracer
    val kind = if (sql) "sql_read" else "parts_read"
    ctx.op(kind, 0) {
      if (sql) t.span("sources.sql_read")(ctx.spark.sql(
        s"""SELECT pid, ver FROM snap_idx WHERE part IN (${parts.mkString(", ")})
           |  AND lon > $lo0 AND lon < $lo1 AND lat > $la0 AND lat < $la1""".stripMargin).collect())
      else {
        if (t.enabled) t.span("index.plan")(table.pruneFiles(Some(parts), None))
        val df = t.span("index.read_parts")(table.readParts(parts))
        t.span("index.scan")(df.filter(col("lon") > lo0 && col("lon") < lo1 && col("lat") > la0 && col("lat") < la1)
          .select("pid", "ver").collect())
      }
    } { rows =>
      if (sql && t.enabled) sqlRows += rows.length
      SnapshotIngest.checkRead(live, (lo0, la0, lo1, la1), rows.map(r => r.getLong(0) -> r.getLong(1)))
    }
  }

  def inputProps(ctx: Ctx): Seq[(String, String)] = {
    val sz = Gen.sizing(name)
    val perRound = deltaRows.groupBy(_.round)
    Seq("rows" -> pts.length.toString,
      "partitions" -> pts.map(p => partOf(p.lon, p.lat)).distinct.length.toString,
      "delta_rows_per_commit" -> f"${Stats.mean(perRound.values.map(_.size.toDouble).toSeq)}%.0f",
      "partitions_touched_per_commit" -> f"${Stats.mean(perRound.values.map(_.map(d => partOf(d.lon, d.lat)).distinct.size.toDouble).toSeq)}%.2f",
      "update_share" -> f"${deltaRows.count(d => d.pid <= pts.last.pid).toDouble / deltaRows.size}%.2f",
      "maintenance" -> s"compact + expire(keepLast=2) every $MAINTAIN_EVERY commits",
      "caches" -> (s"working set fits the manifest page cache (1M entries) and GeoCache " +
        s"(65,536 geometries vs 4,730 areas); ${sz.deltaRounds} delta rounds then the stream repeats"))
  }

  def gated(ctx: Ctx, ops: Seq[OpRecord], setupS: Double): Seq[Metric] =
    Workload.uniform(ops, ops.filter(o => Set("commit", "compact", "expire")(o.kind)), setupS)

  def report(ctx: Ctx, ops: Seq[OpRecord], setupS: Double): Seq[Metric] = {
    val commits = ops.filter(_.kind == "commit").map(_.wallMs)
    val rds = ops.filter(o => o.kind.endsWith("_read")).map(_.wallMs)
    val writes = ops.filter(o => Set("commit", "compact", "expire")(o.kind))
    val (onDisk, _) = disk()
    val liveBytes = table.pruneFiles(None, None).map(_.bytes).sum.toDouble
    Seq(Metric("setup_s", setupS, "s", Main.SETUP_REPS),
      Metric("commit_ms_p50", Stats.quantile(commits, 0.5), "ms", commits.size),
      Metric("commit_ms_p90", Stats.quantile(commits, 0.9), "ms", commits.size),
      Metric("read_ms_p50", Stats.quantile(rds, 0.5), "ms", rds.size),
      Metric("read_ms_p90", Stats.quantile(rds, 0.9), "ms", rds.size),
      Metric("rows_upserted_per_s", writes.map(_.units).sum / (writes.map(_.wallMs).sum / 1000), "rows/s", commits.size),
      Metric("bytes_stored_per_live_byte", onDisk / liveBytes, "ratio", 1))
  }

  def layers(ctx: Ctx, traced: Seq[OpRecord]): Map[String, Double] = {
    val t = ctx.tracer
    val upserted = traced.map(_.units).sum.toDouble
    val ofKind = (k: String) => t.opIds.filter(t.opName(_) == k).map(t.sparkOf)
    val sqlOps = ofKind("sql_read")
    val base = Layers.zeros ++ Layers.spark(t, upserted) ++
      Layers.probes(ctx.spark, sf(ctx), pts, None, 4)
    val covers = (0 until 64).map { _ =>
      val (lo0, la0, lo1, la1) = box()
      CellIndex.rectCover(lo0, la0, lo1, la1, PART_RES).length.toDouble
    }
    base ++ Map(
      "cell.cover_cells_per_area" -> Stats.mean(covers),
      "index.plan_ms" -> Stats.mean(t.spanMs("index.plan")),
      "index.scan_ms" -> Stats.mean(t.spanMs("index.scan")),
      "index.jobs_per_commit" -> Stats.mean(ofKind("commit").map(_.jobs.toDouble)),
      "index.write_amp" -> Stats.mean(commitBytes.toSeq),
      "index.files_per_commit" -> Stats.mean(commitFiles.toSeq),
      "index.live_files" -> table.filesMeta().count().toDouble,
      "index.compact_ms" -> Stats.mean(traced.filter(_.kind == "compact").map(_.wallMs)),
      "index.expire_ms" -> Stats.mean(traced.filter(_.kind == "expire").map(_.wallMs)),
      "sources.plan_ms" -> Stats.mean(sqlOps.map(_.planningMs)),
      "sources.files_read" -> Stats.mean(sqlOps.map(_.dsv2Files.toDouble)),
      "sources.bytes_read_per_row" -> sqlOps.map(_.dsv2Bytes).sum / math.max(1.0, sqlRows.sum.toDouble))
  }
}

object SnapshotIngest {
  /** A bbox read is right when it returns exactly the live (pid, ver)
    * rows of the model inside the box, each once. */
  def checkRead(live: scala.collection.Map[Long, (Long, Double, Double)],
      box: (Double, Double, Double, Double), got: Seq[(Long, Long)]): Option[String] = {
    val (lo0, la0, lo1, la1) = box
    val exp = live.iterator.collect {
      case (pid, (ver, lon, lat)) if lon > lo0 && lon < lo1 && lat > la0 && lat < la1 => pid -> ver
    }.toMap
    Check.counts(f"read ($lo0%.3f,$la0%.3f)", exp, got.toMap).orElse(
      if (got.length != got.toMap.size) Some("read returned duplicate pids") else None)
  }
}
