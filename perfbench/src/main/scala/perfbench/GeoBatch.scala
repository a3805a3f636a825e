package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.bench.Headline
import graft.cell.CellIndex
import graft.gen.GeoWorld
import graft.query.GeoQueries

/** Pure result checks shared by the workloads and their tests. */
object Check {
  /** Compare keyed counts; report the first few differences. */
  def counts[K](what: String, expected: Map[K, Long], got: Map[K, Long]): Option[String] =
    if (expected == got) None
    else {
      val keys = (expected.keySet ++ got.keySet).filter(k => expected.get(k) != got.get(k)).take(3)
      Some(s"$what: ${keys.size}+ keys differ, e.g. " +
        keys.map(k => s"$k expected ${expected.getOrElse(k, 0L)} got ${got.getOrElse(k, 0L)}").mkString("; "))
    }

  /** Brute-force k nearest points within `pruneM`, ordered by (dist, pid). */
  def knn(pts: Array[Pt], lon: Double, lat: Double, k: Int, pruneM: Double): Seq[(Double, Long)] = {
    val best = scala.collection.mutable.PriorityQueue.empty[(Double, Long)]
    pts.foreach { p =>
      val d = Gen.haversineM(p.lon, p.lat, lon, lat)
      if (d <= pruneM) {
        best.enqueue((d, p.pid))
        if (best.size > k) best.dequeue()
      }
    }
    best.toSeq.sorted
  }

  /** A kNN answer (rank-ordered (pid, dist_m) rows, dist rounded to mm) is
    * right when its distances equal the brute-force top-k distances and
    * each returned pid really lies at its reported distance; ties between
    * equidistant points may resolve either way. */
  def knnAnswer(pts: Map[Long, Pt], lon: Double, lat: Double, expected: Seq[(Double, Long)],
      got: Seq[(Long, Double)]): Option[String] = {
    if (got.size != expected.size) Some(s"expected ${expected.size} neighbours, got ${got.size}")
    else if (got.map(_._1).distinct.size != got.size) Some("duplicate neighbours")
    else got.zip(expected).collectFirst {
      case ((pid, d), (ed, _)) if math.abs(d - ed) > 0.002 => s"rank distance $d, expected $ed"
      case ((pid, d), _) if !pts.get(pid).exists(p => math.abs(Gen.haversineM(p.lon, p.lat, lon, lat) - d) <= 0.002) =>
        s"pid $pid is not at distance $d"
    }
  }
}

/**
 * geo_batch: a fixed sequence of batch jobs over a generated point world,
 * each checked against the in-process model. The cell encode, broadcast
 * cell join and exact refine do nearly all the work.
 */
final class GeoBatch extends Workload {
  val name = "geo_batch"
  final val KNN_K = 3
  final val KNN_PRUNE_M = 150000.0

  private var keys: Array[(Long, Int)] = _
  private var probes: Seq[(Long, Double, Double)] = _
  private var areasBuildMs = 0.0
  private lazy val world = new World(Gen.points(keys))
  private def pts = world.pts
  private lazy val expL4 = countBy(pts)(Gen.areaOf(_, 4))
  private lazy val expL8 = countBy(pts)(Gen.areaOf(_, 8))
  private lazy val expRev = countBy(pts)(p =>
    s"state_${Gen.areaOf(p, 4) - 400000}/district_${Gen.areaOf(p, 8) - 800000}")
  private lazy val expPoi = countBy(pts.filter(_.cat == 3))(Gen.areaOf(_, 4))
  private lazy val expRaster = countBy(pts)(p => (tileX(p.lon), tileY(p.lat), p.isMedia))
  private lazy val expHeadline = countBy(pts)(p => (Gen.areaOf(p, 4), tileX(p.lon), tileY(p.lat), p.isMedia))
  private lazy val expKnn: Map[Long, Seq[(Double, Long)]] =
    probes.map { case (q, lo, la) => q -> Check.knn(pts, lo, la, KNN_K, KNN_PRUNE_M) }.toMap

  private def countBy[K](ps: Array[Pt])(f: Pt => K): Map[K, Long] =
    ps.groupBy(f).map { case (k, v) => k -> v.length.toLong }

  // slippy tiles at zoom 7, the standard Web Mercator formulas
  private def tileX(lon: Double): Long = math.floor((lon + 180.0) / 360.0 * 128).toLong
  private def tileY(lat: Double): Long = {
    val rad = math.toRadians(lat)
    math.floor((1.0 - math.log(math.tan(rad) + 1.0 / math.cos(rad)) / math.Pi) / 2.0 * 128).toLong
  }

  private def sf(ctx: Ctx) = ctx.inputDir.toString

  def setup(ctx: Ctx): Unit = {
    val sz = Gen.sizing(name)
    keys = Gen.lineitemKeys(ctx.seed, sz.orders)
    Gen.writeCore(ctx.spark, ctx.inputDir, keys)
    probes = Gen.knnProbes(ctx.seed, sz.knnProbes)
    Gen.writeProbes(ctx.spark, ctx.inputDir, probes)
    val t0 = System.nanoTime()
    GeoWorld.areas(ctx.spark, sf(ctx)).count()
    areasBuildMs = (System.nanoTime() - t0) / 1e6
  }

  private def countsOf(df: DataFrame, key: String*): Map[Seq[Any], Long] =
    df.groupBy(key.map(col): _*).count().collect().map(r => r.toSeq.init -> r.getLong(r.length - 1)).toMap

  /** One batch job as an op: the engine call that builds the DataFrame
    * and the action that runs it are separate spans. */
  private def job[R](ctx: Ctx, kind: String, layer: String)(build: => DataFrame)(act: DataFrame => R)(
      check: R => Option[String]): Unit =
    ctx.op(kind, pts.length.toLong) {
      val df = ctx.tracer.span(layer)(build)
      ctx.tracer.span("spark.action")(act(df))
    }(check)

  private def byKey[K](rows: Map[Seq[Any], Long]): Map[K, Long] =
    rows.map { case (k, v) => k.head.asInstanceOf[K] -> v }

  def cycle(ctx: Ctx): Unit = {
    val spark = ctx.spark
    job(ctx, "pip_l4", "query.pipLookup")(GeoQueries.pipLookup(spark, sf(ctx), 4))(countsOf(_, "area_id"))(got =>
      Check.counts("pipLookup L4", expL4, byKey[Long](got)))
    job(ctx, "pip_l8", "query.pipLookup")(GeoQueries.pipLookup(spark, sf(ctx), 8))(countsOf(_, "area_id"))(got =>
      Check.counts("pipLookup L8", expL8, byKey[Long](got)))
    job(ctx, "revgeo", "query.reverseGeocode")(GeoQueries.reverseGeocode(spark, sf(ctx)))(countsOf(_, "path"))(got =>
      Check.counts("reverseGeocode", expRev, byKey[String](got)))
    job(ctx, "poi_area", "query.poiFromArea")(GeoQueries.poiFromArea(spark, sf(ctx)))(countsOf(_, "area_id"))(got =>
      Check.counts("poiFromArea", expPoi, byKey[Long](got)))
    job(ctx, "raster", "query.rasterVector")(GeoQueries.rasterVector(spark, sf(ctx)))(_.collect())(rows =>
      Check.counts("rasterVector", expRaster, rows.flatMap { r =>
        val (tx, ty) = (r.getAs[Long]("tx"), r.getAs[Long]("ty"))
        Seq((tx, ty, true) -> r.getAs[Long]("n_media"), (tx, ty, false) -> r.getAs[Long]("n_vector"))
      }.filter(_._2 > 0).toMap))
    // knnBatch runs its ring-widening rounds while building the result
    job(ctx, "knn_batch", "query.knnBatch") {
      val pr = spark.read.parquet(ctx.inputDir.resolve("probes.parquet").toString)
      GeoQueries.knnBatch(spark, sf(ctx), pr, KNN_K, KNN_PRUNE_M)
    }(_.collect())(checkKnn)
    job(ctx, "headline", "bench.Headline.job")(Headline.job(spark, sf(ctx)))(_.collect())(rows =>
      Check.counts("Headline.job", expHeadline, rows.flatMap { r =>
        val k = (r.getAs[Long]("area_id"), r.getAs[Long]("tx"), r.getAs[Long]("ty"))
        val media = r.getAs[Long]("n_media")
        Seq((k._1, k._2, k._3, true) -> media, (k._1, k._2, k._3, false) -> (r.getAs[Long]("n_docs") - media))
      }.filter(_._2 > 0).toMap))
  }

  private def checkKnn(rows: Array[Row]): Option[String] = {
    val got = rows.groupBy(_.getAs[Long]("qid")).map { case (q, rs) =>
      q -> rs.sortBy(_.getAs[Int]("rank")).map(r => (r.getAs[Long]("pid"), r.getAs[Double]("dist_m"))).toSeq
    }
    probes.iterator.map { case (q, lo, la) =>
      Check.knnAnswer(world.byPid, lo, la, expKnn(q), got.getOrElse(q, Seq.empty)).map(e => s"knnBatch probe $q: $e")
    }.collectFirst { case Some(e) => e }
  }

  def inputProps(ctx: Ctx): Seq[(String, String)] = Seq(
    "docs" -> pts.length.toString,
    "lineitem_rows" -> keys.length.toString,
    "hot_box_share" -> f"${pts.count(_.pid % 10 < 3).toDouble / pts.length}%.4f",
    "knn_probes" -> s"${probes.size} (30% in the hot box), k=$KNN_K, pruneM=$KNN_PRUNE_M",
    "job_sequence" -> "pip_l4 pip_l8 revgeo poi_area raster knn_batch headline")

  def gated(ctx: Ctx, ops: Seq[OpRecord], setupS: Double): Seq[Metric] =
    Workload.uniform(ops, ops, setupS)

  def report(ctx: Ctx, ops: Seq[OpRecord], setupS: Double): Seq[Metric] = {
    val docs = ops.map(_.units).sum.toDouble
    Seq(Metric("setup_s", setupS, "s", Main.SETUP_REPS),
      Metric("docs_per_s", docs / (ops.map(_.wallMs).sum / 1000), "docs/s", ops.size),
      Metric("cpu_s_per_mdoc", ops.map(_.cpuMs).sum / 1000 / (docs / 1e6), "s/Mdoc", ops.size))
  }

  def layers(ctx: Ctx, traced: Seq[OpRecord]): Map[String, Double] = {
    val t = ctx.tracer
    val docs = traced.map(_.units).sum.toDouble
    val probes0 = Layers.probes(ctx.spark, sf(ctx), pts, Some(areasBuildMs), 4)
    val level = (l: Int) => Gen.areas.filter(_.level == l)
    val l4 = Layers.cellCandidates(pts, level(4), CellIndex.RES_COARSE)
    val l8 = Layers.cellCandidates(pts, level(8), CellIndex.RES_COARSE)
    val cand = Map("pip_l4" -> l4, "pip_l8" -> l8, "revgeo" -> (l4 + l8), "headline" -> l4,
      "poi_area" -> Layers.cellCandidates(pts.filter(_.cat == 3), level(4), CellIndex.RES_MID))
    val cover = (level(4) ++ level(8)).map(a =>
      CellIndex.rectCover(a.lon0, a.lat0, a.lon1, a.lat1, CellIndex.RES_COARSE).length.toDouble)
    val ring = probes.map { case (_, lo, la) =>
      CellIndex.ring(CellIndex.encode(lo, la, CellIndex.RES_COARSE), CellIndex.RES_COARSE, 3).length.toDouble }
    Layers.zeros ++ Layers.spark(t, docs) ++ probes0 ++
      Layers.query(t, docs, cand.get, probes0("geom.pip_ns")) ++ Map(
        "api.translate_ms" -> Layers.translateProbe(ctx.spark, sf(ctx), ctx.seed),
        "cell.cover_cells_per_area" -> Stats.mean(cover),
        "cell.ring_cells_per_probe" -> Stats.mean(ring))
  }
}
