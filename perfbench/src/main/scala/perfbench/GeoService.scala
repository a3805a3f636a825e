package perfbench

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import graft.api.{AstJson, AstTranslator, GeoAst}
import graft.cell.CellIndex
import graft.gen.GeoWorld

/**
 * geo_service: one client in a closed loop sends wire-format AST queries
 * (JSON -> AstJson.read -> AstTranslator.translate -> collect) and waits
 * for each answer. Every answer is checked against a brute-force scan of
 * the model world.
 */
final class GeoService extends Workload {
  val name = "geo_service"

  private var keys: Array[(Long, Int)] = _
  private var queries: IndexedSeq[String] = _
  private var next = 0
  private var areasBuildMs = 0.0
  private lazy val world = new World(Gen.points(keys))
  private def pts = world.pts

  private def sf(ctx: Ctx) = ctx.inputDir.toString

  def setup(ctx: Ctx): Unit = {
    val sz = Gen.sizing(name)
    keys = Gen.lineitemKeys(ctx.seed, sz.orders)
    Gen.writeCore(ctx.spark, ctx.inputDir, keys)
    Gen.writeQueries(ctx.inputDir, Gen.queryStream(ctx.seed, sz.queries))
    queries = Files.readAllLines(ctx.inputDir.resolve("queries.jsonl")).asScala.toIndexedSeq
    next = 0
    val t0 = System.nanoTime()
    GeoWorld.areas(ctx.spark, sf(ctx)).count()
    areasBuildMs = (System.nanoTime() - t0) / 1e6
  }

  /** Warm-up: one query of every type, from the end of the stream so the
    * measured window starts at query 0. */
  override def warmup(ctx: Ctx): Unit =
    queries.takeRight(Gen.QUERY_TYPES.size).foreach(q => query(ctx, q))

  /** One cycle = one query of each type, in the fixed stream order. */
  def cycle(ctx: Ctx): Unit = (0 until Gen.QUERY_TYPES.size).foreach { _ =>
    query(ctx, queries(next % queries.size)); next += 1
  }

  private def query(ctx: Ctx, json: String): Unit = {
    val t = ctx.tracer
    val kind = json.drop(9).takeWhile(_ != '"')
    ctx.op(kind, 1) {
      val ast = t.span("api.read")(AstJson.read(json)).fold(e => sys.error(s"bad query: $e"), identity)
      val df = t.span("api.translate")(AstTranslator.translate(ctx.spark, sf(ctx), ast))
        .fold(e => sys.error(s"untranslatable: ${e.msg}"), identity)
      (ast, t.span("spark.collect")(df.collect()))
    } { case (ast, rows) => GeoService.check(world, ast, rows) }
  }

  private def mix: String = queries.groupBy(q => q.drop(9).takeWhile(_ != '"'))
    .map { case (k, v) => s"$k=${v.size}" }.toSeq.sorted.mkString(" ")

  def inputProps(ctx: Ctx): Seq[(String, String)] = Seq(
    "docs" -> pts.length.toString,
    "hot_box_share" -> f"${pts.count(_.pid % 10 < 3).toDouble / pts.length}%.4f",
    "query_stream" -> s"${queries.size} queries, mix $mix, closed loop, 1 client",
    "query_coordinates" -> "uniform over the frame, at least 1 degree from the hot box")

  def gated(ctx: Ctx, ops: Seq[OpRecord], setupS: Double): Seq[Metric] =
    Workload.uniform(ops, ops, setupS)

  def report(ctx: Ctx, ops: Seq[OpRecord], setupS: Double): Seq[Metric] = {
    val lat = ops.map(_.wallMs)
    Seq(Metric("setup_s", setupS, "s", Main.SETUP_REPS),
      Metric("queries_per_s", ops.size / (lat.sum / 1000), "1/s", ops.size),
      Metric("query_ms_p50", Stats.quantile(lat, 0.5), "ms", ops.size),
      Metric("query_ms_p90", Stats.quantile(lat, 0.9), "ms", ops.size),
      Metric("cpu_ms_per_query", ops.map(_.cpuMs).sum / ops.size, "ms", ops.size))
  }

  def layers(ctx: Ctx, traced: Seq[OpRecord]): Map[String, Double] = {
    val t = ctx.tracer
    val docs = traced.size.toDouble * pts.length
    val probes0 = Layers.probes(ctx.spark, sf(ctx), pts, Some(areasBuildMs), 6)
    val parsed = queries.flatMap(q => AstJson.read(q).toOption)
    // PoisFromArea is the refined join; its candidates averaged over the stream
    val poiCand = Stats.mean(parsed.collect {
      case GeoAst.PoisFromArea(_, v, GeoAst.AreaByName(level, nm)) =>
        Layers.cellCandidates(pts.filter(p => s"cat_${p.cat}" == v),
          Gen.areas.filter(a => a.level == level && a.name == nm), CellIndex.RES_MID).toDouble
    }).toLong
    val cand = (kind: String) => if (kind == "PoisFromArea") Some(poiCand) else None
    val rings = parsed.collect {
      case GeoAst.Nearby(lon, lat, r) =>
        val k = CellIndex.ringKFor(lat, CellIndex.RES_COARSE, r)
        CellIndex.ring(CellIndex.encode(lon, lat, CellIndex.RES_COARSE), CellIndex.RES_COARSE, k).length.toDouble
      case GeoAst.NearbyRanked(lon, lat, _) =>
        CellIndex.ring(CellIndex.encode(lon, lat, CellIndex.RES_COARSE), CellIndex.RES_COARSE, 3).length.toDouble
    }
    val cover = Gen.areas.filter(_.level == 6).map(a =>
      CellIndex.rectCover(a.lon0, a.lat0, a.lon1, a.lat1, CellIndex.RES_MID).length.toDouble)
    Layers.zeros ++ Layers.spark(t, docs) ++ probes0 ++
      Layers.query(t, docs, cand, probes0("geom.pip_ns")) ++ Map(
        "api.translate_ms" -> Stats.mean(t.spanMs("api.translate")),
        "cell.cover_cells_per_area" -> Stats.mean(cover),
        "cell.ring_cells_per_probe" -> Stats.mean(rings))
  }
}

object GeoService {

  private def pidSet(rows: Array[Row], col: String): Set[Long] = rows.map(_.getAs[Long](col)).toSet

  private def sameSet(what: String, expected: Set[Long], got: Set[Long], nRows: Int): Option[String] =
    if (nRows != got.size) Some(s"$what returned duplicate rows")
    else if (expected == got) None
    else Some(s"$what: expected ${expected.size} pids, got ${got.size} " +
      s"(missing ${(expected -- got).take(3)}, extra ${(got -- expected).take(3)})")

  /** The answer a correct engine gives to `ast` over `world`, checked
    * against the rows it returned. */
  def check(world: World, ast: GeoAst, rows: Array[Row]): Option[String] = {
    val pts = world.pts
    ast match {
      case GeoAst.AreaByCoordinates(level, lon, lat) =>
        val exp = Gen.areas.filter(a => a.level == level && a.containsStrict(lon, lat)).map(_.id).toSet
        sameSet("AreaByCoordinates", exp, pidSet(rows, "area_id"), rows.length)
      case GeoAst.PoisFromArea(_, v, GeoAst.AreaByName(level, nm)) =>
        val area = Gen.areas.find(a => a.level == level && a.name == nm).get
        val exp = pts.filter(p => s"cat_${p.cat}" == v && Gen.areaOf(p, level) == area.id).map(_.pid).toSet
        if (rows.exists(_.getAs[Long]("area_id") != area.id)) Some(s"PoisFromArea: rows outside area ${area.id}")
        else sameSet("PoisFromArea", exp, pidSet(rows, "pid"), rows.length)
      case GeoAst.Nearby(lon, lat, r) =>
        // points within 1 mm of the radius may fall either way
        val got = pidSet(rows, "pid")
        val d = (p: Pt) => Gen.haversineM(p.lon, p.lat, lon, lat)
        val exp = pts.filter(p => d(p) <= r - 0.001).map(_.pid).toSet
        val maybe = pts.filter(p => math.abs(d(p) - r) <= 0.001).map(_.pid).toSet
        sameSet("Nearby", exp, got -- maybe, rows.length - (got & maybe).size)
      case GeoAst.NearbyRanked(lon, lat, k) =>
        val got = rows.sortBy(_.getAs[Int]("rank")).map(r => (r.getAs[Long]("pid"), r.getAs[Double]("dist_m"))).toSeq
        Check.knnAnswer(world.byPid, lon, lat, Check.knn(pts, lon, lat, k, 600000.0), got)
          .map(e => s"NearbyRanked: $e")
      case GeoAst.PoiByName(prefix) =>
        val exp = pts.indices.filter(i => world.names(i).startsWith(prefix)).map(pts(_).pid).toSet
        sameSet("PoiByName", exp, pidSet(rows, "pid"), rows.length)
      case GeoAst.BboxFetch(lo0, la0, lo1, la1) =>
        val exp = pts.filter(p => p.lon > lo0 && p.lon < lo1 && p.lat > la0 && p.lat < la1).map(_.pid).toSet
        sameSet("BboxFetch", exp, pidSet(rows, "pid"), rows.length)
      case other => Some(s"query type outside the workload: $other")
    }
  }
}
