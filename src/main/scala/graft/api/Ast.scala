package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cell.{CellFunctions, CellIndex}
import graft.gen.GeoWorld
import graft.geom.GeoCols
import graft.query.{GeoQueries, SpatialJoin}

/**
 * Typed query AST + translator — the reference's client-shared query model
 * and its 1:1 syntactic translation into engine queries (reference:
 * query-model/.../Model.scala:6-169 `PMQuery` sealed AST with recursive
 * `...FromArea(area)` nesting; query-engine/.../QueryTranslator.scala:30-207).
 *
 * In Spark the "translation" target is a lazy DataFrame: AST recursion
 * becomes DataFrame composition and Catalyst then plans the whole tree —
 * the reference has no optimizer between its two IRs, we get one for free.
 */
sealed trait GeoAst
object GeoAst {
  /** Q3: area of `level` containing the coordinate. */
  final case class AreaByCoordinates(level: Int, lon: Double, lat: Double) extends GeoAst
  /** Q2: area of `level` by (exact) name. */
  final case class AreaByName(level: Int, name: String) extends GeoAst
  /** Q5: child areas of `level` contained in the parent query's areas. */
  final case class AreasFromArea(level: Int, parent: GeoAst) extends GeoAst
  /** Q6: POIs with tag inside the areas of the nested query. */
  final case class PoisFromArea(tagK: String, tagV: String, area: GeoAst) extends GeoAst
  /** Q7: POIs with tag in the same cell as the coordinate (no refine). */
  final case class PoisFromCoordinates(tagK: String, lon: Double, lat: Double) extends GeoAst
  /** Q8: points within radius metres of the coordinate. */
  final case class Nearby(lon: Double, lat: Double, radiusM: Double) extends GeoAst
  /** Q8 (ranked): the k nearest points to the coordinate within the kNN
    * search horizon (600 km, the q_knn pruneM), ranked by geodesic
    * distance (the reference's nearby ranking). Like [[Nearby]], the
    * search is bounded: a probe farther than the horizon from every point
    * returns the points inside the horizon only (possibly none) — a
    * planet-wide exact kNN would need an unbounded ring walk. */
  final case class NearbyRanked(lon: Double, lat: Double, k: Int) extends GeoAst
  /** S10: POIs whose name starts with the given prefix (the reference's
    * ES name search collapsed to its hit predicate). */
  final case class PoiByName(name: String) extends GeoAst
  /** Q4 + the antimeridian contract: points in a bbox; `lonMin > lonMax`
    * wraps across ±180 (the [[graft.cell.CellIndex.rectCover]] dateline
    * rule — round-5 surface, now wire-addressable). */
  final case class BboxFetch(lonMin: Double, latMin: Double,
      lonMax: Double, latMax: Double) extends GeoAst
  /** Q8 at BATCH shape: the distributed kNN-join over a NAMED probe set
    * (probe tables live server-side; the wire carries a reference, the
    * same pattern as the reference's named POI query types). */
  final case class KnnBatch(probeSet: String, k: Int, pruneM: Double) extends GeoAst
  /** Time-travel read of the engine's snapshot point index: version ≥ 1,
    * or -1 for the current snapshot. */
  final case class SnapshotRead(version: Int) extends GeoAst
  /** S10 scored search: ranked (kind, id, score) top-k over the tokenised
    * name index — the reference's `IndexSearchHit(id, score)` surface. */
  final case class NameSearch(query: String, k: Int) extends GeoAst
}

sealed trait TranslateError { def msg: String }
object TranslateError {
  final case class NotYetImplemented(msg: String) extends TranslateError
  final case class CouldNotCreateInputQuery(msg: String) extends TranslateError
  final case class UnknownCommand(msg: String) extends TranslateError
}

/**
 * AST -> DataFrame translation (errors as Either, mirroring the reference's
 * disjunction results: NotYetImplemented / CouldNotCreateInputQuery /
 * UnknownCommand, QueryTranslator.scala:24-28).
 *
 * Area results have columns (area_id, area_name, level, lon0, lat0, lon1,
 * lat1, wkb); POI/point results have the point-table columns.
 */
object AstTranslator {

  import GeoAst._
  import CellIndex.{RES_COARSE, RES_MID}

  /** The world's full 8-level admin ladder (reference Queries.scala:47-161:
    * Country 2, State 4, Region 5, City 6, Township 7, District 8,
    * Village 9, Community 10). */
  private val validLevels = GeoWorld.ALL_LEVELS.toSet

  /**
   * The reference's chained admin-ladder query (CityQuery → DistrictQuery →
   * ... traversing adjacent levels, Queries.scala:47-161), as ONE recursive
   * AST: Country(name) → states → regions → ... → communities. Each hop is
   * a cover-cell broadcast join + exact `within` refine; intermediate area
   * sets stay tiny (≤ |communities|), so the chain is 7 broadcast joins over
   * one scan of the (small) area dimension — the point table is never read.
   * Output: (area_id, area_name, parent_id) of the final level.
   */
  def areaChain(spark: SparkSession, sfDir: String, countryName: String = "country_1",
      toLevel: Int = 10): DataFrame = {
    val levels = GeoWorld.ALL_LEVELS.filter(l => l > 2 && l <= toLevel)
    val ast = levels.foldLeft[GeoAst](GeoAst.AreaByName(2, countryName))((p, l) => GeoAst.AreasFromArea(l, p))
    translate(spark, sfDir, ast).fold(
      e => throw new IllegalArgumentException(e.msg),
      df => df.select(col("area_id"), col("area_name"), col("parent_id")))
  }

  /** Oracle: the same chain as rect-nesting joins over the areas CTE. */
  def areaChainSql(countryName: String = "country_1", toLevel: Int = 10): String = {
    val levels = GeoWorld.ALL_LEVELS.filter(l => l > 2 && l <= toLevel)
    val hops = levels.zipWithIndex.map { case (l, i) =>
      val c = s"t$l"
      val p = if (i == 0) "t2" else s"t${levels(i - 1)}"
      s"""JOIN areas $c ON $c.level = $l
         | AND $c.lon0 >= $p.lon0 AND $c.lon1 <= $p.lon1
         | AND $c.lat0 >= $p.lat0 AND $c.lat1 <= $p.lat1""".stripMargin
    }
    val last = s"t${levels.last}"
    val parent = if (levels.length < 2) "t2" else s"t${levels(levels.length - 2)}"
    graft.query.GeoQueries.withWorld() +
      s"""SELECT $last.area_id, $last.area_name, $parent.area_id AS parent_id
         |FROM areas t2
         |${hops.mkString("\n")}
         |WHERE t2.level = 2 AND t2.area_name = '$countryName'""".stripMargin
  }

  def translate(spark: SparkSession, sfDir: String, ast: GeoAst): Either[TranslateError, DataFrame] = {
    GeoWorld.registerUdfs(spark)
    ast match {
      case AreaByCoordinates(level, lon, lat) if validLevels(level) =>
        val cell = CellIndex.encode(lon, lat, RES_COARSE)
        Right(GeoWorld.areas(spark, sfDir)
          .filter(col("level") === level)
          .withColumn("c", explode(GeoWorld.coverCells(col("lon0"), col("lat0"), col("lon1"), col("lat1"), RES_COARSE)))
          .filter(col("c") === cell).drop("c")
          .filter(GeoCols.geoContainsPoint(col("wkb"), lit(lon), lit(lat))))

      case AreaByCoordinates(level, _, _) =>
        Left(TranslateError.CouldNotCreateInputQuery(s"no admin level $level"))

      case AreaByName(level, name) if validLevels(level) =>
        Right(GeoWorld.areas(spark, sfDir)
          .filter(col("level") === level && col("area_name") === name))

      case AreaByName(level, _) =>
        Left(TranslateError.CouldNotCreateInputQuery(s"no admin level $level"))

      case AreasFromArea(level, parent) =>
        translate(spark, sfDir, parent).map { parents =>
          // child joins by its PRINCIPAL cell (T13) against the parent's
          // cover: each candidate pair appears exactly once, so the per-hop
          // dedup shuffle of the cover×cover variant disappears
          val p = parents.select(col("area_id").as("parent_id"),
            col("lon0"), col("lat0"), col("lon1"), col("lat1"), col("wkb"))
          SpatialJoin.within(GeoWorld.areas(spark, sfDir).filter(col("level") === level), p, RES_COARSE)
            .select(col("area_id"), col("area_name"), col("level"),
              col("lon0"), col("lat0"), col("lon1"), col("lat1"), col("wkb"), col("parent_id"))
        }

      case PoisFromArea(tagK, tagV, area) =>
        translate(spark, sfDir, area).map { areas =>
          val pts = GeoWorld.points(spark, sfDir).filter(col("tag_k") === tagK && col("tag_v") === tagV)
          SpatialJoin.pip(pts, areas, RES_MID).select(col("area_id"), col("pid"), col("name"))
        }

      case PoisFromCoordinates(tagK, lon, lat) =>
        val cell = CellIndex.encode(lon, lat, RES_MID)
        Right(GeoWorld.points(spark, sfDir)
          .filter(col("tag_k") === tagK)
          .filter(CellFunctions.zcell(col("lon"), col("lat"), lit(RES_MID)) === cell))

      case Nearby(lon, lat, r) =>
        // ring k derived from the radius AND the probe latitude (a fixed k
        // only guarantees ~k * min-cell-extent of coverage; larger radii
        // would silently drop matches) — mirrors GeoQueries.radius pairing
        // radiusM with ringK
        val k = CellIndex.ringKFor(lat, RES_COARSE, r)
        val nCells = (2L * k + 1) * (2L * k + 1)
        if (nCells > 65536L)
          Left(TranslateError.CouldNotCreateInputQuery(
            s"radius ${r}m needs a $nCells-cell ring at res $RES_COARSE; use a coarser index"))
        else {
          val ring = CellIndex.ring(CellIndex.encode(lon, lat, RES_COARSE), RES_COARSE, k)
          Right(GeoWorld.points(spark, sfDir)
            .withColumn("cell", CellFunctions.zcell(col("lon"), col("lat"), lit(RES_COARSE)))
            .filter(col("cell").isin(ring.toSeq: _*))
            .filter(GeoCols.haversineM(col("lon"), col("lat"), lit(lon), lit(lat)) <= r)
            .drop("cell"))
        }

      case NearbyRanked(_, _, k) if k <= 0 =>
        Left(TranslateError.CouldNotCreateInputQuery(s"k must be positive, got $k"))

      case NearbyRanked(lon, lat, k) =>
        // the exact ring-widening kNN (GeoQueries.knnForProbes) over a
        // single-probe set: same proven-coverage guarantee as q_knn
        import spark.implicits._
        val probe = Seq((0L, lon, lat)).toDF("qid", "qlon", "qlat")
        Right(GeoQueries.knnForProbes(spark, sfDir, probe, k, pruneM = 600000.0)
          .select(col("rank"), col("pid"), col("dist_m")))

      case PoiByName(name) if name.isEmpty =>
        Left(TranslateError.CouldNotCreateInputQuery("empty name prefix"))

      case PoiByName(name) =>
        Right(GeoWorld.points(spark, sfDir)
          .filter(col("name").startsWith(name))
          .select(col("pid"), col("name"), col("tag_k"), col("tag_v")))

      case BboxFetch(lo0, la0, lo1, la1) =>
        // lonMin == lonMax is REJECTED like latMin >= latMax: a degenerate
        // equal-lon box is ambiguous on the wire (lo0 > lo1 means dateline
        // wrap, so "equal" is neither an empty box nor a full wrap) and
        // would otherwise silently return zero rows (round-6 ADVICE)
        if (la0 >= la1 || la0 < -90 || la1 > 90 || lo0 == lo1 ||
            lo0 < -180 || lo0 > 180 || lo1 < -180 || lo1 > 180)
          Left(TranslateError.CouldNotCreateInputQuery(
            s"bad bbox ($lo0,$la0)-($lo1,$la1): lat range must ascend within ±90, " +
              "lons within ±180 and distinct (lonMin > lonMax means dateline wrap)"))
        else {
          // lonMin > lonMax ⇒ the cover is rectCover's two-hemisphere
          // union and the refine is the WRAPPED predicate (never 0 rows,
          // the clamp-only blind spot the reference inherits)
          Right(SpatialJoin.bbox(GeoWorld.points(spark, sfDir), "lon", lo0, la0, lo1, la1, RES_MID)
            .select(col("pid"), col("lon"), col("lat")))
        }

      case KnnBatch(_, k, pruneM) if k <= 0 || pruneM <= 0 =>
        Left(TranslateError.CouldNotCreateInputQuery(
          s"k and pruneM must be positive, got k=$k pruneM=$pruneM"))
      case KnnBatch("grid", k, pruneM) =>
        Right(GeoQueries.knnBatchGrid(spark, sfDir, k, pruneM))
      case KnnBatch(ps, _, _) =>
        Left(TranslateError.CouldNotCreateInputQuery(s"unknown probe set '$ps'"))

      case SnapshotRead(v) =>
        val t = graft.index.SnapshotQueries.astTable(spark, sfDir)
        val cur = t.currentVersion
        if (v == -1 || (v >= 1 && v <= cur)) Right(t.read(v))
        else Left(TranslateError.CouldNotCreateInputQuery(
          s"no snapshot version $v (table is at v$cur)"))

      case NameSearch(q, k) if q.trim.isEmpty || k <= 0 =>
        Left(TranslateError.CouldNotCreateInputQuery(
          s"name search needs a non-empty query and k > 0 (got '$q', k=$k)"))
      case NameSearch(q, k) =>
        Right(GeoQueries.nameRanked(spark, sfDir, q, k))
    }
  }
}
