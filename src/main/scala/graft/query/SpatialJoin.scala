package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.cell.{CellFunctions, CellIndex}
import graft.gen.GeoWorld
import graft.geom.GeoCols

/**
 * The filter-and-refine spatial join (reference: query-engine/.../
 * Queries.scala:304-341), written once. Candidates come from an equi-join
 * on interleaved cell ids against the BROADCAST area (or bbox) cover; an
 * exact predicate then decides each candidate. The probe side is
 * cell-encoded by the codegen `zcell` expression, so it streams from the
 * scan through one WholeStageCodegen span into the broadcast hash join and
 * never shuffles; the refine lands in the join condition and runs on
 * candidate pairs only.
 *
 * Area frames carry `lon0, lat0, lon1, lat1, wkb` plus payload columns whose
 * names must not collide with the probe side's.
 */
object SpatialJoin {

  private val rect = Seq("lon0", "lat0", "lon1", "lat1")

  /** The point-in-polygon refine over a joined (point, area) row; shared
    * with the salted shuffle plan, [[GeoQueries.pipLookupSalted]]. */
  private[query] val containsPoint = GeoCols.geoContainsPoint(col("wkb"), col("lon"), col("lat"))

  /** Area rows exploded by rectangle cover cell at `res` (join key `cell`). */
  def cover(areas: DataFrame, res: Int): DataFrame =
    areas.withColumn("cell", explode(GeoWorld.coverCells(col("lon0"), col("lat0"), col("lon1"), col("lat1"), res)))

  /** Point-in-polygon: each point (`lon`, `lat`) against the areas whose
    * geometry contains it. Result: the point columns plus the area payload
    * (`cell`, bbox and `wkb` dropped, so two calls compose). */
  def pip(points: DataFrame, areas: DataFrame, res: Int): DataFrame =
    points.withColumn("cell", CellFunctions.zcell(col("lon"), col("lat"), lit(res)))
      .join(broadcast(cover(areas, res)), "cell")
      .filter(containsPoint)
      .drop("cell" +: "wkb" +: rect: _*)

  /**
   * Area containment: children within parents under the reference's
   * `within` (exact, or fuzzy ≥ 0.9 overlap). Each child joins by its
   * PRINCIPAL cell (bbox centre) against the parents' cover, so a candidate
   * pair appears exactly once and needs no dedup. Completeness: `within`
   * implies more than half the child lies inside the parent's bbox, so the
   * child's centre — and its cell — is in the parent's cover.
   *
   * Result: all child columns, the parent payload, and `fuzzy` (admitted by
   * the overlap branch only; pruned when not selected).
   */
  def within(children: DataFrame, parents: DataFrame, res: Int): DataFrame =
    children
      .withColumn("cell", CellFunctions.zcell(
        (col("lon0") + col("lon1")) / 2.0, (col("lat0") + col("lat1")) / 2.0, lit(res)))
      .join(broadcast(cover(parents, res).drop(rect: _*).withColumnRenamed("wkb", "outer_wkb")), "cell")
      .filter(GeoCols.geoWithin(col("wkb"), col("outer_wkb")))
      .withColumn("fuzzy", !GeoCols.geoWithinExact(col("wkb"), col("outer_wkb")))
      .drop("cell", "outer_wkb")

  /** Bbox fetch: points whose `lonCol`/`lat` fall strictly inside the box.
    * `lo0 > lo1` wraps across ±180: the cover is [[CellIndex.rectCover]]'s
    * two-hemisphere union and the refine is the wrapped longitude test. */
  def bbox(points: DataFrame, lonCol: String, lo0: Double, la0: Double, lo1: Double, la1: Double,
      res: Int): DataFrame = {
    import points.sparkSession.implicits._
    val cells = CellIndex.rectCover(lo0, la0, lo1, la1, res).toSeq.toDF("cell")
    val lon = col(lonCol)
    val lonIn = if (lo0 <= lo1) lon > lo0 && lon < lo1 else lon > lo0 || lon < lo1
    points.withColumn("cell", CellFunctions.zcell(lon, col("lat"), lit(res)))
      .join(broadcast(cells), "cell")
      .filter(lonIn && col("lat") > la0 && col("lat") < la1)
      .drop("cell")
  }
}
