package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cell.CellIndex
import graft.gen.GeoWorld

/**
 * The POI catalog as a DATA table, not a type per category — the reference
 * compiles its 57 POI categories into case objects each carrying OSM tag
 * pairs (reference: query-engine/src/main/scala/io/plasmap/query/engine/
 * POIs.scala:39-252); relationally that is a (poi_name, tag_k, tag_v) table
 * broadcast-joined into the POI queries. One category (`gym`) maps to FOUR
 * tag pairs, mirroring the reference's only multi-tag category (Gym =
 * leisure=fitness_centre | leisure=gym | sport=fitness | amenity=gym).
 *
 * The synthetic world's tag vocabulary is cat_0..cat_56 with tag_k derived
 * from the category ordinal (amenity < 19 <= shop < 38 <= leisure), so the
 * catalog rows are a pure function of the name list — both the Spark table
 * and the DuckDB VALUES list are generated from the same Seq.
 */
object PoiCatalog {

  /** 57 category names (ordinal = the world's `cat` value). */
  val names: Vector[String] = Vector(
    // amenity (0..18)
    "restaurant", "cafe", "bar", "pub", "fast_food", "biergarten", "nightclub",
    "pharmacy", "hospital", "doctors", "dentist", "veterinary", "school",
    "kindergarten", "university", "library", "bank", "atm", "post_office",
    // shop (19..37)
    "supermarket", "bakery", "butcher", "greengrocer", "kiosk", "mall",
    "clothes", "shoes", "jewelry", "optician", "books", "sports_shop",
    "chemist", "hairdresser", "florist", "furniture", "electronics",
    "hardware", "car_shop",
    // leisure (38..56)
    "playground", "park", "gym", "sports_centre", "stadium", "swimming_pool",
    "golf_course", "marina", "dance", "theatre", "cinema", "museum",
    "gallery", "zoo", "theme_park", "viewpoint", "picnic_site", "dog_park",
    "ice_rink")

  require(names.length == 57 && names.distinct.length == 57)

  private def tagKOf(c: Int): String =
    if (c < 19) "amenity" else if (c < 38) "shop" else "leisure"

  /** (poi_name, tag_k, tag_v) rows: one per category, plus gym's three
    * extra tag pairs (the multi-tag case — matching ANY pair qualifies). */
  val entries: Seq[(String, String, String)] = {
    val base = names.zipWithIndex.map { case (n, c) => (n, tagKOf(c), s"cat_$c") }
    val gymExtra = Seq(
      ("gym", "leisure", "cat_43"), // swimming_pool doubles as gym space
      ("gym", "amenity", "cat_13"), // kindergarten gyms
      ("gym", "shop", "cat_30"))    // sports_shop studios
    base ++ gymExtra
  }

  def df(spark: SparkSession): DataFrame = {
    import spark.implicits._
    entries.toDF("poi_name", "tag_k", "tag_v")
  }

  /** DuckDB CTE `catalog(poi_name, tag_k, tag_v)` from the same entries. */
  val catalogCte: String = {
    val vals = entries.map { case (n, k, v) => s"('$n','$k','$v')" }.mkString(", ")
    s"catalog(poi_name, tag_k, tag_v) AS (SELECT * FROM (VALUES $vals))"
  }

  /**
   * POIs of a named catalog category inside each level-`level` area
   * (reference Q6 + Q12 through the catalog): catalog rows for the name are
   * broadcast and matched on (tag_k, tag_v) — a multi-tag category matches
   * points through ANY of its pairs — then the cell cover join + exact
   * refine, identical shape to [[GeoQueries.poiFromArea]]. At 100 TB both
   * build sides (catalog, area cover) broadcast; the point side streams.
   */
  def poisOf(spark: SparkSession, sfDir: String, poiName: String = "gym", level: Int = 4): DataFrame = {
    GeoWorld.registerUdfs(spark)
    val cat = df(spark).filter(col("poi_name") === poiName)
    val pts = GeoWorld.points(spark, sfDir).join(broadcast(cat), Seq("tag_k", "tag_v"))
    SpatialJoin.pip(pts, GeoWorld.areas(spark, sfDir).filter(col("level") === level), CellIndex.RES_MID)
      .select(col("area_id"), col("poi_name"), col("pid"), col("name"))
  }

  def poisOfSql(poiName: String = "gym", level: Int = 4): String =
    GeoQueries.withWorld(catalogCte) +
      s"""SELECT a.area_id, c.poi_name, p.pid, p.name
         |FROM pts p
         |JOIN catalog c ON c.poi_name = '$poiName' AND p.tag_k = c.tag_k AND p.tag_v = c.tag_v
         |JOIN areas a
         |  ON a.level = $level
         | AND p.lon > a.lon0 AND p.lon < a.lon1
         | AND p.lat > a.lat0 AND p.lat < a.lat1""".stripMargin
}
