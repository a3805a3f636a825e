package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.cell.{CellFunctions, CellIndex, CellSql}
import graft.gen.GeoWorld
import graft.geom.GeoCols

/**
 * Query-side spatial operators — the reference's query vocabulary
 * (SURVEY.md §2.3) re-expressed as Dataset/Catalyst plans.
 *
 * Every operator follows the reference's single core trick: filter-and-refine
 * spatial join — a coarse equi-join on interleaved cell ids, then an exact
 * geometric refine on the candidates (reference: query-engine/.../
 * Queries.scala:304-341). In Spark the cell equi-join is either a broadcast
 * hash join (small build side — admin boundaries) or a cell-partitioned
 * shuffle hash join (both sides large), and the refine predicate runs only on
 * candidate pairs. The broadcast form is [[SpatialJoin]]; the ring joins
 * (radius, kNN) build their cover on the probe side instead.
 */
object GeoQueries {

  import CellIndex.{RES_COARSE, RES_MID}

  private def init(spark: SparkSession): Unit = GeoWorld.registerUdfs(spark)

  /** Probe points: state-rect centres (the "Location source" Q1 analog —
    * a small deterministic probe set for PIP/kNN/radius queries; level-4
    * states carry the round-1 nation geometry, so the probe set is the
    * same 25 centres). */
  def probes(spark: SparkSession, sfDir: String): DataFrame =
    GeoWorld.areas(spark, sfDir).filter(col("level") === 4).select(
      col("area_id").as("qid"),
      ((col("lon0") + col("lon1")) / 2.0).as("qlon"),
      ((col("lat0") + col("lat1")) / 2.0).as("qlat"))

  val probesCte: String =
    s"""probes AS (
       |  SELECT area_id AS qid, (lon0 + lon1) / 2.0 AS qlon, (lat0 + lat1) / 2.0 AS qlat
       |  FROM areas WHERE level = 4
       |)""".stripMargin

  /** Oracle WITH-prefix shared by the geo queries. */
  def withWorld(extra: String*): String =
    (Seq("WITH " + GeoWorld.pointsCte, GeoWorld.areasCte, GeoWorld.spansFlatCte) ++ extra)
      .mkString(",\n") + "\n"

  // --------------------------------------------------------------- encode

  /** Cell-encode every point on BOTH labelled ladders (the T7/T13 mapping
    * projection; north-star "batched codegen UDF" + dual H3/S2-style
    * encoding): the H3-like ladder uses odd bit budgets (9/11), the S2-like
    * ladder even budgets (10/12) — same interleave core (SURVEY.md §7.3). */
  def cellPoints(spark: SparkSession, sfDir: String): DataFrame = {
    init(spark)
    import CellIndex.{RES_COARSE_S2, RES_MID_S2}
    GeoWorld.points(spark, sfDir).select(
      col("pid"),
      CellFunctions.zcell(col("lon"), col("lat"), lit(RES_COARSE)).as("cell9"),
      CellFunctions.zcell(col("lon"), col("lat"), lit(RES_MID)).as("cell11"),
      CellFunctions.zcell(col("lon"), col("lat"), lit(RES_COARSE_S2)).as("cell10_s2"),
      CellFunctions.zcell(col("lon"), col("lat"), lit(RES_MID_S2)).as("cell12_s2"),
      CellFunctions.zcellParent(
        CellFunctions.zcell(col("lon"), col("lat"), lit(RES_MID)), lit(RES_MID), lit(RES_COARSE)).as("parent9"))
  }

  val cellPointsSql: String = {
    import CellIndex.{RES_COARSE_S2, RES_MID_S2}
    withWorld() +
      s"""SELECT pid,
         |       ${CellSql.encode("lon", "lat", RES_COARSE)} AS cell9,
         |       ${CellSql.encode("lon", "lat", RES_MID)} AS cell11,
         |       ${CellSql.encode("lon", "lat", RES_COARSE_S2)} AS cell10_s2,
         |       ${CellSql.encode("lon", "lat", RES_MID_S2)} AS cell12_s2,
         |       ${CellSql.parent(CellSql.encode("lon", "lat", RES_MID), RES_MID, RES_COARSE)} AS parent9
         |FROM pts""".stripMargin
  }

  /**
   * Per-row precision-ladder selection (T12): the reference picks the 80 km
   * vs 20 km hasher BY ELEMENT TYPE per object (OsmObjectMapper.scala:
   * 1031-1043 — relations coarse, nodes/ways fine). Here the span `kind`
   * routes each row: media spans at RES_COARSE, point spans at RES_MID.
   * `zcell`'s res operand is a full expression, so the `when(kind, res)`
   * column stays inside the same WholeStageCodegen span — one pass, no
   * per-type split-and-union.
   */
  def precisionLadder(spark: SparkSession, sfDir: String): DataFrame = {
    val res = when(col("kind") === "media", lit(RES_COARSE)).otherwise(lit(RES_MID))
    normalize(spark, sfDir).select(
      col("doc_id"), col("offset"), col("kind"),
      res.as("res"),
      CellFunctions.zcell(col("lon"), col("lat"), res).as("cell"))
  }

  val precisionLadderSql: String =
    withWorld() +
      s"""SELECT doc_id, "offset", kind,
         |       CASE WHEN kind = 'media' THEN $RES_COARSE ELSE $RES_MID END AS res,
         |       CASE WHEN kind = 'media' THEN ${CellSql.encode("lon", "lat", RES_COARSE)}
         |            ELSE ${CellSql.encode("lon", "lat", RES_MID)} END AS cell
         |FROM spansf""".stripMargin

  // ------------------------------------------------------------------ PIP

  /** Areas of one admin level. */
  private def areasAt(spark: SparkSession, sfDir: String, level: Int): DataFrame =
    GeoWorld.areas(spark, sfDir).filter(col("level") === level)

  /** Area rows as a [[SpatialJoin.within]] side: bbox, geometry and the id
    * renamed to `id`, so child and parent payloads never collide. */
  private def shapes(areas: DataFrame, id: String): DataFrame =
    areas.select(col("area_id").as(id), col("lon0"), col("lat0"), col("lon1"), col("lat1"), col("wkb"))

  /**
   * Point-in-polygon admin lookup (the reference's flagship Q3,
   * Queries.scala:304-315): which level-`level` area contains each point?
   * Cover-cells of the (small) area side are exploded and broadcast; the
   * billion-row point side is cell-encoded with the codegen expression and
   * hash-joined WITHOUT a shuffle; candidates are refined with the exact JTS
   * predicate. At 100 TB the point side streams straight from the scan
   * through one WholeStageCodegen span into the broadcast join.
   */
  def pipLookup(spark: SparkSession, sfDir: String, level: Int = 4): DataFrame = {
    init(spark)
    SpatialJoin.pip(GeoWorld.points(spark, sfDir), areasAt(spark, sfDir, level), RES_COARSE)
      .select(col("pid"), col("area_id"), col("area_name"))
  }

  /**
   * Cell-partitioned + SALTED variant of the PIP join (the contract's
   * "salted-key skew mitigation"): for build sides too large to broadcast,
   * the probe side's hot cells (dense metros — 30% of synthetic points sit
   * in one ~0.2° box) would skew a plain shuffle join. Salting splits each
   * hot key S ways: probe key = (cell, hash(pid) % S), build side is
   * replicated S times with salt s ∈ [0, S). The join is a shuffle hash
   * join partitioned on (cell, salt) — identical output, bounded task skew.
   * AQE skew-splitting is ALSO enabled session-wide; this explicit salt is
   * the belt-and-braces path for deterministic task sizing at 100 TB.
   */
  def pipLookupSalted(spark: SparkSession, sfDir: String, level: Int = 4, salt: Int = 8): DataFrame = {
    init(spark)
    val pts = GeoWorld.points(spark, sfDir)
      .withColumn("cell", CellFunctions.zcell(col("lon"), col("lat"), lit(RES_COARSE)))
      .withColumn("salt", pmod(hash(col("pid")), lit(salt)))
    val ac = SpatialJoin.cover(areasAt(spark, sfDir, level), RES_COARSE)
      .withColumn("salt", explode(sequence(lit(0), lit(salt - 1))))
    pts.hint("shuffle_hash")
      .join(ac, Seq("cell", "salt"))
      .filter(SpatialJoin.containsPoint)
      .select(col("pid"), col("area_id"), col("area_name"))
  }

  def pipLookupSql(level: Int = 4): String =
    withWorld() +
      s"""SELECT p.pid, a.area_id, a.area_name
         |FROM pts p JOIN areas a
         |  ON a.level = $level
         | AND p.lon > a.lon0 AND p.lon < a.lon1
         | AND p.lat > a.lat0 AND p.lat < a.lat1""".stripMargin

  /**
   * Reverse geocode (the reference's "where am I" product path — Q3 run up
   * the admin ladder and assembled into one answer): each point resolves
   * its containing nation (level 4) AND district (level 8) in a single
   * pass — two broadcast cell-joins back-to-back, each refined by the exact
   * JTS predicate, then the admin path is string-assembled. The point side
   * still streams from the scan through ONE codegen span across both
   * broadcast joins: no shuffle at any scale.
   */
  def reverseGeocode(spark: SparkSession, sfDir: String): DataFrame = {
    init(spark)
    def named(level: Int, as: String) =
      areasAt(spark, sfDir, level).withColumnRenamed("area_name", as).drop("area_id", "level")
    val nat = SpatialJoin.pip(GeoWorld.points(spark, sfDir), named(4, "nation"), RES_COARSE)
    SpatialJoin.pip(nat, named(8, "district"), RES_COARSE)
      .select(col("pid"), col("nation"), col("district"),
        concat(col("nation"), lit("/"), col("district")).as("path"))
  }

  val reverseGeocodeSql: String =
    withWorld() +
      s"""SELECT p.pid, n.area_name AS nation, d.area_name AS district,
         |       n.area_name || '/' || d.area_name AS path
         |FROM pts p
         |JOIN areas n ON n.level = 4
         |  AND p.lon > n.lon0 AND p.lon < n.lon1 AND p.lat > n.lat0 AND p.lat < n.lat1
         |JOIN areas d ON d.level = 8
         |  AND p.lon > d.lon0 AND p.lon < d.lon1 AND p.lat > d.lat0 AND p.lat < d.lat1""".stripMargin

  // ---------------------------------------------------------- containment

  /**
   * Area-containment join (reference Q5, Queries.scala:320-341): which
   * child areas (default level-6 cities) lie within which parents (level-4
   * states)?
   *
   * Candidate generation joins the child's PRINCIPAL cell (T13 — one cell
   * per child) against the parent's exploded cover cells, so each candidate
   * pair appears exactly ONCE and no dedup shuffle is needed (a cover×cover
   * join emits a pair per shared cell and then pays a full distinct on the
   * pair stream — the round-1 plan). Completeness: `within` (exact, or
   * fuzzy ≥ 0.9 overlap) implies > half the child lies inside the parent's
   * bbox, so the child's representative point — and hence its cell — is in
   * the parent's cover. The exact refine then decides each pair.
   */
  def containmentJoin(spark: SparkSession, sfDir: String, childLevel: Int = 6, parentLevel: Int = 4): DataFrame = {
    init(spark)
    SpatialJoin.within(shapes(areasAt(spark, sfDir, childLevel), "child_id"),
      shapes(areasAt(spark, sfDir, parentLevel), "parent_id"), RES_COARSE)
      .select(col("child_id"), col("parent_id"))
  }

  def containmentJoinSql(childLevel: Int = 6, parentLevel: Int = 4): String =
    withWorld() +
      s"""SELECT c.area_id AS child_id, p.area_id AS parent_id
         |FROM areas c JOIN areas p
         |  ON c.level = $childLevel AND p.level = $parentLevel
         | AND c.lon0 >= p.lon0 AND c.lon1 <= p.lon1
         | AND c.lat0 >= p.lat0 AND c.lat1 <= p.lat1""".stripMargin

  /**
   * FUZZY-containment join — the end-to-end exercise of the reference's
   * 0.9-overlap within branch (GeoCalculator.scala:131-149, behaviour the
   * reference pins in GeoCalculatorSpec.scala:88-98 and the gh.issue#2
   * fixtures): which state is each metro within, where `within` = exact JTS
   * within OR intersection-area/inner-area ≥ [[graft.geom.Geo.FUZZY_THRESHOLD]]?
   * Metros deliberately straddle state borders ([[GeoWorld.METRO_SPECS]]),
   * so the 95%-inside metros are admitted by the fuzzy branch ONLY — the
   * emitted `fuzzy` flag labels the deciding branch and the whole result
   * flips if FUZZY_THRESHOLD moves.
   *
   * Plan shape = [[containmentJoin]]: metro principal cell joined to the
   * broadcast state cover (each pair once, no dedup), JTS exact+fuzzy
   * refine on candidates only. Completeness: within (even fuzzy ≥ 0.9)
   * implies > half the metro is inside the state's bbox, so the metro's
   * centre cell is in the state's cover.
   */
  /** Shared overlay-vs-state containment refine: candidates join by their
    * center cell against the state cover, `within` admits, `withinExact`
    * labels which branch decided. Used by [[metroFuzzy]] (valid metros
    * only) and [[fuzzyInvalid]] (metros ∪ degenerate glitches) so the two
    * catalog queries can never drift apart. */
  private def overlayWithin(spark: SparkSession, sfDir: String,
      cands: DataFrame, idName: String): DataFrame = {
    init(spark)
    SpatialJoin.within(shapes(cands, idName), shapes(areasAt(spark, sfDir, 4), "state_id"), RES_COARSE)
      .select(col(idName), col("state_id"), col("fuzzy"))
  }

  def metroFuzzy(spark: SparkSession, sfDir: String): DataFrame =
    overlayWithin(spark, sfDir, GeoWorld.metros(spark, sfDir), "metro_id")

  /** Oracle: rect ∩ rect area is exact arithmetic; the fraction's margins
    * (1.0 / 0.95 / 0.85 by construction) sit far from the threshold, so the
    * SQL decision always agrees with the JTS fuzzy branch. The threshold is
    * interpolated from [[graft.geom.Geo.FUZZY_THRESHOLD]] — change it and
    * both engines (and the result set) move together. */
  private def metroFuzzySqlAs(idAlias: String): String =
    withWorld(GeoWorld.metrosCte) +
      s"""SELECT metro_id AS $idAlias, state_id, fuzzy FROM (
         |  SELECT m.area_id AS metro_id, s.area_id AS state_id,
         |         NOT (m.lon0 >= s.lon0 AND m.lon1 <= s.lon1
         |              AND m.lat0 >= s.lat0 AND m.lat1 <= s.lat1) AS fuzzy,
         |         (GREATEST(0, LEAST(m.lon1, s.lon1) - GREATEST(m.lon0, s.lon0)) *
         |          GREATEST(0, LEAST(m.lat1, s.lat1) - GREATEST(m.lat0, s.lat0)))
         |         / ((m.lon1 - m.lon0) * (m.lat1 - m.lat0)) AS frac
         |  FROM metros m JOIN areas s ON s.level = 4
         |) WHERE frac >= ${graft.geom.Geo.FUZZY_THRESHOLD}""".stripMargin

  def metroFuzzySql: String = metroFuzzySqlAs("metro_id")

  /**
   * Fuzzy containment with DEGENERATE candidates (reference gh.issue#2;
   * Geo.scala:99-102 failure→false): the candidate set unions the valid
   * metro overlays with one self-intersecting bowtie per state
   * ([[GeoWorld.glitches]]), each STRADDLING its state's north border at
   * 95% naive overlap — the position where a VALID shape IS admitted by
   * the fuzzy branch (metro j=1 proves it), so a naive rect-fraction
   * membership would admit every bowtie too, and so would a fuzzy arm
   * that mapped JTS failures to `true`. The reference semantics exclude
   * them: the exact arm evaluates false (the shape extends outside) and
   * the precision-reduce inside the fuzzy arm THROWS on the invalid
   * shell, so the `Try`-failure branch decides each glitch row to false.
   * The oracle contains only the valid-metro memberships — any change to
   * the failure arm flips this query red (extra rows / crash).
   */
  def fuzzyInvalid(spark: SparkSession, sfDir: String): DataFrame =
    overlayWithin(spark, sfDir,
      GeoWorld.metros(spark, sfDir).unionByName(GeoWorld.glitches(spark, sfDir)),
      "cand_id")

  /** Oracle: the glitch bowties contribute ZERO rows (failure→false), so
    * the expected set is exactly the valid-metro membership of
    * [[metroFuzzySql]] under the cand_id name. */
  def fuzzyInvalidSql: String = metroFuzzySqlAs("cand_id")

  // ------------------------------------------------------------- enclaves

  /**
   * PIP against HOLE-BEARING areas ([[GeoWorld.enclaves]]; round-4 verdict
   * #1): which points fall inside each donut — inside the outer shell but
   * NOT inside its interior ring. Plan shape = [[pipLookup]]: the donut
   * cover cells (outer-bbox rectCover — a correct SUPERSET; interior-ring
   * geometry only ever SHRINKS an area, so bbox covers stay complete)
   * broadcast against the cell-encoded point stream, then the exact JTS
   * refine — where `MultiPolygon.contains` honors the interior ring —
   * rejects every hole point. The oracle is point-in-outer-rect MINUS
   * point-in-hole-rect arithmetic: ignore ring 1+ anywhere in the engine
   * and the hole points appear as extra rows.
   */
  def pipEnclave(spark: SparkSession, sfDir: String): DataFrame =
    pipEnclaveOf(spark, sfDir, GeoWorld.points(spark, sfDir))

  /** [[pipEnclave]] over an injected point table (scale probes). */
  def pipEnclaveOf(spark: SparkSession, sfDir: String, points: DataFrame): DataFrame = {
    init(spark)
    SpatialJoin.pip(points, GeoWorld.enclaves(spark, sfDir), RES_COARSE)
      .select(col("pid"), col("area_id"), col("area_name"))
  }

  val pipEnclaveSql: String =
    withWorld(GeoWorld.enclavesCte) +
      s"""SELECT p.pid, e.area_id, e.area_name
         |FROM pts p JOIN enclaves e
         |  ON  p.lon > e.lon0 AND p.lon < e.lon1 AND p.lat > e.lat0 AND p.lat < e.lat1
         |  AND NOT (p.lon > e.hlon0 AND p.lon < e.hlon1 AND p.lat > e.hlat0 AND p.lat < e.hlat1)""".stripMargin

  /**
   * Area containment against the donuts: every [[GeoWorld.ENCLAVE_PROBE_SPECS]]
   * arm of hole-aware `within` decides at least one admitted/rejected pair —
   * exact within (ring child), hole rejection (a child INSIDE the hole has
   * naive bbox-fraction 1.0 but true intersection 0), and the fuzzy branch
   * straddling the hole edge at 0.952 / 0.769. Plan shape =
   * [[containmentJoin]]: probe principal cell vs broadcast donut cover,
   * JTS refine on candidates.
   */
  def enclaveWithin(spark: SparkSession, sfDir: String): DataFrame = {
    init(spark)
    SpatialJoin.within(shapes(GeoWorld.enclaveProbes(spark, sfDir), "probe_id"),
      shapes(GeoWorld.enclaves(spark, sfDir), "enclave_id"), RES_COARSE)
      .select(col("probe_id"), col("enclave_id"), col("fuzzy"))
  }

  /**
   * PIP against the Baarle-style NESTED enclaves (round-5 verdict #3):
   * deterministic per-class probe points vs the two-polygon multipolygon —
   * ring point INSIDE, holeA point OUTSIDE, island-in-holeA point INSIDE
   * AGAIN (the counter-enclave re-inclusion), holeB point OUTSIDE. Plan =
   * [[pipEnclave]]: coarse-cell broadcast join + JTS refine, where
   * `MultiPolygon.contains` honours every ring of every member polygon.
   * The oracle is pure rect arithmetic `(in outer AND NOT in holeA AND
   * NOT in holeB) OR in island` — honour only ring 1, or only polygon 1,
   * and a probe row flips.
   */
  def pipBaarle(spark: SparkSession, sfDir: String): DataFrame = {
    init(spark)
    SpatialJoin.pip(GeoWorld.baarleProbes(spark, sfDir), GeoWorld.baarles(spark, sfDir), RES_COARSE)
      .select(col("bp_id"), col("j"), col("area_id"))
  }

  val pipBaarleSql: String =
    withWorld(GeoWorld.baarlesCte, GeoWorld.baarleProbesCte) +
      s"""SELECT b.bp_id, b.j, e.area_id
         |FROM bprobes b JOIN baarles e
         |  ON ((b.lon > e.lon0 AND b.lon < e.lon1 AND b.lat > e.lat0 AND b.lat < e.lat1
         |       AND NOT (b.lon > e.alon0 AND b.lon < e.alon1 AND b.lat > e.alat0 AND b.lat < e.alat1)
         |       AND NOT (b.lon > e.blon0 AND b.lon < e.blon1 AND b.lat > e.blat0 AND b.lat < e.blat1))
         |      OR (b.lon > e.ilon0 AND b.lon < e.ilon1 AND b.lat > e.ilat0 AND b.lat < e.ilat1))""".stripMargin

  /** Oracle: probe ∩ donut = probe ∩ outer − probe ∩ hole (the hole is
    * strictly inside the outer rect), all exact rect arithmetic; the
    * threshold interpolates [[graft.geom.Geo.FUZZY_THRESHOLD]] so both
    * engines move together. */
  val enclaveWithinSql: String =
    withWorld(GeoWorld.enclavesCte, GeoWorld.enclaveProbesCte) +
      s"""SELECT probe_id, enclave_id, fuzzy FROM (
         |  SELECT c.area_id AS probe_id, e.area_id AS enclave_id,
         |         NOT (c.lon0 >= e.lon0 AND c.lon1 <= e.lon1
         |              AND c.lat0 >= e.lat0 AND c.lat1 <= e.lat1
         |              AND (GREATEST(0, LEAST(c.lon1, e.hlon1) - GREATEST(c.lon0, e.hlon0)) *
         |                   GREATEST(0, LEAST(c.lat1, e.hlat1) - GREATEST(c.lat0, e.hlat0))) = 0) AS fuzzy,
         |         ((GREATEST(0, LEAST(c.lon1, e.lon1) - GREATEST(c.lon0, e.lon0)) *
         |           GREATEST(0, LEAST(c.lat1, e.lat1) - GREATEST(c.lat0, e.lat0))) -
         |          (GREATEST(0, LEAST(c.lon1, e.hlon1) - GREATEST(c.lon0, e.hlon0)) *
         |           GREATEST(0, LEAST(c.lat1, e.hlat1) - GREATEST(c.lat0, e.hlat0))))
         |         / ((c.lon1 - c.lon0) * (c.lat1 - c.lat0)) AS frac
         |  FROM eprobes c JOIN enclaves e ON 1 = 1
         |) WHERE frac >= ${graft.geom.Geo.FUZZY_THRESHOLD}""".stripMargin

  // ------------------------------------------------------------- dateline

  /** The dateline view's longitude shift: the regional world
    * (lon ∈ [-20, 40)) re-anchored so it STRADDLES ±180 —
    * wlon = lon + 160 wrapped into [140, 180) ∪ [-180, -160). Pure IEEE
    * +/- arithmetic, so the DuckDB oracle reproduces every wlon exactly. */
  final val DATELINE_SHIFT = 160.0

  /** Dateline-crossing query bbox: lonMin > lonMax ⇒ wraps across ±180
    * (the [[CellIndex.rectCover]] antimeridian contract). */
  final val DATELINE_BBOX: (Double, Double, Double, Double) = (170.0, 40.0, -170.0, 50.0)

  /**
   * Dateline-straddling bbox fetch (round-4 verdict #3: antimeridian
   * semantics, pinned): points are cell-encoded on the WRAPPED longitude,
   * the bbox cover is the two-hemisphere union [[CellIndex.rectCover]]
   * emits for `lonMin > lonMax`, and the exact refine is the wrapped
   * predicate `wlon > lonMin OR wlon < lonMax`. A planetary corpus's
   * Bering-strait query is exactly this shape; the clamp-only behavior
   * the reference inherits (GeoCalculator.scala:151-202 has the same
   * blind spot) would return ZERO rows for this bbox.
   */
  def datelineBbox(spark: SparkSession, sfDir: String): DataFrame =
    datelineBboxOf(spark, GeoWorld.points(spark, sfDir))

  /** [[datelineBbox]] over an injected point table (scale probes). */
  def datelineBboxOf(spark: SparkSession, points: DataFrame): DataFrame = {
    init(spark)
    val (lo0, la0, lo1, la1) = DATELINE_BBOX
    val wlonRaw = col("lon") + lit(DATELINE_SHIFT)
    val wlon = when(wlonRaw >= 180.0, wlonRaw - 360.0).otherwise(wlonRaw)
    SpatialJoin.bbox(points.withColumn("wlon", wlon), "wlon", lo0, la0, lo1, la1, RES_MID)
      .select(col("pid"), col("wlon"), col("lat"))
  }

  val datelineBboxSql: String = {
    val (lo0, la0, lo1, la1) = DATELINE_BBOX
    val wlon = s"CASE WHEN lon + $DATELINE_SHIFT >= 180.0 THEN lon + $DATELINE_SHIFT - 360.0 ELSE lon + $DATELINE_SHIFT END"
    withWorld() +
      s"""SELECT pid, $wlon AS wlon, lat FROM pts
         |WHERE (($wlon) > $lo0 OR ($wlon) < $lo1) AND lat > $la0 AND lat < $la1""".stripMargin
  }

  // ------------------------------------------------------------------ POI

  /** POIs-from-area (reference Q6, Queries.scala:188-209): all points with a
    * given tag inside each level-4 area, cell-joined at the 20 km-analog
    * resolution then exactly refined. */
  def poiFromArea(spark: SparkSession, sfDir: String, tagK: String = "amenity", tagV: String = "cat_3"): DataFrame = {
    init(spark)
    val pts = GeoWorld.points(spark, sfDir).filter(col("tag_k") === tagK && col("tag_v") === tagV)
    SpatialJoin.pip(pts, areasAt(spark, sfDir, 4), RES_MID)
      .select(col("area_id"), col("pid"), col("name"))
  }

  def poiFromAreaSql(tagK: String = "amenity", tagV: String = "cat_3"): String =
    withWorld() +
      s"""SELECT a.area_id, p.pid, p.name
         |FROM pts p JOIN areas a
         |  ON a.level = 4
         | AND p.tag_k = '$tagK' AND p.tag_v = '$tagV'
         | AND p.lon > a.lon0 AND p.lon < a.lon1
         | AND p.lat > a.lat0 AND p.lat < a.lat1""".stripMargin

  /** POIs-by-cell (reference Q7, Queries.scala:170-185): cell membership
    * ONLY, deliberately no geometric refine — reproduced as-is. */
  def poiByCell(spark: SparkSession, sfDir: String, tagK: String = "shop"): DataFrame = {
    init(spark)
    val pts = GeoWorld.points(spark, sfDir)
      .filter(col("tag_k") === tagK)
      .withColumn("cell", CellFunctions.zcell(col("lon"), col("lat"), lit(RES_MID)))
    val pr = probes(spark, sfDir)
      .withColumn("cell", CellFunctions.zcell(col("qlon"), col("qlat"), lit(RES_MID)))
    pts.join(broadcast(pr), "cell").select(col("qid"), col("pid"))
  }

  def poiByCellSql(tagK: String = "shop"): String =
    withWorld(probesCte) +
      s"""SELECT q.qid, p.pid
         |FROM pts p JOIN probes q
         |  ON p.tag_k = '$tagK'
         | AND ${CellSql.encode("p.lon", "p.lat", RES_MID)} = ${CellSql.encode("q.qlon", "q.qlat", RES_MID)}""".stripMargin

  // ------------------------------------------------------------ kNN / radius

  /**
   * kNN nearest-POI per probe (reference Q8 substrate + north-star ranking),
   * as a cell-ring EQUI-join + bounded top-k — the reference's
   * cover-then-refine shape (Queries.scala:211-262), never a cross product:
   *
   *  1. explode a k-ring of cover cells around each probe (tiny side),
   *     broadcast, hash-join the point side on cell — the point side streams
   *     straight from the scan, work is O(|points in rings|), not O(N x Q);
   *  2. exact haversine + partial top-k [[TopKSmallest]] (the shuffle
   *     carries O(probes x k) rows — map-side combined);
   *  3. exactness proof per probe: the answer is final iff the k-th distance
   *     is <= the ring's GUARANTEED covered radius at the probe's latitude
   *     (k cells x metre extent, lon shrunk by cos at the highest reachable
   *     |lat|). Unproven probes re-run with a doubled ring — each iteration
   *     moves only the unproven probes (O(|probes|) driver-side rows, never
   *     point data), and the loop terminates once the guarantee covers
   *     `pruneM` (then the ring provably contains every in-prune candidate).
   *
   * At 10^12 points this is: one broadcast per iteration (nearly always one
   * pass — ring 3 already guarantees ~90 km) + one scan-join-agg.
   */
  def knn(spark: SparkSession, sfDir: String, k: Int = 5, pruneM: Double = 600000.0): DataFrame =
    knnForProbes(spark, sfDir, probes(spark, sfDir), k, pruneM)

  /** kNN against an arbitrary probe set (qid, qlon, qlat) — see [[knn]].
    *
    * The ring-widening loop keeps its state DRIVER-SIDE: each pass collects
    * one row per still-pending probe (qid + its ≤ k (dist, pid) pairs —
    * O(|probes| × k), the probe-bounded query set, never point data). This
    * replaces the round-2 per-iteration `.persist()` chain, which leaked
    * cached plans across iterations and sessions (round-2 verdict #3), and
    * fixes the vanished-probe bug (round-2 ADVICE): a probe whose ring held
    * ZERO candidates produced no knnPass group row and silently dropped out
    * of the inner join; here every pending probe is accounted for each
    * iteration — an empty result keeps it pending until the ring guarantee
    * covers `pruneM`, at which point an empty top is the PROVEN answer. */
  private[graft] def knnForProbes(spark: SparkSession, sfDir: String, probeDf: DataFrame,
      k: Int, pruneM: Double): DataFrame = {
    init(spark)
    import spark.implicits._
    val pts = GeoWorld.points(spark, sfDir).select(
      col("pid"), col("lon"), col("lat"),
      CellFunctions.zcell(col("lon"), col("lat"), lit(RES_COARSE)).as("cell"))

    val mPerDegLat = math.Pi * graft.geom.Geo.EARTH_R / 180.0
    val cellW = CellIndex.LON_SPAN / (1L << RES_COARSE)
    val cellH = CellIndex.LAT_SPAN / (1L << RES_COARSE)
    /** Guaranteed covered haversine radius of an rk-ring around qlat. */
    def guaranteeM(rk: Int, qlat: Double): Double = {
      val latReach = math.min(89.9, math.abs(qlat) + (rk + 1) * cellH)
      math.min(rk * cellH * mPerDegLat,
        rk * cellW * mPerDegLat * math.cos(math.toRadians(latReach)))
    }

    var ringK = 3
    var pending: Seq[(Long, Double, Double)] =
      probeDf.select(col("qid"), col("qlon"), col("qlat"))
        .as[(Long, Double, Double)].collect().toSeq
    val done = scala.collection.mutable.ListBuffer.empty[(Long, Seq[(Double, Long)])]
    var iter = 0
    while (pending.nonEmpty && iter < 16) {
      val pendDf = pending.toDF("qid", "qlon", "qlat")
      val topByQid: Map[Long, Seq[(Double, Long)]] =
        knnPass(spark, pts, pendDf, ringK, k, pruneM)
          .as[(Long, Seq[(Double, Long)])].collect().toMap
      val (proved, stillPending) = pending.partition { case (qid, _, qlat) =>
        val g = guaranteeM(ringK, qlat)
        val top = topByQid.getOrElse(qid, Seq.empty)
        (top.size >= k && top.last._1 <= g) ||
          g >= pruneM || // ring covers the whole prune radius -> complete
          // ring spans the ENTIRE grid (zcell_ring wraps x toroidally and
          // clips y at the poles): every point is a candidate, so the top-k
          // is final no matter what the cos-shrunk guarantee says — without
          // this, a near-pole probe's longitudinal guarantee never reaches
          // pruneM and the probe would silently die at the iteration cap
          // (review finding)
          ringK >= (1 << RES_COARSE)
      }
      done ++= proved.map { case (qid, _, _) => qid -> topByQid.getOrElse(qid, Seq.empty) }
      pending = stillPending
      ringK *= 2
      iter += 1
    }

    spark.createDataset(done.toSeq).toDF("qid", "top")
      .select(col("qid"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("qid"), (col("i") + 1).cast("int").as("rank"),
        col("t._2").as("pid"), round(col("t._1"), 3).as("dist_m"))
  }

  /** One kNN ring-join + partial-top-k pass over a probe subset (exposed
    * for the plan-shape regression test: MUST stay an equi-join, never a
    * cartesian/broadcast-NL product). `pts` carries (pid, lon, lat, cell). */
  /** Salt factor for the BATCH ring join: a fully-clustered probe grid
    * (every probe in the hot box) concentrates the join's output under
    * ONE cell key, which AQE cannot split below key granularity —
    * measured 132× task-time spread, 21 s max task at sf0.1
    * (BENCH_SKEW.json knn_batch_hotgrid_plain). Salting splits the
    * corpus's hot cell `KNN_SALT` ways and replicates only the tiny
    * probe-ring build side. */
  final val KNN_SALT = 8

  private[graft] def knnPass(spark: SparkSession, pts: DataFrame, pr: DataFrame,
      ringK: Int, k: Int, pruneM: Double, broadcastProbes: Boolean = true,
      salt: Int = KNN_SALT): DataFrame = {
    import spark.implicits._
    val probeCells = pr.withColumn("cell", explode(call_function("zcell_ring",
      CellFunctions.zcell(col("qlon"), col("qlat"), lit(RES_COARSE)), lit(RES_COARSE), lit(ringK))))
      .select("cell", "qid", "qlon", "qlat")
    val agg = new TopKSmallest(k).toColumn
    // service shape: the probe ring set is small -> broadcast it against the
    // streaming corpus. Batch shape (knnBatch): 10^5+ probes x (2k+1)^2 ring
    // cells is too big to broadcast -> shuffle hash equi-join on cell, with
    // the hint on the PROBE side so it becomes the build side — hinting the
    // corpus would build per-task hash maps over the 10^12-doc side and OOM
    // (review finding). The batch join is SALTED on (cell, salt): the
    // corpus side takes pmod(hash(pid), salt) (map-only), the probe-ring
    // build side explodes ×salt (still tiny) — a hot cell's candidates
    // spread over `salt` partitions instead of one task (see [[KNN_SALT]]).
    val joined =
      if (broadcastProbes) pts.join(broadcast(probeCells), "cell")
      else if (salt <= 1) pts.join(probeCells.hint("shuffle_hash"), "cell")
      else pts.withColumn("_salt", pmod(hash(col("pid")), lit(salt)))
        .join(probeCells.withColumn("_salt", explode(sequence(lit(0), lit(salt - 1))))
          .hint("shuffle_hash"), Seq("cell", "_salt"))
        .drop("_salt")
    joined
      .select(col("qid"),
        GeoCols.haversineM(col("lon"), col("lat"), col("qlon"), col("qlat")).as("dist_m"),
        col("pid"))
      .filter(col("dist_m") <= pruneM)
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(agg)
      .toDF("qid", "top")
  }

  /**
   * BATCH kNN-JOIN over a LARGE probe table (round-4 verdict #5). The
   * per-probe service loop in [[knnForProbes]] holds every pending probe
   * on the driver — right for the query-service shape (O(probes) tiny),
   * wrong for a 10^6-probe batch join. Here the per-probe ring state
   * lives in a DATAFRAME end to end: each iteration
   *   1. joins the pending probes' rings against the corpus — a SHUFFLE
   *      HASH equi-join on cell (the probe ring set is far too big to
   *      broadcast at this shape),
   *   2. PROVES completion with a column predicate — the identical ring
   *      guarantee arithmetic as the service path, evaluated per row on
   *      executors (top-k full AND kth distance ≤ guaranteed covered
   *      radius, OR the ring covers the prune radius / whole grid),
   *   3. anti-filters the survivors into the next round.
   * The driver holds only the loop counter and ring size; each round is
   * rebased on a materialized RDD so the iterated plan stays constant
   * size (the [[graft.text.DedupGraph]] star-round trick). Output schema
   * and values equal [[knnForProbes]] on the same probes (spec-pinned).
   */
  def knnBatch(spark: SparkSession, sfDir: String, probeDf: DataFrame,
      k: Int, pruneM: Double, salt: Int = KNN_SALT): DataFrame = {
    init(spark)
    // NOTE (r8 measurement): persisting this corpus projection for the
    // widening rounds was tried and REVERTED — columnar cache encode+decode
    // across ~4 round reads measured costlier than the recompute
    // (executor CPU 6 -> 11 s on the catalog query at sf0.1).
    val pts = GeoWorld.points(spark, sfDir).select(
      col("pid"), col("lon"), col("lat"),
      CellFunctions.zcell(col("lon"), col("lat"), lit(RES_COARSE)).as("cell"))

    val mPerDegLat = math.Pi * graft.geom.Geo.EARTH_R / 180.0
    val cellW = CellIndex.LON_SPAN / (1L << RES_COARSE)
    val cellH = CellIndex.LAT_SPAN / (1L << RES_COARSE)
    /** [[knnForProbes]]' guaranteeM as a column over qlat — same doubles. */
    def guaranteeCol(rk: Int): org.apache.spark.sql.Column = {
      val latReach = least(lit(89.9), abs(col("qlat")) + lit((rk + 1) * cellH))
      least(lit(rk * cellH * mPerDegLat),
        lit(rk * cellW * mPerDegLat) * cos(radians(latReach)))
    }
    def materialize(df: DataFrame): DataFrame = {
      val out = spark.createDataFrame(df.rdd, df.schema).persist()
      out.count()
      out
    }

    var pending = materialize(probeDf.select(col("qid"), col("qlon"), col("qlat")))
    val spent = scala.collection.mutable.ListBuffer(pending)
    val provedParts = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var ringK = 3
    var iter = 0
    while (iter < 16 && !pending.isEmpty) {
      val tops = knnPass(spark, pts, pending, ringK, k, pruneM, broadcastProbes = false, salt = salt)
      // left join: a probe with an EMPTY ring stays pending (the service
      // path's vanished-probe fix, as a join shape)
      val joined = pending.join(tops, Seq("qid"), "left")
        .withColumn("top", coalesce(col("top"), array()))
      val g = guaranteeCol(ringK)
      val provedCond =
        (size(col("top")) >= k && element_at(col("top"), -1).getField("_1") <= g) ||
          g >= pruneM || lit(ringK >= (1 << RES_COARSE))
      // ONE materialization per round (round-6 verdict #7): `decided` is
      // the round's only RDD rebase; `proved` and `next` are lazy FILTERS
      // over its persisted block — their plans stay constant-size because
      // decided's plan is already a LogicalRDD scan, so re-materializing
      // them bought nothing and cost 2 extra jobs per round (measured in
      // the Spark UI: 16-round worst case saves ~32 jobs).
      val decided = materialize(joined.withColumn("proved", provedCond))
      spent += decided
      provedParts += decided.filter(col("proved")).select("qid", "top")
      pending = decided.filter(!col("proved")).select("qid", "qlon", "qlat")
      ringK *= 2
      iter += 1
    }
    val out = provedParts.reduceOption(_ unionByName _) match {
      case None => // empty probe table: empty result, right schema
        import org.apache.spark.sql.types._
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("qid", LongType), StructField("rank", IntegerType),
            StructField("pid", LongType), StructField("dist_m", DoubleType))))
      case Some(all) =>
        // collapse the per-iteration proved VIEWS into ONE materialized
        // union backing the result, then free every per-iteration decided
        // block (the `spent` sweep below) — repeated knnBatch calls in a
        // long session never accumulate persisted RDDs while a result is
        // held (round-5 ADVICE). The one collapsed RDD is reclaimed by
        // ContextCleaner when the caller drops the returned DataFrame.
        val collapsed = materialize(all)
        collapsed.select(col("qid"), posexplode(col("top")).as(Seq("i", "t")))
          .select(col("qid"), (col("i") + 1).cast("int").as("rank"),
            col("t._2").as("pid"), round(col("t._1"), 3).as("dist_m"))
    }
    spent.foreach(_.unpersist(blocking = false))
    out
  }

  /** Deterministic 20×10 probe grid over the world frame for the BATCH
    * kNN catalog query: both engines derive every coordinate with the
    * same + and * on the same integers. */
  final val KNN_BATCH_GRID = 200
  final val KNN_BATCH_K = 3
  final val KNN_BATCH_PRUNE_M = 150000.0

  /** [[knnBatch]] driven end-to-end as a catalog query: the distributed
    * widening loop (DataFrame ring state, shuffle-hash ring joins,
    * column-predicate completion proofs) against a brute-force DuckDB
    * oracle — the BATCH path is oracle-checked, not just spec-pinned. */
  def knnBatchGrid(spark: SparkSession, sfDir: String,
      k: Int = KNN_BATCH_K, pruneM: Double = KNN_BATCH_PRUNE_M): DataFrame = {
    val probes = spark.range(KNN_BATCH_GRID).select(
      col("id").as("qid"),
      (lit(GeoWorld.LON0) + (col("id") % 20) * 3.0 + 0.05).as("qlon"),
      (lit(GeoWorld.LAT0) + floor(col("id") / 20) * 3.6 + 0.07).as("qlat"))
    knnBatch(spark, sfDir, probes, k, pruneM)
  }

  val knnBatchGridSql: String = {
    val dist = GeoCols.haversineSql("p.lon", "p.lat", "q.qlon", "q.qlat")
    withWorld(
      s"""bprobes AS (
         |  SELECT qid, ${GeoWorld.LON0} + (qid % 20) * 3.0 + 0.05 AS qlon,
         |         ${GeoWorld.LAT0} + FLOOR(qid / 20) * 3.6 + 0.07 AS qlat
         |  FROM (SELECT UNNEST(RANGE(0, $KNN_BATCH_GRID)) AS qid)
         |)""".stripMargin) +
      s"""SELECT qid, CAST(rank AS INTEGER) AS rank, pid, dist_m FROM (
         |  SELECT q.qid, p.pid, ROUND($dist, 3) AS dist_m,
         |         ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY $dist, p.pid) AS rank
         |  FROM pts p CROSS JOIN bprobes q
         |  WHERE $dist <= $KNN_BATCH_PRUNE_M
         |) WHERE rank <= $KNN_BATCH_K""".stripMargin
  }

  def knnSql(k: Int = 5, pruneM: Double = 600000.0): String = {
    val dist = GeoCols.haversineSql("p.lon", "p.lat", "q.qlon", "q.qlat")
    withWorld(probesCte) +
      s"""SELECT qid, CAST(rank AS INTEGER) AS rank, pid, dist_m FROM (
         |  SELECT q.qid, p.pid, ROUND($dist, 3) AS dist_m,
         |         ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY $dist, p.pid) AS rank
         |  FROM pts p CROSS JOIN probes q
         |  WHERE $dist <= $pruneM
         |) WHERE rank <= $k""".stripMargin
  }

  /**
   * Radius query (reference Q8, Queries.scala:211-262): cell-ring expansion
   * around each probe (the k-ring analog of `radiusToBoundingBoxes`), coarse
   * equi-join on cell, exact haversine refine <= radius.
   */
  def radius(spark: SparkSession, sfDir: String, radiusM: Double = 150000.0, ringK: Int = 6): DataFrame = {
    init(spark)
    val pts = GeoWorld.points(spark, sfDir)
      .withColumn("cell", CellFunctions.zcell(col("lon"), col("lat"), lit(RES_COARSE)))
    val pr = probes(spark, sfDir)
      .withColumn("cell", explode(call_function("zcell_ring",
        CellFunctions.zcell(col("qlon"), col("qlat"), lit(RES_COARSE)), lit(RES_COARSE), lit(ringK))))
    pts.join(broadcast(pr), "cell")
      .filter(GeoCols.haversineM(col("lon"), col("lat"), col("qlon"), col("qlat")) <= radiusM)
      .select(col("qid"), col("pid"))
  }

  def radiusSql(radiusM: Double = 150000.0): String = {
    val dist = GeoCols.haversineSql("p.lon", "p.lat", "q.qlon", "q.qlat")
    withWorld(probesCte) +
      s"""SELECT q.qid, p.pid
         |FROM pts p CROSS JOIN probes q
         |WHERE $dist <= $radiusM""".stripMargin
  }

  // ---------------------------------------------------------------- tiles

  /** Tile assignment: every point → its slippy-map tile at zoom z (the
    * north-star raster/vector tiling surface; cell math in [[CellIndex]]). */
  def tileAssign(spark: SparkSession, sfDir: String, z: Int = 7): DataFrame = {
    init(spark)
    GeoWorld.points(spark, sfDir).select(
      col("pid"),
      lit(z).as("z"),
      graft.cell.TileCols.tileX(col("lon"), lit(z)).as("tx"),
      graft.cell.TileCols.tileY(col("lat"), lit(z)).as("ty"))
  }

  def tileAssignSql(z: Int = 7): String =
    withWorld() +
      s"""SELECT pid, $z AS z,
         |       ${CellSql.tileX("lon", z)} AS tx,
         |       ${CellSql.tileY("lat", z)} AS ty
         |FROM pts""".stripMargin

  /** Raster-tile <-> vector-feature co-assignment: media spans and vector
    * (point) spans bucketed to the same tile grid and joined per tile. */
  def rasterVector(spark: SparkSession, sfDir: String, z: Int = 7): DataFrame = {
    init(spark)
    GeoWorld.points(spark, sfDir)
      .select(
        lit(z).as("z"),
        graft.cell.TileCols.tileX(col("lon"), lit(z)).as("tx"),
        graft.cell.TileCols.tileY(col("lat"), lit(z)).as("ty"),
        col("is_media"))
      .groupBy("z", "tx", "ty")
      .agg(
        sum(when(col("is_media"), 1L).otherwise(0L)).as("n_media"),
        sum(when(col("is_media"), 0L).otherwise(1L)).as("n_vector"))
  }

  /**
   * Multi-zoom tile PYRAMID build — what a slippy-map tile server actually
   * materialises: per-tile counts at every zoom of a range, in ONE pass
   * (explode the zoom list per point, then a single hash aggregate on
   * (z, tx, ty)). At 10^12 docs this is one scan + one shuffle whose key
   * count is Σ_z 4^z tiles — the alternative (a groupBy per zoom) rescans
   * the corpus |zooms| times. Coarser zooms could also roll up from the
   * finest level (4:1 child→parent sums); the explode form keeps one
   * codegen span and no intermediate materialisation.
   */
  def tilePyramid(spark: SparkSession, sfDir: String, zooms: Seq[Int] = Seq(5, 6, 7)): DataFrame = {
    init(spark)
    GeoWorld.points(spark, sfDir)
      .select(col("lon"), col("lat"), explode(array(zooms.map(lit): _*)).as("z"))
      .groupBy(col("z"),
        graft.cell.TileCols.tileX(col("lon"), col("z")).as("tx"),
        graft.cell.TileCols.tileY(col("lat"), col("z")).as("ty"))
      .agg(count(lit(1)).as("n"))
  }

  def tilePyramidSql(zooms: Seq[Int] = Seq(5, 6, 7)): String =
    withWorld() +
      zooms.map { z =>
        s"""SELECT $z AS z, ${CellSql.tileX("lon", z)} AS tx, ${CellSql.tileY("lat", z)} AS ty, COUNT(*) AS n
           |FROM pts GROUP BY 1, 2, 3""".stripMargin
      }.mkString("\nUNION ALL\n")

  def rasterVectorSql(z: Int = 7): String =
    withWorld() +
      s"""SELECT $z AS z,
         |       ${CellSql.tileX("lon", z)} AS tx,
         |       ${CellSql.tileY("lat", z)} AS ty,
         |       CAST(SUM(CASE WHEN is_media THEN 1 ELSE 0 END) AS BIGINT) AS n_media,
         |       CAST(SUM(CASE WHEN is_media THEN 0 ELSE 1 END) AS BIGINT) AS n_vector
         |FROM pts
         |GROUP BY 1, 2, 3""".stripMargin

  // ------------------------------------------------------- vertex cover

  /**
   * Vertex-based cell cover table (reference T14: every geometry vertex is
   * encoded, OsmObjectMapper.scala:1061-1098) over NON-rectangular
   * geometries — a diamond polygon inscribed in each level-`level` area.
   * This is the boundary/way indexing path: the rect cover indexes interiors
   * for PIP candidate generation; the vertex cover indexes the geometry's
   * actual vertices (ways, boundary rings). The diamond vertices are pure
   * midpoint arithmetic so the oracle re-derives them exactly.
   */
  def vertexCoverTable(spark: SparkSession, sfDir: String, level: Int = 4): DataFrame = {
    init(spark)
    GeoWorld.areas(spark, sfDir).filter(col("level") === level)
      .withColumn("dwkb", call_function("diamond_wkb", col("lon0"), col("lat0"), col("lon1"), col("lat1")))
      .select(col("area_id"),
        explode(call_function("zcell_cover_geom", col("dwkb"), lit(RES_MID))).as("cell"))
  }

  def vertexCoverSql(level: Int = 4): String = {
    val cx = "(lon0 + lon1) / 2.0"
    val cy = "(lat0 + lat1) / 2.0"
    val verts = Seq((cx, "lat0"), ("lon1", cy), (cx, "lat1"), ("lon0", cy))
    withWorld() +
      s"""SELECT area_id, cell FROM (
         |${verts.map { case (x, y) =>
             s"  SELECT area_id, ${CellSql.encode(x, y, RES_MID)} AS cell FROM areas WHERE level = $level"
           }.mkString("\n  UNION\n")}
         |)""".stripMargin
  }

  /**
   * Polygon→cell POLYFILL (the H3 `polyfill` analog, completing T14's
   * ladder: rect cover = bbox candidates, vertex cover = boundary, polyfill
   * = the polygon's true cell set): all cells at `res` whose rect
   * INTERSECTS the inscribed diamond of each level-`level` area — bbox
   * cells that only pad the diamond's corners are excluded.
   *
   * The intersects test is the exact closed form for an L1 ball vs an
   * axis-aligned rect: with the rect's per-axis distance to the center
   * dx = max(0, clon0−cx, cx−clon1) (dy likewise), the rect meets the
   * diamond iff dx/ha + dy/hb ≤ 1. Pure codegen'd arithmetic — identical
   * IEEE ops in the DuckDB oracle — and GeoQueriesSpec cross-checks the
   * result against JTS `Geometry.intersects`: the JTS set is always fully
   * covered; a handful of TANGENT cells (exact L1 distance within one
   * double ulp of 1) may additionally be admitted, because the operator's
   * boundary decisions are defined at IEEE-double precision (JTS resolves
   * those exact ties with rational arithmetic). Conservative direction:
   * ties are included, never dropped — a candidate set stays complete.
   *
   * Scale shape: dim-sized input × bounded per-area cell grid, map-only
   * explode; the cell set feeds the same (cell, area) candidate joins as
   * the rect cover but with ~50% fewer false-positive candidate cells
   * (diamond area / bbox area = 1/2).
   */
  def areaPolyfill(spark: SparkSession, sfDir: String, level: Int = 4, res: Int = 10): DataFrame = {
    init(spark)
    val dia = areasAt(spark, sfDir, level)
      .select(col("area_id"), col("lon0"), col("lat0"), col("lon1"), col("lat1"),
        ((col("lon0") + col("lon1")) / 2.0).as("cx"),
        ((col("lat0") + col("lat1")) / 2.0).as("cy"),
        ((col("lon1") - col("lon0")) / 2.0).as("ha"),
        ((col("lat1") - col("lat0")) / 2.0).as("hb"))
    polyfillGrid(dia, res) { (x, y, w, h) =>
      val dx = greatest(lit(0.0), x - col("cx"), col("cx") - (x + w)) / col("ha")
      val dy = greatest(lit(0.0), y - col("cy"), col("cy") - (y + h)) / col("hb")
      dx + dy <= 1.0
    }
  }

  /** The polyfill grid shared by [[areaPolyfill]], [[enclavePolyfill]] and
    * [[baarlePolyfill]]: every `res` cell of each row's bbox, kept where
    * `keep(x, y, w, h)` holds for the cell rect with lower-left corner
    * (x, y) and size w × h; emits (area_id, cell) encoded at the cell
    * centre. Map-only explode over a dim-sized input. */
  private def polyfillGrid(rows: DataFrame, res: Int)(keep: (Column, Column, Double, Double) => Column): DataFrame = {
    val n = 1L << res
    val w = CellIndex.LON_SPAN / n
    val h = CellIndex.LAT_SPAN / n
    def index(v: Column, min: Double, span: Double): Column =
      least(greatest(floor((v - min) / span * n).cast("long"), lit(0L)), lit(n - 1))
    def ix(lon: Column) = index(lon, CellIndex.LON_MIN, CellIndex.LON_SPAN)
    def iy(lat: Column) = index(lat, CellIndex.LAT_MIN, CellIndex.LAT_SPAN)
    rows
      .withColumn("ix", explode(sequence(ix(col("lon0")), ix(col("lon1")))))
      .withColumn("iy", explode(sequence(iy(col("lat0")), iy(col("lat1")))))
      .withColumn("clon0", lit(CellIndex.LON_MIN) + col("ix") * w)
      .withColumn("clat0", lit(CellIndex.LAT_MIN) + col("iy") * h)
      .filter(keep(col("clon0"), col("clat0"), w, h))
      .select(col("area_id"),
        CellFunctions.zcell(col("clon0") + w / 2, col("clat0") + h / 2, lit(res)).as("cell"))
  }

  def areaPolyfillSql(level: Int = 4, res: Int = 10): String = {
    val n = 1L << res
    val w = CellIndex.LON_SPAN / n
    val h = CellIndex.LAT_SPAN / n
    val dx = s"GREATEST(0.0, clon0 - cx, cx - (clon0 + $w)) / ha"
    val dy = s"GREATEST(0.0, clat0 - cy, cy - (clat0 + $h)) / hb"
    withWorld(
      s"""dia AS (
         |  SELECT area_id, lon0, lat0, lon1, lat1,
         |         (lon0 + lon1) / 2.0 AS cx, (lat0 + lat1) / 2.0 AS cy,
         |         (lon1 - lon0) / 2.0 AS ha, (lat1 - lat0) / 2.0 AS hb
         |  FROM areas WHERE level = $level
         |)""".stripMargin,
      s"""gx AS (
         |  SELECT area_id, cx, cy, ha, hb, lat0, lat1,
         |         UNNEST(range(${CellSql.ix("lon0", res)}, ${CellSql.ix("lon1", res)} + 1)) AS ix
         |  FROM dia
         |)""".stripMargin,
      s"""gxy AS (
         |  SELECT area_id, cx, cy, ha, hb, ix,
         |         UNNEST(range(${CellSql.iy("lat0", res)}, ${CellSql.iy("lat1", res)} + 1)) AS iy
         |  FROM gx
         |)""".stripMargin,
      s"""grid AS (
         |  SELECT area_id, cx, cy, ha, hb,
         |         ${CellIndex.LON_MIN} + ix * $w AS clon0, ${CellIndex.LAT_MIN} + iy * $h AS clat0
         |  FROM gxy
         |)""".stripMargin) +
      s"""SELECT area_id,
         |       ${CellSql.encode(s"clon0 + ${w / 2}", s"clat0 + ${h / 2}", res)} AS cell
         |FROM grid WHERE $dx + $dy <= 1.0""".stripMargin
  }

  /**
   * HOLE-AWARE polyfill over the donut enclaves: all cells at `res` whose
   * rect intersects the donut — i.e. every cell of the outer bbox grid
   * EXCEPT those strictly inside the hole's interior (a cell touching the
   * hole RING still intersects the donut's boundary and stays). Cell
   * edges (multiples of 360/2^res) never coincide with the milli-degree
   * hole edges, so strict-vs-closed cannot diverge between engines;
   * GeoQueriesSpec pins EXACT equality against JTS `intersects` over the
   * ring-list geometry. Same map-only grid-explode scale shape as
   * [[areaPolyfill]].
   */
  def enclavePolyfill(spark: SparkSession, sfDir: String, res: Int = 10): DataFrame = {
    init(spark)
    polyfillGrid(GeoWorld.enclaves(spark, sfDir), res) { (x, y, w, h) =>
      !(x > col("hlon0") && x + w < col("hlon1") && y > col("hlat0") && y + h < col("hlat1"))
    }
  }

  def enclavePolyfillSql(res: Int = 10): String = {
    val n = 1L << res
    val w = CellIndex.LON_SPAN / n
    val h = CellIndex.LAT_SPAN / n
    withWorld(GeoWorld.enclavesCte,
      s"""egx AS (
         |  SELECT area_id, hlon0, hlat0, hlon1, hlat1, lat0, lat1,
         |         UNNEST(range(${CellSql.ix("lon0", res)}, ${CellSql.ix("lon1", res)} + 1)) AS ix
         |  FROM enclaves
         |)""".stripMargin,
      s"""egxy AS (
         |  SELECT area_id, hlon0, hlat0, hlon1, hlat1, ix,
         |         UNNEST(range(${CellSql.iy("lat0", res)}, ${CellSql.iy("lat1", res)} + 1)) AS iy
         |  FROM egx
         |)""".stripMargin,
      s"""egrid AS (
         |  SELECT area_id, hlon0, hlat0, hlon1, hlat1,
         |         ${CellIndex.LON_MIN} + ix * $w AS clon0, ${CellIndex.LAT_MIN} + iy * $h AS clat0
         |  FROM egxy
         |)""".stripMargin) +
      s"""SELECT area_id,
         |       ${CellSql.encode(s"clon0 + ${w / 2}", s"clat0 + ${h / 2}", res)} AS cell
         |FROM egrid
         |WHERE NOT (clon0 > hlon0 AND clon0 + $w < hlon1 AND clat0 > hlat0 AND clat0 + $h < hlat1)""".stripMargin
  }

  /**
   * [[enclavePolyfill]] over the Baarle-style NESTED enclaves: grid cells
   * of the outer bbox, minus cells strictly inside either hole's interior
   * — EXCEPT cells that overlap the counter-enclave island inside holeA,
   * which re-enter the cover (they intersect polygon 2). Cell edges
   * (multiples of 360/2^res) never coincide with the milli-degree ring
   * edges, so strict-vs-closed cannot diverge between engines;
   * GeoQueriesSpec pins EXACT equality against JTS `intersects` over the
   * two-polygon geometry.
   */
  def baarlePolyfill(spark: SparkSession, sfDir: String, res: Int = 10): DataFrame = {
    init(spark)
    polyfillGrid(GeoWorld.baarles(spark, sfDir), res) { (x, y, w, h) =>
      def inside(r: String) =
        x > col(s"${r}lon0") && x + w < col(s"${r}lon1") && y > col(s"${r}lat0") && y + h < col(s"${r}lat1")
      def overlaps(r: String) =
        x < col(s"${r}lon1") && x + w > col(s"${r}lon0") && y < col(s"${r}lat1") && y + h > col(s"${r}lat0")
      (!inside("a") || overlaps("i")) && !inside("b")
    }
  }

  def baarlePolyfillSql(res: Int = 10): String = {
    val n = 1L << res
    val w = CellIndex.LON_SPAN / n
    val h = CellIndex.LAT_SPAN / n
    withWorld(GeoWorld.baarlesCte,
      s"""bgx AS (
         |  SELECT area_id, alon0, alat0, alon1, alat1, ilon0, ilat0, ilon1, ilat1,
         |         blon0, blat0, blon1, blat1, lat0, lat1,
         |         UNNEST(range(${CellSql.ix("lon0", res)}, ${CellSql.ix("lon1", res)} + 1)) AS ix
         |  FROM baarles
         |)""".stripMargin,
      s"""bgxy AS (
         |  SELECT area_id, alon0, alat0, alon1, alat1, ilon0, ilat0, ilon1, ilat1,
         |         blon0, blat0, blon1, blat1, ix,
         |         UNNEST(range(${CellSql.iy("lat0", res)}, ${CellSql.iy("lat1", res)} + 1)) AS iy
         |  FROM bgx
         |)""".stripMargin,
      s"""bgrid AS (
         |  SELECT area_id, alon0, alat0, alon1, alat1, ilon0, ilat0, ilon1, ilat1,
         |         blon0, blat0, blon1, blat1,
         |         ${CellIndex.LON_MIN} + ix * $w AS clon0, ${CellIndex.LAT_MIN} + iy * $h AS clat0
         |  FROM bgxy
         |)""".stripMargin) +
      s"""SELECT area_id,
         |       ${CellSql.encode(s"clon0 + ${w / 2}", s"clat0 + ${h / 2}", res)} AS cell
         |FROM bgrid
         |WHERE (NOT (clon0 > alon0 AND clon0 + $w < alon1 AND clat0 > alat0 AND clat0 + $h < alat1)
         |       OR (clon0 < ilon1 AND clon0 + $w > ilon0 AND clat0 < ilat1 AND clat0 + $h > ilat0))
         |  AND NOT (clon0 > blon0 AND clon0 + $w < blon1 AND clat0 > blat0 AND clat0 + $h < blat1)""".stripMargin
  }

  // ------------------------------------------------- counts / name search

  /** Count-by-cell (reference S8 `countBB`). */
  def countsByCell(spark: SparkSession, sfDir: String): DataFrame = {
    init(spark)
    GeoWorld.points(spark, sfDir)
      .groupBy(CellFunctions.zcell(col("lon"), col("lat"), lit(RES_COARSE)).as("cell"))
      .agg(count(lit(1)).as("n"))
  }

  val countsByCellSql: String =
    withWorld() +
      s"""SELECT ${CellSql.encode("lon", "lat", RES_COARSE)} AS cell, COUNT(*) AS n
         |FROM pts GROUP BY 1""".stripMargin

  /** Count-by-cell-and-tag (reference S8 `countBBTag`,
    * OsmStorageService.scala:254-267 — the per-(cell, tag) cardinality the
    * write-side uses for partition sizing). Same single-shuffle hash
    * aggregate as countBB with the composite key. */
  def countsByCellTag(spark: SparkSession, sfDir: String): DataFrame = {
    init(spark)
    GeoWorld.points(spark, sfDir)
      .groupBy(
        CellFunctions.zcell(col("lon"), col("lat"), lit(RES_COARSE)).as("cell"),
        col("tag_k"))
      .agg(count(lit(1)).as("n"))
  }

  val countsByCellTagSql: String =
    withWorld() +
      s"""SELECT ${CellSql.encode("lon", "lat", RES_COARSE)} AS cell, tag_k, COUNT(*) AS n
         |FROM pts GROUP BY 1, 2""".stripMargin

  /** Name search (reference S10 ES index collapsed to a predicate —
    * SURVEY.md S10: reference uses hits only, not ranking). */
  def nameSearch(spark: SparkSession, sfDir: String, q: String = "poi_1234"): DataFrame = {
    init(spark)
    GeoWorld.points(spark, sfDir)
      .filter(col("name").startsWith(q))
      .select(col("pid"), col("name"), col("tag_k"), col("tag_v"))
  }

  def nameSearchSql(q: String = "poi_1234"): String =
    withWorld() +
      s"""SELECT pid, name, tag_k, tag_v
         |FROM pts WHERE name LIKE '$q%'""".stripMargin

  /**
   * RANKED name search — the reference's scored index search restored
   * (S10's last delta): `IndexSearchHit(id, score)` from an ES
   * query-string search (`dal/.../mappings/IndexingService.scala:13-14`,
   * `ElasticIndexingService.scala:154-165`), searching relations, ways and
   * nodes and concatenating the hits (`:160-165`). Here the corpus is the
   * multi-kind union (areas as relations, points as nodes), tokenised into
   * an INVERTED postings table; the score is a deterministic integer
   * tf·idf: each matched query token contributes `N div df(token)` (rare
   * tokens dominate, exactly ES's idf intuition, but integer-exact so the
   * DuckDB oracle reproduces it bit-for-bit).
   *
   * Scale shape: the postings build is the INDEXING job (one explode +
   * distinct, shuffle ∝ corpus tokens — at 100 TB it persists as a
   * token-bucketed table and queries skip straight to the probe); the
   * query itself filters postings to the query's tokens (predicate before
   * any shuffle), broadcasts the per-token weights (≤ #query tokens rows),
   * and aggregates only MATCHING docs. The top-k is a TakeOrdered — no
   * global sort.
   */
  /** The multi-kind search corpus (areas as relations, points as nodes) —
    * ONE definition shared by the direct-scan ranked search and the
    * persisted-index path ([[graft.index.SnapshotQueries.nameIndexedSearch]])
    * so their mutual oracle parity can never drift. */
  private[graft] def nameCorpus(spark: SparkSession, sfDir: String): DataFrame =
    GeoWorld.points(spark, sfDir)
      .select(lit("node").as("kind"), col("pid").as("id"), col("name"))
      .unionByName(GeoWorld.areas(spark, sfDir)
        .select(lit("relation").as("kind"), col("area_id").as("id"),
          col("area_name").as("name")))

  def nameRanked(spark: SparkSession, sfDir: String,
      q: String = "state 7", k: Int = 12): DataFrame = {
    init(spark)
    nameRankedOf(spark, nameCorpus(spark, sfDir), q, k)
  }

  /** [[nameRanked]] over an injected (kind, id, name) corpus (scale probes). */
  private[graft] def nameRankedOf(spark: SparkSession, corpus: DataFrame,
      q: String, k: Int): DataFrame = {
    val qTokens = q.split("\\s+").toSeq
    val n = corpus.count()
    // postings restricted to the query's tokens; DISTINCT = a token counts
    // once per document (document frequency, not term frequency)
    val postings = corpus
      .select(col("kind"), col("id"), explode(split(col("name"), "_")).as("token"))
      .filter(col("token").isin(qTokens: _*))
      .distinct()
    rankPostings(postings, n, k)
  }

  /** Shared scoring/ranking tail of the two search shapes ([[nameRankedOf]]
    * inline scan, [[graft.index.SnapshotQueries.nameIndexedSearch]] bucket
    * probe): integer idf weights `n div df` per matched token, summed per
    * doc, top-k on the (score DESC, kind, id) TOTAL order (deterministic;
    * a TakeOrdered, never a global sort). `hit` carries (kind, id, token)
    * already restricted to the query's tokens, one row per doc-token. */
  private[graft] def rankPostings(hit: DataFrame, n: Long, k: Int): DataFrame = {
    val weights = hit.groupBy("token").agg(count(lit(1)).as("df"))
      .withColumn("w", expr(s"CAST($n AS BIGINT) div df"))
    val scored = hit.join(broadcast(weights.select("token", "w")), "token")
      .groupBy("kind", "id").agg(sum("w").as("score"))
    val top = scored.orderBy(col("score").desc, col("kind"), col("id")).limit(k)
    top.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("kind"), col("id"))))
      .select("rank", "kind", "id", "score")
  }

  def nameRankedSql(q: String = "state 7", k: Int = 12): String = {
    val inList = q.split("\\s+").map(t => s"'$t'").mkString(", ")
    withWorld(
      s"""corpus AS (
         |  SELECT 'node' AS kind, pid AS id, name FROM pts
         |  UNION ALL
         |  SELECT 'relation' AS kind, area_id AS id, area_name AS name FROM areas
         |), tok AS (
         |  SELECT kind, id, UNNEST(string_split(name, '_')) AS token FROM corpus
         |), post AS (
         |  SELECT DISTINCT kind, id, token FROM tok WHERE token IN ($inList)
         |), w AS (
         |  SELECT token, (SELECT COUNT(*) FROM corpus) // COUNT(*) AS w
         |  FROM post GROUP BY token
         |), scored AS (
         |  SELECT kind, id, CAST(SUM(w.w) AS BIGINT) AS score
         |  FROM post JOIN w USING (token) GROUP BY kind, id
         |)""".stripMargin) +
      s"""SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, kind, id) AS INT) AS rank,
         |       kind, id, score
         |FROM scored ORDER BY score DESC, kind, id LIMIT $k""".stripMargin
  }

  /**
   * Relation-by-name, the FULL reference chain (Q2, Queries.scala:279-299):
   * name search (CONTAINS — the reference uses query-string search, not a
   * prefix) → mapping lookup (id → cells, T7) → fetch by (cell, id) from
   * the cell-keyed store → `admin_level` tag filter → dedup (the
   * reference's Bloom dedup as exact distinct, G4). Every hop is a real
   * join against the derived index tables; all of them are area-dimension
   * sized, so each join broadcasts and the chain never shuffles point data.
   */
  def areaByNameChain(spark: SparkSession, sfDir: String, q: String = "state_1", level: Int = 4): DataFrame = {
    init(spark)
    val areasDf = GeoWorld.areas(spark, sfDir)
    // 1. name search (S10 collapsed to a contains predicate)
    val hits = areasDf.filter(col("area_name").contains(q)).select("area_id")
    val ctt = graft.index.IndexBuild.cellTagTable(spark, sfDir)
    // 2. mapping lookup: id -> cover cells (the T7 mapping store for areas)
    val cells = ctt.select("area_id", "cell").distinct()
      .join(broadcast(hits), "area_id")
    // 3. fetch by (cell, id) from the cell-keyed tag store (S5)
    val fetched = ctt.join(cells, Seq("cell", "area_id"))
      // 4. admin-level tag filter (reference filters boundary=administrative
      // + admin_level on the fetched objects)
      .filter(col("tag_k") === "admin_level" && col("tag_v") === level.toString)
    // 5. dedup: one row per cover cell otherwise
    fetched.select("area_id").distinct()
      .join(areasDf.select("area_id", "area_name"), "area_id")
      .select(col("area_id"), col("area_name"))
  }

  def areaByNameChainSql(q: String = "state_1", level: Int = 4): String =
    withWorld() +
      s"""SELECT area_id, area_name FROM areas
         |WHERE area_name LIKE '%$q%' AND level = $level""".stripMargin

  // --------------------------------------- normalize / assemble (T3 / T4)

  /** Normalize: interleaved docs → flat feature rows, span order preserved
    * (the input_hint invariant). Built from the NESTED docs table so the
    * explode path is genuinely exercised. */
  def normalize(spark: SparkSession, sfDir: String): DataFrame = {
    init(spark)
    GeoWorld.docs(spark, sfDir)
      .select(col("doc_id"), explode(col("spans")).as("s"))
      .select(
        col("doc_id"),
        col("s.offset").as("offset"),
        col("s.kind").as("kind"),
        col("s.text").as("text"),
        col("s.media_ref").as("media_ref"),
        (lit(GeoWorld.LON0) + split(col("s.text"), ",").getItem(0).cast("long") / 1000.0 + GeoWorld.OFF).as("lon"),
        (lit(GeoWorld.LAT0) + split(col("s.text"), ",").getItem(1).cast("long") / 1000.0 + GeoWorld.OFF).as("lat"))
  }

  val normalizeSql: String =
    withWorld() +
      s"""SELECT doc_id, "offset", kind, text, media_ref, lon, lat
         |FROM spansf""".stripMargin

  /** Span-sequence round-trip invariant: docs → normalize → re-assemble in
    * span order → per-doc md5 fingerprint of (kind|text|media_ref|offset).
    * The oracle recomputes the same fingerprint from the flat span view; a
    * hash match proves per-row span-sequence equality through the shuffle
    * (SURVEY.md §7.5 "span order"). */
  def spanRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val n = normalize(spark, sfDir)
    n.select(col("doc_id"),
        struct(col("offset"), col("kind"), col("text"), col("media_ref")).as("s"))
      .groupBy("doc_id")
      .agg(array_sort(collect_list(col("s"))).as("ss"))
      .select(col("doc_id"),
        md5(concat_ws(";", transform(col("ss"), s =>
          concat_ws("|", s.getField("kind"), s.getField("text"),
            s.getField("media_ref"), s.getField("offset").cast("string")))).cast("binary")).as("fp"),
        size(col("ss")).as("n_spans"))
  }

  val spanRoundtripSql: String =
    withWorld() +
      s"""SELECT doc_id,
         |       MD5(STRING_AGG(kind || '|' || text || '|' || media_ref || '|' || CAST("offset" AS VARCHAR), ';' ORDER BY "offset")) AS fp,
         |       CAST(COUNT(*) AS INTEGER) AS n_spans
         |FROM spansf GROUP BY doc_id""".stripMargin

  /**
   * Way assembly (reference T3, the canonical lookup JOIN #1 — WayFlow.scala:
   * 27-49): each doc's point spans act as node refs; resolve each ref
   * against the point table by id (a real equi-join), then rebuild the
   * ordered LineString. `array_sort` by the captured offset restores span
   * order after the shuffle.
   */
  def wayAssemble(spark: SparkSession, sfDir: String): DataFrame = {
    init(spark)
    val refs = GeoWorld.docs(spark, sfDir)
      .select(col("doc_id"), explode(col("spans")).as("s"))
      .select(col("doc_id"), col("s.offset").as("offset"),
        // node ref id: doc ordinal * 8 + span offset (how the world was built)
        (split(col("doc_id"), "_").getItem(1).cast("long") * 8 + col("s.offset")).as("ref"))
    val nodes = GeoWorld.points(spark, sfDir).select(col("pid"), col("lonm"), col("latm"))
    refs.join(nodes, refs("ref") === nodes("pid"))
      .select(col("doc_id"), struct(col("offset"),
        concat(col("lonm").cast("string"), lit(" "), col("latm").cast("string")).as("xy")).as("s"))
      .groupBy("doc_id")
      .agg(array_sort(collect_list(col("s"))).as("ss"))
      .filter(size(col("ss")) >= 2)
      .select(col("doc_id"),
        concat(lit("LINESTRING("),
          concat_ws(",", transform(col("ss"), s => s.getField("xy"))),
          lit(")")).as("wkt"))
  }

  val wayAssembleSql: String =
    withWorld() +
      s"""SELECT doc_id,
         |       'LINESTRING(' || STRING_AGG(CAST(lonm AS VARCHAR) || ' ' || CAST(latm AS VARCHAR), ',' ORDER BY "offset") || ')' AS wkt
         |FROM (SELECT s.doc_id, s."offset" AS "offset", p.lonm, p.latm
         |      FROM spansf s JOIN pts p ON p.pid = s.pid)
         |GROUP BY doc_id HAVING COUNT(*) >= 2""".stripMargin
}
