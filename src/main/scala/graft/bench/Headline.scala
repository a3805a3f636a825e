package graft.bench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cell.{CellFunctions, CellIndex}
import graft.gen.GeoWorld
import graft.query.SpatialJoin

/**
 * The headline benchmark job — BASELINE.json's metric: "spatial-join +
 * tile-assignment throughput (docs/sec)". ONE pass over the document/point
 * side: parse/derive -> codegen cell-encode -> broadcast cell hash-join
 * against the admin boundaries -> exact JTS refine -> slippy-tile
 * assignment -> per-tile aggregate. The point side never shuffles before
 * the final tile aggregation (map-side combined), which is the shape that
 * scales linearly to 10^12 docs.
 */
object Headline {

  /** Points side, optionally replicated `factor`x (distinct pids, identical
    * per-doc work) — the scaling bench needs enough work per core that
    * fixed overheads stop dominating; the per-doc computation is unchanged. */
  def scaledPoints(spark: SparkSession, sfDir: String, factor: Int): org.apache.spark.sql.DataFrame = {
    val p = GeoWorld.points(spark, sfDir)
    if (factor <= 1) p
    else p.withColumn("rep", explode(sequence(lit(0), lit(factor - 1))))
      .withColumn("pid", col("pid") * factor + col("rep"))
      .drop("rep")
    // NOTE: AQE sizes post-shuffle partitions by the PRE-explode bytes; the
    // scaling bench disables partition coalescing so the deduped stream
    // stays at shuffle.partitions and the factor-x downstream work spreads
    // across all cores without a second shuffle.
  }

  def job(spark: SparkSession, sfDir: String, z: Int = 7, factor: Int = 1): DataFrame = {
    GeoWorld.registerUdfs(spark)
    val areas = GeoWorld.areas(spark, sfDir).filter(col("level") === 4)
    SpatialJoin.pip(scaledPoints(spark, sfDir, factor), areas, CellIndex.RES_COARSE)
      .select(
        col("area_id"),
        graft.cell.TileCols.tileX(col("lon"), lit(z)).as("tx"),
        graft.cell.TileCols.tileY(col("lat"), lit(z)).as("ty"),
        col("is_media"))
      .groupBy("area_id", "tx", "ty")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("is_media"), 1L).otherwise(0L)).as("n_media"))
  }

  /** Run the job and return (docs processed, elapsed seconds, result rows). */
  def timed(spark: SparkSession, sfDir: String, factor: Int = 1): (Long, Double, Long) = {
    val nDocs = GeoWorld.points(spark, sfDir).count() * factor
    val t0 = System.nanoTime()
    val resultRows = job(spark, sfDir, factor = factor).count()
    val secs = (System.nanoTime() - t0) / 1e9
    (nDocs, secs, resultRows)
  }

  /** [[timed]] with an executor-CPU window opened at the SAME instant as
    * the wall clock: the internal docs-count job runs BEFORE both, so
    * cpu/wall stay comparable (review finding — snapshotting CPU around
    * the whole call over-attributed the count job's CPU to the sample).
    * Returns (docs processed, wall seconds, cpu seconds). */
  def timedCpu(spark: SparkSession, sfDir: String, cpuSnap: () => Long,
      factor: Int = 1): (Long, Double, Double) = {
    val nDocs = GeoWorld.points(spark, sfDir).count() * factor
    val c0 = cpuSnap()
    val t0 = System.nanoTime()
    job(spark, sfDir, factor = factor).count()
    val secs = (System.nanoTime() - t0) / 1e9
    (nDocs, secs, (cpuSnap() - c0) / 1e9)
  }

  // ----------------------- scaling-bench variant (realistic boundaries) --

  /**
   * Admin boundaries as REALISTIC complex polygons: a 256-vertex ellipse
   * inscribed in each nation rect (real OSM admin boundaries have 10^2-10^4
   * vertices). With the axis-aligned-rectangle world the prepared PIP test
   * degenerates to two comparisons and the whole job goes memory-bound —
   * complex rings restore the true refine cost profile the engine faces on
   * real boundary data.
   */
  def complexAreas(spark: SparkSession, sfDir: String, nVertices: Int = 2048): DataFrame = {
    GeoWorld.registerUdfs(spark)
    spark.udf.register("ellipse_wkb", (lon0: Double, lat0: Double, lon1: Double, lat1: Double, n: Int) => {
      val cx = (lon0 + lon1) / 2; val cy = (lat0 + lat1) / 2
      val rx = (lon1 - lon0) / 2; val ry = (lat1 - lat0) / 2
      val coords = (0 to n).map { i =>
        val a = 2 * math.Pi * (i % n) / n
        new org.locationtech.jts.geom.Coordinate(cx + rx * math.cos(a), cy + ry * math.sin(a))
      }.toArray
      graft.geom.Geo.toWkb(graft.geom.Geo.areaGeom(Seq(graft.geom.Geo.factory.createPolygon(coords))))
    })
    GeoWorld.areas(spark, sfDir).filter(col("level") === 4)
      .withColumn("wkb", call_function("ellipse_wkb", col("lon0"), col("lat0"), col("lon1"), col("lat1"), lit(nVertices)))
      .withColumn("cell", explode(GeoWorld.coverCells(col("lon0"), col("lat0"), col("lon1"), col("lat1"), CellIndex.RES_COARSE)))
      .select("cell", "area_id", "wkb")
  }

  /** Materialise the replicated point side once (NOT timed): the scaling
    * runs then read identical parquet with enough splits for any core
    * count — scan parallelism is a property of the data layout, not of the
    * session under test. */
  def prepareScaledInput(sfDir: String, factor: Int, path: String, files: Int = 128): Long = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "128")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      // repartition the SMALL deduped base BEFORE the factor-x explode: a
      // post-explode repartition shuffles factor-x rows (at factor 2048
      // that is a 40 GB shuffle with multi-minute tasks); pre-explode the
      // shuffle is ~15 MB and each of the `files` write tasks explodes its
      // own slice
      val base = GeoWorld.points(spark, sfDir)
        .select("pid", "lon", "lat", "is_media")
        .repartition(files)
      val scaled =
        if (factor <= 1) base
        else base.withColumn("rep", explode(sequence(lit(0), lit(factor - 1))))
          .withColumn("pid", col("pid") * factor + col("rep"))
          .drop("rep")
      scaled.write.mode("overwrite").parquet(path)
      spark.read.parquet(path).count()
    } finally {
      spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    }
  }

  /** The timed scaling job: scan prepared parquet -> codegen cell encode ->
    * broadcast cell join vs complex boundaries -> prepared-geometry PIP
    * refine -> slippy tiles -> partial-agg counts. Map-only + broadcast:
    * the shape that scales linearly with cores/executors.
    *
    * The refine passes only the 8-byte area_id through the join — carrying
    * the ~4 KB WKB column per candidate row (29M rows) moves >100 GB
    * through memory and turns a CPU job bandwidth-bound; geometries travel
    * once via a Spark broadcast and are resolved + prepared per executor. */
  def scalingJob(spark: SparkSession, sfDir: String, inputPath: String, z: Int = 7): DataFrame = {
    GeoWorld.registerUdfs(spark)
    val areas = complexAreas(spark, sfDir)
    val geomById = areas.select("area_id", "wkb").distinct().collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    val bcGeoms = spark.sparkContext.broadcast(geomById)
    spark.udf.register("pip_by_id", (areaId: Long, lon: Double, lat: Double) =>
      graft.geom.GeoCache.containsCoordById(areaId, bcGeoms.value(areaId), lon, lat))
    // materialise the small (cell, area_id) build side as a local relation:
    // re-deriving it from the dim parquet (window + ellipse UDF + cover
    // explode) on EVERY execution is pure fixed cost that a real cluster
    // amortises over 10^12 rows but dominates a seconds-long sandbox run
    import spark.implicits._
    val cellRows = areas.select("cell", "area_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val buildSide = cellRows.toDF("cell", "area_id")
    val pts = spark.read.parquet(inputPath)
      .withColumn("cell", CellFunctions.zcell(col("lon"), col("lat"), lit(CellIndex.RES_COARSE)))
    pts.join(broadcast(buildSide), "cell")
      .filter(call_function("pip_by_id", col("area_id"), col("lon"), col("lat")))
      .select(
        col("area_id"),
        graft.cell.TileCols.tileX(col("lon"), lit(z)).as("tx"),
        graft.cell.TileCols.tileY(col("lat"), lit(z)).as("ty"),
        col("is_media"))
      .groupBy("area_id", "tx", "ty")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_media"), 1L).otherwise(0L)).as("n_media"))
  }
}
