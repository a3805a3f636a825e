package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cell.{CellFunctions, CellIndex}
import graft.gen.GeoWorld

/**
 * Structured Streaming surface. The reference's pipelines are unbounded
 * Akka streams with NO watermarks/event-time windows (SURVEY.md §2.5 —
 * batch Datasets are sufficient for parity); this module exists because the
 * engine should still expose the streaming ingest shape: a stream of
 * interleaved documents -> normalize (explode spans, parse, cell-encode) ->
 * cell-bucketed micro-batch aggregation.
 *
 * The transformation is IDENTICAL to the batch normalize (same expressions)
 * — Structured Streaming plans the same Catalyst operators incrementally,
 * which is exactly the Spark-first way to get the reference's
 * skip-and-continue unbounded behaviour.
 */
object StreamNormalize {

  /** Normalize a (possibly streaming) docs DataFrame: explode spans in
    * order, parse coordinates, attach the mid-res cell. Registers the cell
    * expressions itself (idempotent) so no entry point depends on another
    * query having initialised the session first. */
  def normalize(docs: DataFrame): DataFrame = {
    GeoWorld.registerUdfs(docs.sparkSession)
    docs.select(col("doc_id"), explode(col("spans")).as("s"))
      .select(
        col("doc_id"),
        col("s.offset").as("offset"),
        col("s.kind").as("kind"),
        col("s.media_ref").as("media_ref"),
        (lit(GeoWorld.LON0) + expr("try_cast(split(s.text, ',')[0] AS BIGINT)") / 1000.0 + GeoWorld.OFF).as("lon"),
        (lit(GeoWorld.LAT0) + expr("try_cast(split(s.text, ',')[1] AS BIGINT)") / 1000.0 + GeoWorld.OFF).as("lat"))
      .withColumn("cell", CellFunctions.zcell(col("lon"), col("lat"), lit(CellIndex.RES_MID)))
  }

  /** Deterministic synthetic event time, in ONE place for the five
    * windowed/enrich transforms: doc ordinal -> seconds past the epoch
    * base (the oracles re-derive it as `(pid // 8) % 3600`). */
  private def withEventTime(df: DataFrame): DataFrame =
    df.withColumn("ord", split(col("doc_id"), "_").getItem(1).cast("long") % 3600)
      .withColumn("ts", expr("timestampadd(SECOND, ord, timestamp'2026-01-01 00:00:00')"))

  /** Per-micro-batch cell counts (complete-mode aggregate). */
  def cellCounts(docs: DataFrame): DataFrame =
    normalize(docs).groupBy("cell").count()

  /** File-stream variant over a directory of doc parquet (the S1 file-scan
    * analog as a stream). */
  def fromParquetDir(spark: SparkSession, dir: String, schemaFrom: DataFrame): DataFrame = {
    GeoWorld.registerUdfs(spark)
    normalize(spark.readStream.schema(schemaFrom.schema).parquet(dir))
  }

  /**
   * Event-time windowed cell counts with a WATERMARK — the Structured
   * Streaming shape the north star asks for (watermarks + windowed aggs).
   * Event time is synthesized deterministically from the doc ordinal
   * (1 doc = 1 second after the epoch base), so batch and stream compute
   * identical windows. The watermark bounds state: windows older than
   * 10 minutes of event time are finalized and evicted — at 10^12 docs the
   * aggregation state is O(open windows × cells), never O(stream).
   */
  /** DuckDB twin of [[windowedCellCounts]] over the flat span view (the
    * driver's oracle for q_stream_window — the batch run of the SAME
    * expression the stream executes incrementally). */
  val windowedCellCountsSql: String =
    graft.query.GeoQueries.withWorld() +
      s"""SELECT TIMESTAMP '2026-01-01 00:00:00' + (((pid // 8) % 3600) // 300) * 300 * INTERVAL 1 SECOND AS wstart,
         |       ${graft.cell.CellSql.encode("lon", "lat", CellIndex.RES_MID)} AS cell,
         |       COUNT(*) AS count
         |FROM spansf GROUP BY 1, 2""".stripMargin

  /**
   * Streaming exact dedup: an at-least-once source (replayed Kafka offsets,
   * reprocessed files) re-delivers spans; `dropDuplicatesWithinWatermark`
   * drops re-deliveries keyed by (doc_id, offset) while the watermark
   * BOUNDS the dedup state — keys older than the watermark are evicted, so
   * state is O(in-flight event-time window), never O(stream). This is the
   * streaming face of the exact-dedup operator family.
   */
  def dedupSpans(docs: DataFrame): DataFrame =
    normalize(docs)
      .transform(withEventTime)
      .drop("ord")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("doc_id", "offset")

  /** Sliding-window variant (10-minute windows every 5 minutes): each span
    * lands in exactly two overlapping windows. Same watermark/state story
    * as the tumbling version; the oracle enumerates both window starts per
    * row (Spark windows align to the epoch, and the synthetic base
    * timestamp is a multiple of the slide, so starts line up exactly). */
  def slidingCellCounts(docs: DataFrame): DataFrame =
    normalize(docs)
      .transform(withEventTime)
      .drop("ord")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("cell"))
      .count()
      .select(col("window.start").as("wstart"), col("cell"), col("count"))

  val slidingCellCountsSql: String =
    graft.query.GeoQueries.withWorld() +
      s"""SELECT TIMESTAMP '2026-01-01 00:00:00' + ((((pid // 8) % 3600) // 300) * 300 - w.off) * INTERVAL 1 SECOND AS wstart,
         |       ${graft.cell.CellSql.encode("lon", "lat", CellIndex.RES_MID)} AS cell,
         |       COUNT(*) AS count
         |FROM spansf CROSS JOIN (SELECT UNNEST([0, 300]) AS off) w
         |GROUP BY 1, 2""".stripMargin

  /**
   * SESSION windows per cell (60-second gap): consecutive events in a cell
   * less than the gap apart merge into one session; the watermark closes
   * and evicts sessions once event time passes them. Completes the window
   * family (tumbling / sliding / session). The oracle is the classic
   * gaps-and-islands sessionization (LAG + running sum of breaks).
   */
  def sessionCellCounts(docs: DataFrame): DataFrame =
    normalize(docs)
      .transform(withEventTime)
      .drop("ord")
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "60 seconds"), col("cell"))
      .count()
      .select(col("session_window.start").as("session_start"), col("cell"), col("count"))

  val sessionCellCountsSql: String =
    graft.query.GeoQueries.withWorld(
      s"""ev AS (
         |  SELECT ${graft.cell.CellSql.encode("lon", "lat", CellIndex.RES_MID)} AS cell,
         |         TIMESTAMP '2026-01-01 00:00:00' + ((pid // 8) % 3600) * INTERVAL 1 SECOND AS ts
         |  FROM spansf
         |)""".stripMargin,
      // Islands over DISTINCT (cell, ts): with duplicate timestamps the
      // running-sum frame's tie order is nondeterministic and could split
      // tied rows across two sids (observed at sf0.1 — oracle row count
      // varied run to run). Sessions are a function of the distinct
      // timestamp SET, so break/assign on distinct rows (no ties), then
      // join every event row back to its session id for the counts.
      // STRICT > for the break: Spark's session_window end is exclusive
      // but MERGING is inclusive — an event exactly gap seconds after the
      // previous one extends the session (three exact-60s gaps at sf0.1;
      // >= split them and broke parity).
      """evd AS (
        |  SELECT DISTINCT cell, ts FROM ev
        |)""".stripMargin,
      """brk AS (
        |  SELECT cell, ts,
        |         CASE WHEN ts - LAG(ts) OVER (PARTITION BY cell ORDER BY ts) > INTERVAL 60 SECOND
        |              OR LAG(ts) OVER (PARTITION BY cell ORDER BY ts) IS NULL THEN 1 ELSE 0 END AS b
        |  FROM evd
        |)""".stripMargin,
      """sess AS (
        |  SELECT cell, ts, SUM(b) OVER (PARTITION BY cell ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM brk
        |)""".stripMargin) +
      """SELECT MIN(e.ts) AS session_start, e.cell, COUNT(*) AS count
        |FROM ev e JOIN sess s ON s.cell = e.cell AND s.ts = e.ts
        |GROUP BY e.cell, s.sid""".stripMargin

  def windowedCellCounts(docs: DataFrame): DataFrame =
    normalize(docs)
      .transform(withEventTime)
      .drop("ord")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("cell"))
      .count()
      .select(col("window.start").as("wstart"), col("cell"), col("count"))

  /**
   * Streaming ENRICH join: the unbounded span stream joined STREAM-STATIC
   * against the small admin-area dimension (the reference's PIP lookup —
   * Queries.scala:304-315 — run continuously over the ingest stream), then
   * aggregated into watermarked event-time windows per area.
   *
   * Scale story: a stream-static inner join keeps NO join state — the
   * static side is broadcast into each micro-batch, so the per-batch plan
   * is scan → codegen cell-encode → broadcast hash join → exact refine →
   * partial agg → state-store merge. The only state is the windowed
   * aggregation itself, bounded by the watermark to open windows × areas.
   * At 100 TB/day the stream side never shuffles before the final agg.
   *
   * `areas` are admin-area rows (`area_id`, bbox, `wkb`); the join is
   * [[graft.query.SpatialJoin.pip]] at the coarse cover resolution —
   * identical semantics to the batch PIP lookup.
   */
  def enrichedAreaCounts(docs: DataFrame, areas: DataFrame): DataFrame =
    graft.query.SpatialJoin.pip(normalize(docs), areas, CellIndex.RES_COARSE)
      .transform(withEventTime)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("area_id"))
      .count()
      .select(col("window.start").as("wstart"), col("area_id"), col("count"))

  /** Batch twin over the catalog tables (level-4 states at the coarse
    * cover resolution) — the driver's `q_stream_enrich` entry point. */
  def enrichedAreaCountsOf(spark: SparkSession, sfDir: String): DataFrame = {
    GeoWorld.registerUdfs(spark)
    enrichedAreaCounts(GeoWorld.docs(spark, sfDir), GeoWorld.areas(spark, sfDir).filter(col("level") === 4))
  }

  /** DuckDB twin of [[enrichedAreaCounts]]: rect containment is exact
    * arithmetic (same predicate the PIP oracle uses), windows reproduce
    * the deterministic event-time synthesis. */
  val enrichedAreaCountsSql: String =
    graft.query.GeoQueries.withWorld() +
      s"""SELECT TIMESTAMP '2026-01-01 00:00:00' + (((pid // 8) % 3600) // 300) * 300 * INTERVAL 1 SECOND AS wstart,
         |       a.area_id,
         |       COUNT(*) AS count
         |FROM spansf p JOIN areas a
         |  ON a.level = 4
         | AND p.lon > a.lon0 AND p.lon < a.lon1
         | AND p.lat > a.lat0 AND p.lat < a.lat1
         |GROUP BY 1, 2""".stripMargin
}
