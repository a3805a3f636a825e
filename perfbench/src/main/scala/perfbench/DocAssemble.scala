package perfbench

import java.util.zip.CRC32
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.gen.GeoWorld
import graft.index.IndexBuild
import graft.query.GeoQueries

/** Order-independent digest of a result: row count and the sum of the
  * CRC32 of one string per row (plus an optional exact long sum). */
final case class Digest(rows: Long, crcSum: Long, extra: Long = 0L)

object Digest {
  def crc(s: String): Long = { val c = new CRC32; c.update(s.getBytes("UTF-8")); c.getValue }
  def of(strings: Iterator[String], extra: Long = 0L): Digest = {
    var n = 0L; var sum = 0L
    strings.foreach { s => n += 1; sum += crc(s) }
    Digest(n, sum, extra)
  }
  /** The same digest computed by Spark over a result DataFrame. */
  def ofDf(df: DataFrame, row: Column, extra: Column = lit(0L)): Digest = {
    val r = df.agg(count(lit(1)), coalesce(sum(crc32(row.cast("binary"))), lit(0L)),
      coalesce(sum(extra), lit(0L))).head()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }
  def check(what: String, expected: Digest, got: Digest): Option[String] =
    if (expected == got) None else Some(s"$what: expected $expected, got $got")
}

/**
 * doc_assemble: the interleaved-document path over the generated input —
 * normalize, the span-order round trip, way assembly and relation
 * assembly. Group-by-doc and equi-joins on refs make it shuffle-bound.
 * Each result is reduced to a digest in Spark and compared with the
 * digest of the model's expected rows.
 */
final class DocAssemble extends Workload {
  val name = "doc_assemble"

  import DocAssemble._

  private var keys: Array[(Long, Int)] = _
  private lazy val pts: Array[Pt] = Gen.points(keys)
  private lazy val docs = docsOf(pts)
  private var spanDigestFromDocs: Digest = _

  private def sf(ctx: Ctx) = ctx.inputDir.toString

  lazy val expNormalize: Digest = Digest.of(normalizeRows(pts),
    pts.iterator.map(p => math.round((p.lon + p.lat) * 10000)).sum)
  lazy val expRoundtrip: Digest = Digest.of(roundtripRows(docs))
  lazy val expWay: Digest = Digest.of(wayRows(docs))
  lazy val expRelation: Digest = Digest.of(relationRows(docs),
    docs.map { case (_, ps) => ps.length + (if (ps.count(!_.isMedia) >= 2) 1 else 0) }.sum.toLong)

  def setup(ctx: Ctx): Unit = {
    keys = Gen.lineitemKeys(ctx.seed, Gen.sizing(name).orders)
    Gen.writeCore(ctx.spark, ctx.inputDir, keys)
    spanDigestFromDocs = null
  }

  /** The round-trip fingerprints as computed straight from GeoWorld.docs'
    * nested spans (the span-sequence invariant's other side); checked once
    * against the model, then used as the expected value. */
  private def docsFingerprints(ctx: Ctx): Digest = {
    if (spanDigestFromDocs == null) {
      val fp = md5(concat_ws(";", transform(col("spans"), s => concat_ws("|", s.getField("kind"),
        s.getField("text"), s.getField("media_ref"), s.getField("offset").cast("string")))).cast("binary"))
      val d = Digest.ofDf(GeoWorld.docs(ctx.spark, sf(ctx)),
        concat_ws("|", col("doc_id"), fp, size(col("spans")).cast("string")))
      require(d == expRoundtrip, s"GeoWorld.docs fingerprints $d differ from the model's $expRoundtrip")
      spanDigestFromDocs = d
    }
    spanDigestFromDocs
  }

  /** One assembly job as an op: the engine call and the digest action are
    * separate spans. */
  private def job(ctx: Ctx, kind: String, layer: String, expected: => Digest)(build: => DataFrame)(
      row: Column, extra: Column = lit(0L)): Unit =
    ctx.op(kind, docs.size.toLong) {
      val df = ctx.tracer.span(layer)(build)
      ctx.tracer.span("spark.action")(Digest.ofDf(df, row, extra))
    }(Digest.check(kind, expected, _))

  def cycle(ctx: Ctx): Unit = {
    val spark = ctx.spark
    job(ctx, "normalize", "query.normalize", expNormalize)(GeoQueries.normalize(spark, sf(ctx)))(
      concat_ws("|", col("doc_id"), col("offset").cast("string"), col("kind"), col("text"), col("media_ref")),
      round((col("lon") + col("lat")) * 10000).cast("long"))
    job(ctx, "span_roundtrip", "query.spanRoundtrip", docsFingerprints(ctx))(GeoQueries.spanRoundtrip(spark, sf(ctx)))(
      concat_ws("|", col("doc_id"), col("fp"), col("n_spans").cast("string")))
    job(ctx, "way_assemble", "query.wayAssemble", expWay)(GeoQueries.wayAssemble(spark, sf(ctx)))(
      concat_ws("|", col("doc_id"), col("wkt")))
    job(ctx, "relation_assemble", "index.relationAssemble", expRelation)(IndexBuild.relationAssemble(spark, sf(ctx)))(
      concat_ws("|", col("doc_id"), col("wkt")), col("n_members").cast("long"))
  }

  def inputProps(ctx: Ctx): Seq[(String, String)] = Seq(
    "docs" -> docs.size.toString,
    "spans" -> pts.length.toString,
    "media_span_share" -> f"${pts.count(_.isMedia).toDouble / pts.length}%.3f",
    "job_sequence" -> "normalize span_roundtrip way_assemble relation_assemble")

  def gated(ctx: Ctx, ops: Seq[OpRecord], setupS: Double): Seq[Metric] =
    Workload.uniform(ops, ops, setupS)

  def report(ctx: Ctx, ops: Seq[OpRecord], setupS: Double): Seq[Metric] = {
    val n = ops.map(_.units).sum.toDouble
    Seq(Metric("setup_s", setupS, "s", Main.SETUP_REPS),
      Metric("docs_per_s", n / (ops.map(_.wallMs).sum / 1000), "docs/s", ops.size),
      Metric("cpu_s_per_mdoc", ops.map(_.cpuMs).sum / 1000 / (n / 1e6), "s/Mdoc", ops.size))
  }

  def layers(ctx: Ctx, traced: Seq[OpRecord]): Map[String, Double] =
    Layers.zeros ++ Layers.spark(ctx.tracer, traced.map(_.units).sum.toDouble) ++
      Layers.probes(ctx.spark, sf(ctx), pts, None, 4)
}

/** The expected rows of each assembly op, one string per row, built from
  * the model points. */
object DocAssemble {
  private def kind(p: Pt) = if (p.isMedia) "media" else "point"
  private def text(p: Pt) = s"${p.lonm},${p.latm}"
  private def mediaRef(p: Pt) = if (p.isMedia) s"blob://p/${p.pid % 1000}" else ""
  private def xy(p: Pt) = s"${p.lonm} ${p.latm}"

  /** doc ordinal -> its points in span (offset) order */
  def docsOf(pts: Array[Pt]): Seq[(Long, Array[Pt])] =
    pts.groupBy(_.pid / 8).toSeq.sortBy(_._1).map { case (d, ps) => d -> ps.sortBy(_.pid % 8) }

  def normalizeRows(pts: Array[Pt]): Iterator[String] =
    pts.iterator.map(p => s"doc_${p.pid / 8}|${p.pid % 8}|${kind(p)}|${text(p)}|${mediaRef(p)}")

  def roundtripRows(docs: Seq[(Long, Array[Pt])]): Iterator[String] = docs.iterator.map { case (d, ps) =>
    val s = ps.map(p => s"${kind(p)}|${text(p)}|${mediaRef(p)}|${p.pid % 8}").mkString(";")
    val md5 = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    s"doc_$d|$md5|${ps.length}"
  }

  def wayRows(docs: Seq[(Long, Array[Pt])]): Iterator[String] =
    docs.iterator.filter(_._2.length >= 2).map { case (d, ps) =>
      s"doc_$d|LINESTRING(${ps.map(xy).mkString(",")})"
    }

  def relationRows(docs: Seq[(Long, Array[Pt])]): Iterator[String] = docs.iterator.map { case (d, ps) =>
    val line = ps.filterNot(_.isMedia)
    val members = ps.map(p => s"POINT(${xy(p)})").mkString(",") +
      (if (line.length >= 2) s",LINESTRING(${line.map(xy).mkString(",")})" else "")
    s"doc_$d|GEOMETRYCOLLECTION($members)"
  }
}
