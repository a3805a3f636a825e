package perfbench

/**
 * The per-layer metrics of a traced run. Every traced run reports all of
 * them; a layer a workload never calls reports 0. `moves` names the
 * end-to-end metric each should move and where (kept in sync with the
 * per-layer table of `perfbench/README.md`).
 */
object Layers {

  final case class Def(name: String, unit: String, moves: String)

  val all: Seq[Def] = Seq(
    Def("api.translate_ms", "ms", "query_ms_p50 on geo_service"),
    Def("spark.analysis_ms", "ms", "query_ms_p50 on geo_service; op_ms_gmean on snapshot_ingest"),
    Def("spark.optimization_ms", "ms", "query_ms_p50 on geo_service; op_ms_gmean on snapshot_ingest"),
    Def("spark.planning_ms", "ms", "query_ms_p50 on geo_service; op_ms_gmean on snapshot_ingest"),
    Def("spark.jobs_per_op", "count", "query_ms_p50 on geo_service; throughput_per_s on snapshot_ingest"),
    Def("spark.tasks_per_op", "count", "query_ms_p50 on geo_service; throughput_per_s on snapshot_ingest"),
    Def("spark.executor_cpu_s", "s", "cpu_us_per_unit on geo_batch; cpu_s_per_mdoc on doc_assemble"),
    Def("spark.gc_s", "s", "cpu_us_per_unit on geo_batch; cpu_s_per_mdoc on doc_assemble"),
    Def("spark.shuffle_write_bytes_per_doc", "B", "docs_per_s on doc_assemble (about 0 on geo_batch)"),
    Def("spark.shuffle_fetch_wait_ms", "ms", "docs_per_s on doc_assemble (about 0 on geo_batch)"),
    Def("spark.spill_bytes", "B", "docs_per_s on doc_assemble"),
    Def("spark.task_skew", "ratio", "throughput_per_s on geo_batch"),
    Def("gen.points_ms", "ms", "throughput_per_s on geo_batch; query_ms_p50 on geo_service"),
    Def("gen.areas_build_ms", "ms", "setup_s on geo_batch"),
    Def("gen.docs_ms", "ms", "docs_per_s on doc_assemble"),
    Def("cell.encode_ns", "ns", "throughput_per_s on geo_batch"),
    Def("cell.cover_cells_per_area", "count", "cpu_us_per_unit on geo_batch"),
    Def("cell.ring_cells_per_probe", "count", "query_ms_p90 on geo_service; throughput_per_s on geo_batch"),
    Def("query.candidates_per_doc", "ratio", "cpu_us_per_unit on geo_batch"),
    Def("query.survivors_per_candidate", "ratio", "cpu_us_per_unit on geo_batch; query_ms_p50 on geo_service"),
    Def("geom.pip_ns", "ns", "throughput_per_s on geo_batch"),
    Def("geom.refine_ms_est", "ms", "throughput_per_s on geo_batch"),
    Def("index.plan_ms", "ms", "op_ms_gmean on snapshot_ingest"),
    Def("index.scan_ms", "ms", "op_ms_gmean on snapshot_ingest"),
    Def("index.jobs_per_commit", "count", "throughput_per_s on snapshot_ingest"),
    Def("index.write_amp", "ratio", "throughput_per_s on snapshot_ingest"),
    Def("index.files_per_commit", "count", "throughput_per_s on snapshot_ingest"),
    Def("index.live_files", "count", "op_ms_gmean on snapshot_ingest"),
    Def("index.compact_ms", "ms", "throughput_per_s on snapshot_ingest"),
    Def("index.expire_ms", "ms", "throughput_per_s on snapshot_ingest"),
    Def("sources.plan_ms", "ms", "op_ms_gmean on snapshot_ingest"),
    Def("sources.files_read", "count", "op_ms_gmean on snapshot_ingest"),
    Def("sources.bytes_read_per_row", "B", "op_ms_gmean on snapshot_ingest"),
    Def("trace.overhead_pct", "%", "none: traced against untraced throughput of the same run"))

  def unitOf(name: String): String = all.find(_.name == name).map(_.unit).getOrElse("count")

  /** Every metric at 0, to be overwritten by the layers a workload uses. */
  def zeros: Map[String, Double] = all.map(_.name -> 0.0).toMap - "trace.overhead_pct"

  /** The `spark` layer over the traced ops of the given kinds: per-op
    * means, except skew (median over ops) and shuffle bytes (per doc). */
  def spark(t: Tracer, docs: Double, kinds: Set[String] = Set.empty): Map[String, Double] = {
    val ids = t.opIds.filter(i => kinds.isEmpty || kinds(t.opName(i)))
    val os = ids.map(t.sparkOf)
    val n = math.max(1, os.size).toDouble
    def per(f: OpSpark => Double) = os.map(f).sum / n
    Map(
      "spark.analysis_ms" -> per(_.analysisMs),
      "spark.optimization_ms" -> per(_.optimizationMs),
      "spark.planning_ms" -> per(_.planningMs),
      "spark.jobs_per_op" -> per(_.jobs.toDouble),
      "spark.tasks_per_op" -> per(_.tasks.toDouble),
      "spark.executor_cpu_s" -> per(_.cpuNs / 1e9),
      "spark.gc_s" -> per(_.gcMs / 1e3),
      "spark.shuffle_write_bytes_per_doc" -> os.map(_.shuffleWriteBytes).sum / math.max(1.0, docs),
      "spark.shuffle_fetch_wait_ms" -> per(_.fetchWaitMs.toDouble),
      "spark.spill_bytes" -> per(_.spillBytes.toDouble),
      "spark.task_skew" -> (if (os.isEmpty) 0.0 else Stats.median(os.map(_.skew))))
  }

  /** Cell-join candidates: for each point, the number of `areas` whose
    * cover at `res` holds the point's cell — the rows the equi-join emits
    * before the exact refine, counted with the cell layer's own functions. */
  def cellCandidates(pts: Iterable[Pt], areas: Iterable[Area], res: Int): Long = {
    import graft.cell.CellIndex
    val covering = scala.collection.mutable.HashMap.empty[Long, Int]
    areas.foreach(a => CellIndex.rectCover(a.lon0, a.lat0, a.lon1, a.lat1, res)
      .foreach(c => covering(c) = covering.getOrElse(c, 0) + 1))
    pts.iterator.map(p => covering.getOrElse(CellIndex.encode(p.lon, p.lat, res), 0).toLong).sum
  }

  /** Candidate ratios of the traced ops: `candidates(kind)` gives an op
    * kind's cell-join candidates (absent: the op has no refine); survivors
    * come from the executed plans' SQL metrics. */
  def query(t: Tracer, docs: Double, candidates: String => Option[Long],
      pipNs: Double): Map[String, Double] = {
    val refined = t.opIds.flatMap(i => candidates(t.opName(i)).map(c => (c, t.sparkOf(i).survivors)))
    val cand = refined.map(_._1).sum.toDouble
    val surv = refined.map(_._2).sum.toDouble
    Map("query.candidates_per_doc" -> cand / math.max(1.0, docs),
      "query.survivors_per_candidate" -> (if (cand == 0) 0.0 else surv / cand),
      "geom.refine_ms_est" -> (if (refined.isEmpty) 0.0 else pipNs * cand / refined.size / 1e6))
  }

  /** Mean nanoseconds per call of `f` over `n` calls, best of three
    * passes (the first pass also warms the call site). */
  def nsPerCall(n: Int)(f: Int => Long): Double = {
    var sink = 0L
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { sink += f(i); i += 1 }
      (System.nanoTime() - t0).toDouble / n
    }
    if (sink == Long.MinValue) println(sink) // keeps the calls observable
    times.min
  }

  private def medianMs(reps: Int)(body: => Unit): Double =
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    })

  /** Layer probes every workload reports, timed from outside over its own
    * inputs: the world derivations as their own actions, cell encoding
    * over its coordinates, and the exact point-in-polygon test over the
    * admin areas of `level` against a sample of its points. */
  def probes(spark: org.apache.spark.sql.SparkSession, sfDir: String, pts: Array[Pt],
      areasBuildMs: Option[Double], level: Int): Map[String, Double] = {
    import org.apache.spark.sql.functions._
    import graft.gen.GeoWorld
    val areasMs = areasBuildMs.getOrElse(medianMs(1)(GeoWorld.areas(spark, sfDir).count()))
    val pointsMs = medianMs(3)(GeoWorld.points(spark, sfDir)
      .agg(count(lit(1)), sum("lonm"), sum("latm")).collect())
    val docsMs = medianMs(3)(GeoWorld.docs(spark, sfDir).agg(count(lit(1)), sum(size(col("spans")))).collect())
    val n = math.min(pts.length, 100000)
    val encodeNs = nsPerCall(n)(i => graft.cell.CellIndex.encode(pts(i).lon, pts(i).lat, graft.cell.CellIndex.RES_COARSE))
    val wkbs = GeoWorld.areas(spark, sfDir).filter(col("level") === level)
      .select("wkb").collect().map(_.getAs[Array[Byte]](0))
    val pipNs = nsPerCall(n)(i =>
      if (graft.geom.GeoCache.containsCoord(wkbs(i % wkbs.length), pts(i).lon, pts(i).lat)) 1L else 0L)
    Map("gen.areas_build_ms" -> areasMs, "gen.points_ms" -> pointsMs, "gen.docs_ms" -> docsMs,
      "cell.encode_ns" -> encodeNs, "geom.pip_ns" -> pipNs)
  }

  /** Mean time of AstJson.read + AstTranslator.translate over a seeded
    * query stream (the types whose translation plans without running a
    * job), for workloads whose own ops do not go through the wire API. */
  def translateProbe(spark: org.apache.spark.sql.SparkSession, sfDir: String, seed: Long): Double = {
    val qs = Gen.queryStream(seed, 24).filterNot(_.contains("NearbyRanked"))
    Stats.median(qs.map { q =>
      val t0 = System.nanoTime()
      graft.api.AstJson.read(q).flatMap(a =>
        graft.api.AstTranslator.translate(spark, sfDir, a).left.map(_.msg))
        .fold(e => sys.error(s"probe query failed: $e"), identity)
      (System.nanoTime() - t0) / 1e6
    })
  }
}
