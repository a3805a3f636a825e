package graft

import graft.query.GeoQueries

/** Plan-shape regression tests: the physical plans the engine RELIES on for
  * 100 TB viability (column pruning to the scan, broadcast vs shuffle join
  * choice, whole-stage codegen around the cell encode). */
class PlanShapeSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def formatted(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("PIP lookup: point side streams through a broadcast hash join (no shuffle before refine)") {
    val p = plan(GeoQueries.pipLookup(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"))
  }

  test("column pruning reaches the parquet scan (2-column lineitem read)") {
    val f = formatted(GeoQueries.pipLookup(spark, sfDir))
    assert(f.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int>"), f.take(1500))
  }

  test("cell encode runs inside WholeStageCodegen (no codegen break at zcell)") {
    val df = GeoQueries.cellPoints(spark, sfDir)
    df.collect() // materialise THIS query so AQE finalises its physical plan
    val p = plan(df)
    // "*(n)" prefixes mark WholeStageCodegen stages in the compact tree;
    // the zcell Project must be inside one
    assert("""\*\(\d+\) Project \[pid.*zcell""".r.findFirstIn(p).isDefined, p.take(1200))
    assert(!p.contains("BatchEvalPython"))
  }

  test("kNN pass is a cell equi-join: no cartesian / broadcast-NL product in the plan") {
    import org.apache.spark.sql.functions._
    import graft.cell.{CellFunctions, CellIndex}
    val pts = graft.gen.GeoWorld.points(spark, sfDir).select(
      col("pid"), col("lon"), col("lat"),
      CellFunctions.zcell(col("lon"), col("lat"), lit(CellIndex.RES_COARSE)).as("cell"))
    val pr = GeoQueries.probes(spark, sfDir)
    val p = plan(GeoQueries.knnPass(spark, pts, pr, 3, 5, 600000.0))
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("BroadcastNestedLoop"), p.take(800))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("POI catalog query: catalog and area cover both broadcast; point side never sort-merges") {
    val p = plan(graft.query.PoiCatalog.poisOf(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p.take(800))
  }

  test("bucketed pair generators never produce a cartesian plan") {
    for (q <- Seq("q_text_simhash_pairs", "q_embed_neardup", "q_embed_ivf", "q_text_minhash_pairs")) {
      val p = plan(SparkEntry.queries(q)(spark, sfDir))
      assert(!p.contains("CartesianProduct"), s"$q:\n${p.take(600)}")
      // the deliberate exception: IVF centroid assignment is an n x K
      // cross-vs-broadcast product (the quantizer's indexing cost), so only
      // forbid BroadcastNestedLoop for the pure LSH/banding generators
      if (q != "q_embed_ivf") assert(!p.contains("BroadcastNestedLoop"), s"$q:\n${p.take(600)}")
    }
  }

  test("tile assignment runs on native codegen'd expressions — no Scala UDF in the hot path") {
    for (q <- Seq("q_tile_assign", "q_raster_vector", "q_tile_pyramid")) {
      val df = SparkEntry.queries(q)(spark, sfDir)
      df.collect() // let AQE finalise
      val p = plan(df)
      assert(!p.contains("UDF"), s"$q still invokes a UDF:\n${p.take(800)}")
      assert(!p.contains("BatchEvalPython"), q)
    }
  }

  test("round-4 queries: every join is a broadcast-hash equi-join (no cartesian / BNL / sort-merge)") {
    for (q <- Seq("q_relation_mixed", "q_geojson_area", "q_geojson_dispatch")) {
      val p = plan(SparkEntry.queries(q)(spark, sfDir))
      assert(!p.contains("CartesianProduct"), s"$q:\n${p.take(600)}")
      assert(!p.contains("BroadcastNestedLoop"), s"$q:\n${p.take(600)}")
      assert(!p.contains("SortMergeJoin"), s"$q:\n${p.take(600)}")
    }
  }

  test("round-5 queries: no cartesian or sort-merge; BNL only as a 1-row total attach") {
    val oneRowAttach = Set("q_text_unigram_lm", "q_sample_temperature")
    for (q <- Seq("q_text_para_dedup", "q_text_unigram_lm", "q_sample_temperature",
        "q_shard_pack", "q_media_caption", "q_index_upsert", "q_area_polyfill",
        "q_text_ngram_mine", "q_semantic_search")) {
      val p = plan(SparkEntry.queries(q)(spark, sfDir))
      assert(!p.contains("CartesianProduct"), s"$q:\n${p.take(600)}")
      assert(!p.contains("SortMergeJoin"), s"$q:\n${p.take(600)}")
      // the corpus-total / min-lang-count scalar rides a 1-row broadcast
      // (prints as BroadcastNestedLoop but multiplies by exactly 1)
      if (!oneRowAttach(q))
        assert(!p.contains("BroadcastNestedLoop"), s"$q:\n${p.take(600)}")
    }
  }

  /** Every caller of the filter-and-refine operator ([[graft.query.SpatialJoin]]):
    * the catalog queries, plus the headline bench job. */
  private val filterAndRefine: Seq[(String, () => org.apache.spark.sql.DataFrame)] =
    Seq("q_pip_nation", "q_pip_district", "q_revgeo", "q_poi_area", "q_poi_catalog",
      "q_containment", "q_area_chain", "q_metro_fuzzy", "q_fuzzy_invalid", "q_pip_enclave",
      "q_enclave_within", "q_pip_baarle", "q_dateline_bbox", "q_stream_enrich")
      .map(q => q -> (() => SparkEntry.queries(q)(spark, sfDir))) :+
      ("Headline.job" -> (() => graft.bench.Headline.job(spark, sfDir)))

  test("filter-and-refine queries: broadcast-hash candidate join, no SMJ/cartesian/BNL") {
    for ((q, df) <- filterAndRefine) {
      val p = plan(df())
      assert(p.contains("BroadcastHashJoin"), s"$q:\n${p.take(600)}")
      for (op <- Seq("SortMergeJoin", "CartesianProduct", "BroadcastNestedLoop"))
        assert(!p.contains(op), s"$q has $op:\n${p.take(600)}")
    }
  }

  test("ranked search / baarle newcomers: no cartesian / BNL / sort-merge anywhere") {
    for (q <- Seq("q_name_ranked", "q_name_indexed", "q_baarle_polyfill", "q_baarle_stats")) {
      val p = plan(SparkEntry.queries(q)(spark, sfDir))
      assert(!p.contains("CartesianProduct"), s"$q:\n${p.take(600)}")
      assert(!p.contains("BroadcastNestedLoop"), s"$q:\n${p.take(600)}")
      assert(!p.contains("SortMergeJoin"), s"$q:\n${p.take(600)}")
    }
    // ranked search: the per-token weights ride a broadcast, the top-k is
    // a TakeOrdered (never a global sort of the scored set)
    val ranked = plan(SparkEntry.queries("q_name_ranked")(spark, sfDir))
    assert(ranked.contains("BroadcastHashJoin"), ranked.take(800))
    assert(ranked.contains("TakeOrderedAndProject"), ranked.take(800))
  }

  test("DSv2 snapshot scan appears as a pruned BatchScan in the SQL-served bbox fetch") {
    val df = SparkEntry.queries("q_snap_sql")(spark, sfDir)
    val p = plan(df)
    assert(p.contains("BatchScan"), p.take(800))
    assert(p.contains("graft-snapshot scan"), "the scan description must report manifest pruning\n" + p.take(800))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p.take(800))
  }

  test("optimizer rule collapses zcell_parent(zcell(x, r), r, r2) into one coarse encode") {
    import org.apache.spark.sql.functions._
    import graft.cell.{CellFunctions, CellIndex}
    CellFunctions.register(spark)
    val pts = spark.range(8).select(
      (col("id") * 1.5 - 3.0).as("lon"), (col("id") * 0.7 - 1.0).as("lat"))
    val df = pts.select(CellFunctions.zcellParent(
      CellFunctions.zcell(col("lon"), col("lat"), lit(11)), lit(11), lit(4)).as("p4"))
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.contains("zcell_parent"), opt)
    assert(opt.contains("zcell("), opt)
    // the rewritten plan computes exactly the coarse encode
    val got = df.collect().map(_.getLong(0)).toSeq
    val want = (0 until 8).map { i =>
      CellIndex.encode(i * 1.5 - 3.0, i * 0.7 - 1.0, 4) }
    assert(got === want)
  }

  test("parent-equality filter becomes a sargable cell range pushed to the parquet scan") {
    import org.apache.spark.sql.functions._
    import graft.cell.{CellFunctions, CellIndex}
    CellFunctions.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("cellpush").toString
    graft.gen.GeoWorld.points(spark, sfDir)
      .select(col("pid"), CellFunctions.zcell(col("lon"), col("lat"),
        lit(CellIndex.RES_MID)).as("cell"))
      .sort("cell").write.mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)
    val someCell = stored.head.getLong(1)
    val p = CellIndex.parent(someCell, CellIndex.RES_MID, 4)
    val q = stored.filter(CellFunctions.zcellParent(col("cell"),
      lit(CellIndex.RES_MID), lit(4)) === lit(p))
    val expect = stored.collect()
      .count(r => CellIndex.parent(r.getLong(1), CellIndex.RES_MID, 4) == p)
    assert(q.count() === expect.toLong, "rewritten predicate selects the same rows")
    val phys = q.queryExecution.executedPlan.toString
    assert(!phys.contains("zcell_parent"), phys.take(800))
    assert(phys.contains("PushedFilters:") && phys.contains("GreaterThanOrEqual(cell")
      && phys.contains("LessThanOrEqual(cell"),
      s"range must reach the scan's PushedFilters:\n${phys.take(1200)}")
  }

  test("sargable rewrite declines out-of-domain parent literals (no shift overflow)") {
    import org.apache.spark.sql.functions._
    import graft.cell.CellFunctions
    CellFunctions.register(spark)
    // p = 2^50 cannot be a res-4 parent: the original predicate is false
    // for every row; an unguarded rewrite would wrap (p << 28) and match
    // real cells. The rule must leave the predicate untouched.
    val df = spark.range(100).select(col("id").as("cell"))
      .filter(CellFunctions.zcellParent(col("cell"), lit(11), lit(4)) === lit(1L << 50))
    assert(df.queryExecution.optimizedPlan.toString.contains("zcell_parent"))
    assert(df.count() === 0)
  }

  test("salted PIP variant shuffles instead of broadcasting the big side") {
    val p = plan(GeoQueries.pipLookupSalted(spark, sfDir))
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"), p.take(800))
  }

  test("metro fuzzy-within: principal-cell candidates broadcast, never a geometry cross product") {
    val p = plan(GeoQueries.metroFuzzy(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p.take(800))
  }

  test("ngram jaccard df-cap plan: equi-joins only (no cartesian), cap aggregation present") {
    val p = plan(graft.text.TextOps.ngramJaccard(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p.take(800))
  }
}
