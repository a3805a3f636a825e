package graft

import org.apache.spark.sql.functions._
import graft.gen.GeoWorld
import graft.index.TagOps
import graft.streaming.StreamNormalize
import java.nio.file.Files

/** Streaming normalize parity + sketch error bounds. */
class StreamAndStatsSpec extends SparkSpec {

  test("streaming normalize over a file stream equals the batch normalize") {
    val dir = Files.createTempDirectory("graft-stream").toString
    val docs = GeoWorld.docs(spark, sfDir)
    docs.write.mode("overwrite").parquet(s"$dir/in")

    val stream = StreamNormalize.fromParquetDir(spark, s"$dir/in", docs)
    val q = stream.writeStream
      .format("memory")
      .queryName("norm_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    val streamed = spark.table("norm_stream")
      .select("doc_id", "offset", "kind", "cell").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3))).toSet
    val batch = StreamNormalize.normalize(docs)
      .select("doc_id", "offset", "kind", "cell").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("approx_count_distinct stays within 5% of the exact distinct (G7 sketch)") {
    val exact = TagOps.distinctTagsByCell(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val approx = TagOps.approxDistinctTagsByCell(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact.keySet === approx.keySet)
    exact.foreach { case (cell, n) =>
      val a = approx(cell)
      assert(math.abs(a - n) <= math.max(1L, (n * 0.05).toLong), s"cell $cell: exact=$n approx=$a")
    }
  }

  test("tag whitelist keeps only vocabulary tags and drops the rest") {
    val wl = TagOps.tagWhitelist(spark, sfDir)
    assert(wl.filter(col("tag_k") === "leisure").count() === 0)
    assert(wl.count() > 0)
    val all = GeoWorld.points(spark, sfDir)
    assert(wl.count() === all.filter(col("tag_k") =!= "leisure").count())
  }

  test("stateful assembler on a BATCH Dataset: incomplete docs buffer without crashing (no watermark to read)") {
    // Catalyst strips withWatermark from batch plans, so
    // state.getCurrentWatermarkMs() throws there — the documented
    // batch-mode path must skip timeout arming, not crash (review finding).
    import spark.implicits._
    import graft.streaming.{SpanIn, StatefulAssemble}
    val ts = new java.sql.Timestamp(0L)
    val spans = Seq(
      SpanIn("d_1", 0, "point", "1,2", "", 2, ts),
      SpanIn("d_1", 1, "point", "3,4", "", 2, ts),
      SpanIn("d_2", 0, "point", "5,6", "", 3, ts)) // incomplete: 1 of 3
      .toDS()
    val out = StatefulAssemble.assemble(spark, spans).collect()
    assert(out.map(_.doc_id).toSeq === Seq("d_1") && out.head.complete)
  }

  test("stateful assembler: docs split across micro-batches (and a restart) complete with batch-identical fingerprints") {
    import spark.implicits._
    import graft.streaming.{SpanIn, StatefulAssemble}
    val dir = Files.createTempDirectory("graft-assemble").toString
    val spanRows = GeoWorld.docs(spark, sfDir)
      .select(col("doc_id"), size(col("spans")).cast("int").as("n_spans"), explode(col("spans")).as("s"))
      .select(col("doc_id"), col("s.offset").as("offset"), col("s.kind").as("kind"),
        col("s.text").as("text"), col("s.media_ref").as("media_ref"), col("n_spans"),
        expr("timestampadd(SECOND, CAST(split(doc_id, '_')[1] AS BIGINT) % 3600, timestamp'2026-01-01 00:00:00')").as("ts"))
      .as[SpanIn]
    // micro-batch 1: spans with offset < 4 (multi-span docs are CUT MID-DOC);
    // micro-batch 2 (after a query restart from checkpoint): the rest.
    // Watermark 2h > the 1h event-time spread: batch-2 re-deliveries of old
    // event times are NOT late, and no eviction fires mid-test.
    spanRows.filter(col("offset") < 4).write.parquet(s"$dir/in/b1")
    def runOnce(): Unit = {
      val in = spark.readStream.schema(spanRows.schema).parquet(s"$dir/in/*").as[SpanIn]
      val q = StatefulAssemble.assemble(spark, in, watermark = "2 hours").writeStream
        .format("parquet").option("path", s"$dir/out").outputMode("append")
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    runOnce()
    val afterB1 = spark.read.parquet(s"$dir/out").count()
    spanRows.filter(col("offset") >= 4).write.parquet(s"$dir/in/b2")
    runOnce() // restart: state recovered from the checkpoint
    val outRows = spark.read.parquet(s"$dir/out").collect()
    assert(outRows.forall(_.getBoolean(3)), "no doc may be dead-lettered here")
    val got = outRows.map(r => (r.getString(0), r.getString(2))).toMap
    val expected = graft.query.GeoQueries.spanRoundtrip(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(got.size === expected.size)
    assert(afterB1 > 0 && afterB1 < got.size) // some docs really did span batches
    assert(got === expected) // stream fingerprints == batch spanRoundtrip fingerprints
  }

  test("stateful assembler: replayed spans dedup by offset; never-completing docs are evicted to dead-letter by event-time timeout") {
    import spark.implicits._
    import graft.streaming.{SpanIn, StatefulAssemble}
    val dir = Files.createTempDirectory("graft-evict").toString
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(plusSec: Long) = new java.sql.Timestamp(t0.getTime + plusSec * 1000)
    def span(doc: String, off: Int, n: Int, ts: java.sql.Timestamp) =
      SpanIn(doc, off, "point", s"$doc-$off", "", n, ts)
    // b1: doc_a misses span 1 forever; doc_b completes; doc_c gets span 0
    // TWICE (at-least-once replay) + span 1 — the duplicate must NOT
    // complete it early in place of the missing span 2
    Seq(span("doc_a", 0, 2, at(0)),
      span("doc_b", 0, 2, at(0)), span("doc_b", 1, 2, at(0)),
      span("doc_c", 0, 3, at(0)), span("doc_c", 0, 3, at(0)), span("doc_c", 1, 3, at(0)))
      .toDS().write.parquet(s"$dir/in/b1")
    val schema = implicitly[org.apache.spark.sql.Encoder[SpanIn]].schema
    def runOnce(): Unit = {
      val in = spark.readStream.schema(schema).parquet(s"$dir/in/*").as[SpanIn]
      val q = StatefulAssemble.assemble(spark, in, watermark = "5 seconds").writeStream
        .format("parquet").option("path", s"$dir/out").outputMode("append")
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    runOnce()
    val afterB1 = spark.read.parquet(s"$dir/out").collect()
    assert(afterB1.map(_.getString(0)).toSet === Set("doc_b"), "duplicate offset must not complete doc_c")
    // b2: doc_c's real span 2 arrives (before its timeout) + a watermark tick
    Seq(span("doc_c", 2, 3, at(0)), span("doc_z", 0, 1, at(600))).toDS()
      .write.parquet(s"$dir/in/b2")
    runOnce()
    // b3: another tick pushes the watermark past doc_a's timeout -> eviction
    Seq(span("doc_y", 0, 1, at(1200))).toDS().write.parquet(s"$dir/in/b3")
    runOnce()
    val out = spark.read.parquet(s"$dir/out").collect()
      .map(r => (r.getString(0), (r.getInt(1), r.getString(2), r.getBoolean(3)))).toMap
    // doc_c completed with the fingerprint of its 3 DISTINCT spans
    val expectedC = StatefulAssemble.fingerprint(Seq(
      (0, "point", "doc_c-0", ""), (1, "point", "doc_c-1", ""), (2, "point", "doc_c-2", "")))
    assert(out("doc_c") === ((3, expectedC, true)))
    // doc_a evicted as dead-letter with its partial buffer
    assert(out("doc_a")._1 === 1 && !out("doc_a")._3, "doc_a must be dead-lettered")
    assert(out("doc_b")._3 && out("doc_z")._3 && out("doc_y")._3)
    // state drained: one more tick produces no further rows for a/c
    Seq(span("doc_x", 0, 1, at(1800))).toDS().write.parquet(s"$dir/in/b4")
    runOnce()
    val finalCount = spark.read.parquet(s"$dir/out").count()
    assert(finalCount === out.size + 1) // only doc_x was added
  }

  test("watermarked event-time windowed cell counts equal the batch windows") {
    val dir = Files.createTempDirectory("graft-window").toString
    val docs = GeoWorld.docs(spark, sfDir)
    docs.write.mode("overwrite").parquet(s"$dir/in")
    val stream = StreamNormalize.windowedCellCounts(
      spark.readStream.schema(docs.schema).parquet(s"$dir/in"))
    val q = stream.writeStream
      .format("memory").queryName("wcounts").outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("wcounts").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSet
    val batch = StreamNormalize.windowedCellCounts(docs).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch)
    assert(streamed.map(_._1).size > 1) // multiple event-time windows exist
  }

  test("stream-static enrich join: windowed per-area counts equal the batch twin") {
    val dir = Files.createTempDirectory("graft-enrich").toString
    val docs = GeoWorld.docs(spark, sfDir)
    docs.write.mode("overwrite").parquet(s"$dir/in")
    val areas = GeoWorld.areas(spark, sfDir).filter(col("level") === 4)
    val stream = StreamNormalize.enrichedAreaCounts(
      spark.readStream.schema(docs.schema).parquet(s"$dir/in"), areas)
    assert(stream.isStreaming, "the enrich join must stay a streaming plan")
    val q = stream.writeStream
      .format("memory").queryName("enrich").outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("enrich").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSet
    val batch = StreamNormalize.enrichedAreaCounts(docs, areas).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch)
    assert(streamed.map(_._1).size > 1, "multiple event-time windows")
    assert(streamed.map(_._2).size > 1, "multiple areas enriched")
  }

  test("streaming as-of enrich (LOCF state) equals the batch as-of across micro-batches and a restart") {
    import spark.implicits._
    import graft.streaming.{AsOfIn, StreamAsOf}
    val dir = Files.createTempDirectory("graft-sasof").toString
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"), col("value"))
      .as[AsOfIn]
    // split at the median ts: per-user event-time order is preserved across
    // the two micro-batches (the keyed-partition delivery contract)
    val cut = ev.select(percentile_approx(col("ts"), lit(0.5), lit(1000)))
      .head.getAs[java.time.LocalDateTime](0)
    ev.filter(col("ts") < cut).write.parquet(s"$dir/in/b1")
    def runOnce(): Unit = {
      val in = spark.readStream.schema(ev.schema).parquet(s"$dir/in/*").as[AsOfIn]
      val q = StreamAsOf.enrich(spark, in).writeStream
        .format("parquet").option("path", s"$dir/out").outputMode("append")
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    runOnce()
    val afterB1 = spark.read.parquet(s"$dir/out").count()
    ev.filter(col("ts") >= cut).write.parquet(s"$dir/in/b2")
    runOnce() // restart: profile state recovered from the checkpoint
    val got = spark.read.parquet(s"$dir/out").collect()
      .map(r => r.getLong(0) -> (r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    val expected = graft.query.AsOf.purchasesWithProfile(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    assert(afterB1 > 0 && afterB1 < expected.size,
      "the split must leave purchases in BOTH micro-batches")
    assert(got.size === expected.size)
    assert(got === expected,
      "stream LOCF enrichment must be row-identical to the batch as-of join")
  }

  test("streaming search over the persisted name index ranks IDENTICALLY to the batch q_name_ranked path") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, explode, split, pmod, xxhash64, lit}
    // build the persisted postings index on the REAL corpus (the
    // nameIndexedSearch build shape: token-hash-bucketed snapshot table)
    val corpus = graft.query.GeoQueries.nameCorpus(spark, sfDir)
    val n = corpus.count()
    val root = Files.createTempDirectory("graft-streamsearch").toString
    val t = new graft.index.SnapshotTable(spark, root, manifestTargetFiles = 16)
    t.init(corpus
      .select(col("kind"), col("id"), explode(split(col("name"), "_")).as("token"))
      .distinct()
      .withColumn("part", pmod(xxhash64(col("token")),
        lit(graft.index.SnapshotQueries.NAME_IDX_BUCKETS)))
      .repartition(col("part")))
    // two real queries in batch 1; no-match ticks in b2/b3 advance the
    // watermark past the emission gap so the timeouts fire
    val dir = Files.createTempDirectory("graft-streamsearch-io").toString
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(plusSec: Long) = new java.sql.Timestamp(t0.getTime + plusSec * 1000)
    Seq((1L, "state 7", at(0)), (2L, "state 3", at(0)))
      .toDF("qid", "query", "ts").write.parquet(s"$dir/in/b1")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("qid", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("query", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType)))
    def runOnce(): Unit = {
      val in = spark.readStream.schema(schema).parquet(s"$dir/in/*")
      val q = graft.streaming.StreamSearch
        .searchStream(spark, in, t, n, k = 12, watermark = "5 seconds")
        .writeStream.format("parquet").option("path", s"$dir/out")
        .outputMode("append").option("checkpointLocation", s"$dir/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      ()
    }
    runOnce()
    Seq((999L, "nomatch_zzz", at(600))).toDF("qid", "query", "ts").write.parquet(s"$dir/in/b2")
    runOnce()
    Seq((998L, "nomatch_yyy", at(1200))).toDF("qid", "query", "ts").write.parquet(s"$dir/in/b3")
    runOnce()
    val got = spark.read.parquet(s"$dir/out").collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getString(2), r.getLong(3), r.getLong(4))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // rank parity with the batch path, per query, on the same corpus
    def batch(q: String) = graft.query.GeoQueries.nameRanked(spark, sfDir, q, 12)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(got(1L) === batch("state 7"), "stream vs batch rank mismatch for 'state 7'")
    assert(got(2L) === batch("state 3"), "stream vs batch rank mismatch for 'state 3'")
    assert(got(1L).nonEmpty && got(2L).nonEmpty)
    // a query matching nothing emits nothing (the batch path's empty result)
    assert(!got.contains(999L) && !got.contains(998L))
  }

  test("live index/search loop: a doc ingested by the postings stream ranks after the search stream restarts") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, explode, split, pmod, xxhash64, lit}
    import org.apache.spark.sql.types._
    // seed index: two docs sharing the token 'alpha' with doc 1
    val root = Files.createTempDirectory("graft-livesearch").toString
    val t = new graft.index.SnapshotTable(spark, root)
    def post(rows: Seq[(String, Long, String)]) = rows.toDF("kind", "id", "name")
      .select(col("kind"), col("id"), explode(split(col("name"), "_")).as("token"))
      .distinct()
      .withColumn("part", pmod(xxhash64(col("token")),
        lit(graft.index.SnapshotQueries.NAME_IDX_BUCKETS)))
    t.init(post(Seq(("node", 1L, "alpha_one"), ("node", 2L, "beta_two"))))
    val dir = Files.createTempDirectory("graft-livesearch-io").toString
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(plusSec: Long) = new java.sql.Timestamp(t0.getTime + plusSec * 1000)
    val qSchema = StructType(Seq(StructField("qid", LongType),
      StructField("query", StringType), StructField("ts", TimestampType)))
    def search(n: Long, outDir: String, ckpt: String): Unit = {
      val in = spark.readStream.schema(qSchema).parquet(s"$dir/q/*")
      val q = graft.streaming.StreamSearch
        .searchStream(spark, in, t, n, k = 5, watermark = "5 seconds")
        .writeStream.format("parquet").option("path", outDir)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(120000); ()
    }
    def fire(tag: String, fromSec: Long): Unit = {
      // the query + two watermark ticks (the 3-batch emission pattern)
      Seq((fromSec, s"alpha")).map { case (s, q) => (s, q, at(s)) }
        .map { case (s, q, ts) => (s + 1L, q, ts) } // qid distinct per phase
        .toDF("qid", "query", "ts").write.mode("append").parquet(s"$dir/q/b${tag}1")
      Seq((900L + fromSec, "zzz_tick", at(fromSec + 600)))
        .toDF("qid", "query", "ts").write.mode("append").parquet(s"$dir/q/b${tag}2")
      search(2, s"$dir/out$tag", s"$dir/ckpt$tag")
      Seq((901L + fromSec, "yyy_tick", at(fromSec + 1200)))
        .toDF("qid", "query", "ts").write.mode("append").parquet(s"$dir/q/b${tag}3")
      search(2, s"$dir/out$tag", s"$dir/ckpt$tag")
    }
    fire("A", 0)
    val before = spark.read.parquet(s"$dir/outA").filter(col("qid") === 1L)
      .collect().map(_.getLong(3)).toSet
    assert(before === Set(1L), "only doc 1 matches 'alpha' before the ingest")
    // LIVE INGEST: doc 3 ('alpha_three') merges through the postings stream
    val pSchema = StructType(Seq(StructField("kind", StringType),
      StructField("id", LongType), StructField("token", StringType),
      StructField("part", LongType)))
    post(Seq(("node", 3L, "alpha_three"))).write.mode("append").parquet(s"$dir/p/in")
    val ingest = graft.index.StreamIngest.upsertStream(
      spark.readStream.schema(pSchema).parquet(s"$dir/p/in"), t,
      Seq("kind", "id", "token"), s"$dir/p/ckpt")
    ingest.awaitTermination(120000)
    assert(t.currentVersion === 2)
    // a RESTARTED search stream (fresh plan → new snapshot) serves doc 3;
    // the old run's fixed snapshot is exactly the documented isolation
    fire("B", 30)
    val after = spark.read.parquet(s"$dir/outB").filter(col("qid") === 31L)
      .collect().map(_.getLong(3)).toSet
    assert(after === Set(1L, 3L), "the ingested doc must rank after the search restarts")
  }

  test("streaming dedup within watermark: a replayed source delivers each span once") {
    val dir = Files.createTempDirectory("graft-sdedup").toString
    val docs = GeoWorld.docs(spark, sfDir)
    // the "at-least-once source": the SAME doc set delivered twice
    docs.write.parquet(s"$dir/in/replay1")
    docs.write.parquet(s"$dir/in/replay2")
    val deduped = StreamNormalize.dedupSpans(
      spark.readStream.schema(docs.schema).parquet(s"$dir/in/*"))
    val q = deduped.writeStream
      .format("memory").queryName("sdedup").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val nOut = spark.table("sdedup").count()
    val nDistinct = docs.select(explode(col("spans"))).count()
    assert(nOut === nDistinct, "each (doc_id, offset) must survive exactly once")
    assert(spark.table("sdedup").select("doc_id", "offset").distinct().count() === nOut)
  }
}
