package graft

import org.apache.spark.sql.functions._
import graft.index.SnapshotTable

/** Iceberg-semantics pins for the snapshot table: COW partition scoping,
  * snapshot isolation / time travel, lineage, orphan expiry. */
class SnapshotTableSpec extends SparkSpec {

  import spark.implicits._

  private def freshTable() = {
    val root = java.nio.file.Files.createTempDirectory("snapspec").toString
    (root, new SnapshotTable(spark, root))
  }

  private def baseDf = (0L until 1000L).map(i => (i, i % 8, 1L))
    .toDF("id", "part", "ver").repartition(4)

  test("upsert rewrites ONLY touched partitions; others carry over by reference") {
    val (_, t) = freshTable()
    t.init(baseDf)
    val v1 = t.snapshot(1)
    // delta confined to partition 3: update ids 3, 11 and insert id 2003
    val delta = Seq((3L, 3L, 2L), (11L, 3L, 2L), (2003L, 3L, 2L)).toDF("id", "part", "ver")
    val v = t.upsert(delta, Seq("id"))
    assert(v === 2)
    val v2 = t.snapshot(2)
    val untouched1 = v1.filterNot(_.part == 3L).map(_.path).toSet
    val untouched2 = v2.filterNot(_.part == 3L).map(_.path).toSet
    assert(untouched1 === untouched2, "untouched partitions must keep the SAME files")
    assert(v2.filter(_.part == 3L).map(_.path).toSet
      .intersect(v1.filter(_.part == 3L).map(_.path).toSet).isEmpty,
      "touched partition files are fully rewritten")
  }

  test("merge result equals a from-scratch rebuild; time travel sees the old version") {
    val (_, t) = freshTable()
    t.init(baseDf)
    val delta = Seq((3L, 3L, 2L), (11L, 3L, 2L), (2003L, 3L, 2L)).toDF("id", "part", "ver")
    t.upsert(delta, Seq("id"))

    val got = t.read().select("id", "part", "ver").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expect = (0L until 1000L).map(i =>
      (i, i % 8, if (i == 3L || i == 11L) 2L else 1L)).toSet + ((2003L, 3L, 2L))
    assert(got === expect)

    // snapshot isolation: version 1 is untouched by the upsert
    val old = t.read(1).select("id", "ver").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(old === (0L until 1000L).map((_, 1L)).toSet)
  }

  test("per-partition lineage sums to table rows at every version") {
    val (_, t) = freshTable()
    t.init(baseDf)
    t.upsert(Seq((1L, 1L, 2L)).toDF("id", "part", "ver"), Seq("id"))
    assert(t.partLineage(1).values.sum === 1000L)
    assert(t.partLineage(2).values.sum === 1000L)
    assert(t.partLineage(1).keySet === (0L until 8L).toSet)
    // partition 1 was rewritten with the same row count (1 update, 0 inserts)
    assert(t.partLineage(2)(1L) === t.partLineage(1)(1L))
  }

  test("compaction bounds per-partition file counts without changing the data") {
    // a deliberately fragmented write: 8 random input partitions fan files
    // into every part directory. A stats-column table preserves the
    // caller's layout as-is (writeVersionDir re-clusters by part otherwise,
    // which would leave nothing to compact in this fixture).
    val root = java.nio.file.Files.createTempDirectory("snapspec").toString
    val t = new SnapshotTable(spark, root, statsCol = Some("id"))
    t.init((0L until 1000L).map(i => (i, i % 4, 1L)).toDF("id", "part", "ver").repartition(8))
    val before = t.snapshot(1).groupBy(_.part).map(_._2.size)
    assert(before.max > 1, "fixture must start fragmented")
    val dataBefore = t.read().collect().map(_.toSeq).toSet

    val v = t.compact(maxFiles = 1)
    assert(v === 2)
    assert(t.snapshot(2).groupBy(_.part).forall(_._2.size == 1), "one file per partition")
    assert(t.read().collect().map(_.toSeq).toSet === dataBefore, "compaction is layout-only")
    assert(t.partLineage(2) === t.partLineage(1))
    // nothing fragmented -> compaction is a no-op, no empty snapshot committed
    assert(t.compact(maxFiles = 1) === 2)
  }

  test("streaming upsert: micro-batches merge through the checkpoint, resume skips processed batches") {
    import org.apache.spark.sql.types._
    val (_, t) = freshTable()
    t.init(baseDf)
    val dir = java.nio.file.Files.createTempDirectory("snapstream").toString
    val schema = StructType(Seq(StructField("id", LongType), StructField("part", LongType),
      StructField("ver", LongType)))
    def runOnce(): Unit = {
      val in = spark.readStream.schema(schema).parquet(s"$dir/in")
      val q = graft.index.StreamIngest.upsertStream(in, t, Seq("id"), s"$dir/ckpt")
      q.awaitTermination(60000); ()
    }
    // batch 1: update ids 0..9 in partition-scoped deltas
    (0L until 10L).map(i => (i, i % 8, 2L)).toDF("id", "part", "ver")
      .write.mode("append").parquet(s"$dir/in")
    runOnce()
    assert(t.currentVersion === 2)
    assert(t.read().filter($"ver" === 2L).count() === 10)
    // batch 2 lands AFTER a restart from the same checkpoint: only the new
    // file is processed (offsets resumed), one more version, ids 0..9 stay
    Seq((2000L, 5L, 3L)).toDF("id", "part", "ver")
      .write.mode("append").parquet(s"$dir/in")
    runOnce()
    assert(t.currentVersion === 3, "exactly one version per NEW batch — no replay of batch 1")
    val got = t.read().select("id", "ver").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === ((0L until 1000L).map(i => (i, if (i < 10) 2L else 1L)).toSet + ((2000L, 3L))))
  }

  private def norm(p: String) =
    java.net.URLDecoder.decode(p.replaceFirst("^file:/*", "/"), "UTF-8")

  test("manifest partition pruning: readParts scans ONLY those partitions' files") {
    val (_, t) = freshTable()
    t.init(baseDf)
    val df = t.readParts(Set(2L, 5L))
    assert(df.select("part").distinct().collect().map(_.getLong(0)).toSet === Set(2L, 5L))
    assert(df.count() === 250)
    val manifestSubset = t.snapshot(1).filter(f => Set(2L, 5L)(f.part)).map(f => norm(f.path)).toSet
    assert(df.inputFiles.map(norm).toSet === manifestSubset,
      "the scan's file set must be exactly the manifest's pruned subset")
    // empty selection still resolves the schema without scanning
    assert(t.readParts(Set(99L)).count() === 0)
  }

  test("stats-bounds pruning: readRange scans only files overlapping the range") {
    val root = java.nio.file.Files.createTempDirectory("snapstats").toString
    val t = new graft.index.SnapshotTable(spark, root, statsCol = Some("id"))
    // ids contiguous per partition (part = id / 125) -> tight file bounds
    t.init((0L until 1000L).map(i => (i, i / 125, 1L)).toDF("id", "part", "ver").repartition(4))
    assert(t.snapshot(1).forall(f => f.lo.isDefined && f.hi.isDefined))
    val df = t.readRange(200, 300)
    val all = t.snapshot(1)
    val expected = all.filter(f => f.lo.get <= 300 && f.hi.get >= 200).map(f => norm(f.path)).toSet
    assert(df.inputFiles.map(norm).toSet === expected)
    assert(df.inputFiles.length < all.size, "pruning must actually skip files")
    // pruned scan + exact row filter == full scan + exact row filter
    assert(df.filter($"id".between(200, 300)).count() === 101)
    assert(t.read().filter($"id".between(200, 300)).count() === 101)
    // bounds survive an upsert commit (rewritten partition gets new stats)
    t.upsert(Seq((130L, 1L, 2L)).toDF("id", "part", "ver"), Seq("id"))
    assert(t.snapshot(2).forall(f => f.lo.isDefined && f.hi.isDefined))
    assert(t.readRange(125, 130).filter($"ver" === 2L).count() === 1)
  }

  test("a NON-NUMERIC stats column commits cleanly with match-all bounds (no footer-stats crash)") {
    val root = java.nio.file.Files.createTempDirectory("snapstr").toString
    val t = new graft.index.SnapshotTable(spark, root, statsCol = Some("name"))
    t.init(Seq((1L, 0L, "alpha"), (2L, 1L, "beta")).toDF("id", "part", "name"))
    // string statistics are Binary, not numeric: the file records NO bounds
    // (the old scan path's cast-to-null behavior) and matches every range
    assert(t.snapshot(1).forall(f => f.lo.isEmpty && f.hi.isEmpty))
    assert(t.readRange(100, 200).count() === 2)
  }

  test("a bound-less (all-NULL stats) file makes its PAGE match every range — packing cannot change results") {
    val root = java.nio.file.Files.createTempDirectory("snapnull").toString
    val t = new graft.index.SnapshotTable(spark, root, statsCol = Some("v"))
    // part 0 carries stats [0,99]; part 1's stats column is all NULL
    val df = (0L until 100L).map(i => (i, 0L, Some(i))).toDF("id", "part", "v")
      .unionByName(Seq((1000L, 1L, Option.empty[Long])).toDF("id", "part", "v"))
      .coalesce(1)
    t.init(df)
    // bound-less files are SEGREGATED into match-all pages; bounded files
    // keep tight page bounds (mixing would disable pruning for the page)
    val metas = t.manifestList(1)
    val (matchAll, boundedPages) = metas.partition(m => m.lo.isEmpty && m.hi.isEmpty)
    assert(matchAll.nonEmpty, "the NULL-stats file must live in a match-all page")
    assert(boundedPages.forall(m => m.lo.isDefined && m.hi.isDefined))
    // a range far outside part 0's stats still scans the NULL-stats file
    assert(t.readRange(100000, 200000).filter($"id" === 1000L).count() === 1)
    // ...while the bounded pages ARE pruned for that range
    assert(t.lastManifestsOpened.toSet === matchAll.map(_.path).toSet,
      "only the match-all pages may be opened for an out-of-bounds range")
  }

  test("a raced-away commit leaves no orphan manifest pages; crashed-writer pages are expired") {
    val (root, t) = freshTable()
    t.init(baseDf)
    def pages() = java.nio.file.Files.list(java.nio.file.Paths.get(root)).iterator()
    val before = {
      import scala.jdk.CollectionConverters._
      pages().asScala.map(_.getFileName.toString).filter(_.endsWith(".jsonl")).toSet
    }
    // simulate a PHOTO-FINISH race: the rival's snap-2 lands while OUR
    // upsert is mid-flight (the delta's evaluation side-effects the write,
    // which happens strictly after upsert read currentVersion = 1)
    val rival = org.apache.spark.sql.functions.udf { (part: Long) =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/snap-2.json"),
        """{"version":2,"parent":1,"manifests":[]}""")
      part
    }
    val delta = Seq((3L, 3L, 9L)).toDF("id", "part", "ver")
      .withColumn("part", rival($"part"))
    intercept[java.nio.file.FileAlreadyExistsException] {
      t.upsert(delta, Seq("id"))
    }
    val after = {
      import scala.jdk.CollectionConverters._
      pages().asScala.map(_.getFileName.toString).filter(_.endsWith(".jsonl")).toSet
    }
    assert(after === before, "the loser must delete its filtered AND new manifest pages")
    // a crashed writer's page (written, never committed) is swept by expire
    val stray = java.nio.file.Paths.get(s"$root/m-deadbeefdead.jsonl")
    java.nio.file.Files.writeString(stray, "")
    t.expire(keepLast = 10, orphanGraceMs = 0)
    assert(!java.nio.file.Files.exists(stray), "unreferenced loose page swept")
    assert(t.read(1).count() === 1000L, "live metadata untouched")
  }

  test("byte-target compaction with a stats column keeps per-file bounds TIGHT (range split, not round-robin)") {
    val root = java.nio.file.Files.createTempDirectory("snapsort").toString
    val t = new graft.index.SnapshotTable(spark, root, statsCol = Some("v"))
    // one fat clustered file: v strictly increasing
    t.init((0L until 65536L).map(i => (i, 0L, i)).toDF("id", "part", "v").coalesce(1))
    val fatBytes = t.snapshot(1).map(_.bytes).sum
    val v = t.compact(maxFiles = Int.MaxValue, targetFileBytes = fatBytes / 4 + 1)
    assert(v === 2)
    val files = t.snapshot(2)
    assert(files.size >= 3, s"fixture must split (got ${files.size})")
    // ranges must be (near-)disjoint: total covered span ~= sum of spans
    val spans = files.map(f => f.hi.get - f.lo.get + 1).sum
    assert(spans <= 65536L + files.size, s"file ranges overlap heavily (sum $spans) — clustering lost")
    // and readRange now skips files
    assert(t.readRange(0, 1000).count() >= 1001)
    assert(t.lastManifestsOpened.nonEmpty)
    val scanned = t.readRange(0, 1000).inputFiles.length
    assert(scanned < files.size, s"$scanned of ${files.size} — bounds must actually skip files")
  }

  test("COW delete removes keys, drops emptied partitions, time travel keeps them") {
    val (_, t) = freshTable()
    t.init(baseDf)
    // delete ALL of partition 7 plus two rows of partition 3
    val keys = ((7L until 1000L by 8).map(i => (i, 7L)) ++ Seq((3L, 3L), (11L, 3L)))
      .toDF("id", "part")
    assert(t.delete(keys, Seq("id")) === 2)
    assert(t.read().filter($"part" === 7L).count() === 0)
    assert(t.snapshot(2).forall(_.part != 7L), "an emptied partition vanishes from the manifest")
    assert(t.read().count() === 1000 - 125 - 2)
    assert(t.read(1).count() === 1000, "time travel still sees the deleted rows")
    val untouched = Set(0L, 1L, 2L, 4L, 5L, 6L)
    assert(t.snapshot(1).filter(f => untouched(f.part)).map(_.path).toSet ===
      t.snapshot(2).filter(f => untouched(f.part)).map(_.path).toSet,
      "untouched partitions carry over by reference")
  }

  test("merge key is (part, key): a delta under a different partition is a NEW identity") {
    val (_, t) = freshTable()
    t.init(baseDf)
    // id=5 lives in partition 5; a delta that derives part=2 for it does
    // NOT retire the partition-5 row (identity partitioning: part is part
    // of the merge key — see the upsert contract)
    t.upsert(Seq((5L, 2L, 2L)).toDF("id", "part", "ver"), Seq("id"))
    val rows = t.read().filter($"id" === 5L).select("part", "ver").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows === Set((5L, 1L), (2L, 2L)))
  }

  test("optimistic concurrency: a merge based on a stale version refuses to commit") {
    val (root, t) = freshTable()
    t.init(baseDf)
    // this writer reads the table at v1 and prepares its merge…
    val based = t.currentVersion
    // …meanwhile a racing writer advances the table to v2
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/snap-2.json"),
      """{"version":2,"parent":1,"manifests":[]}""")
    val before = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$root/snap-2.json"))
    intercept[IllegalStateException] {
      t.upsert(Seq((1L, 1L, 9L)).toDF("id", "part", "ver"), Seq("id"), basedOn = Some(based))
    }
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/snap-2.json")) === before, "the winner's commit is untouched")
    // after re-reading, the retry lands cleanly on v3
    assert(t.upsert(Seq((1L, 1L, 9L)).toDF("id", "part", "ver"), Seq("id"),
      basedOn = Some(t.currentVersion)) === 3)
  }

  test("bbox fetch over the snapshot index prunes to the cover cells' files and loses nothing") {
    val out = graft.index.SnapshotQueries.bboxIndexFetch(spark, sfDir)
    val gotPids = out.collect().map(_.getLong(0)).toSet
    // ground truth: plain bbox filter over the raw points
    val (lo0, la0, lo1, la1) = graft.index.SnapshotQueries.BBOX
    val want = graft.gen.GeoWorld.points(spark, sfDir)
      .filter($"lon" > lo0 && $"lon" < lo1 && $"lat" > la0 && $"lat" < la1)
      .select("pid").collect().map(_.getLong(0)).toSet
    assert(gotPids === want, "manifest pruning must lose no rows")
    // and the scan genuinely pruned: fewer files than the full table
    val root = graft.index.SnapshotQueries.rootFor("snap-bbox", sfDir)
    val t = new graft.index.SnapshotTable(spark, root)
    assert(out.inputFiles.length < t.snapshot(1).size,
      s"${out.inputFiles.length} scanned of ${t.snapshot(1).size} total files")
    // …and at the METADATA level too: the route cells' covering manifests
    // are a strict subset of the paged manifest list, so the read expanded
    // only the region's metadata, never the world's
    val parts = graft.cell.CellIndex.rectCover(lo0, la0, lo1, la1,
      graft.index.SnapshotQueries.ROUTE_RES).toSet
    val all = t.manifestList(1)
    val covering = all.filter(m => parts.exists(p => m.partLo <= p && p <= m.partHi))
    assert(all.size > 1, "fixture must page into several manifests")
    assert(covering.size < all.size,
      s"${covering.size} covering of ${all.size} manifests — pruning must skip pages")
  }

  test("paged manifests: a pruned read OPENS only the covering manifest pages") {
    val root = java.nio.file.Files.createTempDirectory("snappage").toString
    // 4-file pages over 16 partitions -> several pages with disjoint ranges
    val t = new SnapshotTable(spark, root, manifestTargetFiles = 4)
    t.init((0L until 1600L).map(i => (i, i % 16, 1L)).toDF("id", "part", "ver")
      .repartition(4, $"part")) // each part's files stay few -> clean ranges
    val all = t.manifestList(1)
    assert(all.size > 2, s"fixture must page (got ${all.size} manifests)")
    // bounds sanity: pages carry contiguous, ordered partition ranges
    assert(all.forall(m => m.partLo <= m.partHi))

    val wantParts = Set(2L)
    val df = t.readParts(wantParts)
    assert(df.select("part").distinct().collect().map(_.getLong(0)).toSet === wantParts)
    assert(df.count() === 100)
    val covering = all.filter(m => wantParts.exists(p => m.partLo <= p && p <= m.partHi))
    assert(t.lastManifestsOpened.toSet === covering.map(_.path).toSet,
      "the read must open EXACTLY the covering pages")
    assert(t.lastManifestsOpened.size < all.size,
      s"${t.lastManifestsOpened.size} opened of ${all.size} pages — pruning must skip pages")
  }

  test("upsert carries untouched manifest PAGES by reference (metadata is O(covering), not O(#files))") {
    val root = java.nio.file.Files.createTempDirectory("snapcarry").toString
    val t = new SnapshotTable(spark, root, manifestTargetFiles = 4)
    t.init((0L until 1600L).map(i => (i, i % 16, 1L)).toDF("id", "part", "ver")
      .repartition(4, $"part"))
    val v1 = t.manifestList(1)
    t.upsert(Seq((2L, 2L, 9L)).toDF("id", "part", "ver"), Seq("id"))
    val v2 = t.manifestList(2)
    // pages whose range misses part 2 must be the SAME page files
    val untouched1 = v1.filter(m => !(m.partLo <= 2L && 2L <= m.partHi)).map(_.path).toSet
    assert(untouched1.nonEmpty && untouched1.subsetOf(v2.map(_.path).toSet),
      "untouched pages carry by reference into the child snapshot")
    // and the touched page was rewritten, not carried
    val touched1 = v1.filter(m => m.partLo <= 2L && 2L <= m.partHi).map(_.path).toSet
    assert(touched1.intersect(v2.map(_.path).toSet).isEmpty,
      "pages covering the touched partition are replaced")
    // data parity after the page shuffle
    assert(t.read().filter($"id" === 2L).select("ver").head().getLong(0) === 9L)
    assert(t.read().count() === 1600L)
  }

  test("byte-target compaction splits a FAT partition into ~ceil(bytes/target) files, reads identical") {
    val root = java.nio.file.Files.createTempDirectory("snapfat").toString
    val t = new SnapshotTable(spark, root)
    // partition 0 is fat (64k rows in ONE file), partition 1 tiny
    t.init((0L until 65536L).map(i => (i, 0L, i % 997))
      .toDF("id", "part", "pay").coalesce(1)
      .unionByName(Seq((99999L, 1L, 7L)).toDF("id", "part", "pay")))
    val fat = t.snapshot(1).filter(_.part == 0L)
    assert(fat.size === 1, "fixture: fat partition starts as one file")
    val fatBytes = fat.map(_.bytes).sum
    val target = fatBytes / 4 + 1 // want ~4 output files
    val dataBefore = t.read().collect().map(_.toSeq).toSet

    val v = t.compact(maxFiles = Int.MaxValue, targetFileBytes = target)
    assert(v === 2)
    val after = t.snapshot(2).filter(_.part == 0L)
    val want = math.ceil(fatBytes.toDouble / target).toInt
    assert(after.size === want, s"split into ${after.size}, wanted $want")
    assert(t.snapshot(2).filter(_.part == 1L).map(_.path).toSet ===
      t.snapshot(1).filter(_.part == 1L).map(_.path).toSet,
      "the healthy partition carries by reference")
    assert(t.read().collect().map(_.toSeq).toSet === dataBefore, "compaction is layout-only")
    // already at target -> no-op
    assert(t.compact(maxFiles = Int.MaxValue, targetFileBytes = target) === 2)
  }

  test("a fully-deleted table (and an empty historical read) keeps ITS OWN schema") {
    val (_, t) = freshTable()
    t.init(baseDf)
    // delete everything
    val keys = (0L until 1000L).map(i => (i, i % 8)).toDF("id", "part")
    t.delete(keys, Seq("id"))
    val empty = t.read()
    assert(empty.count() === 0)
    assert(empty.columns.toSet === Set("id", "part", "ver"),
      "schema comes from the persisted table schema, not another version's files")
    // and the types are the table's own
    assert(empty.schema("id").dataType === org.apache.spark.sql.types.LongType)
    // an empty selection of a live version resolves the same way
    assert(t.readParts(Set(99L), version = 1).columns.toSet === Set("id", "part", "ver"))
  }

  test("expire sweeps crashed-attempt dirs and race-loser husks (orphan dirs)") {
    val (root, t) = freshTable()
    t.init(baseDf)
    // a writer that crashed before commit: an attempt dir referenced by NO manifest
    val crashed = java.nio.file.Paths.get(s"$root/v2-deadbeef/part=0")
    java.nio.file.Files.createDirectories(crashed)
    java.nio.file.Files.writeString(crashed.resolve("part-00000.parquet"), "junk")
    // a race loser whose files were already cleaned but whose dirs remain
    val husk = java.nio.file.Paths.get(s"$root/v2-cafecafe/part=3")
    java.nio.file.Files.createDirectories(husk)
    t.expire(keepLast = 10, orphanGraceMs = 0) // keep all snapshots; sweep orphans only
    assert(!java.nio.file.Files.exists(crashed.getParent), "crashed attempt dir swept")
    assert(!java.nio.file.Files.exists(husk.getParent), "race-loser husk swept")
    assert(t.read().count() === 1000L, "live data untouched")
    // live attempt dirs survive even with zero grace (their files are referenced)
    assert(t.snapshot(1).forall(f => java.nio.file.Files.exists(java.nio.file.Paths.get(f.path))))
  }

  test("filesMeta exposes the file inventory THROUGH Spark (no driver file list)") {
    val (_, t) = freshTable()
    t.init(baseDf)
    val meta = t.filesMeta()
    assert(meta.agg(sum("rows")).head().getLong(0) === 1000L)
    assert(meta.select("part").distinct().count() === 8L)
    // bytes recorded for every file
    assert(meta.filter($"bytes" <= 0L).count() === 0L)
  }

  test("maintenance planning is DISTRIBUTED: compact sees only the touched region's entries on the driver; expire none") {
    val root = java.nio.file.Files.createTempDirectory("snapdist").toString
    // stats-column table: writeVersionDir preserves the caller's layout
    // (a plain table re-clusters by part, defragmenting the fixture)
    val t = new SnapshotTable(spark, root, manifestTargetFiles = 4,
      statsCol = Some("id"))
    // 16 one-file partitions, except partition 2 which is fragmented 4 ways
    val others = (0L until 16L).filter(_ != 2L)
      .flatMap(p => (0L until 100L).map(i => (p * 1000 + i, p, 1L)))
      .toDF("id", "part", "ver").repartition(1)
    val frag = (0L until 100L).map(i => (2000L + i, 2L, 1L))
      .toDF("id", "part", "ver").repartition(4)
    t.init(others.unionByName(frag))
    val total = t.snapshot(1).size
    assert(t.snapshot(1).count(_.part == 2L) > 1, "fixture: partition 2 must be fragmented")
    val dataBefore = t.read().collect().map(_.toSeq).toSet

    assert(t.compact(maxFiles = 1) === 2)
    // THE SCALE PIN: planning ran over filesMeta() DataFrames, so the only
    // file entries the driver materialised are the touched partition's
    // covering manifests (splitParent) — never the table's inventory
    val covering = t.manifestList(1)
      .filter(m => m.partLo <= 2L && 2L <= m.partHi).map(_.files.toLong).sum
    assert(t.lastMaintenanceDriverEntries === covering,
      s"driver saw ${t.lastMaintenanceDriverEntries} entries, covering manifests hold $covering")
    assert(t.lastMaintenanceDriverEntries < total,
      s"${t.lastMaintenanceDriverEntries} of $total entries — the full inventory must never hit the driver")
    assert(t.read().collect().map(_.toSeq).toSet === dataBefore, "compaction is layout-only")

    // expire decides liveness with a distributed anti-join and sweeps via
    // executor-side deletes: ZERO file entries on the driver
    assert(t.expire(keepLast = 1, orphanGraceMs = 0) > 0)
    assert(t.lastMaintenanceDriverEntries === 0L,
      s"expire materialised ${t.lastMaintenanceDriverEntries} entries on the driver")
    assert(t.read().collect().map(_.toSeq).toSet === dataBefore, "expire keeps the live snapshot intact")
  }

  test("partial-progress compaction: bounded runs converge over successive commits") {
    // stats-column table: preserves the fragmented 8-task input layout
    // (a plain table's writeVersionDir re-clusters by part)
    val root = java.nio.file.Files.createTempDirectory("snapspec").toString
    val t = new SnapshotTable(spark, root, statsCol = Some("id"))
    // 4 partitions, all fragmented (8 input partitions fan files everywhere)
    t.init((0L until 1000L).map(i => (i, i % 4, 1L)).toDF("id", "part", "ver").repartition(8))
    assert(t.snapshot(1).groupBy(_.part).forall(_._2.size > 1), "fixture must start fragmented")
    val dataBefore = t.read().collect().map(_.toSeq).toSet
    // run 1: only the two LOWEST qualifying partitions are rewritten
    assert(t.compact(maxFiles = 1, maxPartitionsPerRun = 2) === 2)
    val after1 = t.snapshot(2).groupBy(_.part)
    assert(after1(0L).size === 1 && after1(1L).size === 1, "parts 0,1 compacted first")
    assert(after1(2L).size > 1 && after1(3L).size > 1, "parts 2,3 deferred to the next run")
    // run 2 picks up where run 1 left off; run 3 is a no-op
    assert(t.compact(maxFiles = 1, maxPartitionsPerRun = 2) === 3)
    assert(t.snapshot(3).groupBy(_.part).forall(_._2.size == 1))
    assert(t.compact(maxFiles = 1, maxPartitionsPerRun = 2) === 3)
    assert(t.read().collect().map(_.toSeq).toSet === dataBefore, "every bounded run is layout-only")
  }

  test("DSv2 read path: spark.read.format time-travels and prunes files AT SCAN PLANNING") {
    val root = java.nio.file.Files.createTempDirectory("snapdsv2").toString
    val t = new graft.index.SnapshotTable(spark, root, statsCol = Some("id"))
    t.init((0L until 1000L).map(i => (i, i / 125, 1L)).toDF("id", "part", "ver").repartition(4))
    t.upsert(Seq((130L, 1L, 2L)).toDF("id", "part", "ver"), Seq("id"))
    def dsv2(version: Int) = spark.read.format("graft.sources.SnapshotSource")
      .option("root", root).option("statscol", "id").option("version", version.toString).load()
    // full-read parity with the programmatic path, both versions
    assert(dsv2(2).collect().map(_.toSeq).toSet === t.read(2).collect().map(_.toSeq).toSet)
    assert(dsv2(1).filter($"ver" === 2L).count() === 0L, "time travel sees the pre-upsert version")
    // stats-range filter prunes INPUT PARTITIONS (1 per file) at plan time
    val filtered = dsv2(2).filter($"id".between(200, 300))
    val planned = filtered.rdd.getNumPartitions
    assert(planned === t.pruneFiles(None, Some((200L, 300L)), 2).size,
      "the scan must plan exactly the range's covering files")
    assert(planned < t.snapshot(2).size, "pruning must actually skip files")
    assert(filtered.count() === t.read(2).filter($"id".between(200, 300)).count())
    // partition-equality filter prunes to that partition's files
    val p3 = dsv2(2).filter($"part" === 3L)
    assert(p3.rdd.getNumPartitions === t.pruneFiles(Some(Set(3L)), None, 2).size)
    assert(p3.collect().map(_.toSeq).toSet ===
      t.read(2).filter($"part" === 3L).collect().map(_.toSeq).toSet)
    // column pruning incl. the VIRTUAL part column (attached from the
    // manifest, the physical _part never decoded) and the empty projection
    assert(dsv2(2).select("part").distinct().collect().map(_.getLong(0)).toSet ===
      (0L until 8L).toSet)
    assert(dsv2(2).count() === 1000L)
    // SQL-addressable end to end
    dsv2(2).createOrReplaceTempView("snap_v2")
    assert(spark.sql("SELECT COUNT(*) FROM snap_v2 WHERE part = 3 AND id BETWEEN 400 AND 410")
      .head().getLong(0) === 11L)
  }

  test("the stats column is TABLE METADATA: persisted at init, derived by readers, mismatches rejected") {
    val root = java.nio.file.Files.createTempDirectory("snapstatsmeta").toString
    val t = new SnapshotTable(spark, root, statsCol = Some("id"))
    t.init((0L until 1000L).map(i => (i, i / 250, 1L)).toDF("id", "part", "ver").repartition(4))
    // a reader handle with NO declared stats column derives the persisted one
    val reader = new SnapshotTable(spark, root)
    assert(reader.statsColumn === Some("id"))
    assert(reader.readRange(0L, 10L).filter($"id" <= 10L).count() === 11L)
    // a handle declaring a DIFFERENT column is rejected at construction —
    // its pushed ranges would prune on foreign bounds (row loss)
    intercept[IllegalArgumentException] {
      new SnapshotTable(spark, root, statsCol = Some("ver"))
    }
    // the DSv2 source range-prunes from the PERSISTED column, no option needed
    val df = spark.read.format("graft.sources.SnapshotSource").option("root", root).load()
    val filtered = df.filter($"id".between(0, 10))
    assert(filtered.rdd.getNumPartitions === t.pruneFiles(None, Some((0L, 10L))).size,
      "DSv2 must derive the stats column from table metadata and prune on it")
    assert(filtered.rdd.getNumPartitions < t.snapshot(1).size, "pruning must skip files")
    assert(filtered.count() === 11L)
    // and a mismatched DSv2 'statscol' option is rejected, not trusted
    intercept[IllegalArgumentException] {
      spark.read.format("graft.sources.SnapshotSource")
        .option("root", root).option("statscol", "ver").load().collect()
    }
  }

  test("DSv2 scan SPLITS a fat multi-row-group file into multiple slices; rows read exactly once") {
    val root = java.nio.file.Files.createTempDirectory("snapsplit").toString
    // write ONE file with MANY row groups (tiny parquet block size)
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = Option(hc.get("parquet.block.size"))
    hc.setInt("parquet.block.size", 64 * 1024)
    val t = new SnapshotTable(spark, root)
    try t.init(spark.range(200000L)
      .select(col("id"), lit(0L).as("part"), (col("id") % 97).as("v")).repartition(1))
    finally oldBlock.fold(hc.unset("parquet.block.size"))(hc.set("parquet.block.size", _))
    assert(t.snapshot(1).size === 1, "fixture: exactly one data file")
    // the fixture file really has several row groups
    val entry = t.snapshot(1).head
    val pf = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(entry.path), hc))
    val nGroups = try pf.getFooter.getBlocks.size finally pf.close()
    assert(nGroups > 1, s"fixture must be multi-row-group (got $nGroups)")
    // plan-time byte slicing: >1 input partition for the ONE file, no
    // footer read at planning (slicing is manifest byte arithmetic)
    val df = spark.read.format("graft.sources.SnapshotSource")
      .option("root", root).option("maxsplitbytes", (64 * 1024).toString).load()
    assert(df.rdd.getNumPartitions > 1,
      s"a fat file must plan multiple slices (got ${df.rdd.getNumPartitions})")
    // parity: every row exactly once across the slices
    assert(df.count() === 200000L)
    assert(df.select("id").distinct().count() === 200000L)
    assert(df.agg(sum($"v")).head.getLong(0) === (0L until 200000L).map(_ % 97).sum)
    assert(df.filter($"part" === 0L).count() === 200000L, "virtual part column intact")
  }

  test("stats range skips ROW GROUPS inside a fat file: the readers deliver only the matching bands") {
    val root = java.nio.file.Files.createTempDirectory("snaprg").toString
    // ONE fat file, many row groups, stats column ORDERED so each row
    // group's footer min/max covers a narrow disjoint band
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = Option(hc.get("parquet.block.size"))
    hc.setInt("parquet.block.size", 64 * 1024)
    val t = new SnapshotTable(spark, root, statsCol = Some("v"))
    try t.init(spark.range(200000L)
      .select(col("id"), lit(0L).as("part"), col("id").as("v"))
      .sortWithinPartitions("v").repartition(1).sortWithinPartitions("v"))
    finally oldBlock.fold(hc.unset("parquet.block.size"))(hc.set("parquet.block.size", _))
    assert(t.snapshot(1).size === 1, "fixture: exactly one data file")
    val view = spark.read.format("graft.sources.SnapshotSource")
      .option("root", root).option("statscol", "v").load()
    val probe = graft.sources.SnapshotSource.ScanProbe.rowsDelivered
    probe.reset()
    assert(view.filter(col("v") >= 1000L && col("v") <= 1999L).count() === 1000L)
    val delivered = probe.sum()
    assert(delivered >= 1000L && delivered < 50000L,
      s"row-group skip must deliver only the matching bands, not the whole file " +
        s"(delivered $delivered of 200000)")
    // control: without a range the whole file decodes
    probe.reset()
    assert(view.filter(col("id") % 2 === 0).count() === 100000L)
    assert(probe.sum() === 200000L, "residual-only filters decode every row group")
  }

  test("point-lookup EqualTo/In on a non-stats long column skips row groups executor-side") {
    val root = java.nio.file.Files.createTempDirectory("snappt").toString
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = Option(hc.get("parquet.block.size"))
    hc.setInt("parquet.block.size", 64 * 1024)
    val t = new SnapshotTable(spark, root) // NO stats column: id is not manifest-tracked
    try t.init(spark.range(200000L)
      .select(col("id"), lit(0L).as("part"), (col("id") % 97).as("v"))
      .repartition(1).sortWithinPartitions("id"))
    finally oldBlock.fold(hc.unset("parquet.block.size"))(hc.set("parquet.block.size", _))
    assert(t.snapshot(1).size === 1, "fixture: one fat multi-row-group file")
    val view = spark.read.format("graft.sources.SnapshotSource").option("root", root).load()
    val probe = graft.sources.SnapshotSource.ScanProbe.rowsDelivered
    probe.reset()
    assert(view.filter(col("id") === 123456L).collect().map(_.getLong(0)).toSeq === Seq(123456L))
    val eqDelivered = probe.sum()
    assert(eqDelivered < 50000L,
      s"EqualTo(id) must decode only the matching row group's band ($eqDelivered of 200000)")
    probe.reset()
    assert(view.filter(col("id").isin(5L, 199999L)).count() === 2L)
    val inDelivered = probe.sum()
    assert(inDelivered < 100000L,
      s"In(id) must decode only the matching bands ($inDelivered of 200000)")
    // a predicate on a low-cardinality unsorted column can't skip (every
    // row group holds every v) — parity is what matters
    probe.reset()
    assert(view.filter(col("v") === 0L).count() === (0L until 200000L).count(_ % 97 == 0))
  }

  test("ScalaCheck property: DSv2 pushdown matches ground truth row-for-row on random part/range predicates") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // fixture: 8 partitions x several files, stats column `id` with tight
    // per-file bounds (range-split layout), plus a non-indexed column `v`
    val root = java.nio.file.Files.createTempDirectory("snapfuzz").toString
    val t = new SnapshotTable(spark, root, statsCol = Some("id"), manifestTargetFiles = 8)
    t.init((0L until 1000L).map(i => (i, i / 125, i % 7))
      .toDF("id", "part", "v").repartition(4))
    // v2: an upsert changes some rows and adds new ids — TIME TRAVEL is
    // part of the fuzzed surface (the version option rides pruneFiles too)
    t.upsert((0L until 1000L by 50L).map(i => (i, i / 125, 100L))
      .toDF("id", "part", "v").unionByName(
        Seq((2000L, 3L, 100L), (2001L, 7L, 100L)).toDF("id", "part", "v")), Seq("id"))
    def truthOf(version: Int) = t.read(version).select("id", "part", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val truthByV = Map(1 -> truthOf(1), 2 -> truthOf(2))
    val totalFiles = math.max(t.snapshot(1).size, t.snapshot(2).size)
    Seq(1, 2).foreach { v =>
      spark.read.format("graft.sources.SnapshotSource")
        .option("root", root).option("version", v.toString).load()
        .createOrReplaceTempView(s"fuzz_snap_v$v")
    }
    // a third view slices every file into ~1 KB byte ranges: the fuzz then
    // exercises pushdown AND multi-slice reads together (a slicing bug that
    // double-reads or drops a row group fails the same row-parity check)
    spark.read.format("graft.sources.SnapshotSource")
      .option("root", root).option("version", "2").option("maxsplitbytes", "1024").load()
      .createOrReplaceTempView("fuzz_snap_v2sliced")

    // one random predicate combo: 0-2 part IN lists (the intersect logic),
    // 0-1 lower and 0-1 upper id bound (strict or not), optional id
    // equality, optional residual-only v filter
    final case class Combo(version: Int, sliced: Boolean, inLists: Seq[Seq[Long]],
        loGe: Option[Long], loGt: Option[Long],
        hiLe: Option[Long], hiLt: Option[Long], idEq: Option[Long], vEq: Option[Long])
    val partList: Gen[Seq[Long]] =
      Gen.someOf(-1L to 9L).map(s => if (s.isEmpty) Seq(-999L) else s.toSeq)
    val comboGen: Gen[Combo] = for {
      version <- Gen.oneOf(1, 2)
      sliced <- Gen.oneOf(true, false)
      nIn <- Gen.chooseNum(0, 2)
      ins <- Gen.listOfN(nIn, partList)
      loGe <- Gen.option(Gen.chooseNum(-50L, 2050L))
      loGt <- Gen.option(Gen.chooseNum(-50L, 2050L))
      hiLe <- Gen.option(Gen.chooseNum(-50L, 2050L))
      hiLt <- Gen.option(Gen.chooseNum(-50L, 2050L))
      idEq <- Gen.option(Gen.chooseNum(-5L, 2005L))
      vEq <- Gen.option(Gen.oneOf(Gen.chooseNum(0L, 8L), Gen.const(100L)))
    } yield Combo(version, sliced, ins, loGe, loGt, hiLe, hiLt, idEq, vEq)

    (0 until 120).foreach { i =>
      val c = comboGen(Gen.Parameters.default, Seed(i.toLong))
        .getOrElse(fail(s"combo gen $i produced nothing"))
      val clauses =
        c.inLists.map(l => s"part IN (${l.mkString(", ")})") ++
          c.loGe.map(v => s"id >= $v") ++ c.loGt.map(v => s"id > $v") ++
          c.hiLe.map(v => s"id <= $v") ++ c.hiLt.map(v => s"id < $v") ++
          c.idEq.map(v => s"id = $v") ++ c.vEq.map(v => s"v = $v")
      val where = if (clauses.isEmpty) "1 = 1" else clauses.mkString(" AND ")
      val view = if (c.sliced && c.version == 2) "fuzz_snap_v2sliced" else s"fuzz_snap_v${c.version}"
      val df = spark.sql(s"SELECT id, part, v FROM $view WHERE $where")
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = truthByV(c.version).filter { case (id, part, v) =>
        c.inLists.forall(_.contains(part)) &&
          c.loGe.forall(id >= _) && c.loGt.forall(id > _) &&
          c.hiLe.forall(id <= _) && c.hiLt.forall(id < _) &&
          c.idEq.forall(id == _) && c.vEq.forall(v == _)
      }
      assert(got === want, s"seed $i ($where): pushdown pruned real rows or leaked extras")
      if (!(c.sliced && c.version == 2)) // the 1 KB-slice view plans MANY slices per file by design
        assert(df.rdd.getNumPartitions <= totalFiles, s"seed $i planned more slices than files")
    }
  }

  test("DSv2 write path: INSERT INTO appends via the COW commit; no footer reads anywhere") {
    val root = java.nio.file.Files.createTempDirectory("snapwrite").toString
    val t = new SnapshotTable(spark, root, statsCol = Some("id"))
    t.init((0L until 1000L).filter(_ % 3 != 0).map(i => (i, i / 125, 1L))
      .toDF("id", "part", "ver").repartition(4))
    spark.read.format("graft.sources.SnapshotSource").option("root", root).load()
      .createOrReplaceTempView("snap_w")
    (0L until 1000L).filter(_ % 3 == 0).map(i => (i, i / 125, 2L))
      .toDF("id", "part", "ver").createOrReplaceTempView("snap_delta")
    // table read order is (id, ver, part) — positional INSERT
    spark.sql("INSERT INTO snap_w SELECT id, ver, part FROM snap_delta")
    assert(t.currentVersion === 2)
    val got = t.read().select("id", "ver").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === (0L until 1000L).map(i => (i, if (i % 3 == 0) 2L else 1L)).toSet,
      "append parity with the programmatic merge shape")
    // writer-side stats bounds are recorded and TIGHT enough to prune
    assert(t.snapshot(2).forall(f => f.lo.isDefined && f.hi.isDefined))
    // untouched base manifests carried by reference (append never rewrites)
    assert(t.snapshot(1).map(_.path).toSet.subsetOf(t.snapshot(2).map(_.path).toSet))
  }

  test("SQL writes ROLL files at the byte target: a hot partition ingests as several bounded files") {
    val root = java.nio.file.Files.createTempDirectory("snaproll").toString
    val t = new SnapshotTable(spark, root, statsCol = Some("id"))
    t.init(Seq((0L, 0L, 1L)).toDF("id", "part", "ver"))
    spark.read.format("graft.sources.SnapshotSource").option("root", root)
      .option("targetfilebytes", (64 * 1024).toString).load()
      .createOrReplaceTempView("snap_roll")
    // 300k rows, ALL into partition 0 (the hot-partition shape)
    spark.range(300000L).select(($"id" + 10L).as("id"), lit(0L).as("part"), lit(2L).as("ver"))
      .createOrReplaceTempView("snap_roll_delta")
    spark.sql("INSERT INTO snap_roll SELECT id, ver, part FROM snap_roll_delta")
    val files = t.snapshot(2).filter(_.part == 0L)
    assert(files.size > 2, s"the hot partition must roll into several files (got ${files.size})")
    assert(files.map(_.rows).sum === 300001L, "no row lost or duplicated across rolls")
    assert(files.forall(f => f.lo.isDefined && f.hi.isDefined),
      "every rolled file records its own stats bounds")
    assert(t.read().select("id").distinct().count() === 300001L)
  }

  test("DSv2 write path: INSERT OVERWRITE replaces partitions (dynamic) or the table (static); race preserved") {
    val root = java.nio.file.Files.createTempDirectory("snapoverwrite").toString
    val t = new SnapshotTable(spark, root, statsCol = Some("id"))
    t.init((0L until 1000L).map(i => (i, i / 250, 1L)).toDF("id", "part", "ver").repartition(2))
    spark.read.format("graft.sources.SnapshotSource").option("root", root).load()
      .createOrReplaceTempView("snap_ow")
    // ---- dynamic: only partition 0 is replaced ----
    val oldMode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      Seq((5000L, 0L, 9L), (5001L, 0L, 9L)).toDF("id", "part", "ver")
        .createOrReplaceTempView("snap_ow_delta")
      spark.sql("INSERT OVERWRITE snap_ow SELECT id, ver, part FROM snap_ow_delta")
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", oldMode)
    assert(t.currentVersion === 2)
    assert(t.read().filter($"part" === 0L).select("id").collect().map(_.getLong(0)).toSet ===
      Set(5000L, 5001L), "dynamic overwrite replaces the touched partition entirely")
    assert(t.read().filter($"part" =!= 0L).count() === 750L, "other partitions untouched")
    assert(t.snapshot(1).filter(_.part != 0L).map(_.path).toSet ===
      t.snapshot(2).filter(_.part != 0L).map(_.path).toSet,
      "untouched partitions carry the SAME files")
    assert(t.read(1).count() === 1000L, "time travel still sees the pre-overwrite table")
    // ---- static: the table truncates to the inserted rows ----
    spark.sql("INSERT OVERWRITE snap_ow SELECT id, ver, part FROM snap_ow_delta")
    assert(t.currentVersion === 3)
    assert(t.read().count() === 2L, "static overwrite = truncate + insert")
    assert(t.read(2).count() === 752L, "previous snapshot intact")
    // ---- commit race: CREATE_NEW still decides; the loser leaves no data.
    // A rival's snap-4 lands WHILE the INSERT's tasks run (strictly after
    // the write captured basedOn = 3) — the photo-finish window. The delta
    // must NOT be a LocalRelation: ConvertToLocalRelation would fold the
    // planting UDF at optimization time, BEFORE the write plans.
    val rival = org.apache.spark.sql.functions.udf { (part: Long) =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/snap-4.json"),
        """{"version":4,"parent":3,"manifests":[]}""")
      part
    }
    spark.udf.register("snap_ow_rival", rival)
    spark.range(2).select(($"id" + 5000L).as("id"), lit(0L).as("part"), lit(9L).as("ver"))
      .createOrReplaceTempView("snap_ow_range")
    intercept[Exception] {
      spark.sql("INSERT INTO snap_ow SELECT id, ver, snap_ow_rival(part) FROM snap_ow_range")
    }
    assert(t.currentVersion === 4, "the rival's commit stands")
    import scala.jdk.CollectionConverters._
    val leaked = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(root))
      try s.iterator().asScala.toSeq.filter(d =>
        java.nio.file.Files.isDirectory(d) && d.getFileName.toString.startsWith("v4-"))
      finally s.close()
    }
    leaked.foreach { d =>
      val w = java.nio.file.Files.walk(d)
      val pq = try w.iterator().asScala.count(_.toString.endsWith(".parquet")) finally w.close()
      assert(pq === 0, s"race loser must delete its data files under $d")
    }
  }

  test("the scan reports post-pruning statistics: a small snapshot side auto-broadcasts in SQL joins") {
    val root = java.nio.file.Files.createTempDirectory("snapstats").toString
    val t = new SnapshotTable(spark, root)
    t.init((0L until 100L).map(i => (i, i % 4, i * 10)).toDF("id", "part", "v"))
    spark.read.format("graft.sources.SnapshotSource").option("root", root).load()
      .createOrReplaceTempView("snap_dim")
    spark.range(10000000L).createOrReplaceTempView("snap_facts")
    val joined = spark.sql(
      "SELECT f.id, d.v FROM snap_facts f JOIN snap_dim d ON f.id = d.id")
    assert(joined.count() === 100L)
    // without SupportsReportStatistics a DSv2 relation defaults to
    // defaultSizeInBytes (effectively infinite) and this join would be a
    // sort-merge; the manifest-derived size makes the dim side broadcast
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"small snapshot side must broadcast; got:\n${plan.take(800)}")
  }

  test("storage-partitioned join: co-partitioned snapshot tables join + aggregate with ZERO exchange") {
    val rootA = java.nio.file.Files.createTempDirectory("snapspja").toString
    val rootB = java.nio.file.Files.createTempDirectory("snapspjb").toString
    new SnapshotTable(spark, rootA).init(
      (0L until 4000L).map(i => (i, i % 8, i * 3)).toDF("id", "part", "v").repartition(4))
    new SnapshotTable(spark, rootB).init(
      (0L until 8L).map(p => (p, p * 100)).toDF("part", "w"))
    def view(root: String, name: String, spj: Boolean): Unit =
      spark.read.format("graft.sources.SnapshotSource").option("root", root)
        .option("spj", spj.toString).load().createOrReplaceTempView(name)
    // join on part AND aggregate grouped by part: under SPJ both ride the
    // scans' KeyGroupedPartitioning — the whole query plans no exchange
    val sql = """SELECT a.part AS part, count(*) AS n, sum(a.v + b.w) AS s
                 FROM spj_a a JOIN spj_b b ON a.part = b.part GROUP BY a.part"""
    val conf = spark.conf
    val broadcastWas = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // control: without spj the scans report no partitioning — shuffles
      view(rootA, "spj_a", spj = false); view(rootB, "spj_b", spj = false)
      val off = spark.sql(sql).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(spark.sql(sql).queryExecution.executedPlan.toString.contains("Exchange"),
        "control: the non-SPJ plan must shuffle (else this pin proves nothing)")
      // control 2: a PLAIN spj=false scan keeps per-slice task parallelism
      val plainA = spark.read.format("graft.sources.SnapshotSource")
        .option("root", rootA).load()
      val filesA = new SnapshotTable(spark, rootA).snapshot(1).size
      assert(plainA.rdd.getNumPartitions === filesA,
        "default reads must not key-group (a grouped plain scan loses slice parallelism)")
      view(rootA, "spj_a", spj = true); view(rootB, "spj_b", spj = true)
      val on = spark.sql(sql)
      val got = on.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.sortBy(_._1).toSeq === off.sortBy(_._1).toSeq, "SPJ parity")
      val plan = on.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"storage-partitioned join must plan NO exchange; got:\n${plan.take(1200)}")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", broadcastWas)
    }
  }

  test("SPJ superset join keys (part, cell) + grouped distinct agg: zero exchange end to end") {
    // the q_snap_spj catalog shape: join keys are a SUPERSET of the
    // partition key, allowed under requireAllClusterKeysForCoPartition=false
    // (Iceberg documents the same toggle); the final GROUP BY part and the
    // count(DISTINCT cell) expansion must ALSO ride the key-grouped scans
    val rootF = java.nio.file.Files.createTempDirectory("spjsupf").toString
    val rootD = java.nio.file.Files.createTempDirectory("spjsupd").toString
    val base = (0L until 4000L).map(i => (i, i % 40, i % 8)).toDF("id", "cell", "part")
    new SnapshotTable(spark, rootF).init(base.repartition(4))
    new SnapshotTable(spark, rootD).init(
      base.groupBy("part", "cell").agg(org.apache.spark.sql.functions.count("*").as("n")))
    def reg(root: String, name: String): Unit =
      spark.read.format("graft.sources.SnapshotSource").option("root", root)
        .option("spj", "true").load().createOrReplaceTempView(name)
    reg(rootF, "spj_sup_f"); reg(rootD, "spj_sup_d")
    val sql = """SELECT a.part AS part, count(*) AS npts, count(DISTINCT a.cell) AS ncells
                 FROM spj_sup_f a JOIN spj_sup_d b ON a.part = b.part AND a.cell = b.cell
                 WHERE b.n >= 2 GROUP BY a.part"""
    val conf = spark.conf
    val broadcastWas = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val requireAllWas = conf.get("spark.sql.requireAllClusterKeysForCoPartition")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    try {
      val df = spark.sql(sql)
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      // ground truth straight off the local seq
      val byCell = base.collect().map(r => (r.getLong(2), r.getLong(1)))
        .groupBy(identity).map { case (k, v) => (k, v.length.toLong) }
      val dense = byCell.filter(_._2 >= 2)
      val want = dense.toSeq.groupBy(_._1._1).map { case (p, cs) =>
        (p, cs.map(_._2).sum, cs.map(_._1._2).distinct.length.toLong) }.toSeq.sortBy(_._1)
      assert(got.toSeq === want, "superset-key SPJ parity")
      assert(!df.queryExecution.executedPlan.toString.contains("Exchange"),
        s"superset-key SPJ must plan no exchange; got:\n${df.queryExecution.executedPlan.toString.take(1200)}")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", broadcastWas)
      conf.set("spark.sql.requireAllClusterKeysForCoPartition", requireAllWas)
    }
  }

  test("partially-clustered SPJ: a skewed partition joins slice-parallel with zero exchange") {
    // the skew escape hatch INSIDE storage-partitioned joins
    // (spark.sql.sources.v2.bucketing.partiallyClusteredDistribution):
    // without it the hot partition is ONE task per key; with it each byte
    // slice of the hot partition becomes its own task, joined against the
    // replicated small side — still no exchange on the fact. (Tradeoff,
    // measured: the join output is no longer fully key-grouped, so a
    // downstream GROUP BY part re-shuffles — pick per query shape.)
    val rootA = java.nio.file.Files.createTempDirectory("spjska").toString
    val rootB = java.nio.file.Files.createTempDirectory("spjskb").toString
    val fact = ((0L until 8000L).map(i => (i, 0L)) ++
      (0L until 700L).map(i => (8000L + i, 1L + i % 7))).toDF("id", "part")
    new SnapshotTable(spark, rootA).init(fact.repartition(8))
    new SnapshotTable(spark, rootB).init(
      fact.groupBy("part").agg(org.apache.spark.sql.functions.count("*").as("n")))
    def reg(root: String, name: String): Unit =
      spark.read.format("graft.sources.SnapshotSource").option("root", root)
        .option("spj", "true").option("maxsplitbytes", "8192").load()
        .createOrReplaceTempView(name)
    reg(rootA, "spj_sk_a"); reg(rootB, "spj_sk_b")
    val sql = "SELECT a.id, b.n FROM spj_sk_a a JOIN spj_sk_b b ON a.part = b.part"
    val conf = spark.conf
    val broadcastWas = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val pcdKey = "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled"
    val pcdWas = conf.get(pcdKey)
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      conf.set(pcdKey, "false")
      val off = spark.sql(sql)
      val offRows = off.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      assert(off.rdd.getNumPartitions === 8, "grouped SPJ: one task per key")
      assert(!off.queryExecution.executedPlan.toString.contains("Exchange"))
      conf.set(pcdKey, "true")
      val on = spark.sql(sql)
      val onRows = on.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      assert(onRows.toSeq === offRows.toSeq, "partially-clustered parity")
      assert(on.rdd.getNumPartitions > 8,
        s"the hot partition must split into slice tasks (got ${on.rdd.getNumPartitions})")
      assert(!on.queryExecution.executedPlan.toString.contains("Exchange"),
        "partially-clustered join must still plan no exchange")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", broadcastWas)
      conf.set(pcdKey, pcdWas)
    }
  }

  test("runtime filtering (DPP): a join against a filtered dim prunes the snapshot scan at execution time") {
    val root = java.nio.file.Files.createTempDirectory("snapdpp").toString
    // stats-column table preserves the 4-task fan-out layout (fragmented fixture)
    val t = new SnapshotTable(spark, root, statsCol = Some("id"))
    t.init((0L until 8000L).map(i => (i, i % 8, i)).toDF("id", "part", "v").repartition(4))
    val totalFiles = t.snapshot(1).size
    assert(totalFiles > 8, "fixture: several files per partition")
    spark.read.format("graft.sources.SnapshotSource").option("root", root).load()
      .createOrReplaceTempView("snap_dpp")
    // the dim must be NON-LOCAL: ConvertToLocalRelation folds a filtered
    // LocalRelation before PartitionPruning looks for a selective
    // predicate, and no DPP filter gets inserted (same gotcha as the
    // write-race plant)
    spark.range(0L, 200L).select(($"id" % 8).as("part"), $"id".as("tag"))
      .createOrReplaceTempView("snap_dpp_dim")
    // the join's part values are only known at EXECUTION (the dim filter):
    // runtime filtering must push them into the scan's manifest pruning
    val joined = spark.sql(
      "SELECT f.id FROM snap_dpp f JOIN snap_dpp_dim d ON f.part = d.part WHERE d.tag = 3")
    assert(joined.count() === 1000L)
    val planned = graft.sources.SnapshotSource.ScanProbe.lastPlannedSlices
    assert(planned > 0 && planned < totalFiles,
      s"runtime filter must narrow planning to one partition's files ($planned of $totalFiles)")
  }

  test("merge-on-read equality deletes: O(delta) commit, reads apply, rewrites fold in") {
    val root = java.nio.file.Files.createTempDirectory("snapmor").toString
    val t = new SnapshotTable(spark, root)
    t.init((0L until 1000L).map(i => (i, i % 4, i * 2)).toDF("id", "part", "v")
      .repartition(4))
    val v1files = t.snapshot(1).map(_.path).toSet
    // scoped MOR delete: ids % 10 == 0, keys carry their partition
    t.deleteKeysMor((0L until 1000L by 10L).map(i => (i, i % 4)).toDF("id", "part"), "id")
    assert(t.currentVersion === 2)
    // O(delta): every data file carried BY REFERENCE, delete files added
    assert(t.snapshot(2).filterNot(_.isDelete).map(_.path).toSet === v1files)
    assert(t.snapshot(2).count(_.isDelete) > 0)
    // reads apply the deletes; pruned reads load only their partitions' keys
    assert(t.read().count() === 900L)
    assert(t.read().filter($"id" % 10 === 0).count() === 0L)
    assert(t.readParts(Set(0L)).count() === 200L) // 250 - (ids % 20 == 0)
    assert(t.read(1).count() === 1000L, "time travel predates the delete")
    // a COW upsert on part 0 FOLDS its deletes and re-inserts id 0
    t.upsert(Seq((0L, 0L, 999L)).toDF("id", "part", "v"), Seq("id"))
    assert(t.read().count() === 901L)
    assert(t.read().filter($"id" === 0L).count() === 1L,
      "a key re-inserted after the delete survives it (sequence rule)")
    assert(t.snapshot(3).filter(_.isDelete).forall(_.part != 0L),
      "the rewritten partition's scoped delete entries are dropped")
    // GLOBAL delete (keys without part): applies across partitions
    t.deleteKeysMor(Seq(21L).toDF("id"), "id")
    assert(t.changedParts(3, 4).isEmpty,
      "a global delete changes every partition's current rows: the change feed must re-emit all")
    assert(t.read().count() === 900L)
    assert(t.read().filter($"id" === 21L).count() === 0L)
    // compact folds scoped deletes everywhere; parity holds
    t.compact()
    assert(t.read().count() === 900L)
    assert(t.snapshot(t.currentVersion).filter(_.isDelete)
      .forall(_.part == SnapshotTable.MOR_GLOBAL),
      "only the (inert) global delete entry remains after compaction")
    // the global delete is inert on post-compaction files: re-insert 21
    t.upsert(Seq((21L, 1L, 555L)).toDF("id", "part", "v"), Seq("id"))
    assert(t.read().filter($"id" === 21L).count() === 1L)
    assert(t.read().count() === 901L)
  }

  test("MOR upsert: one commit appends delta + delete-of-keys; old rows retire, the delta survives") {
    val root = java.nio.file.Files.createTempDirectory("snapmorup").toString
    val t = new SnapshotTable(spark, root)
    t.init((0L until 1000L).map(i => (i, i % 4, i * 2)).toDF("id", "part", "v")
      .repartition(4))
    val v1files = t.snapshot(1).map(_.path).toSet
    // O(delta) MERGE: update ids 100..109, insert 5000 — ONE commit, no rewrite
    t.upsertMor(((100L until 110L).map(i => (i, i % 4, 9999L)) :+ ((5000L, 0L, 1L)))
      .toDF("id", "part", "v"), "id")
    assert(t.currentVersion === 2)
    assert(v1files.subsetOf(t.snapshot(2).map(_.path).toSet),
      "MOR upsert must carry every base file by reference")
    val r2 = t.read()
    assert(r2.count() === 1001L)
    assert(r2.filter($"id" === 100L).select("v").head.getLong(0) === 9999L)
    assert(r2.filter($"id" === 5000L).count() === 1L)
    // stacked MOR upserts: the LATEST generation wins (strict seq rule
    // retires both the base row and the previous delta's)
    t.upsertMor(Seq((100L, 0L, 1111L)).toDF("id", "part", "v"), "id")
    val r3 = t.read()
    assert(r3.count() === 1001L)
    assert(r3.filter($"id" === 100L).select("v").collect().map(_.getLong(0)).toSeq
      === Seq(1111L))
    // the DSv2 scan agrees row-for-row
    spark.read.format("graft.sources.SnapshotSource").option("root", root).load()
      .createOrReplaceTempView("snap_morup")
    assert(spark.table("snap_morup").count() === 1001L)
    assert(spark.sql("SELECT v FROM snap_morup WHERE id = 100").head.getLong(0) === 1111L)
    // compaction folds every scoped delete; parity holds, columnar again
    t.compact()
    assert(t.snapshot(t.currentVersion).count(_.isDelete) === 0)
    assert(spark.table("snap_morup").count() === 1001L)
    assert(spark.sql("SELECT v FROM snap_morup WHERE id = 100").head.getLong(0) === 1111L)
  }

  test("delta row-level ops: SQL UPDATE/MERGE under merge-on-read commit only the changed rows") {
    val wh = java.nio.file.Files.createTempDirectory("snapdeltawh").toString
    spark.conf.set("spark.sql.catalog.dcat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.dcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS dcat.geo")
    // delete.mode/morkey are PERSISTED TBLPROPERTIES: every load sees them
    spark.sql("CREATE TABLE dcat.geo.dl (id BIGINT, v BIGINT, part BIGINT) " +
      "PARTITIONED BY (part) " +
      "TBLPROPERTIES ('delete.mode'='merge-on-read', 'morkey'='id')")
    spark.sql("INSERT INTO dcat.geo.dl SELECT id, id * 2 AS v, id % 4 AS part FROM range(1000)")
    val t = new SnapshotTable(spark, s"$wh/geo/dl")
    val v1files = t.snapshot(1).map(_.path).toSet
    // UPDATE a band: only the changed rows' files + their retired keys commit
    spark.sql("UPDATE dcat.geo.dl SET v = v + 10000 WHERE id >= 100 AND id < 110")
    assert(t.currentVersion === 2)
    assert(v1files.subsetOf(t.snapshot(2).map(_.path).toSet),
      "delta UPDATE must carry every base file by reference")
    val added = t.snapshot(2).filterNot(e => v1files(e.path))
    assert(added.exists(_.isDelete) && added.exists(!_.isDelete))
    assert(added.filterNot(_.isDelete).map(_.rows).sum === 10L,
      "the delta carries exactly the updated rows")
    assert(spark.sql("SELECT sum(v) AS s FROM dcat.geo.dl WHERE id >= 100 AND id < 110")
      .head.getLong(0) === (100L until 110L).map(_ * 2 + 10000).sum)
    assert(spark.table("dcat.geo.dl").count() === 1000L)
    // three-clause MERGE, all delta: delete id%6, update rest of matches, insert twins
    ((100L until 130L).map(i => (i, i % 4)) ++ Seq((5000L, 0L), (5001L, 1L)))
      .toDF("id", "part").createOrReplaceTempView("snap_delta_src")
    spark.sql(
      """MERGE INTO dcat.geo.dl t USING snap_delta_src s
        |ON t.id = s.id AND t.part = s.part
        |WHEN MATCHED AND s.id % 6 = 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = -1
        |WHEN NOT MATCHED THEN INSERT (id, v, part) VALUES (s.id, 0, s.part)""".stripMargin)
    assert(t.currentVersion === 3)
    assert(v1files.subsetOf(t.snapshot(3).map(_.path).toSet),
      "delta MERGE must carry every base file by reference")
    val merged = spark.table("dcat.geo.dl")
    val deleted = (100L until 130L).filter(_ % 6 == 0)
    assert(merged.count() === 1000L - deleted.size + 2)
    assert(merged.filter($"id".isin(deleted: _*)).count() === 0L)
    assert(merged.filter($"v" === -1L).count() === 30L - deleted.size)
    assert(merged.filter($"id" >= 5000L).count() === 2L)
    // compaction folds the accumulated delete generations; parity holds
    t.compact()
    assert(t.snapshot(t.currentVersion).count(_.isDelete) === 0)
    assert(spark.table("dcat.geo.dl").count() === 1000L - deleted.size + 2)
    assert(spark.sql("SELECT v FROM dcat.geo.dl WHERE id = 101").head.getLong(0) === -1L)
  }

  test("MOR through DSv2: delete.mode=merge-on-read routes SQL DELETE to delete files; scans apply them") {
    val root = java.nio.file.Files.createTempDirectory("snapmorsql").toString
    val t = new SnapshotTable(spark, root)
    t.init((0L until 1000L).map(i => (i, i % 4, i * 2)).toDF("id", "part", "v")
      .repartition(4))
    val v1files = t.snapshot(1).filterNot(_.isDelete).map(_.path).toSet
    spark.read.format("graft.sources.SnapshotSource").option("root", root)
      .option("delete.mode", "merge-on-read").option("morkey", "id").load()
      .createOrReplaceTempView("snap_morsql")
    // GLOBAL key delete through plain SQL: no part predicate
    spark.sql("DELETE FROM snap_morsql WHERE id IN (3, 5, 7)")
    // SCOPED key delete: part predicate narrows the delete files
    spark.sql("DELETE FROM snap_morsql WHERE part = 2 AND id IN (6, 10)")
    assert(t.currentVersion === 3)
    assert(t.snapshot(3).filterNot(_.isDelete).map(_.path).toSet === v1files,
      "MOR DELETE must rewrite no data file")
    assert(t.snapshot(3).count(_.isDelete) > 0)
    // the scan applies the deletes (row-path readers on delete-carrying slices)
    assert(spark.sql("SELECT count(*) AS n FROM snap_morsql WHERE id IN (3, 5, 6, 7, 10)")
      .head.getLong(0) === 0L)
    assert(spark.table("snap_morsql").count() === 995L)
    // a projection that DROPS the key still filters (key force-read)
    assert(spark.sql("SELECT sum(v) AS s FROM snap_morsql").head.getLong(0) ===
      (0L until 1000L).filterNot(Set(3L, 5L, 6L, 7L, 10L)).map(_ * 2).sum)
    // metadata COUNT(*) must DECLINE under deletes (it would overcount)
    assert(spark.sql("SELECT COUNT(*) FROM snap_morsql").head.getLong(0) === 995L)
    // LIMIT file pruning must decline too (manifest rows overcount)
    assert(spark.table("snap_morsql").limit(998).count() === 995L)
    // partition-aligned DELETE still takes the metadata path under MOR mode
    spark.sql("DELETE FROM snap_morsql WHERE part = 3")
    assert(t.currentVersion === 4)
    // part 3 held 250 rows of which ids 3 and 7 were already MOR-deleted
    assert(spark.table("snap_morsql").count() === 995L - 248L)
    // compact folds the scoped deletes; reads stay columnar-parity
    t.compact()
    assert(spark.table("snap_morsql").count() === 747L)
    assert(spark.sql("SELECT count(*) AS n FROM snap_morsql WHERE id = 5").head.getLong(0) === 0L)
    // expire keeps the still-referenced (inert) global delete file alive
    // and sweeps the folded ones; parity holds after the GC
    t.expire(keepLast = 1, orphanGraceMs = 0L)
    assert(spark.table("snap_morsql").count() === 747L)
  }

  test("full-scan planning: page cache makes re-plans parse zero driver JSON; wide first plans parse in a Spark job") {
    // arm 1: the immutable page cache — the SECOND plan of any scan parses
    // nothing on the driver (round-7 `weak`: every plan re-parsed every
    // covering entry as driver JSON)
    val root1 = java.nio.file.Files.createTempDirectory("snapplan1").toString
    val t1 = new SnapshotTable(spark, root1)
    t1.init((0L until 2000L).map(i => (i, i % 16, 1L)).toDF("id", "part", "ver"))
    val (files1, _) = t1.pruneFilesSplit(None, None)
    assert(files1.size === 16)
    assert(t1.lastPlanDriverParsedLines === 16, "first plan parses the pages once")
    val (files1b, _) = t1.pruneFilesSplit(None, None)
    assert(files1b === files1)
    assert(t1.lastPlanDriverParsedLines === 0,
      "a re-planned scan must parse ZERO manifest JSON on the driver")

    // arm 2: a first-time WIDE scan parses its pages in a SPARK JOB — the
    // driver receives finished entry rows, parses no JSON at all
    val was = SnapshotTable.distributedPlanThreshold
    SnapshotTable.distributedPlanThreshold = 4
    try {
      val root2 = java.nio.file.Files.createTempDirectory("snapplan2").toString
      val t2 = new SnapshotTable(spark, root2)
      t2.init((0L until 2000L).map(i => (i, i % 16, 1L)).toDF("id", "part", "ver"))
      val (files2, _) = t2.pruneFilesSplit(None, None)
      assert(files2.size === 16)
      assert(t2.lastPlanDriverParsedLines === 0,
        "a wide first-time scan must plan its pages distributively, not on the driver")
      // the distributed-loaded entries drive a correct read
      assert(t2.read().count() === 2000L)
      // and they populated the cache: the next plan is a pure lookup
      t2.pruneFilesSplit(None, None)
      assert(t2.lastPlanDriverParsedLines === 0)
    } finally SnapshotTable.distributedPlanThreshold = was
  }

  test("MOR DELETE intersects repeated conjuncts on the key and on part (canDeleteWhere exactness)") {
    val root = java.nio.file.Files.createTempDirectory("snapmorconj").toString
    val t = new SnapshotTable(spark, root)
    t.init((0L until 100L).map(i => (i, i % 4, i * 2)).toDF("id", "part", "v")
      .repartition(2))
    spark.read.format("graft.sources.SnapshotSource").option("root", root)
      .option("delete.mode", "merge-on-read").option("morkey", "id").load()
      .createOrReplaceTempView("snap_morconj")
    // conjunction on the key: id IN (1,2) AND id IN (2,3) matches ONLY id 2
    // (the old builder UNIONED the conjuncts and deleted 1, 2 AND 3)
    spark.sql("DELETE FROM snap_morconj WHERE id IN (1, 2) AND id IN (2, 3)")
    val ids = spark.table("snap_morconj").select("id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(2L), "id 2 matches the conjunction and must be deleted")
    assert(ids.contains(1L) && ids.contains(3L),
      "ids 1 and 3 do NOT match the conjunction — deleting them is data loss")
    // conjunction on part: part IN (0,1) AND part IN (1,2) scopes to part 1
    // only — id 10 lives in part 2, so the scoped delete must not touch it
    spark.sql("DELETE FROM snap_morconj WHERE id = 10 AND part IN (0, 1) AND part IN (1, 2)")
    assert(spark.table("snap_morconj").filter($"id" === 10L).count() === 1L,
      "part conjunction intersects to {1}; id 10 (part 2) must survive")
    // and the correctly-scoped delete still lands
    spark.sql("DELETE FROM snap_morconj WHERE id = 10 AND part IN (2) AND part IN (2, 3)")
    assert(spark.table("snap_morconj").filter($"id" === 10L).count() === 0L)
  }

  test("inert (folded) equality deletes stop disabling metadata aggregates and LIMIT pruning; compact GCs them") {
    val root = java.nio.file.Files.createTempDirectory("snapinert").toString
    val t = new SnapshotTable(spark, root, statsCol = Some("v"))
    t.init((0L until 1000L).map(i => (i, i % 4, i * 2)).toDF("id", "part", "v")
      .repartition(4)) // fragmented (stats table preserves layout)
    t.deleteKeysMor(Seq(3L, 5L).toDF("id"), "id") // GLOBAL delete, seq 2
    val view = spark.read.format("graft.sources.SnapshotSource").option("root", root).load()
    view.createOrReplaceTempView("snap_inert")
    // while the delete APPLIES: metadata count declines, limit pruning off
    assert(!spark.sql("SELECT COUNT(*) FROM snap_inert").queryExecution.executedPlan
      .toString.contains("METADATA aggregate"), "applicable delete must decline the metadata agg")
    assert(spark.sql("SELECT COUNT(*) FROM snap_inert").head.getLong(0) === 998L)
    // a COW upsert touching every partition rewrites them at a HIGHER seq —
    // the global delete is folded into the rewrite and becomes inert (a
    // compaction rewriting every partition would GC it in the same commit)
    assert(t.upsert(Seq(0L, 1L, 2L, 7L).map(i => (i, i % 4, i * 2)).toDF("id", "part", "v"),
      Seq("id")) === 3)
    assert(spark.table("snap_inert").count() === 998L)
    assert(t.snapshot(3).count(_.isDelete) >= 1, "inert global delete file(s) still referenced")
    // inert ⇒ the gates re-open (presence-based gating kept them off forever)
    assert(spark.sql("SELECT COUNT(*) FROM snap_inert").queryExecution.executedPlan
      .toString.contains("METADATA aggregate"), "inert delete must re-enable the metadata agg")
    assert(spark.sql("SELECT COUNT(*) FROM snap_inert").head.getLong(0) === 998L)
    view.limit(5).collect()
    assert(graft.sources.SnapshotSource.ScanProbe.lastPlannedSlices === 1,
      "inert delete must re-enable LIMIT file pruning")
    // fragment one partition; the compact's minimum seq over the surviving
    // data files (now >= the delete's seq) GCs the inert file
    t.upsert((0L until 50L).map(i => (i * 4, 0L, i)).toDF("id", "part", "v")
      .repartition(2), Seq("id"))
    assert(t.compact(maxFiles = 1) === 5)
    assert(t.snapshot(5).count(_.isDelete) === 0,
      "compact must drop global delete files whose seq <= the min data seq")
    assert(spark.table("snap_inert").count() === 998L, "GC is metadata-only")
  }

  test("LIMIT pushdown plans only the files whose row counts cover the limit") {
    val root = java.nio.file.Files.createTempDirectory("snaplim").toString
    // stats-column table preserves the 4-task fan-out layout (fragmented fixture)
    val t = new SnapshotTable(spark, root, statsCol = Some("id"))
    t.init((0L until 3200L).map(i => (i, i, i % 8)).toDF("id", "v", "part").repartition(4))
    val totalFiles = t.snapshot(1).size
    assert(totalFiles > 8, "fixture: several files per partition")
    val view = spark.read.format("graft.sources.SnapshotSource").option("root", root).load()
    assert(view.limit(5).collect().length === 5)
    assert(graft.sources.SnapshotSource.ScanProbe.lastPlannedSlices === 1,
      "LIMIT 5 must plan exactly one file (each file holds ~100 rows)")
    // control: the unlimited read keeps every slice
    assert(view.count() === 3200L) // count() pushes to metadata, no slices planned
    view.collect()
    assert(graft.sources.SnapshotSource.ScanProbe.lastPlannedSlices === totalFiles)
  }

  test("ORDER BY statscol LIMIT k prunes files via manifest bounds; null counts cover nullable columns") {
    import org.apache.spark.sql.functions.{col, when}
    val root = java.nio.file.Files.createTempDirectory("snaptopn").toString
    val t = new SnapshotTable(spark, root, statsCol = Some("v"))
    // v correlates with part (i / 400): each part's 4 files span only that
    // part's 400-value band, so per-file bounds separate top-k candidates
    t.init((0L until 3200L).map(i => (i, i, i / 400)).toDF("id", "v", "part").repartition(4))
    val totalFiles = t.snapshot(1).size
    val view = spark.read.format("graft.sources.SnapshotSource")
      .option("root", root).option("statscol", "v").load()
    assert(view.orderBy(col("v")).limit(7).collect().map(_.getLong(1)).toSeq
      === (0L until 7L), "ascending top-k parity")
    val ascPlanned = graft.sources.SnapshotSource.ScanProbe.lastPlannedSlices
    assert(ascPlanned > 0 && ascPlanned <= totalFiles / 4,
      s"asc top-7 must read only the low band's files ($ascPlanned of $totalFiles)")
    assert(view.orderBy(col("v").desc).limit(7).collect().map(_.getLong(1)).toSeq
      === (3199L until 3192L by -1), "descending top-k parity")
    val descPlanned = graft.sources.SnapshotSource.ScanProbe.lastPlannedSlices
    assert(descPlanned > 0 && descPlanned <= totalFiles / 4,
      s"desc top-7 must read only the high band's files ($descPlanned of $totalFiles)")
    // a NULLABLE stats column still prunes: the manifests' per-file null
    // counts say exactly where null rows rank (all 100 nulls live in the
    // id < 100 band = part 0's files)
    val rootN = java.nio.file.Files.createTempDirectory("snaptopnn").toString
    val tn = new SnapshotTable(spark, rootN, statsCol = Some("v"))
    val nullable = (0L until 3200L).map(i => (i, i, i / 400)).toDF("id", "v0", "part")
      .withColumn("v", when(col("id") >= 100L, col("v0"))).drop("v0")
      .select("id", "v", "part")
    assert(nullable.schema("v").nullable, "fixture: v must be nullable")
    tn.init(nullable)
    val totalN = tn.snapshot(1).size
    assert(tn.snapshot(1).forall(_.nulls.isDefined), "footer harvest records null counts")
    assert(tn.snapshot(1).map(_.nulls.get).sum === 100L)
    val viewN = spark.read.format("graft.sources.SnapshotSource")
      .option("root", rootN).option("statscol", "v").load()
    // asc default = NULLS FIRST: top-7 are null rows -> only null-carrying
    // files (part 0's) plan
    assert(viewN.orderBy(col("v")).limit(7).collect().forall(_.isNullAt(1)))
    val nfPlanned = graft.sources.SnapshotSource.ScanProbe.lastPlannedSlices
    assert(nfPlanned > 0 && nfPlanned <= totalN / 4,
      s"nulls-first top-7 must plan only null-carrying files ($nfPlanned of $totalN)")
    // asc NULLS LAST: top-7 non-nulls are v=100..106 -> the low band only
    assert(viewN.orderBy(col("v").asc_nulls_last).limit(7).collect()
      .map(_.getLong(1)).toSeq === (100L until 107L))
    val nlPlanned = graft.sources.SnapshotSource.ScanProbe.lastPlannedSlices
    assert(nlPlanned > 0 && nlPlanned <= totalN / 4,
      s"nulls-last top-7 must prune to the low band ($nlPlanned of $totalN)")
    // desc default = NULLS LAST: the high band only
    assert(viewN.orderBy(col("v").desc).limit(7).collect()
      .map(_.getLong(1)).toSeq === (3199L until 3192L by -1))
    val dPlanned = graft.sources.SnapshotSource.ScanProbe.lastPlannedSlices
    assert(dPlanned > 0 && dPlanned <= totalN / 4,
      s"desc top-7 must prune to the high band ($dPlanned of $totalN)")
    // k larger than the non-null population under NULLS LAST: nulls fill
    // the tail, so NOTHING may be pruned
    assert(viewN.orderBy(col("v").desc).limit(3150).count() === 3150L)
    assert(graft.sources.SnapshotSource.ScanProbe.lastPlannedSlices === totalN,
      "k beyond the non-null population must keep every file")
  }

  test("runtime RANGE filtering: a join on the stats column narrows the scan to the keys' envelope") {
    val root = java.nio.file.Files.createTempDirectory("snaprrf").toString
    val t = new SnapshotTable(spark, root, statsCol = Some("v"))
    // event-ordered layout: range-repartitioned on v, so per-file bounds
    // band the stats column tightly
    t.init((0L until 8000L).map(i => (i, i % 4, i)).toDF("id", "part", "v")
      .repartitionByRange(16, $"v"))
    val totalFiles = t.snapshot(1).size
    assert(totalFiles > 16, "fixture: several files with narrow v bands")
    spark.read.format("graft.sources.SnapshotSource")
      .option("root", root).option("statscol", "v").load()
      .createOrReplaceTempView("snap_rrf")
    // the dim's v values are only known at execution (the tag filter) and
    // cluster in ONE band [300, 399]; non-local so the selective predicate
    // survives optimization (the DPP-test gotcha)
    spark.range(0L, 8000L).select($"id".as("v"), ($"id" / 100).cast("long").as("tag"))
      .createOrReplaceTempView("snap_rrf_dim")
    val joined = spark.sql(
      "SELECT f.id FROM snap_rrf f JOIN snap_rrf_dim d ON f.v = d.v WHERE d.tag = 3")
    assert(joined.count() === 100L)
    val planned = graft.sources.SnapshotSource.ScanProbe.lastPlannedSlices
    assert(planned > 0 && planned <= totalFiles / 4,
      s"runtime range filter must narrow planning to the joined band ($planned of $totalFiles)")
  }

  test("COUNT(*)/MIN/MAX answer from MANIFESTS alone: they survive the data files being renamed away") {
    val root = java.nio.file.Files.createTempDirectory("snapagg").toString
    val t = new SnapshotTable(spark, root, statsCol = Some("id"))
    t.init((0L until 1000L).map(i => (i, i / 125, i % 7)).toDF("id", "part", "v").repartition(4))
    spark.read.format("graft.sources.SnapshotSource").option("root", root).load()
      .createOrReplaceTempView("snap_agg")
    // the airtight pin: RENAME every data file away — a metadata-only
    // aggregate cannot notice, a real scan would explode
    val entries = t.snapshot(1)
    def mv(suffix: String): Unit = entries.foreach { e =>
      java.nio.file.Files.move(java.nio.file.Paths.get(e.path + (if (suffix.isEmpty) ".bak" else "")),
        java.nio.file.Paths.get(e.path + suffix)); ()
    }
    mv(".bak")
    try {
      assert(spark.sql("SELECT COUNT(*) FROM snap_agg").head.getLong(0) === 1000L)
      val mm = spark.sql("SELECT MIN(id), MAX(id) FROM snap_agg").head
      assert((mm.getLong(0), mm.getLong(1)) === ((0L, 999L)))
      // grouped by the partition key: one metadata row per partition
      val perPart = spark.sql("SELECT part, COUNT(*) AS c FROM snap_agg GROUP BY part")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(perPart === (0L until 8L).map(_ -> 125L).toMap)
      // MIN of a non-stats column must NOT push (it would need the data):
      // with the files gone this query has to FAIL, proving the fallback
      intercept[Exception] { spark.sql("SELECT MIN(v) FROM snap_agg").collect() }
    } finally mv("")
    // files restored: a FILTERED aggregate falls back to the real scan
    // (all our filters are residual, so Spark won't push the aggregate)
    assert(spark.sql("SELECT COUNT(*) FROM snap_agg WHERE id < 10").head.getLong(0) === 10L)
    assert(spark.sql("SELECT MIN(v) FROM snap_agg").head.getLong(0) === 0L)
    // metadata aggregates time-travel: each version answers from ITS OWN
    // manifests
    t.upsert(Seq((2000L, 3L, 1L)).toDF("id", "part", "v"), Seq("id"))
    Seq(1, 2).foreach { v =>
      spark.read.format("graft.sources.SnapshotSource")
        .option("root", root).option("version", v.toString).load()
        .createOrReplaceTempView(s"snap_agg_v$v")
    }
    assert(spark.sql("SELECT COUNT(*) FROM snap_agg_v1").head.getLong(0) === 1000L)
    assert(spark.sql("SELECT COUNT(*), MAX(id) FROM snap_agg_v2").head match {
      case r => (r.getLong(0), r.getLong(1)) == ((1001L, 2000L))
    })
  }

  test("streaming postings ingest: a new document becomes searchable after its micro-batch merges") {
    import org.apache.spark.sql.functions.{pmod, xxhash64, lit, col, explode, split}
    import org.apache.spark.sql.types._
    val (_, t) = freshTable()
    // index two seed docs; doc names tokenise on '_'
    val seed = Seq(("node", 1L, "alpha_one"), ("node", 2L, "beta_two"))
      .toDF("kind", "id", "name")
      .select(col("kind"), col("id"), explode(split(col("name"), "_")).as("token"))
      .distinct()
      .withColumn("part", pmod(xxhash64(col("token")),
        lit(graft.index.SnapshotQueries.NAME_IDX_BUCKETS)))
    t.init(seed)
    // the indexing SINK: a stream of new documents' postings merged per
    // micro-batch (part = f(token), so a replayed batch is idempotent)
    val dir = java.nio.file.Files.createTempDirectory("snapnames").toString
    val schema = StructType(Seq(StructField("kind", StringType),
      StructField("id", LongType), StructField("token", StringType),
      StructField("part", LongType)))
    Seq(("node", 3L, "alpha_three"))
      .toDF("kind", "id", "name")
      .select(col("kind"), col("id"), explode(split(col("name"), "_")).as("token"))
      .withColumn("part", pmod(xxhash64(col("token")),
        lit(graft.index.SnapshotQueries.NAME_IDX_BUCKETS)))
      .write.mode("append").parquet(s"$dir/in")
    val in = spark.readStream.schema(schema).parquet(s"$dir/in")
    val q = graft.index.StreamIngest.upsertStream(in, t,
      Seq("kind", "id", "token"), s"$dir/ckpt")
    q.awaitTermination(60000)
    assert(t.currentVersion === 2)
    // the search sees the new doc: 'alpha' now matches docs 1 AND 3
    val hit = t.read().filter(col("token") === "alpha").select("kind", "id", "token")
    val ranked = graft.query.GeoQueries.rankPostings(hit, n = 3, k = 5)
      .collect().map(r => r.getLong(2)).toSet
    assert(ranked === Set(1L, 3L), "the streamed document must rank in the search")
  }

  test("indexed name search reads only the query tokens' buckets of the persisted postings table") {
    import org.apache.spark.sql.functions.{pmod, xxhash64, lit, col}
    val out = graft.index.SnapshotQueries.nameIndexedSearch(spark, sfDir)
    val rows = out.orderBy(col("rank")).collect()
    assert(rows.length === 12)
    // parity with the direct-scan ranked search (same oracle, same order)
    val direct = graft.query.GeoQueries.nameRanked(spark, sfDir)
      .orderBy(col("rank")).collect()
    assert(rows.map(_.toSeq).toSeq === direct.map(_.toSeq).toSeq)
    // the serving path is bucket-pruned: the query tokens' covering
    // manifests are a strict subset of the paged index metadata
    val t = new SnapshotTable(spark,
      graft.index.SnapshotQueries.rootFor("name-idx", sfDir))
    val all = t.manifestList(1)
    val buckets = Seq("state", "7").toDF("token")
      .select(pmod(xxhash64(col("token")), lit(graft.index.SnapshotQueries.NAME_IDX_BUCKETS)))
      .collect().map(_.getLong(0)).toSet
    val covering = all.filter(m => buckets.exists(p => m.partLo <= p && p <= m.partHi))
    assert(all.size > 1, s"index must page into several manifests (got ${all.size})")
    assert(covering.size < all.size,
      s"${covering.size} covering of ${all.size} pages — the search must not touch the whole index")
  }

  test("SQL DELETE is a METADATA delete: partition predicates drop files by manifest surgery alone") {
    val root = java.nio.file.Files.createTempDirectory("snapdelete").toString
    val t = new SnapshotTable(spark, root, statsCol = Some("id"))
    t.init((0L until 1000L).map(i => (i, i % 8, 1L)).toDF("id", "part", "ver").repartition(4))
    spark.read.format("graft.sources.SnapshotSource").option("root", root).load()
      .createOrReplaceTempView("snap_del")
    spark.sql("DELETE FROM snap_del WHERE part IN (2, 5)")
    assert(t.currentVersion === 2)
    val got = t.read().select("id").collect().map(_.getLong(0)).toSet
    assert(got === (0L until 1000L).filter(i => i % 8 != 2 && i % 8 != 5).toSet)
    // untouched partitions carry the SAME files; dropped files SURVIVE on
    // disk for time travel until expire()
    assert(t.snapshot(1).filterNot(e => e.part == 2L || e.part == 5L).map(_.path).toSet ===
      t.snapshot(2).map(_.path).toSet)
    t.snapshot(1).filter(e => e.part == 2L || e.part == 5L).foreach(e =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(e.path))))
    assert(t.read(1).count() === 1000L, "time travel sees the pre-delete table")
    // OR-of-equalities translates too
    spark.sql("DELETE FROM snap_del WHERE part = 0 OR part = 7")
    assert(t.read().select("part").distinct().collect().map(_.getLong(0)).toSet ===
      Set(1L, 3L, 4L, 6L))
    // a row-level predicate is REJECTED (no silent partial delete) — the
    // COW SnapshotTable.delete() API is the row-level path
    intercept[Exception] { spark.sql("DELETE FROM snap_del WHERE id = 3") }
    assert(t.currentVersion === 3, "a rejected delete must not commit")
    // unconditional DELETE truncates to an empty (still readable) table
    spark.sql("DELETE FROM snap_del")
    assert(t.currentVersion === 4)
    assert(t.read().count() === 0L)
    assert(t.read(3).count() === 500L, "previous snapshots intact")
  }

  test("change feed: each micro-batch refreshes exactly the touched partitions; restart resumes from the checkpoint") {
    val root = java.nio.file.Files.createTempDirectory("snapfeed").toString
    val t = new SnapshotTable(spark, root, statsCol = Some("id"))
    t.init(baseDf) // ids 0..999, part = id % 8, ver 1
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Set[(Long, Long, Long)]]()
    def startFeed() = spark.readStream.format("graft.sources.SnapshotSource")
      .option("root", root).load()
      .writeStream.option("checkpointLocation", s"$root/feed-ckpt")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got.add(df.select("id", "part", "ver").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
        ()
      }
      .start()
    val q = startFeed()
    try {
      q.processAllAvailable()
      // initial batch: the whole v1 snapshot
      assert(got.size === 1)
      assert(got.poll().size === 1000)
      // a merge touching ONLY partition 3 feeds partition 3's CURRENT rows
      t.upsert(Seq((3L, 3L, 2L), (2003L, 3L, 2L)).toDF("id", "part", "ver"), Seq("id"))
      q.processAllAvailable()
      assert(got.size === 1)
      val b2 = got.poll()
      assert(b2.forall(_._2 == 3L), "only the touched partition is re-fed")
      assert(b2.size === 126, "the partition's FULL current state (125 base + 1 insert)")
      assert(b2.filter(_._3 == 2L).map(_._1) === Set(3L, 2003L),
        "merged values, not pre-merge rows")
    } finally q.stop()
    // changedParts itself: page-sharing neighbours cancel out
    assert(t.changedParts(1, 2) === Some(Set(3L)))
    assert(t.changedParts(0, 2) === None, "initial offset = everything")
    // a commit landing while the feed is DOWN arrives after restart — the
    // checkpointed version offset resumes, nothing replays
    t.upsert(Seq((4L, 4L, 3L)).toDF("id", "part", "ver"), Seq("id"))
    val q2 = startFeed()
    try {
      q2.processAllAvailable()
      assert(got.size === 1, "exactly one catch-up batch, no replay of consumed offsets")
      val b3 = got.poll()
      assert(b3.forall(_._2 == 4L))
      assert(b3.size === 125)
      assert(b3.filter(_._3 == 3L).map(_._1) === Set(4L))
    } finally q2.stop()
  }

  test("change feed admission control: maxversionspertrigger splits a catch-up into commit-sized batches") {
    val root = java.nio.file.Files.createTempDirectory("snapfeedcap").toString
    val t = new SnapshotTable(spark, root, statsCol = Some("id"))
    t.init(baseDf) // v1
    t.upsert(Seq((3L, 3L, 2L)).toDF("id", "part", "ver"), Seq("id")) // v2
    t.upsert(Seq((4L, 4L, 2L)).toDF("id", "part", "ver"), Seq("id")) // v3
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Set[Long]]()
    val q = spark.readStream.format("graft.sources.SnapshotSource")
      .option("root", root).option("maxversionspertrigger", "1").load()
      .writeStream.option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.add(df.select("part").collect().map(_.getLong(0)).toSet)
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    // three versions behind -> three batches, each ONE commit's window
    import scala.jdk.CollectionConverters._
    val got = batches.iterator().asScala.toSeq
    assert(got.size === 3, s"catch-up must split per version (got ${got.size} batches)")
    assert(got(0) === (0L until 8L).toSet, "batch 1 = the initial snapshot (v0 -> v1)")
    assert(got(1) === Set(3L), "batch 2 = v2's touched partition only")
    assert(got(2) === Set(4L), "batch 3 = v3's touched partition only")
  }

  test("streaming epoch commits: replay fence drops duplicates, foreign queries unaffected") {
    val (_, t) = freshTable()
    t.init(baseDf) // v1
    def mkEntries(id: Long, part: Long): Seq[SnapshotTable.FileEntry] = {
      val dir = java.nio.file.Files.createTempDirectory("epochfiles").toString + "/d"
      Seq((id, 1L, part)).toDF("id", "ver", "_part").coalesce(1).write.parquet(dir)
      val f = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head
      Seq(SnapshotTable.FileEntry(f.getAbsolutePath, part, 1L, f.length()))
    }
    assert(t.commitFilesEpoch(mkEntries(9000L, 3L), SnapshotTable.WriteAppend, "qA", 0L) === 2)
    assert(t.read().where($"id" === 9000L).count() === 1)
    // replay of epoch 0 (a restart re-delivers the last batch): fenced —
    // no new version, the duplicate's files deleted, rows unchanged
    val dup = mkEntries(9000L, 3L)
    assert(t.commitFilesEpoch(dup, SnapshotTable.WriteAppend, "qA", 0L) === 2)
    assert(t.currentVersion === 2)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dup.head.path)),
      "the replayed epoch's files must be deleted")
    assert(t.read().where($"id" === 9000L).count() === 1)
    // a DIFFERENT query's epoch 0 is not fenced; qA's next epoch advances
    assert(t.commitFilesEpoch(mkEntries(9001L, 4L), SnapshotTable.WriteAppend, "qB", 0L) === 3)
    assert(t.commitFilesEpoch(mkEntries(9002L, 5L), SnapshotTable.WriteAppend, "qA", 1L) === 4)
    assert(t.lastEpochFor("qA") === Some(1L))
    assert(t.lastEpochFor("qB") === Some(0L))
    assert(t.lastEpochFor("nope") === None)
    assert(t.streamMarker(2) === Some(("qA", 0L)))
    assert(t.streamMarker(1) === None, "a non-streaming commit carries no marker")
  }

  test("streaming sink: a file stream's micro-batches land as snapshot versions") {
    val (root, t) = freshTable()
    t.init(baseDf) // v1
    val in = java.nio.file.Files.createTempDirectory("sinkin").toString
    Seq((8000L, 7L, 2L)).toDF("id", "ver", "part").write.parquet(s"$in/b1")
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", org.apache.spark.sql.types.LongType)
      .add("ver", org.apache.spark.sql.types.LongType)
      .add("part", org.apache.spark.sql.types.LongType)
    val q = spark.readStream.schema(schema).parquet(s"$in/*")
      .writeStream.format("graft.sources.SnapshotSource")
      .option("root", root).option("checkpointLocation", s"$root/ckpt")
      .start()
    try {
      q.processAllAvailable()
      assert(t.currentVersion === 2)
      assert(t.read().where($"id" === 8000L).count() === 1)
      Seq((8001L, 7L, 6L)).toDF("id", "ver", "part").write.parquet(s"$in/b2")
      q.processAllAvailable()
    } finally q.stop()
    assert(t.currentVersion === 3)
    val (m2, m3) = (t.streamMarker(2).get, t.streamMarker(3).get)
    assert(m2._1 === m3._1, "both epochs stamped by the same query")
    assert(m3._2 > m2._2, "epoch ids must be monotone")
    assert(t.read().where($"ver" === 7L).count() === 2)
  }

  test("mirror pipeline: change feed + replacepartitions sink converge a follower table") {
    val rootA = java.nio.file.Files.createTempDirectory("mirrorA").toString
    val a = new SnapshotTable(spark, rootA)
    a.init(baseDf)
    val rootB = java.nio.file.Files.createTempDirectory("mirrorB").toString
    val b = new SnapshotTable(spark, rootB)
    b.init(baseDf.limit(17)) // stale seed state — the mirror must converge anyway
    def pipe() = spark.readStream.format("graft.sources.SnapshotSource")
      .option("root", rootA).load()
      .writeStream.format("graft.sources.SnapshotSource")
      .option("root", rootB).option("replacepartitions", "true")
      .option("checkpointLocation", s"$rootB/ckpt")
      .start()
    def state(t: SnapshotTable) = t.read().select("id", "part", "ver").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val q = pipe()
    try {
      q.processAllAvailable()
      assert(state(b) === state(a), "initial snapshot replicated")
      a.upsert(Seq((3L, 3L, 2L), (2003L, 3L, 2L)).toDF("id", "part", "ver"), Seq("id"))
      q.processAllAvailable()
      // the feed re-emits partition 3 WHOLE; partition-replace applies it
      // as an overwrite, so the follower matches instead of duplicating
      assert(state(b) === state(a), "upsert replicated partition-exact")
    } finally q.stop()
    // restart on the same checkpoint with nothing new upstream: a no-op
    // (any replayed batch dies on the epoch fence, not as duplicate rows)
    val vB = b.currentVersion
    val q2 = pipe()
    try q2.processAllAvailable() finally q2.stop()
    assert(b.currentVersion === vB)
    assert(state(b) === state(a))
  }

  test("addColumn is metadata-only: old files null-fill, new writes carry values") {
    val (root, t) = freshTable()
    t.init(baseDf) // v1: (id, ver, part), 1000 rows, parts 0-7
    val filesBefore = t.snapshot(1).map(_.path).toSet
    t.addColumn("score", org.apache.spark.sql.types.LongType)
    assert(t.snapshot(1).map(_.path).toSet === filesBefore, "no data file rewritten")
    assert(t.read().schema.fieldNames.toSeq === Seq("id", "ver", "score", "part"))
    assert(t.read().where($"score".isNotNull).count() === 0, "pre-evolution files null-fill")
    // a post-evolution upsert carries the column; untouched partitions stay null
    t.upsert(Seq((3L, 2L, 77L, 3L)).toDF("id", "ver", "score", "part"), Seq("id"))
    assert(t.read().where($"score" === 77L).count() === 1)
    assert(t.read().where($"part" === 5L && $"score".isNull).count() === 125)
    // partition 3's REWRITTEN survivors carry explicit nulls, same answer
    assert(t.read().where($"part" === 3L && $"score".isNull).count() === 124)
    // the DSv2 vectorized path sees the evolved schema and null-fills too
    val sql = spark.read.format("graft.sources.SnapshotSource").option("root", root).load()
    assert(sql.schema.fieldNames.contains("score"))
    assert(sql.where($"score" === 77L).count() === 1)
    assert(sql.where($"score".isNull).count() === 999)
    // time travel reads pre-evolution snapshots with the CURRENT schema
    assert(t.read(1).schema.fieldNames.contains("score"))
    assert(t.read(1).where($"score".isNull).count() === 1000)
    // compacting a MIXED pre-/post-evolution partition keeps the column:
    // append a post-evolution file into part 5 (which still holds its
    // pre-evolution file), then compact them into one
    val dir = java.nio.file.Files.createTempDirectory("evoappend").toString + "/d"
    Seq((9100L, 1L, 55L, 5L)).toDF("id", "ver", "score", "_part")
      .coalesce(1).write.parquet(dir)
    val af = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head
    t.commitFilesEpoch(Seq(SnapshotTable.FileEntry(af.getAbsolutePath, 5L, 1L, af.length())),
      SnapshotTable.WriteAppend, "evoq", 0L)
    val vc = t.compact()
    assert(t.snapshot(vc).count(_.part == 5L) === 1, "part 5 compacted to one file")
    assert(t.read(vc).where($"score" === 55L).count() === 1,
      "compact must not let footer inference drop the evolved column")
    assert(t.read(vc).where($"part" === 5L && $"score".isNull).count() === 125)
    intercept[IllegalArgumentException](t.addColumn("score", org.apache.spark.sql.types.LongType))
    intercept[IllegalArgumentException](t.addColumn("part", org.apache.spark.sql.types.LongType))
  }

  test("dropColumn is metadata-only; part and the stats column are protected") {
    val root = java.nio.file.Files.createTempDirectory("snapdrop").toString
    val t = new SnapshotTable(spark, root, statsCol = Some("id"))
    t.init(baseDf)
    val filesBefore = t.snapshot(1).map(_.path).toSet
    t.dropColumn("ver")
    assert(t.snapshot(1).map(_.path).toSet === filesBefore, "no data file rewritten")
    assert(t.read().schema.fieldNames.toSeq === Seq("id", "part"))
    assert(t.read().count() === 1000)
    intercept[IllegalArgumentException](t.dropColumn("part"))
    intercept[IllegalArgumentException](t.dropColumn("id")) // stats column
    intercept[IllegalArgumentException](t.dropColumn("nope"))
    intercept[IllegalArgumentException](t.dropColumn("id")) // also the last data column
  }

  test("expire drops old snapshots' orphan files but keeps everything current") {
    val (_, t) = freshTable()
    t.init(baseDf)
    t.upsert(Seq((1L, 1L, 2L)).toDF("id", "part", "ver"), Seq("id"))
    val v1Part1 = t.snapshot(1).filter(_.part == 1L).map(_.path)
    val deleted = t.expire(keepLast = 1)
    // exactly the replaced partition-1 files of v1 are orphans
    assert(deleted === v1Part1.size)
    v1Part1.foreach(p => assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(p))))
    // the current snapshot remains fully readable
    assert(t.read().count() === 1000L)
    assert(t.currentVersion === 2)
  }

  /** Reference stats of one data file, read back from its parquet footer:
    * (rows, bytes, lo, hi, nulls), the last three for stats column `c`
    * when the file carries it as a LONG column, else None. */
  private def footerStats(path: String, c: Option[String])
      : (Long, Long, Option[Long], Option[Long], Option[Long]) = {
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      val longCol = c.filter(n => r.getFooter.getFileMetaData.getSchema.getFields.asScala.exists(f =>
        f.getName == n && f.isPrimitive && f.asPrimitiveType.getPrimitiveTypeName ==
          org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64))
      val stats = longCol.toSeq.flatMap(n => blocks.map(b =>
        b.getColumns.asScala.find(_.getPath.toDotString == n).get.getStatistics))
      val valued = stats.filter(_.hasNonNullValue)
      def bound(f: org.apache.parquet.column.statistics.Statistics[_] => Any, pick: Seq[Long] => Long) =
        if (valued.isEmpty) None
        else Some(pick(valued.map(st => f(st).asInstanceOf[java.lang.Long].longValue)))
      (blocks.map(_.getRowCount).sum, in.getLength,
        bound(_.genericGetMin, _.min), bound(_.genericGetMax, _.max),
        longCol.map(_ => stats.map(_.getNumNulls).sum))
    } finally r.close()
  }

  test("manifest stats equal each data file's parquet footer on every write path") {
    def parity(t: SnapshotTable, c: Option[String], op: String): Unit = {
      val entries = t.snapshot(t.currentVersion)
      assert(entries.nonEmpty, op)
      entries.foreach { e =>
        assert((e.rows, e.bytes, e.lo, e.hi, e.nulls) === footerStats(e.path, c),
          s"$op: manifest entry of ${e.path} differs from its footer")
      }
    }
    val plain = new SnapshotTable(spark,
      java.nio.file.Files.createTempDirectory("snapparity0").toString)
    plain.init(baseDf)
    parity(plain, None, "init without a stats column")
    // stats column `ts` with NULLs: bounds skip them, the null count is exact
    val t = new SnapshotTable(spark,
      java.nio.file.Files.createTempDirectory("snapparity1").toString, statsCol = Some("ts"))
    t.init((0L until 1000L).map(i => (i, if (i % 7 == 0) None else Some(i * 3), i % 8))
      .toDF("id", "ts", "part").repartition(4))
    parity(t, Some("ts"), "init")
    // partition 9 arrives all-NULL on `ts`: its file records no bounds
    t.upsert(Seq((5L, Some(1L), 5L), (3000L, None, 9L), (3001L, None, 9L))
      .toDF("id", "ts", "part"), Seq("id"))
    parity(t, Some("ts"), "upsert")
    assert(t.snapshot(t.currentVersion).filter(_.part == 9L).forall(_.lo.isEmpty))
    t.delete(Seq((6L, 6L)).toDF("id", "part"), Seq("id"))
    parity(t, Some("ts"), "delete")
    t.upsertMor(Seq((9L, Some(77L), 1L)).toDF("id", "ts", "part"), "id")
    parity(t, Some("ts"), "upsertMor")
    t.deleteKeysMor(Seq(10L, 11L).toDF("id"), "id")
    parity(t, Some("ts"), "deleteKeysMor")
    val beforeCompact = t.currentVersion
    assert(t.compact() === beforeCompact + 1)
    parity(t, Some("ts"), "compact")
    assert(t.read().count() === 1000L + 2 - 1 - 2)
  }

  test("relative, double-slash, trailing-slash and symlinked roots read and expire alike") {
    val base = java.nio.file.Files.createTempDirectory("snappathform")
    val link = java.nio.file.Files.createSymbolicLink(base.resolve("link"),
      java.nio.file.Files.createDirectory(base.resolve("real")))
    val cwd = java.nio.file.Paths.get("").toAbsolutePath
    val forms: Seq[(String, String => String)] = Seq(
      "relative" -> (n => cwd.relativize(base.resolve(n)).toString),
      "double-slash" -> (n => s"$base//$n"),
      "trailing-slash" -> (n => s"$base/$n/"),
      "symlinked" -> (n => s"$link/$n"))
    (0L until 10L).map(i => (5000L + i, i % 16, 2L)).toDF("id", "part", "ver")
      .createOrReplaceTempView("snap_pathform_delta")
    val was = SnapshotTable.distributedPlanThreshold
    try for ((form, rootOf) <- forms; distributed <- Seq(false, true)) {
      val arm = if (distributed) "distributed" else "driver"
      SnapshotTable.distributedPlanThreshold = if (distributed) 1 else was
      val root = rootOf(s"$form-$arm")
      val t = new SnapshotTable(spark, root)
      t.init((0L until 2000L).map(i => (i, i % 16, 1L)).toDF("id", "part", "ver"))
      assert(t.read().count() === 2000L, s"$form root, $arm planning")
      spark.read.format("graft.sources.SnapshotSource").option("root", root).load()
        .createOrReplaceTempView("snap_pathform")
      spark.sql("INSERT INTO snap_pathform SELECT id, ver, part FROM snap_pathform_delta")
      t.expire(keepLast = 1, orphanGraceMs = 0L)
      t.pruneFiles(None, None).foreach(f => assert(
        java.nio.file.Files.exists(java.nio.file.Paths.get(f.path)),
        s"$form root, $arm planning: expire deleted live file ${f.path}"))
      assert(t.read().count() === 2010L, s"$form root, $arm planning, after expire")
    } finally SnapshotTable.distributedPlanThreshold = was
    // a root the manifest codec cannot spell is rejected up front
    intercept[IllegalArgumentException](new SnapshotTable(spark, base.resolve("quo\"te").toString))
  }

  test("a non-MOR table with an unreadable mor.json still resolves its schema and reads") {
    val (root, t) = freshTable()
    t.init(baseDf)
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$root/mor.json"))
    val df = spark.read.format("graft.sources.SnapshotSource").option("root", root).load()
    assert(df.schema.fieldNames.toSeq === Seq("id", "ver", "part"))
    df.createOrReplaceTempView("snap_nomor")
    assert(spark.sql("SELECT id FROM snap_nomor WHERE part = 3").collect().map(_.getLong(0)).toSet ===
      (0L until 1000L).filter(_ % 8 == 3).toSet)
  }

  test("a compaction that rewrites every partition drops the global delete it folds") {
    val root = java.nio.file.Files.createTempDirectory("snapgcexact").toString
    // stats-column table: the 4-task fan-out layout fragments every partition
    val t = new SnapshotTable(spark, root, statsCol = Some("id"))
    t.init((0L until 1000L).map(i => (i, i % 4, 1L)).toDF("id", "part", "ver").repartition(4))
    assert((0L until 4L).forall(p => t.snapshot(1).count(_.part == p) > 1),
      "fixture: every partition fragmented")
    t.deleteKeysMor(Seq(3L, 5L).toDF("id"), "id") // GLOBAL delete, seq 2
    assert(t.snapshot(2).count(_.isDelete) > 0)
    assert(t.compact() === 3)
    assert(t.snapshot(3).forall(f => !f.isDelete && f.seq == 3),
      "every partition rewritten at seq 3 leaves the folded global delete inert: GC it now")
    assert(t.read().count() === 998L)
  }
}
