package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.index.SnapshotTable

/** The SQL catalog surface over snapshot tables: DDL (CREATE/ALTER/DROP),
  * DML (INSERT/DELETE), time travel, and the snapshot machinery riding
  * underneath (versions, metadata-only evolution, manifest pruning). */
class GraftCatalogSpec extends SparkSpec {

  import spark.implicits._
  import org.apache.spark.sql.functions._

  private lazy val warehouse = {
    val dir = java.nio.file.Files.createTempDirectory("graftcat").toString
    spark.conf.set("spark.sql.catalog.cat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.cat.warehouse", dir)
    dir
  }

  test("CREATE TABLE persists schema only; INSERT commits version 1; SELECT reads it") {
    warehouse
    spark.sql("CREATE NAMESPACE cat.geo")
    spark.sql("CREATE TABLE cat.geo.cells (id BIGINT, cell BIGINT, part BIGINT) " +
      "PARTITIONED BY (part) TBLPROPERTIES ('statscol'='cell')")
    val t = new SnapshotTable(spark, s"$warehouse/geo/cells")
    assert(t.currentVersion === 0, "CREATE TABLE writes no snapshot")
    assert(t.statsColumn === Some("cell"), "statscol property persisted")
    assert(spark.sql("SELECT * FROM cat.geo.cells").count() === 0, "empty table readable")
    spark.sql("INSERT INTO cat.geo.cells SELECT id, id * 10 AS cell, id % 4 AS part " +
      "FROM range(100)")
    assert(t.currentVersion === 1)
    assert(spark.sql("SELECT count(*) AS n FROM cat.geo.cells").head().getLong(0) === 100)
    // pruning machinery live on catalog tables: part + stats range filters
    assert(spark.sql("SELECT count(*) AS n FROM cat.geo.cells " +
      "WHERE part = 3 AND cell BETWEEN 30 AND 330").head().getLong(0) === 8)
    assert(spark.sql("SHOW TABLES IN cat.geo").collect().map(_.getString(1)).toSet === Set("cells"))
  }

  test("ALTER TABLE ADD/DROP COLUMN is metadata-only; time travel reads old versions") {
    warehouse
    spark.sql("CREATE TABLE cat.geo.evo (id BIGINT, v BIGINT, part BIGINT) PARTITIONED BY (part)")
    spark.sql("INSERT INTO cat.geo.evo SELECT id, id AS v, id % 2 AS part FROM range(10)")
    val t = new SnapshotTable(spark, s"$warehouse/geo/evo")
    val filesV1 = t.snapshot(1).map(_.path).toSet
    spark.sql("ALTER TABLE cat.geo.evo ADD COLUMN score BIGINT")
    assert(t.snapshot(1).map(_.path).toSet === filesV1, "DDL touched no data file")
    assert(spark.sql("SELECT * FROM cat.geo.evo WHERE score IS NULL").count() === 10)
    spark.sql("INSERT INTO cat.geo.evo VALUES (100, 100, 7, 1)")
    assert(t.currentVersion === 2)
    assert(spark.sql("SELECT count(*) AS n FROM cat.geo.evo WHERE score = 7").head().getLong(0) === 1)
    // time travel: version 1 predates the insert (current schema, null col)
    val v1 = spark.sql("SELECT * FROM cat.geo.evo VERSION AS OF 1")
    assert(v1.count() === 10)
    assert(v1.schema.fieldNames.contains("score"))
    spark.sql("ALTER TABLE cat.geo.evo DROP COLUMN v")
    assert(spark.sql("SELECT * FROM cat.geo.evo").schema.fieldNames.toSeq ===
      Seq("id", "score", "part"))
    assert(spark.sql("SELECT count(*) AS n FROM cat.geo.evo").head().getLong(0) === 11)
  }

  test("DELETE FROM aligned on partitions is metadata-only; DROP TABLE removes the dir") {
    warehouse
    spark.sql("CREATE TABLE cat.geo.del (id BIGINT, part BIGINT) PARTITIONED BY (part)")
    spark.sql("INSERT INTO cat.geo.del SELECT id, id % 4 AS part FROM range(40)")
    val t = new SnapshotTable(spark, s"$warehouse/geo/del")
    val dataFiles = t.snapshot(1).map(_.path).toSet
    spark.sql("DELETE FROM cat.geo.del WHERE part = 2")
    assert(spark.sql("SELECT count(*) AS n FROM cat.geo.del").head().getLong(0) === 30)
    assert(t.snapshot(2).map(_.path).toSet.subsetOf(dataFiles),
      "partition delete rewrote no data file")
    spark.sql("DROP TABLE cat.geo.del")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$warehouse/geo/del")))
    assert(spark.sql("SHOW TABLES IN cat.geo").collect().map(_.getString(1)).toSet
      .intersect(Set("del")).isEmpty)
  }

  test("UPDATE is COW at partition granularity: only matched partitions rewrite") {
    warehouse
    spark.sql("CREATE TABLE cat.geo.upd (id BIGINT, v BIGINT, part BIGINT) PARTITIONED BY (part)")
    spark.sql("INSERT INTO cat.geo.upd SELECT id, id AS v, id % 4 AS part FROM range(40)")
    val t = new SnapshotTable(spark, s"$warehouse/geo/upd")
    val byPart1 = t.snapshot(1).groupBy(_.part).view.mapValues(_.map(_.path).toSet).toMap
    spark.sql("UPDATE cat.geo.upd SET v = v + 1000 WHERE part = 1 AND id < 10")
    assert(t.currentVersion === 2)
    val byPart2 = t.snapshot(2).groupBy(_.part).view.mapValues(_.map(_.path).toSet).toMap
    Seq(0L, 2L, 3L).foreach(p => assert(byPart2(p) === byPart1(p),
      s"partition $p must carry over by reference"))
    assert(byPart2(1L).intersect(byPart1(1L)).isEmpty, "partition 1 fully rewritten")
    assert(spark.sql("SELECT count(*) AS n FROM cat.geo.upd").head().getLong(0) === 40)
    assert(spark.sql("SELECT count(*) AS n FROM cat.geo.upd WHERE v >= 1000").head().getLong(0) === 3)
    assert(spark.sql("SELECT sum(v) AS s FROM cat.geo.upd WHERE part = 1").head().getLong(0) ===
      (1 + 5 + 9 + 3000) + (13 + 17 + 21 + 25 + 29 + 33 + 37))
  }

  test("MERGE INTO: delete, update and insert clauses through one COW rewrite") {
    warehouse
    spark.sql("CREATE TABLE cat.geo.m (id BIGINT, v BIGINT, part BIGINT) PARTITIONED BY (part)")
    spark.sql("INSERT INTO cat.geo.m SELECT id, id AS v, id % 2 AS part FROM range(10)")
    Seq((0L, 0L, 0L, "D"), (1L, 500L, 1L, "U"), (100L, 900L, 9L, "I"))
      .toDF("id", "v", "part", "op").createOrReplaceTempView("m_src")
    spark.sql(
      """MERGE INTO cat.geo.m t USING m_src s ON t.id = s.id AND t.part = s.part
        |WHEN MATCHED AND s.op = 'D' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, v, part) VALUES (s.id, s.v, s.part)""".stripMargin)
    val got = spark.sql("SELECT id, v, part FROM cat.geo.m ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = ((1L until 10L).map(i => (i, if (i == 1L) 500L else i, i % 2)) :+
      (100L, 900L, 9L)).sortBy(_._1)
    assert(got === want, "delete id=0, update id=1, insert id=100 into a NEW partition")
  }

  test("non-aligned DELETE falls back to COW; aligned DELETE stays metadata-only") {
    warehouse
    spark.sql("CREATE TABLE cat.geo.d2 (id BIGINT, part BIGINT) PARTITIONED BY (part)")
    spark.sql("INSERT INTO cat.geo.d2 SELECT id, id % 3 AS part FROM range(30)")
    val t = new SnapshotTable(spark, s"$warehouse/geo/d2")
    val v1Files = t.snapshot(1).map(_.path).toSet
    // aligned: pure partition predicate -> metadata-only (no file rewritten)
    spark.sql("DELETE FROM cat.geo.d2 WHERE part = 0")
    assert(t.snapshot(2).map(_.path).toSet.subsetOf(v1Files), "metadata delete wrote nothing")
    assert(spark.sql("SELECT count(*) AS n FROM cat.geo.d2").head().getLong(0) === 20)
    // non-aligned: row predicate -> COW rewrite of the matched partitions
    spark.sql("DELETE FROM cat.geo.d2 WHERE part = 1 AND id < 10")
    assert(spark.sql("SELECT count(*) AS n FROM cat.geo.d2").head().getLong(0) === 17)
    assert(spark.sql("SELECT count(*) AS n FROM cat.geo.d2 WHERE part = 1").head().getLong(0) === 7)
    val byPart3 = t.snapshot(t.currentVersion).groupBy(_.part)
      .view.mapValues(_.map(_.path).toSet).toMap
    assert(byPart3(2L).subsetOf(v1Files), "unmatched partition 2 carried by reference")
    assert(byPart3(1L).intersect(v1Files).isEmpty, "matched partition 1 rewritten")
  }

  test("_file metadata column: rows report their manifest data file at zero cost") {
    warehouse
    spark.sql("CREATE TABLE cat.geo.fm (id BIGINT, part BIGINT) PARTITIONED BY (part)")
    spark.sql("INSERT INTO cat.geo.fm SELECT id, id % 2 AS part FROM range(8)")
    val t = new SnapshotTable(spark, s"$warehouse/geo/fm")
    val manifestPaths = t.snapshot(1).map(_.path).toSet
    val got = spark.sql("SELECT DISTINCT _file FROM cat.geo.fm").collect()
      .map(_.getString(0)).toSet
    assert(got === manifestPaths, "_file must be exactly the manifest entries' paths")
    // hidden from SELECT * (metadata-column contract)
    assert(!spark.sql("SELECT * FROM cat.geo.fm").schema.fieldNames.contains("_file"))
    // usable in predicates alongside data columns
    val one = manifestPaths.head
    assert(spark.sql(s"SELECT count(*) AS n FROM cat.geo.fm WHERE _file = '$one'")
      .head().getLong(0) === 4)
  }

  test("model check: a seeded mixed DML sequence matches an in-memory model") {
    warehouse
    // statscol = id ARMS every stats-pruning path against the DML fuzz:
    // banded UPDATE conditions and MERGE group-filter subqueries must
    // never range- or envelope-prune survivor files out of a COW rewrite
    // (the rewrite scan declines stats runtime filtering by design) — a
    // regression there diverges from the model within a step or two
    spark.sql("CREATE TABLE cat.geo.fz (id BIGINT, v BIGINT, part BIGINT) " +
      "PARTITIONED BY (part) TBLPROPERTIES ('statscol'='id')")
    // model: id -> v (part = id % 5, derived — identity partitioning)
    val model = scala.collection.mutable.Map.empty[Long, Long]
    def pt(id: Long) = id % 5
    val rnd = new scala.util.Random(20260818L)
    // seed rows
    spark.sql("INSERT INTO cat.geo.fz SELECT id, id AS v, id % 5 AS part FROM range(50)")
    (0L until 50L).foreach(i => model(i) = i)
    def check(tag: String): Unit = {
      val got = spark.sql("SELECT id, v, part FROM cat.geo.fz").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
      val want = model.map { case (id, v) => id -> ((v, pt(id))) }.toMap
      assert(got === want, s"diverged after $tag")
    }
    for (step <- 0 until 30) {
      rnd.nextInt(4) match {
        case 0 => // append a fresh id
          val id = 1000L + step
          val v = rnd.nextInt(100).toLong
          spark.sql(s"INSERT INTO cat.geo.fz VALUES ($id, $v, ${pt(id)})")
          model(id) = v
        case 1 => // update a value band
          val lo = rnd.nextInt(50).toLong
          spark.sql(s"UPDATE cat.geo.fz SET v = v + 7 WHERE id >= $lo AND id < ${lo + 9}")
          model.keys.filter(id => id >= lo && id < lo + 9).foreach(id => model(id) += 7)
        case 2 => // delete a sparse slice
          val m = rnd.nextInt(6) + 2
          val r = rnd.nextInt(m)
          spark.sql(s"DELETE FROM cat.geo.fz WHERE id % $m = $r AND id < 50")
          model.keys.filter(id => id % m == r && id < 50).toSeq.foreach(model.remove)
        case _ => // merge: upsert 5 ids around a random base
          val base = rnd.nextInt(60).toLong
          val ids = (base until base + 5L)
          ids.map(i => (i, i * 2, pt(i))).toDF("id", "v", "part")
            .createOrReplaceTempView("fz_src")
          spark.sql(
            """MERGE INTO cat.geo.fz t USING fz_src s ON t.id = s.id AND t.part = s.part
              |WHEN MATCHED THEN UPDATE SET v = s.v
              |WHEN NOT MATCHED THEN INSERT (id, v, part) VALUES (s.id, s.v, s.part)""".stripMargin)
          ids.foreach(i => model(i) = i * 2)
      }
      check(s"step $step")
    }
    check("final")
    // the whole history stayed snapshot-versioned: time travel to the seed
    val t = new SnapshotTable(spark, s"$warehouse/geo/fz")
    assert(t.currentVersion >= 30)
    assert(spark.sql("SELECT count(*) AS n FROM cat.geo.fz VERSION AS OF 1").head().getLong(0) === 50)
  }

  test("model check under merge-on-read: the same DML fuzz through the DELTA path, compacting as it goes") {
    warehouse
    // same 30-step seeded sequence as the COW model check, but every
    // row-level statement takes the SupportsDelta merge-on-read path
    // (kilobyte commits), with a compaction folding the delete generations
    // every 10 steps — state must match the in-memory model at EVERY step
    spark.sql("CREATE TABLE cat.geo.fzmor (id BIGINT, v BIGINT, part BIGINT) " +
      "PARTITIONED BY (part) " +
      "TBLPROPERTIES ('delete.mode'='merge-on-read', 'morkey'='id')")
    val model = scala.collection.mutable.Map.empty[Long, Long]
    def pt(id: Long) = id % 5
    val rnd = new scala.util.Random(20260818L)
    spark.sql("INSERT INTO cat.geo.fzmor SELECT id, id AS v, id % 5 AS part FROM range(50)")
    (0L until 50L).foreach(i => model(i) = i)
    val t = new SnapshotTable(spark, s"$warehouse/geo/fzmor")
    def check(tag: String): Unit = {
      val got = spark.sql("SELECT id, v, part FROM cat.geo.fzmor").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
      val want = model.map { case (id, v) => id -> ((v, pt(id))) }.toMap
      assert(got === want, s"diverged after $tag")
    }
    for (step <- 0 until 30) {
      rnd.nextInt(4) match {
        case 0 =>
          val id = 1000L + step
          val v = rnd.nextInt(100).toLong
          spark.sql(s"INSERT INTO cat.geo.fzmor VALUES ($id, $v, ${pt(id)})")
          model(id) = v
        case 1 =>
          val lo = rnd.nextInt(50).toLong
          spark.sql(s"UPDATE cat.geo.fzmor SET v = v + 7 WHERE id >= $lo AND id < ${lo + 9}")
          model.keys.filter(id => id >= lo && id < lo + 9).foreach(id => model(id) += 7)
        case 2 =>
          val m = rnd.nextInt(6) + 2
          val r = rnd.nextInt(m)
          spark.sql(s"DELETE FROM cat.geo.fzmor WHERE id % $m = $r AND id < 50")
          model.keys.filter(id => id % m == r && id < 50).toSeq.foreach(model.remove)
        case _ =>
          val base = rnd.nextInt(60).toLong
          val ids = (base until base + 5L)
          ids.map(i => (i, i * 2, pt(i))).toDF("id", "v", "part")
            .createOrReplaceTempView("fzmor_src")
          spark.sql(
            """MERGE INTO cat.geo.fzmor t USING fzmor_src s ON t.id = s.id AND t.part = s.part
              |WHEN MATCHED THEN UPDATE SET v = s.v
              |WHEN NOT MATCHED THEN INSERT (id, v, part) VALUES (s.id, s.v, s.part)""".stripMargin)
          ids.foreach(i => model(i) = i * 2)
      }
      check(s"step $step")
      if (step % 10 == 9) { t.compact(); check(s"compact after step $step") }
    }
    check("final")
    assert(t.currentVersion >= 30)
    assert(spark.sql("SELECT count(*) AS n FROM cat.geo.fzmor VERSION AS OF 1")
      .head().getLong(0) === 50)
  }

  test("TIMESTAMP AS OF resolves to the latest version committed at or before the instant") {
    warehouse
    spark.sql("CREATE TABLE cat.geo.tt (id BIGINT, part BIGINT) PARTITIONED BY (part)")
    spark.sql("INSERT INTO cat.geo.tt VALUES (1, 0)") // v1
    Thread.sleep(20)
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(20)
    spark.sql("INSERT INTO cat.geo.tt VALUES (2, 0)") // v2
    val ts = new java.sql.Timestamp(betweenMs)
    val n = spark.sql(s"SELECT count(*) AS n FROM cat.geo.tt TIMESTAMP AS OF '$ts'")
      .head().getLong(0)
    assert(n === 1, "between the commits only v1 existed")
    assert(spark.sql("SELECT count(*) AS n FROM cat.geo.tt").head().getLong(0) === 2)
    val tooEarly = new java.sql.Timestamp(betweenMs - 3600 * 1000)
    intercept[Exception](spark.sql(
      s"SELECT * FROM cat.geo.tt TIMESTAMP AS OF '$tooEarly'").collect())
  }

  test("a row-level rewrite losing the commit race fails cleanly and leaves no orphan files") {
    warehouse
    spark.sql("CREATE TABLE cat.geo.race (id BIGINT, v BIGINT, part BIGINT) PARTITIONED BY (part)")
    spark.sql("INSERT INTO cat.geo.race SELECT id, id AS v, id % 2 AS part FROM range(10)")
    val root = s"$warehouse/geo/race"
    val t = new SnapshotTable(spark, root)
    // a rival committing against the same base as an in-flight rewrite:
    // replay the CAS directly — stale basedOn must throw CREATE_NEW and
    // delete the attempt's fresh data files and pages
    val dir = java.nio.file.Files.createTempDirectory("race").toString + "/d"
    Seq((99L, 99L, 1L)).toDF("id", "v", "_part").coalesce(1).write.parquet(dir)
    val f = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head
    val entries = Seq(SnapshotTable.FileEntry(f.getAbsolutePath, 1L, 1L, f.length()))
    val staleBase = t.currentVersion
    t.upsert(Seq((50L, 50L, 0L)).toDF("id", "v", "part"), Seq("id")) // rival wins v+1
    intercept[java.nio.file.FileAlreadyExistsException](
      t.commitReplacingParts(entries, Set(1L), staleBase))
    assert(!f.exists(), "the race loser's data file must be deleted")
    // table state is the rival's — untouched by the failed rewrite
    assert(spark.sql("SELECT count(*) AS n FROM cat.geo.race").head().getLong(0) === 11)
  }

  test("streaming by identifier: readStream.table change feed into writeStream.toTable mirror") {
    warehouse
    spark.sql("CREATE TABLE cat.geo.sa (id BIGINT, v BIGINT, part BIGINT) PARTITIONED BY (part)")
    spark.sql("CREATE TABLE cat.geo.sb (id BIGINT, v BIGINT, part BIGINT) PARTITIONED BY (part)")
    spark.sql("INSERT INTO cat.geo.sa SELECT id, id AS v, id % 3 AS part FROM range(12)")
    val ckpt = java.nio.file.Files.createTempDirectory("catmirror").toString
    val q = spark.readStream.table("cat.geo.sa")
      .writeStream.option("checkpointLocation", ckpt)
      .option("replacepartitions", "true")
      .toTable("cat.geo.sb")
    def state(name: String) = spark.sql(s"SELECT id, v, part FROM cat.geo.$name").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    try {
      q.processAllAvailable()
      assert(state("sb") === state("sa"), "whole-table first batch replicated")
      spark.sql("UPDATE cat.geo.sa SET v = v + 100 WHERE id = 4") // COW rewrite of part 1
      q.processAllAvailable()
      assert(state("sb") === state("sa"), "a row-level rewrite flows through the feed")
    } finally q.stop()
  }

  test("maintenance procedures: CALL system.snapshots / compact / expire") {
    warehouse
    spark.sql("CREATE TABLE cat.geo.mnt (id BIGINT, part BIGINT) PARTITIONED BY (part)")
    (0 until 3).foreach(i => spark.sql(
      s"INSERT INTO cat.geo.mnt SELECT id + ${i * 100} AS id, id % 2 AS part FROM range(10)"))
    val t = new SnapshotTable(spark, s"$warehouse/geo/mnt")
    assert(t.currentVersion === 3)
    assert(t.snapshot(3).groupBy(_.part).forall(_._2.size == 3), "3 appends = 3 files/part")
    val hist = spark.sql("CALL cat.system.snapshots(tbl => 'geo.mnt')").collect()
    assert(hist.map(_.getInt(0)).toSeq === Seq(1, 2, 3))
    assert(hist.map(_.getLong(2)).toSeq === Seq(10L, 20L, 30L), "row lineage per version")
    val cv = spark.sql("CALL cat.system.compact(tbl => 'geo.mnt')").head().getInt(0)
    assert(cv === 4)
    assert(t.snapshot(4).groupBy(_.part).forall(_._2.size == 1), "compacted to 1 file/part")
    val exp = spark.sql(
      "CALL cat.system.expire(tbl => 'geo.mnt', keep_last => 1, grace_ms => 0)").head()
    assert(exp.getInt(1) === 4)
    assert(exp.getInt(0) > 0, "pre-compaction files swept")
    assert(spark.sql("SELECT count(*) AS n FROM cat.geo.mnt").head().getLong(0) === 30)
    assert(spark.sql("CALL cat.system.snapshots(tbl => 'geo.mnt')").collect()
      .map(_.getInt(0)).toSeq === Seq(4), "history keeps only the survivor")
    intercept[Exception](spark.sql("CALL cat.system.nope(tbl => 'geo.mnt')"))
  }

  test("CALL system.restore commits an old snapshot's content as a new version, metadata-only") {
    warehouse
    spark.sql("CREATE TABLE cat.geo.rst (id BIGINT, part BIGINT) PARTITIONED BY (part)")
    spark.sql("INSERT INTO cat.geo.rst SELECT id, id % 2 AS part FROM range(10)") // v1
    spark.sql("INSERT INTO cat.geo.rst SELECT id + 100 AS id, id % 2 AS part FROM range(10)") // v2
    spark.sql("DELETE FROM cat.geo.rst WHERE part = 1") // v3
    val t = new SnapshotTable(spark, s"$warehouse/geo/rst")
    assert(t.currentVersion === 3)
    val v1Manifests = t.manifestList(1).map(_.path).toSet
    val r = spark.sql("CALL cat.system.restore(tbl => 'geo.rst', version => 1)").head()
    assert((r.getInt(0), r.getInt(1)) === ((1, 4)))
    // content == v1; history stays linear and fully travelable
    assert(spark.sql("SELECT count(*) AS n FROM cat.geo.rst").head().getLong(0) === 10)
    assert(spark.sql("SELECT max(id) AS m FROM cat.geo.rst").head().getLong(0) === 9)
    assert(spark.sql("SELECT count(*) AS n FROM cat.geo.rst VERSION AS OF 2")
      .head().getLong(0) === 20, "undone versions remain time-travelable")
    // metadata-only: the restored version REFERENCES v1's manifests
    assert(t.manifestList(4).map(_.path).toSet === v1Manifests)
    // expire keeps the restored content's files live (they are v1's files)
    spark.sql("CALL cat.system.expire(tbl => 'geo.rst', keep_last => 1, grace_ms => 0)")
    assert(spark.sql("SELECT count(*) AS n FROM cat.geo.rst").head().getLong(0) === 10)
    // an expired target declines with a clear error, no dangling commit
    intercept[Exception](spark.sql("CALL cat.system.restore(tbl => 'geo.rst', version => 2)"))
    assert(t.currentVersion === 4)
  }

  test("catalog guards: bad names, wrong partitioning, duplicate create") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cat.guard")
    intercept[Exception](spark.sql(
      "CREATE TABLE cat.guard.bad (id BIGINT, part BIGINT) PARTITIONED BY (id)"))
    intercept[Exception](spark.sql(
      "CREATE TABLE cat.guard.nopart (id BIGINT, v BIGINT) PARTITIONED BY (v)"))
    spark.sql("CREATE TABLE cat.guard.ok (id BIGINT, part BIGINT) PARTITIONED BY (part)")
    intercept[Exception](spark.sql(
      "CREATE TABLE cat.guard.ok (id BIGINT, part BIGINT) PARTITIONED BY (part)"))
    // ALTER guards ride the table-level rules
    intercept[Exception](spark.sql("ALTER TABLE cat.guard.ok DROP COLUMN part"))
  }
}
