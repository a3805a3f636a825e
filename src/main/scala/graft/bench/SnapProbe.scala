package graft.bench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Evidence probe for the snapshot table's COW claim: an upsert's cost is
  * proportional to the TOUCHED region, never the table. Builds the sf0.1
  * point index (router-cell partitions), then times a full init vs a
  * single-partition upsert and reports the rewritten-file ratio. */
object SnapProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sfDir = "/root/testdata/sf0.1"
    graft.gen.GeoWorld.registerUdfs(spark)
    import graft.cell.{CellFunctions, CellIndex}

    val root = java.nio.file.Files.createTempDirectory("snapprobe").toString
    val t = new graft.index.SnapshotTable(spark, root, statsCol = Some("cell"))
    val base = graft.gen.GeoWorld.points(spark, sfDir)
      .select(col("pid"), col("lon"), col("lat"),
        CellFunctions.zcell(col("lon"), col("lat"), lit(CellIndex.RES_MID)).as("cell"))
      .withColumn("part", CellFunctions.zcellParent(
        col("cell"), lit(CellIndex.RES_MID), lit(4)))
      .withColumn("ver", lit(1L))

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    val (_, initSecs) = timed(t.init(base))
    val v1 = t.snapshot(1)
    val nParts = v1.map(_.part).distinct.size
    val rows = v1.map(_.rows).sum

    // single-partition delta: re-version one router cell's points
    val onePart = v1.head.part
    val delta = base.filter(col("part") === onePart).withColumn("ver", lit(2L))
    val deltaRows = delta.count()
    val (_, upSecs) = timed(t.upsert(delta, Seq("pid")))
    val v2 = t.snapshot(2)
    val rewritten = v2.map(_.path).toSet -- v1.map(_.path).toSet

    println(f"SNAPPROBE rows=$rows parts=$nParts init=${initSecs}%.2fs " +
      f"upsert1part(rows=$deltaRows)=${upSecs}%.2fs " +
      f"rewrittenFiles=${rewritten.size}/${v2.size} " +
      f"carriedFiles=${v2.map(_.path).toSet.intersect(v1.map(_.path).toSet).size}")

    // DSv2 SQL WRITE (round 7): INSERT INTO a one-partition delta of NEW
    // identities — the commit must carry every base manifest by reference
    // and add only the delta's file(s); cost ∝ delta, never the table
    spark.read.format("graft.sources.SnapshotSource").option("root", root).load()
      .createOrReplaceTempView("snapprobe_t")
    base.filter(col("part") === onePart)
      .withColumn("pid", col("pid") + 100000000L).withColumn("ver", lit(3L))
      .createOrReplaceTempView("snapprobe_delta")
    val (_, sqlSecs) = timed(spark.sql(
      "INSERT INTO snapprobe_t SELECT pid, lon, lat, cell, ver, part FROM snapprobe_delta"))
    val v3 = t.snapshot(3)
    val added = v3.map(_.path).toSet -- v2.map(_.path).toSet
    println(f"SNAPPROBE_SQLWRITE insert1part(rows=$deltaRows)=${sqlSecs}%.2fs " +
      f"addedFiles=${added.size} " +
      f"carriedFiles=${v3.map(_.path).toSet.intersect(v2.map(_.path).toSet).size}/${v2.size}")

    // metadata aggregate vs real scan (round 7): COUNT(*) from manifests
    // opens zero data files — compare against the same count forced
    // through the data path (a residual filter blocks the pushdown)
    val (metaCnt, metaSecs) = timed(
      spark.sql("SELECT COUNT(*) FROM snapprobe_t").head.getLong(0))
    val (scanCnt, scanSecs) = timed(
      spark.sql("SELECT COUNT(*) FROM snapprobe_t WHERE pid >= 0").head.getLong(0))
    println(f"SNAPPROBE_METAAGG metaCount=$metaCnt in ${metaSecs}%.3fs " +
      f"vs dataCount=$scanCnt in ${scanSecs}%.3fs")

    // LIMIT / TOP-N pushdown (round 7): an event-ordered layout (range-
    // repartitioned on pid) gives tight per-file pid bounds — latest-50
    // plans only the top band's files; compare vs the same query with the
    // pruning disabled by a residual-shaped predicate that forces the full
    // scan path
    val rootE = java.nio.file.Files.createTempDirectory("snapprobe-ev").toString
    val te = new graft.index.SnapshotTable(spark, rootE, statsCol = Some("pid"))
    te.init(base.drop("ver").repartitionByRange(32, col("pid")))
    val ev = spark.read.format("graft.sources.SnapshotSource")
      .option("root", rootE).option("statscol", "pid").load()
    val totalFiles = te.snapshot(1).size
    val (_, limSecs) = timed(ev.limit(50).collect())
    val limPlanned = graft.sources.SnapshotSource.ScanProbe.lastPlannedSlices
    val (_, topSecs) = timed(ev.orderBy(col("pid").desc).limit(50).collect())
    val topPlanned = graft.sources.SnapshotSource.ScanProbe.lastPlannedSlices
    val (_, fullSecs) = timed(ev.orderBy(col("pid").desc, col("cell")).limit(50).collect())
    val fullPlanned = graft.sources.SnapshotSource.ScanProbe.lastPlannedSlices
    println(f"SNAPPROBE_TOPN files=$totalFiles limit50: $limPlanned slices ${limSecs}%.3fs; " +
      f"topn50: $topPlanned slices ${topSecs}%.3fs; " +
      f"unpushable sort: $fullPlanned slices ${fullSecs}%.3fs")

    // MERGE-ON-READ vs COPY-ON-WRITE (round 7): the same single-partition
    // upsert, as an O(delta) MOR commit (append + delete-of-keys, no base
    // read) vs the COW rewrite measured above; then the delete-applying
    // read's cost and the post-compaction (folded) read
    val rootM = java.nio.file.Files.createTempDirectory("snapprobe-mor").toString
    val tm = new graft.index.SnapshotTable(spark, rootM, statsCol = Some("cell"))
    tm.init(base.drop("ver"))
    val morDelta = base.drop("ver").filter(col("part") === onePart)
    val (_, morSecs) = timed(tm.upsertMor(morDelta, "pid"))
    val (morCnt, morReadSecs) = timed(
      spark.read.format("graft.sources.SnapshotSource").option("root", rootM)
        .load().count())
    val (_, foldSecs) = timed(tm.compact())
    val (_, cleanReadSecs) = timed(
      spark.read.format("graft.sources.SnapshotSource").option("root", rootM)
        .load().count())
    println(f"SNAPPROBE_MOR upsert1part(rows=$deltaRows)=${morSecs}%.2fs " +
      f"(vs COW ${upSecs}%.2fs) rows=$morCnt morRead=${morReadSecs}%.2fs " +
      f"compactFold=${foldSecs}%.2fs cleanRead=${cleanReadSecs}%.2fs")
    spark.stop()
  }
}
