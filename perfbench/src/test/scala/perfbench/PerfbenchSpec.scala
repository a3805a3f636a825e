package perfbench

import java.nio.file.Files
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.api.GeoAst

class PerfbenchSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2").getOrCreate()

  private def writeAll(seed: Long): String = {
    val dir = Files.createTempDirectory("perfbench-gen")
    val keys = Gen.lineitemKeys(seed, 3000)
    Gen.writeCore(spark, dir, keys)
    Gen.writeProbes(spark, dir, Gen.knnProbes(seed, 8))
    Gen.writeQueries(dir, Gen.queryStream(seed, 12))
    val sz = Sizing(orders = 3000, deltaRounds = 3, deltaShare = 0.01, hotParts = 2)
    Gen.writeDeltas(spark, dir, Gen.deltas(seed, Gen.points(keys), sz,
      (lon, lat) => graft.cell.CellIndex.encode(lon, lat, 5)))
    digest(dir)
  }

  /** SHA-256 over every data file's table directory and bytes, in name
    * order (Spark names part files with a per-write UUID, so file names
    * are left out). */
  private def digest(dir: java.nio.file.Path): String = {
    import scala.jdk.CollectionConverters._
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(p => Files.isRegularFile(p))
      .filterNot(p => p.getFileName.toString.startsWith(".") || p.getFileName.toString.startsWith("_"))
      .toSeq.sortBy(_.toString).foreach { p =>
        md.update(dir.relativize(p.getParent).toString.getBytes("UTF-8"))
        md.update(Files.readAllBytes(p))
      }
    finally s.close()
    md.digest().map("%02x".format(_)).mkString
  }

  test("the same seed writes byte-identical inputs; another seed writes different ones") {
    val a = writeAll(7)
    assert(writeAll(7) == a)
    assert(writeAll(8) != a)
  }

  test("the model world derives the points the engine derives") {
    val keys = Gen.lineitemKeys(3, 500)
    val pts = Gen.points(keys)
    val dir = Files.createTempDirectory("perfbench-world")
    Gen.writeCore(spark, dir, keys)
    val engine = graft.gen.GeoWorld.points(spark, dir.toString)
      .select("pid", "lonm", "latm", "cat", "is_media").collect()
      .map(r => (r.getLong(0), r.getLong(1).toInt, r.getLong(2).toInt, r.getLong(3).toInt, r.getBoolean(4))).toSet
    assert(engine == pts.map(p => (p.pid, p.lonm, p.latm, p.cat, p.isMedia)).toSet)
  }

  private val pts = Gen.points(Gen.lineitemKeys(5, 2000))

  test("geo_batch: the checks flag a wrong per-area count and a wrong neighbour") {
    val exp = pts.groupBy(Gen.areaOf(_, 4)).map { case (k, v) => k -> v.length.toLong }
    assert(Check.counts("pip", exp, exp).isEmpty)
    val (k0, v0) = exp.head
    assert(Check.counts("pip", exp, exp + (k0 -> (v0 + 1))).nonEmpty)
    assert(Check.counts("pip", exp, exp - k0).nonEmpty)
    val world = new World(pts)
    val (lon, lat) = (10.3, 45.7)
    val best = Check.knn(pts, lon, lat, 3, 600000.0)
    val right = best.map { case (d, pid) => (pid, math.round(d * 1000) / 1000.0) }
    assert(Check.knnAnswer(world.byPid, lon, lat, best, right).isEmpty)
    val far = pts.maxBy(p => Gen.haversineM(p.lon, p.lat, lon, lat))
    assert(Check.knnAnswer(world.byPid, lon, lat, best, right.init :+ ((far.pid, right.last._2))).nonEmpty)
    assert(Check.knnAnswer(world.byPid, lon, lat, best, right.init).nonEmpty)
  }

  test("geo_service: the check flags a dropped and a foreign answer row") {
    val world = new World(pts)
    val schema = StructType(Seq(StructField("pid", LongType), StructField("lon", DoubleType), StructField("lat", DoubleType)))
    val ast = GeoAst.BboxFetch(-10.0, 35.0, 10.0, 55.0)
    val inBox = pts.filter(p => p.lon > -10 && p.lon < 10 && p.lat > 35 && p.lat < 55)
    val rows: Array[Row] = inBox.map(p => new GenericRowWithSchema(Array(p.pid, p.lon, p.lat), schema))
    assert(inBox.length > 10)
    assert(GeoService.check(world, ast, rows).isEmpty)
    assert(GeoService.check(world, ast, rows.tail).nonEmpty)
    val outside = pts.find(p => p.lon > 20).get
    assert(GeoService.check(world, ast, rows :+ new GenericRowWithSchema(
      Array(outside.pid, outside.lon, outside.lat), schema)).nonEmpty)
  }

  test("snapshot_ingest: the read check flags a stale version and a missing row") {
    val live = scala.collection.mutable.HashMap.empty[Long, (Long, Double, Double)]
    pts.foreach(p => live(p.pid) = (1L, p.lon, p.lat))
    val box = (-20.0, 30.0, 0.0, 50.0)
    val right = pts.filter(p => p.lon > -20 && p.lon < 0 && p.lat > 30 && p.lat < 50).map(p => p.pid -> 1L).toSeq
    assert(SnapshotIngest.checkRead(live, box, right).isEmpty)
    live(right.head._1) = (2L, live(right.head._1)._2, live(right.head._1)._3)
    assert(SnapshotIngest.checkRead(live, box, right).nonEmpty)
    assert(SnapshotIngest.checkRead(live, box, right.tail).nonEmpty)
  }

  test("doc_assemble: the digest check flags a reordered assembly") {
    val docs = DocAssemble.docsOf(pts)
    val exp = Digest.of(DocAssemble.relationRows(docs))
    assert(Digest.check("relation", exp, Digest.of(DocAssemble.relationRows(docs))).isEmpty)
    val (d, ps) = docs.find(_._2.length >= 3).get
    val swapped = docs.map { case (k, v) => if (k == d) k -> v.reverse else k -> v }
    assert(Digest.check("relation", exp, Digest.of(DocAssemble.relationRows(swapped))).nonEmpty)
    assert(ps.length >= 3)
  }
}
