package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Input sizes for one workload. `orders` drives the lineitem key count
  * (about 3.2 distinct points per order); the rest are per-workload
  * streams. */
final case class Sizing(orders: Int, knnProbes: Int = 0, queries: Int = 0,
    deltaRounds: Int = 0, deltaShare: Double = 0.0, hotParts: Int = 0)

/** A point of the generated world, as the engine derives it from a
  * lineitem key (pid = l_orderkey * 8 + l_linenumber). */
final case class Pt(pid: Long, lonm: Int, latm: Int, lon: Double, lat: Double,
    cat: Int, isMedia: Boolean)

/** An admin area of the world: a lon/lat rectangle at one level. */
final case class Area(id: Long, name: String, level: Int,
    lon0: Double, lat0: Double, lon1: Double, lat1: Double) {
  def containsStrict(lon: Double, lat: Double): Boolean =
    lon > lon0 && lon < lon1 && lat > lat0 && lat < lat1
}

/** The model world the checks compare against, with its lookups. */
final class World(val pts: Array[Pt]) {
  lazy val byPid: Map[Long, Pt] = pts.iterator.map(p => p.pid -> p).toMap
  /** POI names, index-aligned with `pts` */
  lazy val names: Array[String] = pts.map(p => s"poi_${p.pid}")
}

/** One upserted row of the snapshot workload's delta stream. */
final case class DeltaRow(round: Int, pid: Long, lon: Double, lat: Double, ver: Long)

/**
 * Seeded input generator. Writes an sf-shaped directory (lineitem keys,
 * region, nation) plus the workload's own streams, and keeps the same
 * inputs in memory as the model the result checks compare against.
 * The same seed always yields byte-identical files.
 */
object Gen {

  final val LON0 = -20.0
  final val LAT0 = 30.0
  final val OFF = 0.0002
  /** The dense box that takes 30% of all points (pid % 10 < 3). */
  final val HOT = (6.0, 50.0, 6.19, 50.17)

  def sizing(workload: String): Sizing = workload match {
    case "geo_batch" => Sizing(orders = 60000, knnProbes = 48)
    case "geo_service" => Sizing(orders = 40000, queries = 600)
    case "snapshot_ingest" => Sizing(orders = 30000, deltaRounds = 64, deltaShare = 0.01, hotParts = 3)
    case "doc_assemble" => Sizing(orders = 20000)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  private def rng(seed: Long, salt: Long) = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  /** Lineitem keys: orders with sparse keys and 1..7 lines each, plus
    * repeated (orderkey, linenumber) rows as in the TPC-H-style data the
    * engine expects (the world derivation deduplicates them). */
  def lineitemKeys(seed: Long, orders: Int): Array[(Long, Int)] = {
    val r = rng(seed, 1)
    val out = Array.newBuilder[(Long, Int)]
    var ok = 1L + r.nextInt(4)
    var i = 0
    while (i < orders) {
      val lines = 1 + r.nextInt(7)
      var l = 1
      while (l <= lines) {
        out += ((ok, l))
        if (r.nextInt(4) == 0) out += ((ok, l))
        l += 1
      }
      ok += 1 + r.nextInt(4)
      i += 1
    }
    out.result()
  }

  /** The engine's point derivation, restated as plain arithmetic. */
  def point(pid: Long): Pt = {
    val mixl = (pid * 1103515245L + 12345L) % 60000L
    val mixa = (pid * 69069L + 1L) % 36000L
    val hot = pid % 10 < 3
    val lonm = (if (hot) 26000L + mixl % 190L else mixl).toInt
    val latm = (if (hot) 20000L + mixa % 170L else mixa).toInt
    Pt(pid, lonm, latm, LON0 + lonm / 1000.0 + OFF, LAT0 + latm / 1000.0 + OFF,
      (pid % 57).toInt, pid % 5 == 0)
  }

  def points(keys: Array[(Long, Int)]): Array[Pt] =
    keys.iterator.map { case (o, l) => o * 8 + l }.toArray.distinct.sorted.map(point)

  /** Sub-state levels: (level, name prefix, nx, ny) over each state. */
  val SUB_LEVELS: Seq[(Int, String, Int, Int)] = Seq(
    (5, "region", 2, 1), (6, "city", 6, 1), (7, "township", 6, 2),
    (8, "district", 6, 4), (9, "village", 12, 4), (10, "community", 12, 8))

  /** All admin areas: 5 countries, 25 states, and their nested grids. */
  lazy val areas: Vector[Area] = {
    val countries = (0 until 5).map(r => Area(200000L + r, s"country_$r", 2,
      LON0 + (r * 12000L) / 1000.0, LAT0, LON0 + ((r + 1) * 12000L) / 1000.0, LAT0 + 36000L / 1000.0))
    val states = (0 until 25).map { n =>
      val r = n % 5; val idx = n / 5
      Area(400000L + n, s"state_$n", 4, LON0 + (r * 12000L) / 1000.0, LAT0 + (idx * 7200L) / 1000.0,
        LON0 + ((r + 1) * 12000L) / 1000.0, LAT0 + ((idx + 1) * 7200L) / 1000.0)
    }
    val subs = for {
      (lvl, prefix, nx, ny) <- SUB_LEVELS
      n <- 0 until 25
      jy <- 0 until ny
      jx <- 0 until nx
    } yield {
      val r = n % 5; val idx = n / 5
      val wm = 12000 / nx; val hm = 7200 / ny
      val ord = n * (nx * ny) + jy * nx + jx
      Area(lvl * 100000L + ord, s"${prefix}_$ord", lvl,
        LON0 + (r * 12000L + jx * wm) / 1000.0, LAT0 + (idx * 7200L + jy * hm) / 1000.0,
        LON0 + (r * 12000L + (jx + 1) * wm) / 1000.0, LAT0 + (idx * 7200L + (jy + 1) * hm) / 1000.0)
    }
    (countries ++ states ++ subs).toVector
  }

  /** The area of `level` holding a point, by integer milli-degrees. */
  def areaOf(p: Pt, level: Int): Long = {
    val r = p.lonm / 12000; val idx = p.latm / 7200; val n = idx * 5 + r
    level match {
      case 2 => 200000L + r
      case 4 => 400000L + n
      case _ =>
        val (_, _, nx, ny) = SUB_LEVELS.find(_._1 == level).get
        val jx = (p.lonm - r * 12000) / (12000 / nx)
        val jy = (p.latm - idx * 7200) / (7200 / ny)
        level * 100000L + n * (nx * ny) + jy * nx + jx
    }
  }

  def haversineM(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val p1 = math.toRadians(lat1); val p2 = math.toRadians(lat2)
    val dp = math.toRadians(lat2 - lat1); val dl = math.toRadians(lon2 - lon1)
    val a = math.sin(dp / 2) * math.sin(dp / 2) +
      math.cos(p1) * math.cos(p2) * math.sin(dl / 2) * math.sin(dl / 2)
    2 * 6371000.0 * math.asin(math.sqrt(a))
  }

  /** A coordinate uniform over the world frame, at least 1° away from
    * the hot box (service probes stay in ordinary density). */
  def coldCoord(r: SplittableRandom, margin: Double = 0.0): (Double, Double) = {
    var lon = 0.0; var lat = 0.0
    do {
      lon = LON0 + margin + r.nextDouble() * (60.0 - 2 * margin)
      lat = LAT0 + margin + r.nextDouble() * (36.0 - 2 * margin)
    } while (lon > HOT._1 - 1 && lon < HOT._3 + 1 && lat > HOT._2 - 1 && lat < HOT._4 + 1)
    (lon, lat)
  }

  // ------------------------------------------------------------ writing

  private def writeParquet(spark: SparkSession, rows: Seq[Row], schema: StructType,
      path: Path, files: Int): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files), schema)
      .write.mode("overwrite").parquet(path.toString)

  /** Write the sf-shaped core (lineitem keys, region, nation). */
  def writeCore(spark: SparkSession, dir: Path, keys: Array[(Long, Int)]): Unit = {
    Files.createDirectories(dir)
    val n = spark.sparkContext.defaultParallelism
    writeParquet(spark, keys.toSeq.map { case (o, l) => Row(o, l) },
      StructType(Seq(StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType))),
      dir.resolve("lineitem.parquet"), n)
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    writeParquet(spark, regions.zipWithIndex.map { case (nm, i) => Row(i.toLong, nm) },
      StructType(Seq(StructField("r_regionkey", LongType), StructField("r_name", StringType))),
      dir.resolve("region.parquet"), 1)
    writeParquet(spark, (0 until 25).map(i => Row(i.toLong, (i % 5).toLong, s"NATION_$i")),
      StructType(Seq(StructField("n_nationkey", LongType), StructField("n_regionkey", LongType),
        StructField("n_name", StringType))),
      dir.resolve("nation.parquet"), 1)
  }

  /** kNN probe table: 30% inside the hot box, the rest uniform at least
    * 1° inside the frame. */
  def knnProbes(seed: Long, n: Int): Seq[(Long, Double, Double)] = {
    val r = rng(seed, 2)
    (0 until n).map { i =>
      if (i % 10 < 3) (i.toLong, HOT._1 + r.nextDouble() * (HOT._3 - HOT._1),
        HOT._2 + r.nextDouble() * (HOT._4 - HOT._2))
      else { val (lon, lat) = coldCoord(r, 1.0); (i.toLong, lon, lat) }
    }
  }

  def writeProbes(spark: SparkSession, dir: Path, probes: Seq[(Long, Double, Double)]): Unit =
    writeParquet(spark, probes.map { case (q, lo, la) => Row(q, lo, la) },
      StructType(Seq(StructField("qid", LongType), StructField("qlon", DoubleType),
        StructField("qlat", DoubleType))), dir.resolve("probes.parquet"), 1)

  /** The service's query types, in the fixed order one cycle sends them. */
  val QUERY_TYPES: Seq[String] = Seq("AreaByCoordinates", "PoisFromArea", "Nearby",
    "NearbyRanked", "PoiByName", "BboxFetch")

  /** Wire-format AST stream: query i has type QUERY_TYPES(i % 6), so every
    * seed sends the same mix; coordinates, names and tags come from the
    * seed. */
  def queryStream(seed: Long, n: Int): Seq[String] = {
    val r = rng(seed, 3)
    (0 until n).map { i =>
      QUERY_TYPES(i % QUERY_TYPES.size) match {
        case "AreaByCoordinates" =>
          val (lon, lat) = coldCoord(r)
          s"""{"type":"AreaByCoordinates","level":8,"lon":$lon,"lat":$lat}"""
        case "PoisFromArea" =>
          val c = r.nextInt(57)
          val k = if (c < 19) "amenity" else if (c < 38) "shop" else "leisure"
          s"""{"type":"PoisFromArea","tagK":"$k","tagV":"cat_$c","area":""" +
            s"""{"type":"AreaByName","level":6,"name":"city_${r.nextInt(150)}"}}"""
        case "Nearby" =>
          val (lon, lat) = coldCoord(r, 0.5)
          s"""{"type":"Nearby","lon":$lon,"lat":$lat,"radiusM":20000.0}"""
        case "NearbyRanked" =>
          val (lon, lat) = coldCoord(r, 0.5)
          s"""{"type":"NearbyRanked","lon":$lon,"lat":$lat,"k":10}"""
        case "PoiByName" =>
          s"""{"type":"PoiByName","name":"poi_${1000 + r.nextInt(9000)}"}"""
        case "BboxFetch" =>
          val (lon, lat) = coldCoord(r, 1.0)
          s"""{"type":"BboxFetch","lonMin":$lon,"latMin":$lat,"lonMax":${lon + 0.5},"latMax":${lat + 0.5}}"""
      }
    }
  }

  def writeQueries(dir: Path, qs: Seq[String]): Unit =
    Files.write(dir.resolve("queries.jsonl"), qs.mkString("", "\n", "\n").getBytes("UTF-8"))

  /** Upsert deltas: each round rewrites ~`share` of the rows, drawn from
    * `hotParts` distinct partitions picked per round among the populated
    * ones (90% updates of live rows, 10% inserts of new pids beside them).
    * `partOf` maps a coordinate to its routing partition. */
  def deltas(seed: Long, pts: Array[Pt], sz: Sizing, partOf: (Double, Double) => Long): Seq[DeltaRow] = {
    val r = rng(seed, 4)
    // candidate partitions: populated, but not the hot box's (a 30% share
    // would make one round rewrite a third of the table)
    val candidates = populatedParts(pts, partOf)
    require(candidates.nonEmpty, "no partition holds enough points for a delta")
    val perRound = math.max(1, (pts.length * sz.deltaShare).toInt)
    var nextPid = pts.map(_.pid).max + 1
    (0 until sz.deltaRounds).flatMap { round =>
      val chosen = pick(r, candidates.size, sz.hotParts).map(candidates)
      val pool = chosen.flatMap(_._2)
      val nUpd = math.min(pool.length, perRound * 9 / 10)
      val upd = pick(r, pool.length, nUpd).map(pool)
      val ins = (0 until perRound - nUpd).map { _ =>
        val p = pool(r.nextInt(pool.length))
        val pid = nextPid; nextPid += 1
        // a new point 0.0004° beside an existing one
        (pid, p.lon + 0.0004, p.lat)
      }
      upd.map(p => DeltaRow(round, p.pid, p.lon, p.lat, round + 2L)) ++
        ins.map { case (pid, lon, lat) => DeltaRow(round, pid, lon, lat, round + 2L) }
    }
  }

  /** Partitions holding at least 50 points and less than a tenth of all. */
  def populatedParts(pts: Array[Pt], partOf: (Double, Double) => Long): IndexedSeq[(Long, Array[Pt])] =
    pts.groupBy(p => partOf(p.lon, p.lat)).toVector.sortBy(_._1)
      .filter { case (_, ps) => ps.length >= 50 && ps.length < pts.length / 10 }

  /** `k` distinct indices below `n`, in draw order. */
  def pick(r: SplittableRandom, n: Int, k: Int): IndexedSeq[Int] = {
    val idx = Array.tabulate(n)(identity)
    (0 until math.min(k, n)).map { i =>
      val j = i + r.nextInt(n - i)
      val t = idx(i); idx(i) = idx(j); idx(j) = t
      idx(i)
    }
  }

  def writeDeltas(spark: SparkSession, dir: Path, ds: Seq[DeltaRow]): Unit =
    writeParquet(spark, ds.map(d => Row(d.round, d.pid, d.lon, d.lat, d.ver)),
      StructType(Seq(StructField("round", IntegerType), StructField("pid", LongType),
        StructField("lon", DoubleType), StructField("lat", DoubleType), StructField("ver", LongType))),
      dir.resolve("deltas.parquet"), 1)
}
