package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-off scale probe: replicate the text corpus K x with per-copy word
  * perturbation (every word suffixed with the copy ordinal, so copies share
  * NO shingles and the true near-dup structure stays per-copy) and time the
  * pair generators — evidence that candidate-scoped refines scale ~linearly
  * in corpus size, not quadratically in shingle/band frequency. */
object TextScaleProbe {
  def scaled(spark: SparkSession, sfDir: String, k: Int): DataFrame = {
    val c = graft.text.TextOps.corpus(spark, sfDir)
    c.withColumn("rep", explode(sequence(lit(0), lit(k - 1))))
      .select(
        (col("doc_id") + col("rep") * 1000000L).as("doc_id"),
        array_join(transform(split(col("text"), " "), w => concat(w, col("rep").cast("string"))), " ").as("text"),
        col("lang"), col("source"))
  }
  def t[A](label: String)(f: => A): Unit = {
    val t0 = System.nanoTime(); val r = f
    println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s -> $r")
  }
  /** Scaled documents parquet dir for the sfDir-bound composite (curate):
    * K copies with doc_id offset 1001000·rep (divisible by 7, 11 AND 13, so
    * every near/exact/eval-slice modulus pattern repeats per copy) and
    * per-copy word suffixing (no cross-copy shingles). */
  def scaledDocsDir(spark: SparkSession, sfDir: String, k: Int): String = {
    val out = s"/tmp/graft_probe_docs_x$k"
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    d.withColumn("rep", explode(sequence(lit(0), lit(k - 1))))
      .select(
        (col("doc_id") + col("rep") * 1001000L).as("doc_id"),
        array_join(transform(split(col("text"), " "), w => concat(w, col("rep").cast("string"))), " ").as("text"),
        col("lang"), col("source"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    out
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.1"
    for (k <- Seq(1, 4, 16)) {
      val c = scaled(spark, sf, k).persist()
      val n = c.count()
      t(s"minhash_pairs k=$k n=$n")(graft.text.TextOps.minhashPairsOf(spark, c).count())
      t(s"ngram_jaccard k=$k n=$n")(graft.text.TextOps.ngramJaccardOf(spark, c).count())
      t(s"simhash_pairs k=$k n=$n")(graft.text.TextOps.simhashPairsOf(spark, c).count())
      t(s"dup_clusters k=$k n=$n")(graft.text.DedupGraph.dupClustersOf(spark, c).count())
      // round-4 second-session additions: passage dedup (groupBy keeper +
      // reassembly) and unigram LM (vocab agg + broadcast score join)
      t(s"para_dedup k=$k n=$n")(graft.text.Mixing.passageDedupOf(c).count())
      t(s"unigram_lm k=$k n=$n")(graft.text.Mixing.unigramLmOf(c).count())
      t(s"ngram_mine k=$k n=$n")(graft.text.Mixing.ngramMineOf(c).count())
      c.unpersist()

      // round-4 additions: the round-3 newcomers (verdict #7)
      // curate: the full composite over a K×-scaled documents dir. Copies
      // past the first have doc_id >= 10000, which TextOps.corpus rejects
      // (its derived duplicate ids would collide), so only K = 1 runs
      if (k == 1) {
        val docsDir = scaledDocsDir(spark, sf, k)
        t(s"curate k=$k")(graft.text.Curate.curate(spark, docsDir).count())
      } else println(s"curate k=$k: skipped (corpus ids must stay below 10000)")
      // as-of enrich: K× events, per-copy user/event id spaces (offset
      // multiples of 8 keep the generator's type/value patterns intact)
      val ev = spark.read.parquet(s"$sf/events.parquet")
        .withColumn("rep", explode(sequence(lit(0), lit(k - 1))))
        .select((col("user_id") + col("rep") * 100000000L).as("user_id"),
          (col("event_id") + col("rep") * 1000000000000L).as("event_id"),
          col("ts"), col("event_type"), col("value")).persist()
      val ne = ev.count()
      t(s"asof_enrich k=$k n=$ne")(graft.query.AsOf.purchasesWithProfileOf(ev).count())
      ev.unpersist()
      // phash pairs: K× media pid space (offset ≡ 0 mod 10 preserves the
      // canonical-member pattern; each copy is its own phash-group space)
      val pids = graft.media.MediaOps.mediaTable(spark, sf).select("pid")
        .withColumn("rep", explode(sequence(lit(0), lit(k - 1))))
        .select((col("pid") + col("rep") * 1000000000L).as("pid")).persist()
      val np = pids.count()
      t(s"phash_pairs k=$k n=$np")(
        graft.media.MediaOps.phashPairsOf(spark, graft.media.MediaOps.phashesOf(pids)).count())
      pids.unpersist()
    }
    spark.stop()
  }
}
