package graft

import org.apache.spark.sql.functions._
import graft.text.TextOps
import graft.vector.VectorOps

/** Semantic tests for the training-data operators: the deterministically
  * injected duplicates must actually be FOUND by each dedup method. */
class TextVectorSpec extends SparkSpec {

  test("exact dedup finds every injected exact duplicate (doc_id%11 -> id+20000)") {
    val groups = TextOps.exactDedup(spark, sfDir).collect()
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
    val expected = base.filter(col("doc_id") % 11 === 0).count()
    assert(groups.length.toLong === expected)
    groups.foreach(r => assert(r.getLong(1) === 2L)) // each group: original + copy
  }

  test("MinHash LSH surfaces the injected near-duplicates (doc_id%7 -> id+10000, first word dropped)") {
    val pairs = TextOps.minhashPairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val nearIds = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") % 7 === 0).select("doc_id").collect().map(_.getLong(0))
    // every injected near-dup pair should be an LSH candidate with high jaccard
    val found = pairs.collect { case (a, b, j) if b == a + 10000 => (a, j) }.toMap
    val hitRate = nearIds.count(found.contains).toDouble / nearIds.length
    assert(hitRate >= 0.9, s"LSH found ${found.size}/${nearIds.length} injected near-dups")
    found.values.foreach(j => assert(j > 0.8, s"near-dup jaccard $j unexpectedly low"))
    // exact dups (%11) must be found with jaccard 1.0 when banded together
    pairs.collect { case (a, b, j) if b == a + 20000 => j }.foreach(j => assert(j === 1.0))
  }

  test("jaccard refine is candidate-scoped: a corpus-wide stop shingle does no quadratic work") {
    import spark.implicits._
    // 200 docs all sharing one stop shingle ("lorem ipsum dolor"), tails unique.
    // The round-1 global shingle self-join would compute 200*199/2 = 19900
    // intersection pairs from the stop shingle alone; the candidate-scoped
    // refine touches only LSH candidate pairs.
    val c = (0 until 200).map(i =>
      (i.toLong, s"lorem ipsum dolor u${i}a u${i}b u${i}c u${i}d u${i}e", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val cand = TextOps.lshCandidates(spark, c)
    val nCand = cand.count()
    assert(nCand < 100, s"unique-tail docs should rarely share a full band (got $nCand)")
    val ds = TextOps.distinctShinglesOf(spark, c)
    val inter = TextOps.interCounts(cand, ds)
    assert(inter.count() <= nCand, "intersection rows must be bounded by candidate pairs, not shingle df^2")
    val pairs = TextOps.minhashPairsOf(spark, c).collect()
    assert(pairs.length.toLong === nCand)
    // any banded-together pair still shares ONLY the stop shingle -> jaccard = 1/11
    pairs.foreach(r => assert(r.getDouble(2) < 0.2, s"unrelated docs scored ${r.getDouble(2)}"))
  }

  test("ngram jaccard df-cap: a corpus-wide stop shingle does no quadratic work, true near-dups still pair") {
    import spark.implicits._
    // 200 docs share the stop shingle "lorem ipsum dolor" (df = 200 > cap 64);
    // doc 500 duplicates doc 0's text, so (0, 500) share their RARE shingles.
    // The round-2 self-join would pay 200*199/2 = 19900 rows for the stop
    // shingle alone; the df-capped join must generate intersections ONLY for
    // the duplicated pair.
    val base = (0 until 200).map(i =>
      (i.toLong, s"lorem ipsum dolor u${i}a u${i}b u${i}c u${i}d u${i}e", "en", "s"))
    val c = (base :+ ((500L, base.head._2, "en", "s")))
      .toDF("doc_id", "text", "lang", "source")
    val capped = TextOps.cappedShingles(spark, c)
    assert(capped.filter(col("sh") === "lorem ipsum dolor").count() === 0,
      "over-cap shingle must leave the informative universe")
    val inter = TextOps.ngramInter(capped).collect()
    assert(inter.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((0L, 500L)),
      "only the true duplicate pair may generate intersection work")
    val pairs = TextOps.ngramJaccardOf(spark, c).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq === Seq((0L, 500L, 1.0)),
      "duplicate docs share ALL capped shingles -> jaccard 1.0")
  }

  test("SimHash of a near-duplicate is within small Hamming distance of the original") {
    val sh = TextOps.simhash(spark, sfDir).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nearIds = sh.keys.filter(id => id < 10000 && sh.contains(id + 10000))
    assert(nearIds.nonEmpty)
    val dists = nearIds.map(id => java.lang.Long.bitCount(sh(id) ^ sh(id + 10000)))
    // dropping one word of ~100+ flips few simhash bits
    assert(dists.sum.toDouble / dists.size < 6.0, s"mean hamming ${dists.sum.toDouble / dists.size}")
  }

  test("multi-table LSH: near-dup recall >= 0.9 at a bounded candidate fraction") {
    import org.apache.spark.sql.functions._
    val vs = VectorOps.vectors(spark, sfDir)
    val n = vs.count()
    // deterministic near-duplicates (cos ~= 0.998): every 10th vector with
    // its first coordinate halved, probing for its original
    val dups = vs.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100000L).as("qid"), // offset: probe id must differ from its original's
        concat(array(element_at(col("v"), 1) * 0.5),
          slice(col("v"), 2, VectorOps.DIM - 1)).as("qv"))
    val nd = dups.count()
    val cand = VectorOps.lshCandidates(spark, vs, dups).persist()
    val hits = cand.filter(col("qid") - 100000L === col("vec_id")).count()
    val recall = hits.toDouble / nd
    assert(recall >= 0.9, s"near-dup recall $recall (L=4 tables x 8 planes; old 1x5 measured 0.905)")
    // candidate volume stays bounded: mean fraction of the corpus scanned
    // per probe < 0.05 (old single-table 5-plane: 0.048 at sf0.1)
    val frac = cand.count().toDouble / (nd * n)
    assert(frac < 0.05, s"mean candidate fraction $frac")
    cand.unpersist()
  }

  test("IVF multi-probe: near-dup recall >= 0.9 at a bounded partition fraction") {
    import org.apache.spark.sql.functions._
    val vs = VectorOps.vectors(spark, sfDir)
    val n = vs.count()
    val dups = vs.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100000L).as("qid"),
        concat(array(element_at(col("v"), 1) * 0.5),
          slice(col("v"), 2, VectorOps.DIM - 1)).as("qv"))
    val nd = dups.count()
    val cand = VectorOps.ivfCandidates(spark, vs, dups,
      VectorOps.centroidsOf(spark, sfDir), VectorOps.IVF_NPROBE).persist()
    val recall = cand.filter(col("qid") - 100000L === col("vec_id")).count().toDouble / nd
    assert(recall >= 0.9, s"IVF near-dup recall $recall")
    // candidates ≈ nprobe/K of the corpus per probe (K = |centroids|)
    val frac = cand.count().toDouble / (nd * n)
    assert(frac < 0.8, s"IVF mean partition fraction $frac") // K is tiny at sf0.001; sublinear as K ~ sqrt(n)
    cand.unpersist()
  }

  test("pruned two-level IVF assignment: identical to the exact crossJoin, with measured candidate savings") {
    import org.apache.spark.sql.functions._
    val vs = VectorOps.vectors(spark, sfDir)
    val cents = VectorOps.centroidsOf(spark, sfDir)
    val n = vs.count()
    val kC = cents.count()
    val exact = VectorOps.exactAssign(spark, vs, cents)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    for (stride <- Seq(2, 3)) {
      val pruned = VectorOps.prunedAssign(spark, vs, cents, stride)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(pruned === exact, s"stride $stride: pruned assignment diverged from the exact crossJoin")
      // at toy SF the sampled centroids are near-equidistant, so the bound
      // may keep everything — the SAVINGS claim is measured on the
      // clustered corpus below; here only the superset invariant holds
      val candPairs = VectorOps.prunedCandidatePairs(spark, vs, cents, stride).count()
      assert(candPairs <= n * kC, s"stride $stride: $candPairs pruned vs ${n * kC} exact pairs")
      info(s"stride $stride: $candPairs candidate pairs vs ${n * kC} exact (${candPairs.toDouble / (n * kC)})")
    }

    // the scale claim, on a corpus with real cluster structure (what a
    // trained quantizer sees): 16 angular clusters on a 2-D sub-circle,
    // tight within, well separated between. Candidate scores must drop
    // FAR below n × K while the assignment stays exactly the crossJoin's.
    import spark.implicits._
    def unit(theta: Double): Seq[Double] =
      Seq(math.cos(theta), math.sin(theta)) ++ Seq.fill(VectorOps.DIM - 2)(0.0)
    val clusters = 64
    val perC = 4
    val vsC = (for { c <- 0 until clusters; i <- 0 until perC }
      yield ((c * perC + i).toLong, unit(c * 0.04 + (i - 2) * 0.002))).toDF("vec_id", "v")
    val centsC = (0 until clusters).map(c => (c.toLong, unit(c * 0.04))).toDF("cid", "cv")
    val nC = clusters * perC
    val exactC = VectorOps.exactAssign(spark, vsC, centsC)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val prunedC = VectorOps.prunedAssign(spark, vsC, centsC, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(prunedC === exactC, "clustered corpus: pruned assignment diverged")
    val candC = VectorOps.prunedCandidatePairs(spark, vsC, centsC, 8).count()
    assert(candC <= nC.toLong * clusters / 2,
      s"clustered corpus: $candC candidate pairs vs ${nC * clusters} exact — bound failed to prune")
    info(s"clustered corpus: $candC candidate pairs vs ${nC * clusters} exact (${candC.toDouble / (nC * clusters)})")
  }

  test("pruned IVF assignment: randomized adversarial sweep (pruned == exact on every seeded corpus)") {
    // the triangle bound + ε-slack is the risky arithmetic: sweep random
    // corpora (including near-equidistant ones, the worst case for both
    // the bound's tightness AND its FP edges) and require exact equality
    // with the crossJoin on every one
    import spark.implicits._
    val rnd = new scala.util.Random(20260817L)
    for (trial <- 0 until 8) {
      val dim = 8
      val nV = 60
      val nC = 10
      def vec(): Seq[Double] = Seq.fill(dim)(rnd.nextDouble() * 2 - 1)
      val vsR = (0 until nV).map(i => (i.toLong, vec())).toDF("vec_id", "v")
      val centsR = (0 until nC).map(i => (i.toLong, vec())).toDF("cid", "cv")
      val exact = VectorOps.exactAssign(spark, vsR, centsR)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val stride = 2 + trial % 3
      val pruned = VectorOps.prunedAssign(spark, vsR, centsR, stride)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(pruned === exact, s"trial $trial (stride $stride): pruned diverged from exact")
      // top-m bound (the probe-side path): full top-3 set parity
      val m = 3
      val exactM = VectorOps.exactNearest(spark, vsR, centsR, m)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val prunedM = VectorOps.prunedNearestCentroids(spark, vsR, "vec_id", "v", centsR, m, stride)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(prunedM === exactM, s"trial $trial (stride $stride): pruned top-$m diverged")
    }
  }

  test("scale-aware LSH planes: P=16 holds near-dup recall while slashing the candidate fraction") {
    import org.apache.spark.sql.functions._
    // the helper's breakpoints: test corpora stay at the pinned default,
    // 10^9 vectors get ~25 planes (2^25 buckets/table)
    assert(VectorOps.planesFor(500) === 8)
    assert(VectorOps.planesFor(2000) === 8)
    assert(VectorOps.planesFor(1000000L) === 15)
    assert(VectorOps.planesFor(1000000000L) === 25)
    val vs = VectorOps.vectors(spark, sfDir)
    val n = vs.count()
    val dups = vs.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100000L).as("qid"),
        concat(array(element_at(col("v"), 1) * 0.5),
          slice(col("v"), 2, VectorOps.DIM - 1)).as("qv"))
    val nd = dups.count()
    def measure(p: Int): (Double, Double) = {
      val cand = VectorOps.lshCandidates(spark, vs, dups, planes = p).persist()
      val recall = cand.filter(col("qid") - 100000L === col("vec_id")).count().toDouble / nd
      val frac = cand.count().toDouble / (nd * n)
      cand.unpersist()
      (recall, frac)
    }
    val (r8, f8) = measure(8)
    val (r16, f16) = measure(16)
    // near-dups are angularly tight (cos ~0.998): doubling P keeps OR-of-4
    // tables recall high while bucket counts grow 2^8-fold
    assert(r16 >= 0.9, s"P=16 near-dup recall $r16 (P=8: $r8)")
    assert(f16 < f8 * 0.5, s"P=16 candidate fraction $f16 must undercut P=8's $f8")
  }

  test("Lloyd refinement: quantizer objective non-increasing, no cluster collapse") {
    val vs = VectorOps.vectors(spark, sfDir)
    val init = VectorOps.centroidsOf(spark, sfDir)
    val obj0 = VectorOps.quantizerObjective(spark, vs, init)
    val t1 = VectorOps.trainCentroids(spark, vs, init, 1)
    val obj1 = VectorOps.quantizerObjective(spark, vs, t1)
    val t2 = VectorOps.trainCentroids(spark, vs, t1, 1)
    val obj2 = VectorOps.quantizerObjective(spark, vs, t2)
    assert(obj1 <= obj0 + 1e-12 && obj2 <= obj1 + 1e-12,
      s"objective must not increase: $obj0 -> $obj1 -> $obj2")
    assert(obj1 < obj0, "first Lloyd step should strictly improve the sampled quantizer")
    assert(t2.count() >= init.count() / 2, "catastrophic cluster collapse")
  }

  test("LSH ANN results are a subset of brute-force cosine ranking universe") {
    val brute = VectorOps.cosineTopK(spark, sfDir, k = 50).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ann = VectorOps.lshTopK(spark, sfDir, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(ann.nonEmpty)
    // every ANN hit that brute-force also ranks top-50 confirms score parity;
    // recall < 1 by design, but scores must be consistent where they overlap
    val overlap = ann.count(brute.contains).toDouble / ann.length
    assert(overlap > 0.3, s"ANN/brute overlap $overlap suspiciously low")
  }

  test("chunking covers every word with the declared stride/overlap; sampling hits its stratum rates") {
    import org.apache.spark.sql.functions._
    val ch = TextOps.chunks(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    val byDoc = ch.groupBy(_._1)
    val nWords = TextOps.corpus(spark, sfDir)
      .select(col("doc_id"), size(split(col("text"), " ")))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(byDoc.keySet === nWords.keySet) // every doc chunked
    byDoc.foreach { case (doc, cs) =>
      val sorted = cs.sortBy(_._2)
      // starts advance by exactly the stride and cover all words
      assert(sorted.map(_._3).toSeq === (0 until nWords(doc) by TextOps.CHUNK_STRIDE))
      val covered = sorted.map(c => c._3 + c._4).max
      assert(covered === nWords(doc), s"doc $doc covered $covered of ${nWords(doc)} words")
      sorted.foreach(c => assert(c._4 <= TextOps.CHUNK_WORDS))
    }
    // deterministic stratified sample: per-lang rates within a loose band
    val total = TextOps.corpus(spark, sfDir).groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = TextOps.stratifiedSample(spark, sfDir).groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    TextOps.SAMPLE_PCT.foreach { case (lang, pct) =>
      val rate = kept.getOrElse(lang, 0L).toDouble / total(lang)
      assert(math.abs(rate - pct / 100.0) < 0.15, s"$lang rate $rate vs ${pct / 100.0}")
    }
    // and re-running yields the identical sample (hash-based, not rand())
    val again = TextOps.stratifiedSample(spark, sfDir).collect().map(_.getLong(0)).toSet
    assert(again === TextOps.stratifiedSample(spark, sfDir).collect().map(_.getLong(0)).toSet)
  }

  test("language-ID heuristic is deterministic and covers the corpus") {
    val l = TextOps.langId(spark, sfDir)
    assert(l.count() === TextOps.corpus(spark, sfDir).count())
    val preds = l.select("pred_lang").distinct().collect().map(_.getString(0)).toSet
    assert(preds.subsetOf(Set("en", "de", "es", "fr", "und")))
  }

  /** Full message chain of a failed action (executor errors arrive wrapped). */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(String.valueOf(_)).mkString("\n")

  test("a null or wrong-length embedding fails the query naming its vec_id") {
    import spark.implicits._
    val good = (0L until 4L).map(i => (i, Option(Seq.fill(VectorOps.DIM)(0.25f + i)), 1))
    for ((bad, what) <- Seq(
        (None, "null embedding at vec_id 7"),
        (Some(Seq.fill(VectorOps.DIM - 3)(0.5f)), s"embedding at vec_id 7 has ${VectorOps.DIM - 3} components"))) {
      val dir = java.nio.file.Files.createTempDirectory("graft-badvec").toString
      (good :+ ((7L, bad, 2))).toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val e = intercept[Exception](VectorOps.cosineTopK(spark, dir).collect())
      assert(messages(e).contains(what), messages(e).take(1200))
    }
  }

  test("corpus rejects a source doc_id >= 10000 (its derived duplicate ids would collide)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bigdoc").toString
    Seq((7L, "alpha beta gamma", "en", "web", 16L), (10007L, "beta gamma delta", "en", "web", 16L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = intercept[Exception](TextOps.exactDedup(spark, dir).collect())
    assert(messages(e).contains("documents doc_id 10007 >= 10000"), messages(e).take(1200))
  }
}
