package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Semantics of the round-6 late curation ops: margin-based bitext mining
  * (hub suppression — the property raw cosine ranking lacks), PMI
  * collocation extraction (co-occurring pair beats a frequent independent
  * pair), and the leakage-aware content-hash split (byte-identical
  * duplicates can never straddle train/eval). */
class MiningSpec extends SparkSpec {

  test("marginMine: hub candidate is suppressed, aligned pair survives") {
    val s = spark
    import s.implicits._
    // Source side: two orthogonal-ish queries. Candidate side: a "hub"
    // vector moderately close to EVERYTHING, plus one true match per
    // query. Raw cosine would let the hub compete; the ratio margin
    // divides the hub's cosine by its own high neighbourhood average,
    // pushing it below the true pairs.
    val qs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.1f)),
      (2L, Seq(0.0f, 1.0f, 0.1f))).toDF("qid", "embedding")
    val cs = Seq(
      (10L, Seq(0.95f, 0.05f, 0.1f)),  // true match for q1
      (20L, Seq(0.05f, 0.95f, 0.1f)),  // true match for q2
      (99L, Seq(0.6f, 0.6f, 0.5f)))    // hub: close to both queries
      .toDF("cid", "embedding")
    val mined = Similarity.marginMine(qs, cs, k = 2, threshold = 1.0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mined(1L) == 10L, "q1 must mine its aligned candidate, not the hub")
    assert(mined(2L) == 20L, "q2 must mine its aligned candidate, not the hub")
  }

  test("marginMine: threshold drops below-average pairs") {
    val s = spark
    import s.implicits._
    // two queries x two candidates, all identical vectors -> every pair's
    // cosine equals both neighbourhood means, so margin == 1.0 exactly
    // (both sides have a full k=2 neighbour set); a threshold just above
    // 1 yields nothing.
    val qs = Seq(
      (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(1.0f, 0.0f))).toDF("qid", "embedding")
    val cs = Seq(
      (10L, Seq(1.0f, 0.0f)),
      (20L, Seq(1.0f, 0.0f))).toDF("cid", "embedding")
    assert(Similarity.marginMine(qs, cs, k = 2, threshold = 1.001).count() == 0)
    assert(Similarity.marginMine(qs, cs, k = 2, threshold = 0.999).count() == 2)
  }

  test("marginMine: heap side-sums ≡ the window formulation on randomized pairs (r17)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // deterministic pseudo-random embeddings with deliberate hub/tie
    // structure; k chosen to hit both partial (< k neighbours) and full
    // heaps. The reference is the pre-r17 window chain, inlined.
    def vec(seed: Long): Seq[Float] = {
      val r = new scala.util.Random(seed)
      Seq.fill(5)(r.nextDouble().toFloat - 0.5f)
    }
    val qs = (1L to 17L).map(i => (i, vec(i))).toDF("qid", "embedding")
    val cs = (101L to 140L).map(i => (i, vec(i * 7))).toDF("cid", "embedding")
    var anyMined = 0
    for (k <- Seq(1, 3, 8); threshold <- Seq(0.8, 1.0)) {
      val got = Similarity.marginMine(qs, cs, k = k, threshold = threshold)
        .orderBy("qid").collect().toSeq
      val pairs = qs.select(col("qid"), col("embedding").as("_qv"))
        .crossJoin(cs.select(col("cid"), col("embedding").as("_cv")))
        .withColumn("_sm", round(round(graft.functions.GeoFunctions.cosineSimilarity(
          col("_qv"), col("_cv")), 6) * 1000000L).cast("long"))
        .drop("_qv", "_cv")
      val wq = Window.partitionBy("qid").orderBy(col("_sm").desc, col("cid").asc)
      val wc = Window.partitionBy("cid").orderBy(col("_sm").desc, col("qid").asc)
      val best = Window.partitionBy("qid").orderBy(col("margin").desc, col("cid").asc)
      val want = pairs
        .withColumn("_rq", row_number().over(wq))
        .withColumn("_sq", sum(when(col("_rq") <= k, col("_sm")).otherwise(0L))
          .over(Window.partitionBy("qid")))
        .withColumn("_rc", row_number().over(wc))
        .withColumn("_sc", sum(when(col("_rc") <= k, col("_sm")).otherwise(0L))
          .over(Window.partitionBy("cid")))
        .withColumn("margin",
          (col("_sm") * lit(2L * k)).cast("double") / (col("_sq") + col("_sc")))
        .withColumn("_rank", row_number().over(best))
        .filter(col("_rank") === 1 && col("margin") > threshold)
        .select(col("qid"), col("cid"), round(col("margin"), 6).as("margin"),
          (col("_sm").cast("double") / 1000000L).as("sim"))
        .orderBy("qid").collect().toSeq
      assert(got === want, s"heap/window divergence at k=$k threshold=$threshold")
      anyMined += got.size
    }
    assert(anyMined > 0, "vacuous parity: no (k, threshold) combination mined anything")
  }

  test("marginMine: null-id rows are dropped and do not move any non-null result") {
    val s = spark
    import s.implicits._
    // the null-id query sits on top of candidate 10 and the null-id
    // candidate on top of query 2: were either counted, it would enter a
    // side's top-k sum and shift that side's margins
    def vec(seed: Long): Seq[Float] = {
      val r = new scala.util.Random(seed)
      Seq.fill(4)(r.nextDouble().toFloat - 0.5f)
    }
    val qRows = (1L to 6L).map(i => (Option(i), vec(i)))
    val cRows = (10L to 19L).map(i => (Option(i), vec(i * 7)))
    val qs = (qRows :+ ((None, vec(70L)))).toDF("qid", "embedding")
    val cs = (cRows :+ ((None, vec(2L)))).toDF("cid", "embedding")
    def mined(q: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.DataFrame) =
      Similarity.marginMine(q, c, k = 2, threshold = 0.0).orderBy("qid").collect().toSeq
    val withNulls = mined(qs, cs)
    assert(withNulls.forall(r => !r.isNullAt(0) && !r.isNullAt(1)),
      "no output row may carry a null id")
    assert(withNulls.nonEmpty, "vacuous comparison: nothing mined")
    assert(withNulls === mined(qs.filter(col("qid").isNotNull), cs.filter(col("cid").isNotNull)),
      "null-id rows must not change the non-null results")
  }

  test("marginMineWith: full probe budget reproduces the exact miner bit-for-bit") {
    val s = spark
    import s.implicits._
    // deterministic pseudo-random corpus: 12 queries x 30 candidates in
    // 4 directional lobes, so cells are non-trivial and margins distinct
    def vec(seed: Long): Seq[Float] = {
      val r = new scala.util.Random(seed)
      Seq.fill(6)(r.nextDouble().toFloat - 0.5f)
    }
    val qs = (1L to 12L).map(i => (i, vec(i))).toDF("qid", "embedding")
    val cs = (101L to 130L).map(i => (i, vec(i * 7))).toDF("cid", "embedding")
    val centroids = Seq(11L, 22L, 33L, 44L).map(sd => vec(sd).map(_.toDouble).toArray)
    val exact = Similarity.marginMine(qs, cs, k = 3, threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    // probing every cell retrieves every (q, c) pair exactly once ->
    // identical pairs, identical margin algebra, identical output
    val full = Similarity.marginMineWith(qs, cs, centroids, k = 3,
        threshold = 0.0, nProbe = centroids.size)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(full.toSeq === exact.toSeq)
    // a 1-probe budget still mines every query (pairs exist in every
    // probed cell) and each mined pair's margin matches the exact
    // miner's margin FOR THAT PAIR or is a cell-local approximation —
    // here just assert structure: one row per query, all above threshold
    val narrow = Similarity.marginMineWith(qs, cs, centroids, k = 3,
        threshold = 0.0, nProbe = 1)
    assert(narrow.select("qid").distinct().count() === narrow.count())
    assert(narrow.count() > 0)
  }

  test("marginMineWith: measured recall vs the exact miner on real embeddings") {
    // measure-don't-guess for the probe budget: on the sf0.001 embeddings
    // (deterministic data), the 2-probe IVF miner must recover most of
    // the exact miner's mined pairs. Thresholds are floors, not golden
    // values — a centroid retrain may move recall but must not crater it.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qs = emb.filter(col("label") % 2 === 0)
      .select(col("vec_id").as("qid"), col("embedding"))
    val cs = emb.filter(col("label") % 2 === 1)
      .select(col("vec_id").as("cid"), col("embedding"))
    val exact = Similarity.marginMine(qs, cs, k = 4, threshold = 1.02)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "exact miner found nothing — test data degenerated")
    def recallAt(nProbe: Int): Double = {
      val ivf = Similarity.marginMineWith(qs, cs,
          graft.queries.TrainedCentroids.sf001k8, k = 4, threshold = 1.02, nProbe = nProbe)
        .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact & ivf).size.toDouble / exact.size
    }
    val r2 = recallAt(2); val r4 = recallAt(4); val r8 = recallAt(8)
    info(f"pair recall: nProbe=2 $r2%.3f, nProbe=4 $r4%.3f, nProbe=8 $r8%.3f (n=${exact.size})")
    // nProbe is THE recall knob: more probes never hurt, full probe is
    // the exact miner. The measured sf0.001 curve (r8): 0.468 / ~0.8 / 1.0
    // with k=8 random-ish embeddings — floors set well under those so a
    // centroid retrain shifts but cannot crater silently.
    assert(r2 >= 0.3, f"nProbe=2 recall cratered: $r2%.3f")
    assert(r4 >= r2 - 1e-9 && r4 >= 0.6, f"nProbe=4 recall cratered: $r4%.3f (r2=$r2%.3f)")
    assert(r8 === 1.0, "full probe must reproduce the exact miner's pairs")
  }

  test("collocations: bound pair outranks frequent independent pair") {
    val s = spark
    import s.implicits._
    // "new york" is exclusive (cl=cr=pair count -> PMI ln 3); "the"
    // splits its left margin between cat and dog (cl=2x pair count ->
    // PMI ln 1.5) at the SAME pair frequency.
    val docs = (0 until 9).map(i =>
      (i.toLong, Seq("new york", "the cat", "the dog")(i % 3)))
      .toDF("doc_id", "text")
    val top = TextAnalysis.collocations(docs, minCount = 3L, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(3)))
    val pmi = top.map(t => (t._1, t._2) -> t._3).toMap
    assert(pmi(("new", "york")) > pmi(("the", "cat")),
      s"bound pair must beat split-margin pair: $pmi")
  }

  test("splitByContent: identical texts share a split; cuts partition everything") {
    val s = spark
    import s.implicits._
    val docs = (0 until 300).map(i => (i.toLong, s"doc body number ${i % 100}"))
      .toDF("doc_id", "text") // every text has exactly 3 byte-identical copies
    val out = Selection.splitByContent(docs).cache()
    // each fingerprint maps to exactly one split -> no train/eval leakage
    val leaks = out.groupBy("fp").agg(countDistinct("split").as("ns"))
      .filter(col("ns") > 1).count()
    assert(leaks == 0, "a content fingerprint must never straddle splits")
    // all three splits are populated and cover the corpus
    val counts = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 300)
    assert(counts.keySet == Set("train", "valid", "test"), s"got $counts")
    assert(counts("train") > counts("valid") && counts("train") > counts("test"))
    out.unpersist()
  }
}
