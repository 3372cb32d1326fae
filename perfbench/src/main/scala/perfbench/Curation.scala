package perfbench

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** A seeded corpus with planted duplicates of known shape: `exactGroups`
  * random documents copied verbatim (2 or 3 copies each), and near-duplicate
  * families of 2 to 5 members (sizes in a fixed pattern), each member its family's base text with a
  * few words replaced. Everything else is random text over a vocabulary
  * large enough that unrelated documents share almost no word bigrams. */
final class Corpus(seed: Long, val nDocs: Int, nFamilies: Int, exactGroups: Int) {
  private val rng = new scala.util.Random(seed)
  private val vocab = (0 until 4000).map(i => "w" + Integer.toString(i * 7919 % 4000 + 1000, 36))
  private def word(): String = vocab(math.min(vocab.size - 1, (math.abs(rng.nextGaussian()) * 1200).toInt))
  private def randomText(): Array[String] = Array.fill(40 + rng.nextInt(40))(word())

  val texts = new Array[String](nDocs)
  /** Planted groups (exact copies and near-duplicate families), as doc ids. */
  val groups = scala.collection.mutable.ArrayBuffer.empty[Seq[Int]]
  /** Number of distinct texts, and of texts held by more than one doc. */
  var distinctTexts = 0
  var repeatedTexts = 0

  {
    val ids = rng.shuffle((0 until nDocs).toVector)
    var next = 0
    def take(k: Int): Seq[Int] = { val s = ids.slice(next, next + k); next += k; s }
    // group sizes follow a fixed pattern, so every seed plants the same
    // number of pairs; the seed picks members, words and edits
    for (i <- 0 until exactGroups) {
      val g = take(2 + i % 2)
      val t = randomText().mkString(" ")
      g.foreach(texts(_) = t)
      groups += g.sorted
    }
    for (i <- 0 until nFamilies) {
      val g = take(2 + i % 4)
      val base = randomText()
      g.foreach { id =>
        val t = base.clone()
        for (_ <- 0 until 1 + rng.nextInt(3)) t(rng.nextInt(t.length)) = "x" + rng.nextInt(1 << 30)
        texts(id) = t.mkString(" ")
      }
      groups += g.sorted
    }
    while (next < nDocs) texts(take(1).head) = randomText().mkString(" ")
    val byText = texts.groupBy(identity).map(_._2.length)
    distinctTexts = byText.size
    repeatedTexts = byText.count(_ > 1)
  }

  private def bigrams(t: String): Set[String] = t.split(" ").sliding(2).map(_.mkString(" ")).toSet

  /** Every document pair with bigram Jaccard >= 2/5: the planted pairs that
    * clear the threshold (unrelated documents are checked not to). */
  lazy val truePairs: Set[(Long, Long)] = groups.flatMap { g =>
    for (a <- g; b <- g if a < b && {
      val (x, y) = (bigrams(texts(a)), bigrams(texts(b)))
      5 * (x & y).size >= 2 * (x | y).size
    }) yield (a.toLong, b.toLong)
  }.toSet

  def frame(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(texts.indices.map(i => Row(i.toLong, texts(i))), 4),
      org.apache.spark.sql.types.StructType.fromDDL("doc_id long, text string"))
}

/** Connected components of a pair set: doc id -> smallest id in its component. */
object UnionFind {
  def labels(pairs: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(k => k -> find(k)).toMap
  }

  /** Same partition, whatever the label values. */
  def samePartition(got: Map[Long, Long], expect: Map[Long, Long]): Boolean =
    got.keySet == expect.keySet && {
      val m = scala.collection.mutable.HashMap.empty[Long, Long]
      got.forall { case (id, l) => m.getOrElseUpdate(l, expect(id)) == expect(id) } &&
        m.values.toSet.size == m.size
    }
}

/** The curation chain: exact dedup, MinHash LSH, exact prefix-filtered
  * Jaccard verification, connected components of yesterday's pairs, the
  * label plane write, `batches` delta merges of today's pairs, and the
  * final chain read. */
final class CurationWorkload(nDocs: Int, nFamilies: Int, exactGroups: Int, batches: Int,
    workDir: String) extends Workload {
  val name = "curation-dedup"
  val itemUnit = "documents"
  private var corpus: Corpus = _
  private var docsPath = ""
  private var rounds = 0

  private def isNew(id: Long): Boolean = id % 3 == 0

  def prepare(spark: SparkSession, seed: Long): Unit = {
    corpus = new Corpus(seed, nDocs, nFamilies, exactGroups)
    docsPath = s"$workDir/corpus"
    Inputs.parquet(spark, corpus.frame(spark), docsPath)
  }

  private def pairSet(rows: Array[Row]): Set[(Long, Long)] =
    rows.map(r => (r.getLong(0), r.getLong(1))).toSet

  def round(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val docs = spark.read.parquet(docsPath)
    val dir = s"$workDir/labels-r$rounds"
    val pairsPath = s"$workDir/pairs-r$rounds"
    val c = corpus
    ctx.op("dedup.exact", "dedup", c.nDocs) {
      val rows = ctx.span("operators.dedup.exact")(Dedup.exact(docs).collect())
      () => {
        val multi = rows.count(_.getLong(2) > 1)
        val total = rows.map(_.getLong(2)).sum
        if (rows.length == c.distinctTexts && multi == c.repeatedTexts && total == c.nDocs) None
        else Some(s"dedup.exact: ${rows.length} texts ($multi repeated, $total docs), " +
          s"expected ${c.distinctTexts} (${c.repeatedTexts} repeated, ${c.nDocs} docs)")
      }
    }
    ctx.op("dedup.minhash_lsh", "dedup", 0) {
      val rows = ctx.span("operators.dedup.minhash_lsh")(
        Dedup.minhashLsh(docs, threshold = 0.4).select("d1", "d2").collect())
      ctx.count("dedup.lsh_pairs", rows.length)
      () => {
        val got = pairSet(rows)
        val wrong = got -- c.truePairs
        if (wrong.isEmpty && got.nonEmpty) None
        else Some(s"dedup.minhash_lsh: ${got.size} pairs, ${wrong.size} not planted near-duplicates")
      }
    }
    ctx.op("dedup.verify", "dedup", 0) {
      ctx.span("operators.dedup.verify")(Dedup.prefixFilteredJaccard(docs)
        .select("d1", "d2").write.mode("overwrite").parquet(pairsPath))
      () => {
        val got = pairSet(spark.read.parquet(pairsPath).collect())
        if (got == c.truePairs) None
        else Some(s"dedup.verify: ${got.size} pairs, expected ${c.truePairs.size} " +
          s"(missing ${(c.truePairs -- got).size}, extra ${(got -- c.truePairs).size})")
      }
    }
    def pairs = spark.read.parquet(pairsPath)
    def oldPairs = pairs.filter(!(col("d1") % 3 === 0) && !(col("d2") % 3 === 0))
    var oldLabels: Array[Row] = Array.empty
    ctx.op("dedup.cc", "graph", 0) {
      oldLabels = ctx.span("operators.dedup.cc")(
        Dedup.connectedComponents(oldPairs).select("id", "cluster_id").collect())
      () => {
        val expect = UnionFind.labels(c.truePairs.filter { case (a, b) => !isNew(a) && !isNew(b) })
        val got = oldLabels.map(r => r.getLong(0) -> r.getLong(1)).toMap
        if (UnionFind.samePartition(got, expect)) None
        else Some(s"dedup.cc: ${got.size} labelled docs, expected ${expect.size}")
      }
    }
    ctx.op("labels.write", "graph", 0) {
      val labelsDf = spark.createDataFrame(spark.sparkContext.parallelize(oldLabels.toSeq, 1),
        org.apache.spark.sql.types.StructType.fromDDL("id long, cluster_id long"))
      ctx.span("operators.labels.write")(Dedup.writeClusterLabels(labelsDf, dir))
      () => None
    }
    def newPairs = pairs.filter(col("d1") % 3 === 0 || col("d2") % 3 === 0)
    for (b <- 0 until batches) {
      ctx.op("labels.merge", "graph", 0) {
        ctx.span("operators.labels.merge")(Dedup.mergeClusterLabels(spark, dir,
          newPairs.filter(pmod(col("d1") + col("d2"), lit(batches)) === b),
          delta = true, maxChain = batches + 1))
        () => None
      }
    }
    ctx.op("labels.read", "graph", 0) {
      val read = SparkMeter.fsReadBytes()
      val rows = ctx.span("operators.labels.read")(Dedup.readClusterLabels(spark, dir).select("id", "cluster_id").collect())
      ctx.count("labels.fs_read_bytes", (SparkMeter.fsReadBytes() - read).toDouble)
      () => {
        val expect = UnionFind.labels(c.truePairs)
        val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
        if (UnionFind.samePartition(got, expect)) None
        else Some(s"labels.read: ${got.size} labelled docs, expected ${expect.size}")
      }
    }
    rounds += 1
  }
}
