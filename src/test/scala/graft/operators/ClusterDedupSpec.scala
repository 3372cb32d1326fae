package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Dedup.connectedComponents / nearDupClusters: the transitive closure
  * the pairwise keep-first policy lacks — a chain A~B, B~C with no A~C
  * pair must resolve to ONE cluster keeping exactly its minimum id. */
class ClusterDedupSpec extends SparkSpec {

  test("chain A~B~C collapses to one cluster; keep-first would drop two") {
    val s = spark
    import s.implicits._
    val docs = (1L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // chain 1-2-3 (no 1~3 pair), pair 4-5, singleton 6
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("d1", "d2")

    val out = Dedup.nearDupClusters(docs, pairs).orderBy("doc_id")
      .select("doc_id", "cluster_id", "keep")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.toSeq == Seq(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (4L, 4L, true), (5L, 4L, false), (6L, 6L, true)))

    // contrast: the per-pair policy drops every d2 independently — on the
    // chain that leaves only doc 1 of {1,2,3}, same outcome here, but on
    // a reversed chain it can drop ALL members (see next test)
    val kept = Dedup.dropNearDuplicates(docs, pairs).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 4L, 6L))
  }

  test("long path graph needs multiple propagation rounds and converges") {
    val s = spark
    import s.implicits._
    // path 10-11-12-...-19: min label must travel 9 hops
    val docs = (10L to 19L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val pairs = (10L until 19L).map(i => (i, i + 1)).toDF("d1", "d2")
    val out = Dedup.nearDupClusters(docs, pairs)
    assert(out.select("cluster_id").distinct().collect().map(_.getLong(0)).toSeq == Seq(10L))
    assert(out.filter(col("keep")).select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(10L))
  }

  test("50-node path converges within default maxIters (pointer jumping)") {
    val s = spark
    import s.implicits._
    // diameter 49 > maxIters 20: one-hop-per-round propagation could not
    // finish — the pointer-jump step makes rounds O(log diameter)
    val docs = (100L to 149L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val pairs = (100L until 149L).map(i => (i, i + 1)).toDF("d1", "d2")
    val out = Dedup.nearDupClusters(docs, pairs)
    assert(out.select("cluster_id").distinct().collect().map(_.getLong(0)).toSeq == Seq(100L))
    assert(out.filter(col("keep")).count() == 1)
  }

  test("pair direction does not matter: one keeper per component either way") {
    val s = spark
    import s.implicits._
    val docs = (1L to 3L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    // reversed-order pairs (higher id first): keep-first drops by d2 so it
    // would keep only doc 3... cluster policy still keeps exactly min id
    val pairs = Seq((3L, 2L), (2L, 1L)).toDF("d1", "d2")
    val out = Dedup.nearDupClusters(docs, pairs).orderBy("doc_id")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"), r.getAs[Boolean]("keep")))
    assert(out.toSeq == Seq((1L, 1L, true), (2L, 1L, false), (3L, 1L, false)))
  }

  test("empty pair table: every doc is its own kept singleton") {
    val s = spark
    import s.implicits._
    val docs = (1L to 4L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val pairs = Seq.empty[(Long, Long)].toDF("d1", "d2")
    val out = Dedup.nearDupClusters(docs, pairs)
    assert(out.filter(col("keep")).count() == 4)
    assert(out.filter(col("cluster_id") =!= col("doc_id")).count() == 0)
  }

  test("quality-canonical: each cluster keeps its best member, not min id") {
    val s = spark
    import s.implicits._
    // chain 1-2-3: doc 2 is the longest -> canonical despite not min id;
    // pair 4-5 ties on quality -> lowest id wins; singleton 6 kept
    val docs = Seq(
      (1L, "a", 10L), (2L, "b", 99L), (3L, "c", 50L),
      (4L, "d", 7L), (5L, "e", 7L), (6L, "f", 1L)
    ).toDF("doc_id", "text", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("d1", "d2")
    val out = Dedup.nearDupCanonical(docs, pairs, "n_chars")
      .select("doc_id", "cluster_id", "keep").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.toSeq == Seq(
      (1L, 1L, false), (2L, 1L, true), (3L, 1L, false),
      (4L, 4L, true), (5L, 4L, false), (6L, 6L, true)))
  }

  test("small-graph fast path ≡ distributed loop: identical labels and schema on a random graph (r16)") {
    val s = spark
    import s.implicits._
    // deterministic pseudo-random graph: mixes chains, cliques, isolated
    // pairs, sparse ids, and both edge orders
    val rnd = new scala.util.Random(42)
    val pairs = (Seq.tabulate(400) { _ =>
      (rnd.nextLong(5000), rnd.nextLong(5000))
    }.filter { case (a, b) => a != b } ++
      (900L until 950L).map(i => (i + 1, i)) // 50-long reversed chain
    ).toDF("d1", "d2")
    val local = Dedup.connectedComponents(pairs) // default threshold: local path
    spark.conf.set("spark.graft.cc.localThreshold", "0")
    try {
      val dist = Dedup.connectedComponents(pairs)
      assert(local.schema === dist.schema, "fast path must not change the result schema")
      val lm = local.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dm = dist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(lm === dm, "driver union-find must be bit-identical to the distributed loop")
      assert(lm.nonEmpty)
      // min-id invariant holds on the local path too
      lm.groupBy(_._2).foreach { case (label, members) =>
        assert(members.keys.min === label, s"label $label must be its component's min id")
      }
    } finally spark.conf.unset("spark.graft.cc.localThreshold")
  }

  test("maxIters below the path's diameter: fast path stays exact, distributed loop truncates") {
    val s = spark
    import s.implicits._
    // 64-node path 1000-1001-...-1063: one hop + one pointer jump moves
    // a label at most 2 ids down, far short of the component minimum
    val pairs = (1000L until 1063L).map(i => (i, i + 1)).toDF("d1", "d2")
    def labels(maxIters: Int): Map[Long, Long] =
      Dedup.connectedComponents(pairs, maxIters = maxIters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // default threshold: driver-local union-find ignores maxIters
    val localOne = labels(1)
    assert(localOne.size == 64 && localOne.values.toSet == Set(1000L))
    val localDefault = labels(20)
    spark.conf.set("spark.graft.cc.localThreshold", "0")
    try {
      val distOne = labels(1)
      assert(distOne.size == 64)
      assert(distOne.values.toSet.size > 1, "one round cannot close a 64-node path")
      distOne.foreach { case (id, label) =>
        assert(label <= id, s"label $label of vertex $id must not exceed its id")
      }
      assert(labels(20) === localDefault, "both paths reach the fixpoint at the default maxIters")
    } finally spark.conf.unset("spark.graft.cc.localThreshold")
    assert(localDefault.values.toSet == Set(1000L))
  }

  test("fast path gate: null ids fall through to the distributed loop's null semantics") {
    val s = spark
    import s.implicits._
    val pairs = Seq((Some(1L), Some(2L)), (None, Some(3L))).toDF("d1", "d2")
    val out = Dedup.connectedComponents(pairs)
    val m = out.collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0))) ->
      (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    // 1-2 still resolves; the null-keyed edge behaves exactly as the
    // distributed join path dictates (null never matches an equi-join)
    assert(m(Some(1L)) === Some(1L) && m(Some(2L)) === Some(1L))
  }
}
