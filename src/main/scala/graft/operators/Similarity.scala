package graft.operators

import graft.functions.GeoFunctions.{cosineSimilarity, dotProduct, l2Norm}
import graft.functions.TopKNearest
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Checkpoints.BarrierSyntax

/** Similarity search over an embedding column (builder extension).
  *
  * Baseline: brute-force cosine top-k (exact; crossJoin + rank — only for
  * bounded query sets). Scale path: random-hyperplane LSH — each vector gets
  * a `nBits`-bit signature; candidates share a signature band; exact rerank
  * on candidates only. Signature computation is pure `functions._` array
  * algebra (codegen'd); hyperplanes are a deterministic driver-side constant
  * broadcast into the plan as literals.
  */
object Similarity {

  /** All-pairs cosine similarity for two bounded sets (qid/cid naming). */
  def cosinePairs(queries: DataFrame, candidates: DataFrame,
      idQ: String = "qid", idC: String = "cid", vecCol: String = "embedding"): DataFrame =
    queries.select(col(idQ), col(vecCol).as("_qv"))
      .crossJoin(candidates.select(col(idC), col(vecCol).as("_cv")))
      .withColumn("sim", cosineSimilarity(col("_qv"), col("_cv")))
      .drop("_qv", "_cv")

  /** Exact brute-force cosine top-k per query. `roundDigits` quantizes the
    * similarity before ranking so the rank order is reproducible across
    * engines/float orders; ties break on candidate id. r10: the rank runs
    * on the bounded-memory [[graft.functions.TopKNearest]] heap (asc
    * (−sim, id) == the rank window's (sim desc, id asc); posexplode
    * position + 1 == row_number) — the partial phase ships ≤ k rows per
    * query into the shuffle and the |Q|×|C| pair table is never sorted.
    * Candidate ids must be integral (the heap keys on a long — vector
    * corpora id by number; same contract as the PQ stages). */
  def bruteForceTopK(
      queries: DataFrame,
      candidates: DataFrame,
      k: Int,
      idQ: String = "qid",
      idC: String = "cid",
      vecCol: String = "embedding",
      roundDigits: Int = 6): DataFrame = {
    val pairs = cosinePairs(queries, candidates, idQ, idC, vecCol)
      .withColumn("sim_r", round(col("sim"), roundDigits))
    topBySim(pairs, k, idQ, idC, "sim_r")
  }

  /** The heap paths key candidate ids on a long ([[graft.functions.TopKNearest]]).
    * A non-integral id column (string doc ids) would silently cast to
    * null and surface as src_id 0 — so the contract is enforced here, at
    * plan-build time, instead of living in a doc comment. */
  private[operators] def requireIntegralId(df: DataFrame, idCol: String, api: String): Unit = {
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
    df.schema.find(_.name == idCol).map(_.dataType).foreach {
      case ByteType | ShortType | IntegerType | LongType => ()
      case dt => throw new IllegalArgumentException(
        s"$api: candidate id column '$idCol' must be an integral type " +
          s"(the top-k heap keys on a long); got $dt. Map string ids to " +
          "a numeric surrogate (e.g. xxhash64) before calling.")
    }
  }

  /** Per-query (sim desc, id asc) ranked top-`n` as (idQ, idC, rank, sim)
    * through the bounded-memory [[graft.functions.TopKNearest]] heap:
    * heap order asc (−sim, id) == the rank window's ordering, and the
    * posexplode position + 1 == row_number — bit-identical output, but
    * the partial phase ships ≤ n rows per query into the shuffle and the
    * scored pair table is never exchanged or sorted whole. Shared by the
    * exact baseline and every rerank stage whose input grows with the
    * corpus ([[ivfTopK]]/[[ivfTopKWith]] probed lists, [[lshTopK]]
    * bucket collisions). Ids must be integral (enforced by
    * [[requireIntegralId]]). NaN similarities (cosine against a zero
    * vector) are filtered before the heap: the heap's comparisons are
    * all-false on NaN so such rows could neither rank deterministically
    * nor mean anything as a "most similar" answer — the policy is
    * NaN-never-ranks, pinned by SimilarityContractSpec. */
  private def topBySim(
      scored: DataFrame, n: Int, idQ: String, idC: String, simCol: String): DataFrame = {
    requireIntegralId(scored, idC, "topBySim")
    scored
      .filter(!isnan(col(simCol)))
      .groupBy(idQ)
      .agg(TopKNearest.topkNearest(
        struct((-col(simCol)).as("dist2"), col(idC).cast("long").as("src_id"),
          col(simCol).cast("double").as("sim_r")),
        n, payload = Seq("sim_r")).as("_top"))
      .select(col(idQ), posexplode(col("_top")).as(Seq("_i", "_t")))
      .select(col(idQ), col("_t.src_id").as(idC),
        (col("_i") + 1).cast("int").as("rank"), col("_t.sim_r").as("sim"))
  }

  /** Deterministic pseudo-random unit-ish hyperplanes (xorshift-based,
    * seeded) — avoids any RNG library dependency in the plan. */
  private[graft] def hyperplanes(nBits: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    var s = seed
    def next(): Double = {
      s ^= s << 13; s ^= s >>> 7; s ^= s << 17
      (s.toDouble / Long.MaxValue)
    }
    Array.fill(nBits)(Array.fill(dim)(next()))
  }

  /** Random-hyperplane LSH signature (one long, nBits<=63) per vector. */
  def withLshSignature(
      df: DataFrame,
      dim: Int,
      nBits: Int = 16,
      seed: Long = 42L,
      vecCol: String = "embedding"): DataFrame = {
    val planes = hyperplanes(nBits, dim, seed)
    val sig = planes.zipWithIndex
      .map { case (p, i) =>
        val planeCol = array(p.map(lit): _*)
        when(dotProduct(col(vecCol), planeCol) >= 0, lit(1L << i)).otherwise(0L)
      }
      .reduce(_ + _)
    df.withColumn("lsh_sig", sig)
  }

  /** IVF-flavoured approximate top-k: a deterministic centroid subset
    * partitions the candidate set (assignment = nearest centroid by
    * cosine); each query probes its `nProbe` nearest centroid lists and
    * reranks exactly within them. The centroid pick is a bounded model
    * fit (≤ nCentroids rows via TakeOrderedAndProject, collected driver-
    * side — the [[kmeansCentroids]] contract), after which BOTH
    * assignments run through [[assignCells]]'s zero-shuffle literal
    * argmax: no centroid join or rank window anywhere (the pre-r11
    * crossJoin+row_number formulation exchanged n×nCentroids rows keyed
    * by candidate id — the corpus-sized shuffle the trained paths had
    * already shed). The only shuffles left are the centroid_id probe
    * equi-join and the per-query rerank. */
  def ivfTopK(
      queries: DataFrame,
      candidates: DataFrame,
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      idQ: String = "qid",
      idC: String = "cid",
      vecCol: String = "embedding"): DataFrame = {
    requireIntegralId(candidates, idC, "ivfTopK")
    // deterministic "training": the nCentroids candidates with the smallest
    // id-hash (md5-derived, engine-portable) — a uniform pseudo-random
    // subset. orderBy+limit compiles to TakeOrderedAndProject (per-partition
    // top-k + driver merge): no global sort exchange, no extra count()
    // action, scales to any candidate count. Sorted by original id after
    // the collect so assignCells' tie-break on the centroid INDEX is the
    // same selection as a tie-break on the original centroid id.
    val idHash = conv(substring(md5(col("_cid").cast("string")), 1, 15), 16, 10).cast("long")
    val centroidVecs: Seq[Array[Double]] = candidates
      .select(col(idC).cast("long").as("_cid"), col(vecCol).cast("array<double>").as("_ctr"))
      .orderBy(idHash, col("_cid"))
      .limit(nCentroids)
      .collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray).toSeq

    val cAssigned = assignCells(
      candidates.select(col(idC), col(vecCol).as("_cv")), centroidVecs, "_cv", 1)
    val qAssigned = assignCells(
      queries.select(col(idQ), col(vecCol).as("_qv")), centroidVecs, "_qv", nProbe)

    // probed-list rerank on the heap — the pair table grows with the
    // corpus (|Q|·|C|·nProbe/k), so it must never be sorted whole
    topBySim(
      qAssigned.join(cAssigned, "centroid_id")
        .withColumn("sim_r", round(cosineSimilarity(col("_qv"), col("_cv")), 6)),
      k, idQ, idC, "sim_r")
  }

  /** Distributed Lloyd k-means over the embedding column — the trained
    * alternative to [[ivfTopK]]'s hash-picked centroids. Per iteration:
    * assignment is a pure codegen argmax against the k literal centroid
    * arrays (no join, no shuffle), and the re-centering is ONE aggregation
    * keyed by (cluster, dimension) after a posexplode — k*dim keys, so the
    * shuffle is bounded by the model size, not the data. The k*dim partial
    * sums collected per iteration are the model itself (same bounded-driver
    * contract as the omerc fit). Seeding is the md5-id-hash subset (engine-
    * portable, deterministic); an emptied cluster keeps its previous
    * centroid. At 100 TB you train on a sample (standard practice) and
    * assign the full set with the final centroids — assignment is the
    * map-only argmax, embarrassingly parallel. */
  def kmeansCentroids(
      items: DataFrame,
      k: Int,
      iters: Int = 5,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Seq[Array[Double]] = {
    val idHash = conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10).cast("long")
    var centroids: Seq[Array[Double]] = items
      .select(col(idCol), col(vecCol).cast("array<double>").as("_v"))
      .orderBy(idHash, col(idCol))
      .limit(k)
      .collect()
      .map(_.getSeq[Double](1).toArray).toSeq
    for (_ <- 0 until iters) {
      val cStructs = centroids.zipWithIndex.map { case (c, i) =>
        struct((-round(cosineSimilarity(col("_v"), array(c.map(lit): _*)), 9)).as("negSim"),
          lit(i).as("cid"))
      }
      val sums = items
        .select(col(vecCol).cast("array<double>").as("_v"))
        .withColumn("cid", array_min(array(cStructs: _*)).getField("cid"))
        .select(col("cid"), posexplode(col("_v")).as(Seq("pos", "x")))
        .groupBy("cid", "pos")
        // decimal-sum discipline (r12, the pqCodebooksTrained fix): double
        // partial sums depend on partition order, so the trained centroids
        // would differ run-to-run under a different layout — exact decimal
        // addition makes the fit deterministic (KmeansSpec pins
        // repartition invariance)
        .agg(sum(col("x").cast(org.apache.spark.sql.types.DecimalType(28, 14)))
          .cast("double").as("sx"), count(lit(1)).as("n"))
        .collect()
        .groupBy(_.getInt(0))
      centroids = centroids.zipWithIndex.map { case (old, i) =>
        sums.get(i) match {
          case Some(rows) =>
            rows.sortBy(_.getInt(1)).map(r => r.getDouble(2) / r.getLong(3)).toArray
          case None => old // emptied cluster keeps its previous centroid
        }
      }
    }
    centroids
  }

  /** Model serving: assign every row to its nearest centroid (round-6
    * cosine, ties to the lowest id — the same selection as [[ivfTopKWith]]'s
    * rank-1 assignment). The centroids are literals in the plan, so this is
    * a pure per-row codegen argmax — no join, no shuffle, no state — and
    * therefore runs unchanged on a streaming DataFrame: the
    * train-offline/serve-online shape for cluster routing at ingest. */
  def assignClusters(
      df: DataFrame,
      centroidVecs: Seq[Array[Double]],
      vecCol: String = "embedding"): DataFrame = {
    val cStructs = centroidVecs.zipWithIndex.map { case (c, i) =>
      struct(
        (-round(cosineSimilarity(col(vecCol), array(c.map(lit): _*)), 6)).as("negSim"),
        lit(i.toLong).as("cid"))
    }
    val best = array_min(array(cStructs: _*))
    df.withColumn("centroid_id", best.getField("cid"))
      .withColumn("centroid_sim", -best.getField("negSim"))
  }

  /** Per-row top-`keep` centroid cells as a ZERO-SHUFFLE codegen map
    * stage over the centroid matrix — (round-6 cosine desc, cid asc),
    * the exact selection a rank window would make, without the n×k
    * fan-out exchange the window forces (at 100 TB the candidate side is
    * the corpus, so that exchange is the largest shuffle in the query
    * for no semantic gain). r11: runs as the native
    * [[graft.functions.CentroidExpr]] kernel — the previous literal
    * struct tree ([[assignCellsTree]], kept for the equality pin)
    * carried nCentroids×dim literal nodes that Catalyst re-optimized on
    * every plan build (~0.9 s of fixed per-query latency on q51's 16×64
    * subset) and shared the PQ plane's janino-method-limit exposure.
    * Shared by [[ivfTopK]], [[ivfTopKWith]], [[ivfPqTopK]] and
    * [[marginMineWith]]. */
  private[graft] def assignCells(
      df: DataFrame,
      centroidVecs: Seq[Array[Double]],
      v: String,
      keep: Int): DataFrame = {
    val cells = graft.functions.CentroidExpr.topCells(col(v), centroidVecs, keep)
    if (keep == 1)
      df.withColumn("centroid_id", element_at(cells, 1))
    else
      df.withColumn("centroid_id", explode(cells))
  }

  /** The pre-r11 literal-struct formulation of [[assignCells]] —
    * `array_min` argmax for keep = 1, `array_sort` + `slice` beyond.
    * Kept as the independent reference the CentroidKernelSpec equality
    * pin checks the kernel against (same role as PqSpec's tree form). */
  private[graft] def assignCellsTree(
      df: DataFrame,
      centroidVecs: Seq[Array[Double]],
      v: String,
      keep: Int): DataFrame = {
    val cStructs = centroidVecs.zipWithIndex.map { case (c, i) =>
      struct(
        (-round(cosineSimilarity(col(v), array(c.map(lit): _*)), 6)).as("negSim"),
        lit(i.toLong).as("cid"))
    }
    if (keep == 1)
      df.withColumn("centroid_id", array_min(array(cStructs: _*)).getField("cid"))
    else
      df.withColumn("_cell", explode(slice(array_sort(array(cStructs: _*)), 1, keep)))
        .withColumn("centroid_id", col("_cell.cid"))
        .drop("_cell")
  }

  /** [[ivfTopK]] with explicit (e.g. [[kmeansCentroids]]-trained) centroid
    * vectors instead of the hash-picked candidate subset. Same inverted-
    * list shape, but the centroids are literals in the plan, so BOTH
    * assignments ([[assignCells]]) are zero-shuffle map stages — no
    * centroid join of any kind; the only shuffles left are the
    * centroid_id probe equi-join and the per-query rerank. */
  def ivfTopKWith(
      queries: DataFrame,
      candidates: DataFrame,
      centroidVecs: Seq[Array[Double]],
      k: Int,
      nProbe: Int = 4,
      idQ: String = "qid",
      idC: String = "cid",
      vecCol: String = "embedding"): DataFrame = {
    val cAssigned = assignCells(
      candidates.select(col(idC), col(vecCol).as("_cv")), centroidVecs, "_cv", 1)
    val qAssigned = assignCells(
      queries.select(col(idQ), col(vecCol).as("_qv")), centroidVecs, "_qv", nProbe)
    topBySim(
      qAssigned.join(cAssigned, "centroid_id")
        .withColumn("sim_r", round(cosineSimilarity(col("_qv"), col("_cv")), 6)),
      k, idQ, idC, "sim_r")
  }

  /** Radius (range) similarity search over the IVF cells: every
    * (query, candidate) pair with round-6 cosine >= `minSim` among the
    * candidates in the query's `nProbe` nearest cells — the RANGE twin
    * of [[ivfTopKWith]] (top-k asks "the k nearest"; range asks
    * "everything at least this similar": near-dup sweeps, contamination
    * scans, recall-bounded retrieval). Both assignments are the
    * zero-shuffle literal argmax ([[assignCells]]); the only shuffle is
    * the centroid_id probe equi-join, the range predicate filters
    * INSIDE the joined cell stream, and — unlike top-k — there is no
    * per-query state at all, so the output is bounded by the probed
    * cells' true match count. Approximation contract is exactly
    * [[ivfTopKWith]]'s: a true match whose cell goes unprobed is
    * missed; raising nProbe is recall-monotone. Output: (qid, cid,
    * sim), one row per in-range pair. */
  def ivfRangeSearch(
      queries: DataFrame,
      candidates: DataFrame,
      centroidVecs: Seq[Array[Double]],
      minSim: Double,
      nProbe: Int = 4,
      idQ: String = "qid",
      idC: String = "cid",
      vecCol: String = "embedding"): DataFrame = {
    val cAssigned = assignCells(
      candidates.select(col(idC), col(vecCol).as("_cv")), centroidVecs, "_cv", 1)
    val qAssigned = assignCells(
      queries.select(col(idQ), col(vecCol).as("_qv")), centroidVecs, "_qv", nProbe)
    qAssigned.join(cAssigned, "centroid_id")
      .withColumn("sim", round(cosineSimilarity(col("_qv"), col("_cv")), 6))
      // NaN-never-ranks (the library-wide policy SimilarityContractSpec
      // pins for the heap paths): a zero-vector's NaN cosine compares
      // GREATER than every threshold under Spark's total ordering and
      // would otherwise be "in range" of everything
      .filter(!isnan(col("sim")) && col("sim") >= minSim)
      .select(col(idQ), col(idC), col("sim"))
  }

  /** [[ivfRangeSearch]] served from a [[writeIvfPqIndex]] layout (r12 —
    * the range twin of [[ivfPqTopKIndexed]], completing the persisted
    * index's serving surface): the corpus-side cell assignment comes
    * from the PERSISTED (cid, centroid_id) rows instead of a per-batch
    * re-assignment of the whole corpus, the probed cells are pruned
    * STATICALLY (the ivfPqTopKIndexed discipline — a model-sized
    * collect becomes a literal IN on the partition column, so only the
    * probed cells' files are listed), tombstoned ids drop out, and
    * survivors rerank by exact round-6 cosine against the
    * full-precision `candidates` store. Bit-identical to
    * [[ivfRangeSearch]] under the same model, because the index rows
    * ARE `assignCells(candidates, keep = 1)` (encodeForIndex). The
    * codebooks are not scored here — they parameterize the model-guard
    * sidecar, so a probe under the wrong model fails loudly instead of
    * joining inconsistent cell assignments. */
  def ivfRangeSearchIndexed(
      queries: DataFrame,
      indexDir: String,
      candidates: DataFrame,
      centroidVecs: Seq[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      minSim: Double,
      nProbe: Int = 4,
      idQ: String = "qid",
      idC: String = "cid",
      vecCol: String = "embedding"): DataFrame = {
    val idx = IndexMaintenance.openIndex(queries.sparkSession, indexDir, IvfLayout,
      modelSig(centroidVecs, codebooks), idC, "ivfRangeSearchIndexed")
    val qAssigned = assignCells(
      queries.select(col(idQ), col(vecCol).as("_qv")), centroidVecs, "_qv", nProbe)
    val probedCells = qAssigned.select("centroid_id").distinct()
      .collect().map(_.getLong(0))
    val cellLits: Seq[Any] = idx.schema("centroid_id").dataType match {
      case org.apache.spark.sql.types.IntegerType => probedCells.map(_.toInt).toSeq
      case _ => probedCells.toSeq
    }
    val members = idx.filter(col("centroid_id").isInCollection(cellLits))
      .select(col(idC), col("centroid_id"))
    qAssigned.select(col(idQ), col("centroid_id"), col("_qv"))
      .join(members, "centroid_id")
      .join(candidates.select(col(idC), col(vecCol).as("_cv")), idC)
      .withColumn("sim", round(cosineSimilarity(col("_qv"), col("_cv")), 6))
      .filter(!isnan(col("sim")) && col("sim") >= minSim)
      .select(col(idQ), col(idC), col("sim"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): partition the embedding space with a trained
    * centroid model (assignment = the same per-row codegen argmax as
    * [[assignClusters]]), compare pairs ONLY within a cluster, and drop
    * every item that has a smaller-id cluster-mate with cosine >=
    * `threshold`. Output: (id, centroid_id, keep).
    *
    * Scale shape: the clustering bounds the quadratic — pair count is
    * Σ|c|² over clusters, never n²; the pair stage is an equi-join on
    * `centroid_id` (hash-partitioned, no crossJoin), and the dup-id set
    * joined back is ids only. At 100 TB, k grows with the corpus
    * (SemDeDup trains k ≈ √n clusters) so per-cluster sizes — and with
    * them each join partition — stay bounded; skewed clusters fall to
    * AQE skew-join splitting like any hot key. */
  def semanticDedup(
      items: DataFrame,
      centroidVecs: Seq[Array[Double]],
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val assigned = assignClusters(items.select(col(idCol), col(vecCol)), centroidVecs, vecCol)
      .select(col(idCol), col("centroid_id"))
    val dupIds = semanticDedupPairs(items, centroidVecs, threshold, idCol, vecCol)
      .select(col("d2").as(idCol))
      .distinct()
      .withColumn("_dup", lit(true))
    assigned
      .join(dupIds, Seq(idCol), "left")
      .select(col(idCol), col("centroid_id"),
        coalesce(col("_dup"), lit(false)).unary_!.as("keep"))
  }

  /** The within-cluster near-dup PAIRS behind [[semanticDedup]] —
    * exposed so callers can choose a keep policy. */
  def semanticDedupPairs(
      items: DataFrame,
      centroidVecs: Seq[Array[Double]],
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val assigned = assignClusters(items.select(col(idCol), col(vecCol)), centroidVecs, vecCol)
      .select(col(idCol), col("centroid_id"), col(vecCol))
    assigned.as("a")
      .join(assigned.as("b"),
        col("a.centroid_id") === col("b.centroid_id") && col(s"a.$idCol") < col(s"b.$idCol"))
      .filter(round(cosineSimilarity(col(s"a.$vecCol"), col(s"b.$vecCol")), 6) >= threshold)
      .select(col(s"a.$idCol").as("d1"), col(s"b.$idCol").as("d2"))
  }

  /** Cluster-canonical semantic dedup: [[semanticDedupPairs]] closed
    * transitively by `Dedup.connectedComponents` (min-id label
    * propagation), keeping exactly ONE item per similarity component.
    * The fix for chains that [[semanticDedup]]'s pairwise keep-first
    * policy drops entirely: A~B, B~C with no A~C pair keeps only A here,
    * where the pairwise rule can drop both B and C and still keep A —
    * same keep set on chains rooted at the minimum, but components whose
    * pairs arrive in other shapes (see ClusterDedupSpec's reversed
    * chain) can lose every member under keep-first. Same bounded
    * iteration as q64: the pair table is orders of magnitude smaller
    * than the corpus. Output: (id, cluster_id, keep). */
  def semanticDedupClusters(
      items: DataFrame,
      centroidVecs: Seq[Array[Double]],
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    Dedup.nearDupClusters(
      items.select(col(idCol)),
      semanticDedupPairs(items, centroidVecs, threshold, idCol, vecCol),
      idCol)

  /** Scalar int8 quantization of an embedding column: each component
    * becomes `round(x * 127)` — integer-valued, exactly representable, 4x
    * smaller on disk/wire when stored as bytes. The multiply is exact
    * (a float mantissa x 127 fits a double), so `x*127` lands on a .5
    * boundary only for inputs that are exact half-integers (x = m/2 makes
    * 127x = 63.5m) — and there Spark's HALF_UP and DuckDB's round both go
    * away from zero. Engine-portable on every input. */
  def quantizeInt8(v: Column): Column =
    transform(v.cast("array<double>"), x => round(x * lit(127)))

  /** Two-stage quantized top-k (the flat-SQ8 "scan codes, rerank
    * survivors" ANN shape): stage 1 scores every candidate by the integer
    * dot product of int8-quantized vectors — exact integer arithmetic, so
    * order-insensitive and bit-portable — and keeps `k * rerankFactor`
    * per query; stage 2 fetches full-precision vectors for the survivors
    * only and reranks by exact round-6 cosine.
    *
    * Scale shape: the stage-1 scan touches only the slim (id, int8 code)
    * projection — a 4x bandwidth cut over scanning raw floats when the
    * codes are materialized as a stored column — and the stage-2 rerank
    * joins survivors back by id, so only k·factor full vectors per query
    * cross the shuffle (the rerank-side scan still reads the
    * full-precision column; an id-bucketed layout prunes it to survivor
    * buckets). The scan itself is exhaustive (documented flat baseline);
    * compose with [[ivfTopKWith]]'s inverted lists to bound the scanned
    * set at 100 TB — quantized scoring inside probed lists is exactly
    * IVF-SQ8. */
  def quantizedTopK(
      queries: DataFrame,
      candidates: DataFrame,
      k: Int,
      rerankFactor: Int = 3,
      idQ: String = "qid",
      idC: String = "cid",
      vecCol: String = "embedding"): DataFrame = {
    requireIntegralId(candidates, idC, "quantizedTopK")
    val qq = queries.select(col(idQ), quantizeInt8(col(vecCol)).as("_qq"))
    val cq = candidates.select(col(idC), quantizeInt8(col(vecCol)).as("_cq"))
    // stage-1 survivors on the heap (asc (−qdot, id) == (qdot desc, id
    // asc)): the exhaustive integer-dot scan is never sorted whole; qdot
    // rides as payload — integer dots are ≪ 2^53, so the double carry is
    // exact and the final cast back to long is lossless
    val survivors = qq.crossJoin(cq)
      .withColumn("qdot", dotProduct(col("_qq"), col("_cq")))
      .groupBy(idQ)
      .agg(TopKNearest.topkNearest(
        struct((-col("qdot")).cast("double").as("dist2"),
          col(idC).cast("long").as("src_id"),
          col("qdot").cast("double").as("qdot")),
        k * rerankFactor, payload = Seq("qdot")).as("_top"))
      .select(col(idQ), explode(col("_top")).as("_t"))
      .select(col(idQ), col("_t.src_id").as(idC), col("_t.qdot").cast("long").as("qdot"))
    val w2 = Window.partitionBy(idQ).orderBy(col("sim_r").desc, col(idC).asc)
    survivors
      .join(queries.select(col(idQ), col(vecCol).as("_qv")), idQ)
      .join(candidates.select(col(idC), col(vecCol).as("_cv")), idC)
      .withColumn("sim_r", round(cosineSimilarity(col("_qv"), col("_cv")), 6))
      .withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .select(col(idQ), col(idC), col("rank"), col("sim_r").as("sim"), col("qdot"))
  }

  /** Embedding-cosine near-duplicate pairs: candidates share an LSH
    * signature band; exact cosine verify keeps pairs >= threshold. The
    * dedup flavour of [[lshTopK]] — same banded join (no all-pairs), pair
    * output (id1 < id2) ready for `Dedup.dropNearDuplicates`. Recall < 1 by
    * construction (banding); raise nBits/band count for tighter recall.
    *
    * `maxBandSize` (r12 — the q219 semantics, closing the LAST banded
    * pair enumerator without a hot-bucket guard): an 8-bit band has only
    * 256 values, so at corpus scale every bucket holds ~n/256 vectors
    * and the self-join is structurally quadratic; buckets above the cap
    * are DROPPED before the join (output-visible). A hot bucket's
    * members are hyperplane-side-identical — raise nBits or route such
    * classes through exact/SemDeDup stages rather than enumerate them.
    * Default = `Dedup.DefaultMaxBucket` (r13); pass `Dedup.Uncapped`
    * for the bit-exact uncapped form. */
  def cosineNearDup(
      items: DataFrame,
      dim: Int,
      threshold: Double,
      nBits: Int = 16,
      seed: Long = 42L,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxBandSize: Int = Dedup.DefaultMaxBucket): DataFrame = {
    require(maxBandSize >= 2, "maxBandSize < 2 would drop every candidate pair")
    val nBands = nBits / 8
    val sig = withLshSignature(items.select(col(idCol), col(vecCol)), dim, nBits, seed, vecCol)
    val bandStructs = (0 until nBands).map { b =>
      struct(lit(b).as("band_idx"),
        shiftrightunsigned(col("lsh_sig"), b * 8).bitwiseAND(0xffL).as("band"))
    }
    val allBands = sig
      .select(col(idCol), explode(array(bandStructs: _*)).as("_b"))
      .select(col(idCol), col("_b.band_idx").as("band_idx"), col("_b.band").as("band"))
    // occupancy cap BEFORE the self-join — one map-side-combinable count
    // over slim (band_idx, band) keys, the bandCandidates discipline; the
    // band table is checkpointed once so the count and both join sides
    // read it instead of re-running the signature pass
    val bands =
      if (maxBandSize == Int.MaxValue) allBands
      else {
        val mat = allBands.barrier()
        mat.join(
          mat.groupBy("band_idx", "band").agg(count(lit(1)).as("_bn"))
            .filter(col("_bn") <= maxBandSize)
            .select("band_idx", "band"),
          Seq("band_idx", "band"), "left_semi")
      }
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") && col("a.band") === col("b.band") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("d1"), col(s"b.$idCol").as("d2"))
      .distinct()
    cand
      .join(items.select(col(idCol).as("d1"), col(vecCol).as("_v1")), "d1")
      .join(items.select(col(idCol).as("d2"), col(vecCol).as("_v2")), "d2")
      .withColumn("sim", round(cosineSimilarity(col("_v1"), col("_v2")), 6))
      .filter(col("sim") >= threshold)
      .select("d1", "d2", "sim")
  }

  /** LSH-bucketed approximate top-k: candidates = vectors sharing any
    * 8-bit band of the signature with the query; exact cosine rerank on
    * candidates. Recall < 1 by construction (approximate), cost ~ bucket
    * sizes instead of |Q| x |C|.
    *
    * `probes` is the multi-probe knob (Lv et al. 2007): each query band
    * additionally probes the `probes` buckets at Hamming distance 1
    * (single-bit flips), trading query-side fan-out (×(1+probes), on the
    * SMALL side only — the candidate index is untouched) for recall.
    * AnnRecallSpec measures the trade on real testdata. */
  def lshTopK(
      queries: DataFrame,
      candidates: DataFrame,
      dim: Int,
      k: Int,
      nBits: Int = 16,
      seed: Long = 42L,
      idQ: String = "qid",
      idC: String = "cid",
      vecCol: String = "embedding",
      probes: Int = 0): DataFrame = {
    require(probes >= 0 && probes <= 8, "probes must be in [0, 8] (bits per band)")
    val nBands = nBits / 8
    def banded(df: DataFrame, id: String, v: String, nProbes: Int): DataFrame = {
      val s = withLshSignature(df.select(col(id), col(vecCol).as(v)), dim, nBits, seed, v)
      val bandStructs = (0 until nBands).flatMap { b =>
        val base = shiftrightunsigned(col("lsh_sig"), b * 8).bitwiseAND(0xffL)
        struct(lit(b).as("band_idx"), base.as("band")) +:
          (0 until nProbes).map(j =>
            struct(lit(b).as("band_idx"), base.bitwiseXOR(lit(1L << j)).as("band")))
      }
      s.select(col(id), col(v), explode(array(bandStructs: _*)).as("_b"))
        .select(col(id), col(v), col("_b.band_idx").as("band_idx"), col("_b.band").as("band"))
    }
    val q = banded(queries, idQ, "_qv", probes)
    val c = banded(candidates, idC, "_cv", 0)
    // dedup on the id pair only (slim shuffle rows), then join the vectors
    // back for the rerank — the distinct's exchange never carries embeddings
    val cand = q.select(col(idQ), col("band_idx"), col("band"))
      .join(c.select(col(idC), col("band_idx"), col("band")), Seq("band_idx", "band"))
      .select(col(idQ), col(idC))
      .distinct()
      .join(queries.select(col(idQ), col(vecCol).as("_qv")), idQ)
      .join(candidates.select(col(idC), col(vecCol).as("_cv")), idC)
      .withColumn("sim_r", round(cosineSimilarity(col("_qv"), col("_cv")), 6))
    // bucket collisions grow with the corpus — rank on the heap
    topBySim(cand, k, idQ, idC, "sim_r")
  }

  /** Hard-negative mining for contrastive training: per query, the top-k
    * most-similar candidates with a DIFFERENT label — the "confusable but
    * wrong" examples a metric-learning loss needs. Exact baseline on the
    * documented bounded-query-set crossJoin (same contract as
    * [[bruteForceTopK]]); at retrieval scale compose the banded
    * [[lshTopK]] candidates with the same label-mismatch filter before
    * ranking. Similarity is quantized to `roundDigits` before ranking so
    * the order is engine-reproducible; ties break on candidate id. */
  def hardNegativeTopK(
      queries: DataFrame,
      candidates: DataFrame,
      k: Int,
      roundDigits: Int = 6,
      vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("sim_r").desc, col("cid").asc)
    queries.select(col("qid"), col(vecCol).as("_qv"), col(labelCol).as("_ql"))
      .crossJoin(candidates.select(col("cid"), col(vecCol).as("_cv"),
        col(labelCol).as("_cl")))
      .filter(col("_cl") =!= col("_ql"))
      .withColumn("sim_r", round(cosineSimilarity(col("_qv"), col("_cv")), roundDigits))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("cid"), col("rank"), col("_cl").as("neg_label"),
        col("sim_r").as("sim"))
  }

  /** Margin-based bitext/pair mining (Artetxe & Schwenk 2019, "ratio"
    * margin): candidate pair (x, y) scores
    * `cos(x,y) / ((Σ_{z∈NNk(x)} cos(x,z) + Σ_{z∈NNk(y)} cos(y,z)) / 2k)`
    * — raw cosine divided by the average neighbourhood cosine of BOTH
    * endpoints, which suppresses "hub" vectors that are close to
    * everything. Per query the best-margin candidate above `threshold`
    * is the mined pair.
    *
    * Exactness: cosines are rounded to 6 and carried as integer micros;
    * both k-NN sums are exact BIGINT sums, so the margin is ONE division
    * of exact integers — the identical double on any engine. The margin
    * itself is ranked unrounded (identical inputs ⇒ identical order),
    * ties break on candidate id.
    *
    * Plan shape: one pair table, four windows over it (two per
    * partitioning side — rank-then-sum shares the exchange), one final
    * per-query argmax window. This is the documented exact baseline on
    * bounded sides (same contract as [[bruteForceTopK]]); at mining
    * scale use [[marginMineWith]] — the IVF-composed form whose pair
    * table is a centroid-cell equi-join with the identical margin
    * algebra (full-probe == this operator bit-for-bit). */
  def marginMine(
      queries: DataFrame,
      candidates: DataFrame,
      k: Int,
      threshold: Double = 1.0,
      vecCol: String = "embedding"): DataFrame = {
    // rebalance BOTH (bounded — this operator's documented contract)
    // inputs before the cross join (r18): the nested-loop join's output
    // parallelism is its stream side's, and a compact vector table read
    // from one parquet file serializes the |Q|·|C| cosine scoring into
    // 1-2 tasks (measured: q100's pair materialization was a 1.85 s
    // single-stage job at sf0.1, ~95% of it in one task). Whichever side
    // the planner streams is now defaultParallelism-wide; the two
    // row-count-sized round-robin exchanges are noise next to the
    // quadratic scoring they spread.
    val w = queries.sparkSession.sparkContext.defaultParallelism
    val pairs = queries.select(col("qid"), col(vecCol).as("_qv")).repartition(w)
      .crossJoin(candidates.select(col("cid"), col(vecCol).as("_cv")).repartition(w))
      .withColumn("_sm",
        round(round(cosineSimilarity(col("_qv"), col("_cv")), 6) * marginMicro).cast("long"))
      .drop("_qv", "_cv")
    marginFromPairs(pairs, k, threshold)
  }

  /** Margin mining composed with a trained IVF index — the 100 TB form
    * of [[marginMine]], whose exact cross join stops being runnable when
    * the query set itself is corpus-sized. Candidates are assigned to
    * their nearest centroid (literal vectors, zero-shuffle per-row
    * scoring), queries probe their `nProbe` nearest cells, and the pair
    * table is the `centroid_id` equi-join: ≈ |Q|·|C|·nProbe/k pairs. At
    * FIXED k that is a constant-factor reduction — linearity in the
    * corpus requires the standard k ∝ √n training discipline so
    * per-cell occupancy stays bounded as n grows (the same contract as
    * [[semanticDedup]]). The margin algebra over the retrieved pairs is
    * IDENTICAL to the exact operator (same ratio-margin windows); with
    * `nProbe` = centroid count every pair is retrieved exactly once and
    * the output equals [[marginMine]] bit-for-bit (MiningSpec asserts
    * it), so recall loss is isolated in the probe budget, not the
    * scoring. */
  def marginMineWith(
      queries: DataFrame,
      candidates: DataFrame,
      centroidVecs: Seq[Array[Double]],
      k: Int,
      threshold: Double = 1.0,
      nProbe: Int = 4,
      vecCol: String = "embedding"): DataFrame = {
    require(centroidVecs.nonEmpty, "need at least one centroid")
    // per-row top-`keep` cells via the shared zero-shuffle [[assignCells]]
    // map stage (a centroid-table cross join + per-id rank window would
    // shuffle k rows per vector instead); its struct order (negSim asc,
    // cid asc) == (sim desc, cid asc): the oracle's ROW_NUMBER ranking.
    val cA = assignCells(candidates.select(col("cid"), col(vecCol).as("_cv")),
      centroidVecs, "_cv", 1)
    val qA = assignCells(queries.select(col("qid"), col(vecCol).as("_qv")),
      centroidVecs, "_qv", nProbe)
    val pairs = qA.join(cA, "centroid_id")
      .withColumn("_sm",
        round(round(cosineSimilarity(col("_qv"), col("_cv")), 6) * marginMicro).cast("long"))
      .select("qid", "cid", "_sm")
    marginFromPairs(pairs, k, threshold)
  }

  private val marginMicro = 1000000L

  /** Ratio-margin scoring (Artetxe & Schwenk 2019) over a (qid, cid,
    * _sm) pair table: margin = sim·2k / (Σ top-k sims of q + Σ top-k
    * sims of c), best candidate per query kept above `threshold`. Shared
    * by the exact and IVF-composed miners so the two differ ONLY in
    * which pairs exist.
    *
    * Shape (r17): the pair table is materialized ONCE (eager barrier —
    * side-sums and per-pair scoring both need it; the r10 un-barriered
    * heap attempt re-ran the cosine-scoring join three times, which is
    * why the window chain held until now), then each side's top-k sum is
    * a bounded-memory [[graft.functions.TopKNearest]] heap aggregate
    * (≤ k rows per key cross its exchange) joined back onto the pairs —
    * the models are |Q|- and |C|-sized, so AQE broadcasts them while
    * they fit and the pair table itself is never exchanged for scoring.
    * The window form instead SORTED the full pair table through two
    * keyed exchanges (measured at sf0.1: 2 × 1M-row exchanges + 3.2 s +
    * 0.7 s of sort task-time on q100). Heap order asc (−_sm, id) == the
    * old rank window's (_sm desc, id asc) including tiebreaks, and the
    * top-k sum is a ≤ k-term sum of exact integer-valued doubles
    * (|_sm| ≤ 1e6 micro) — bit-identical to the window's long sum.
    * Null _sm rows are filtered from the heap inputs only: the old
    * row_number ranked them last (desc ⇒ nulls last) and the
    * conditional sum skipped them, so they never contributed either.
    * The final best-candidate pick stays a rank WINDOW: it gets the
    * map-side WindowGroupLimit pushdown (≤ 1 row per qid per partition
    * crosses its exchange) and is NaN-total where a heap key is not.
    * MiningSpec pins heap ≡ window on randomized pairs.
    *
    * Storage: the barrier is [[Checkpoints.loopBarrier]], eager — by
    * default a `localCheckpoint` (the whole pair table in executor block
    * storage, memory then local disk, unreplicated, lost with its
    * executor); under `spark.graft.reliableCheckpointDir` a checkpoint
    * written under that root. The returned frame reads the barrier
    * lazily, so it is never released here: it lives until the returned
    * frame is garbage collected, when the ContextCleaner drops the blocks
    * (reliable files only with
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true`, or by an
    * enclosing [[Checkpoints.reapScope]] once the result is written out).
    *
    * Null ids: a row with a null qid or cid can never match the topkSum
    * equi-joins, so it is dropped from the output. It is dropped before
    * the barrier too, so it feeds neither side's top-k sum and the
    * non-null results equal those of the same input without it
    * (MiningSpec). */
  private def marginFromPairs(pairs: DataFrame, k: Int, threshold: Double): DataFrame = {
    requireIntegralId(pairs, "qid", "marginFromPairs")
    requireIntegralId(pairs, "cid", "marginFromPairs")
    val p = Checkpoints.loopBarrier(pairs.select("qid", "cid", "_sm")
      .filter(col("qid").isNotNull && col("cid").isNotNull))
    def topkSum(key: String, other: String, out: String): DataFrame =
      p.filter(col("_sm").isNotNull)
        .groupBy(key)
        .agg(graft.functions.TopKNearest.topkNearest(
          struct((-col("_sm")).cast("double").as("dist2"),
            col(other).cast("long").as("src_id")), k).as("_top"))
        .select(col(key),
          expr("CAST(-aggregate(_top, 0D, (a, x) -> a + x.dist2) AS BIGINT)").as(out))
    val scored = p
      .join(topkSum("qid", "cid", "_sq"), "qid")
      .join(topkSum("cid", "qid", "_sc"), "cid")
      .withColumn("margin",
        (col("_sm") * lit(2L * k)).cast("double") / (col("_sq") + col("_sc")))
    val best = Window.partitionBy("qid").orderBy(col("margin").desc, col("cid").asc)
    scored
      .withColumn("_rank", row_number().over(best))
      .filter(col("_rank") === 1 && col("margin") > threshold)
      .select(col("qid"), col("cid"),
        round(col("margin"), 6).as("margin"),
        (col("_sm").cast("double") / marginMicro).as("sim"))
  }

  /** Project embeddings onto a trained linear model (PCA/whitening rows
    * baked as literals by `graft.tools.TrainPca` — the TrainCentroids
    * pattern): component j is `round(x·V_j − c_j, 6)` where the offset
    * `c_j = V_j·μ` folds the training mean into one constant. Each dot is
    * the native codegen [[graft.functions.VectorExpr]] kernel over a
    * literal array, so projection is a zero-shuffle, join-free map stage —
    * streaming-safe, linear at any scale — emitting flat `p0..p{k-1}`
    * columns (parquet/engine-friendly; `array(p*)` re-packs when a
    * downstream ANN stage wants a vector). */
  def projectEmbeddings(
      df: DataFrame,
      components: Seq[Array[Double]],
      offsets: Seq[Double],
      vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    require(components.nonEmpty && components.size == offsets.size,
      "components and offsets must align")
    val cols = components.zip(offsets).zipWithIndex.map { case ((v, c), j) =>
      round(graft.functions.VectorExpr.dot(
        col(vecCol), typedLit(v.toSeq)) - lit(c), 6).as(s"p$j")
    }
    df.select(col(idCol) +: cols: _*)
  }

  /** ANN recall evaluation IN THE DATA PLANE — the production twin of the
    * AnnRecallSpec harness: per query, how many of the exact top-k the
    * approximate (banded-LSH, optionally multi-probed) list recovered.
    * Runs the two retrievals the pipeline already has and reduces the
    * per-(qid,cid) agreement to (qid, n, hits, recall); recall is one
    * long/long division. Lists are self-inclusive on both sides (the
    * query vector ranks first in each, identically), so the metric is
    * comparable across configs. Cost is the exact baseline's — run on a
    * SAMPLED query set, which is how recall is monitored at 100 TB. */
  def annRecall(
      queries: DataFrame,
      candidates: DataFrame,
      dim: Int,
      k: Int,
      nBits: Int = 16,
      seed: Long = 42L,
      probes: Int = 0): DataFrame = {
    val exact = bruteForceTopK(queries, candidates, k).select(col("qid"), col("cid"))
    val approx = lshTopK(queries, candidates, dim, k, nBits, seed, probes = probes)
      .select(col("qid"), col("cid"), lit(1L).as("_hit"))
    exact.join(approx, Seq("qid", "cid"), "left")
      .groupBy("qid")
      .agg(count(lit(1)).as("n"), sum(coalesce(col("_hit"), lit(0L))).as("hits"))
      .withColumn("recall", col("hits").cast("double") / col("n"))
      .select("qid", "n", "hits", "recall")
  }

  /** Semantic benchmark decontamination — the embedding-space twin of the
    * n-gram [[TextAnalysis.decontaminate]]: a corpus vector is
    * contaminated when its round-6 cosine to ANY benchmark vector reaches
    * `threshold`. Emits one row per contaminated corpus id with the hit
    * count and the best-matching benchmark (max (sim, bid) — ties break
    * on the larger benchmark id, deterministically).
    *
    * 100 TB design: the benchmark rides the MODEL pattern — it collapses
    * to ONE array row (benchmarks are thousands of rows, not corpora) and
    * broadcast-crossJoins onto the corpus, so scoring is a zero-shuffle
    * map stage over the corpus scan: per row, one `transform` over the
    * benchmark array with the codegen cosine kernel, a `filter` count,
    * and an `array_max`. No corpus-keyed aggregation, no pair table ever
    * shuffles. For benchmark sets too big to broadcast, fall back to the
    * banded-LSH candidate join of [[cosineNearDup]]. */
  def semanticContamination(
      corpus: DataFrame,
      benchmark: DataFrame,
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      benchIdCol: String = "bid",
      benchVecCol: String = "embedding"): DataFrame = {
    val model = benchmark
      .select(col(benchIdCol).as("_bid"), col(benchVecCol).as("_bv"))
      .agg(collect_list(struct(col("_bid"), col("_bv"))).as("_bench"))
    val sims = transform(col("_bench"), b =>
      struct(
        round(cosineSimilarity(col(vecCol), b.getField("_bv")), 6).as("sim"),
        b.getField("_bid").as("bid")))
    corpus
      .crossJoin(broadcast(model))
      .withColumn("_sims", sims)
      .withColumn("n_hits",
        size(filter(col("_sims"), s => s.getField("sim") >= threshold)).cast("long"))
      .filter(col("n_hits") > 0)
      .withColumn("_top", array_max(col("_sims")))
      .select(col(idCol), col("n_hits"),
        col("_top.sim").as("top_sim"), col("_top.bid").as("top_bid"))
  }

  /** Exact covariance matrix of the leading `k` embedding dimensions —
    * the train-side statistics primitive behind whitening / PCA refresh.
    *
    * Components are quantized to MICRO integers (float→double is exact;
    * round-half-away agrees across engines, including the exact-.5
    * m/128 floats), so every moment — Σx_i, Σx_i·x_j — accumulates
    * exactly in DECIMAL(38,0); the unbiased-covariance NUMERATOR
    * n·Σxy − Σx·Σy is emitted as an exact integer alongside the round-6
    * human-readable cov = num / (n·(n−1)·1e12).
    *
    * Scale shape: ONE aggregate pass with k + k(k+1)/2 fixed-column sums
    * (no explode — k² columns beat a k²-way row blow-up), unpivoted to
    * the k(k+1)/2-row upper triangle. At 100 TB the shuffle is one
    * partial-aggregate row per partition. numerator fits BIGINT while
    * n·Σ|xy| < 2^63 — ~10^5 unit-norm micro vectors; beyond that emit
    * the decimal directly. */
  def covarianceMatrix(
      emb: DataFrame,
      k: Int = 8,
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 2 && k <= 16, "k in [2,16]")
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val micro = emb.select((0 until k).map(i =>
      expr(s"CAST(round(CAST($vecCol[$i] AS DOUBLE) * 1000000) AS BIGINT)").as(s"x$i")): _*)
    val pairs = for { i <- 0 until k; j <- i until k } yield (i, j)
    val aggs =
      (0 until k).map(i => sum(col(s"x$i").cast(dec38)).as(s"s$i")) ++
        pairs.map { case (i, j) =>
          sum((col(s"x$i") * col(s"x$j")).cast(dec38)).as(s"c${i}_$j") }
    val a = micro.agg(count(lit(1)).as("n"), aggs: _*)
    // materialize each exact numerator ONCE as a column: inlining the
    // decimal polynomial 4x per struct x 36 structs overflows the 64KB
    // codegen method limit (interpreted fallback — correct but slow)
    val withNums = pairs.foldLeft(a) { case (acc, (i, j)) =>
      acc.withColumn(s"n${i}_$j",
        (col("n").cast(dec38) * col(s"c${i}_$j") - col(s"s$i") * col(s"s$j"))
          .cast("long"))
    }
    def num(i: Int, j: Int) = col(s"n${i}_$j")
    withNums.select(explode(array(pairs.map { case (i, j) => struct(
        lit(i).as("dim_i"), lit(j).as("dim_j"),
        col("n"),
        num(i, j).as("num"),
        round(num(i, j).cast("double") /
          (col("n").cast("double") * (col("n") - 1).cast("double") * lit(1e12)), 6)
          .as("cov"),
        // Pearson corr from the same exact numerators; the n(n-1)·1e12
        // scale cancels, wide casts absorbed by round-6
        when(num(i, i) > 0 && num(j, j) > 0,
          round(num(i, j).cast("double") /
            (sqrt(num(i, i).cast("double")) * sqrt(num(j, j).cast("double"))), 6))
          .as("corr")) }: _*)).as("_c"))
      .select("_c.*")
      .orderBy("dim_i", "dim_j")
  }

  /** Mahalanobis anomaly score under an OFFLINE-TRAINED model (the
    * TrainedCentroids pattern — `tools/TrainMahalanobis` bakes the mean
    * vector and the inverse of the exact covariance as round-6
    * literals): score(x) = (x−μ)ᵀ Σ⁻¹ (x−μ) over the first k embedding
    * dims, expanded as ONE fixed-order chain of k² literal-weighted
    * products — identical left-associated double arithmetic on every
    * engine, so the oracle replays it term-for-term. Zero shuffles for
    * the scoring itself; top anomalies via TakeOrderedAndProject.
    *
    * This is the multivariate outlier detector the per-column z-scores
    * (q110) cannot express: it accounts for the learned correlations,
    * flagging points that are unremarkable per-dimension but improbable
    * JOINTLY. */
  def mahalanobisExpr(
      mu: Seq[Double],
      prec: Seq[Seq[Double]],
      acc: Int => String): String = {
    def lit0(d: Double): String = {
      val s = d.toString
      if (s.contains('E') || s.contains('e')) s else s + "E0"
    }
    val k = mu.length
    val diffs = (0 until k).map(i => s"(${acc(i)} - ${lit0(mu(i))})")
    val terms = for { i <- 0 until k; j <- 0 until k }
      yield s"${lit0(prec(i)(j))} * ${diffs(i)} * ${diffs(j)}"
    s"round(${terms.mkString(" + ")}, 6)"
  }

  /** Top-`topK` anomalies by Mahalanobis score (desc, id tiebreak). */
  def mahalanobisTopK(
      emb: DataFrame,
      mu: Seq[Double],
      prec: Seq[Seq[Double]],
      topK: Int = 50,
      vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val score = mahalanobisExpr(mu, prec,
      i => s"cast(element_at($vecCol, ${i + 1}) as double)")
    emb.select(col(idCol), expr(score).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(topK)
  }

  // ------------------------------------------------------------ PQ (r9)

  /** Product-quantization codebooks (Jégou, Douze & Schmid 2011,
    * "Product quantization for nearest neighbor search"): split the
    * embedding into `m` subspaces; subspace `mi`'s codebook is the `ksub`
    * sub-vectors of the donor rows `idC < ksub` — the deterministic
    * sampled-codebook training (same discipline as [[ivfTopK]]'s
    * deterministic centroid subset; [[pqCodebooksTrained]] is the
    * Lloyd-trained production path, measured strictly better on
    * recall@10 in AnnRecallSpec). Driver-side
    * collect is `ksub` rows — a model fit, not a data pass. Returns
    * codebooks(mi)(j)(di), exact doubles (float32 parquet widened). */
  def pqCodebooks(
      candidates: DataFrame,
      m: Int = 8,
      ksub: Int = 16,
      idC: String = "cid",
      vecCol: String = "embedding"): Array[Array[Array[Double]]] = {
    val donors = candidates.filter(col(idC) < ksub)
      .select(col(idC).cast("long").as("_id"), col(vecCol).cast("array<double>").as("_v"))
      .collect().sortBy(_.getLong(0))
    require(donors.length == ksub,
      s"pqCodebooks needs donor rows $idC = 0..${ksub - 1}; found ${donors.length}")
    val dim = donors.head.getSeq[Double](1).length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val d = dim / m
    Array.tabulate(m, ksub)((mi, j) =>
      donors(j).getSeq[Double](1).slice(mi * d, mi * d + d).toArray)
  }

  /** Per-subspace Lloyd-TRAINED PQ codebooks (r12 — the production path
    * Jégou 2011 §II.C prescribes; [[pqCodebooks]]' donor rows remain the
    * deterministic oracle form). Seeded from the donor codebooks, then
    * `iters` Lloyd rounds where BOTH halves are Spark-side and bounded:
    *
    *  - assignment uses the SAME native [[graft.functions.PqExpr]]
    *    argmin kernel the encoder uses (training and encoding can never
    *    disagree on the distance or the tie rule), one codegen map pass
    *    assigning all `m` subspaces at once — no join, no shuffle;
    *  - re-centering is ONE aggregation keyed by (subspace, code, dim):
    *    m·ksub·d keys (8·16·8 = 1k rows at the defaults) — the shuffle
    *    and the driver collect are MODEL-sized, never data-sized (the
    *    kmeansCentroids contract). An emptied code keeps its previous
    *    codeword.
    *
    * At 100 TB: train on a sample (standard PQ practice — recall is set
    * by codebook quality, not sample size, once the sample covers the
    * distribution), then encode the full corpus with the frozen books;
    * the encode is the same map-only kernel. AnnRecallSpec measures the
    * trained books strictly above the donor books on recall@10. */
  def pqCodebooksTrained(
      candidates: DataFrame,
      m: Int = 8,
      ksub: Int = 16,
      iters: Int = 5,
      idC: String = "cid",
      vecCol: String = "embedding"): Array[Array[Array[Double]]] = {
    var books = pqCodebooks(candidates, m, ksub, idC, vecCol)
    val d = books(0)(0).length
    val vecs = candidates.select(col(vecCol).cast("array<double>").as("_v"))
    for (_ <- 0 until iters) {
      val subStructs = (0 until m).map { mi =>
        struct(lit(mi).as("mi"),
          graft.functions.PqExpr.subCode(col("_v"), books(mi), mi * d).as("code"),
          slice(col("_v"), mi * d + 1, d).as("sv"))
      }
      val sums = vecs
        .select(explode(array(subStructs: _*)).as("s"))
        .select(col("s.mi"), col("s.code"), posexplode(col("s.sv")).as(Seq("pos", "x")))
        .groupBy("mi", "code", "pos")
        // decimal-sum discipline (the library-wide rule for reproducible
        // aggregates): double partial sums depend on partition order, so
        // the trained books would differ run-to-run under a different
        // layout — decimal addition is exact, making train-on-sample a
        // DETERMINISTIC model fit (pinned by AnnRecallSpec's
        // repartition-invariance check)
        .agg(sum(col("x").cast(org.apache.spark.sql.types.DecimalType(28, 14)))
          .cast("double").as("sx"), count(lit(1)).as("n"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
      books = Array.tabulate(m, ksub) { (mi, j) =>
        sums.get((mi, j + 1)) match { // codes are 1-based
          case Some(rows) =>
            rows.sortBy(_.getInt(2)).map(r => r.getDouble(3) / r.getLong(4)).toArray
          case None => books(mi)(j) // emptied code keeps its codeword
        }
      }
    }
    books
  }

  /** Encode each row to `m` sub-codes (1-based codebook indices):
    * per-subspace argmin over the codebook — a pure per-row codegen map
    * stage (zero shuffles). 64 float dims become `m` small ints: the 32x
    * scan-bandwidth cut that makes a 100 TB ANN corpus scannable. The
    * argmin runs as the native [[graft.functions.PqExpr]] kernel (round-6
    * distance, ties to the lowest donor index — identical selection to
    * the previous `array_min`-over-structs tree, which at m·ksub·d
    * expression nodes blew the janino method limit and dropped the whole
    * stage to interpreted execution; PqSpec pins the equality). */
  def pqEncode(
      df: DataFrame,
      codebooks: Array[Array[Array[Double]]],
      idCol: String = "cid",
      vecCol: String = "embedding",
      keep: Seq[String] = Nil): DataFrame = {
    val m = codebooks.length
    val d = codebooks(0)(0).length
    val codeCols = (0 until m).map { mi =>
      graft.functions.PqExpr.subCode(col(vecCol), codebooks(mi), mi * d).as(s"code_$mi")
    }
    df.select(col(idCol) +: keep.map(col) ++: codeCols: _*)
  }

  /** Per-query ADC lookup-table columns `_lut_0.._lut_{m-1}`:
    * LUT(mi)(j) = round(⟨q_sub_mi, C(mi)(j)⟩, 6) — the native
    * [[graft.functions.PqExpr]] kernel per subspace. */
  private def pqLutCols(codebooks: Array[Array[Array[Double]]], vecCol: String): Seq[Column] = {
    val m = codebooks.length
    val d = codebooks(0)(0).length
    (0 until m).map { mi =>
      graft.functions.PqExpr.subLut(col(vecCol), codebooks(mi), mi * d).as(s"_lut_$mi")
    }
  }

  /** Σ_mi LUT(mi)(code_mi) in fixed (left-assoc) order. */
  private def pqAdcScore(m: Int): Column =
    (0 until m).map(mi =>
      element_at(col(s"_lut_$mi"), col(s"code_$mi").cast("int"))).reduceLeft(_ + _)

  /** Per-query (adc desc, id asc) top-`n` through the bounded-memory
    * [[graft.functions.TopKNearest]] heap aggregate (built in r4 for the
    * k-NN join; SURVEY §7.3): the PARTIAL phase ships at most `n`
    * candidates per query into the shuffle and nothing ever sorts the
    * full score table — where the row_number window would exchange+sort
    * every scored (query, code) pair. Heap order asc (−adc, id) ==
    * (adc desc, id asc), the window's exact ordering including id
    * tiebreaks; adc rides as payload so the emitted value is the
    * original double, never a re-negation. Candidate ids must be
    * integral (enforced by [[requireIntegralId]]). */
  private def topByAdc(scored: DataFrame, n: Int, idQ: String, idC: String): DataFrame = {
    requireIntegralId(scored, idC, "topByAdc")
    scored
      .groupBy(idQ)
      .agg(TopKNearest.topkNearest(
        struct((-col("adc")).as("dist2"), col(idC).cast("long").as("src_id"),
          col("adc").cast("double").as("adc")),
        n, payload = Seq("adc")).as("_top"))
      .select(col(idQ), explode(col("_top")).as("_t"))
      .select(col(idQ), col("_t.src_id").as(idC), col("_t.adc").as("adc"))
  }

  /** PQ-ADC top-k (asymmetric distance computation, inner-product
    * flavor): stage 1 scores every candidate CODE against a per-query
    * lookup table — LUT(mi)(j) = round(⟨q_sub, C(mi)(j)⟩, 6), score =
    * Σ_mi LUT(mi)(code_mi) — touching only the (id, m codes) projection,
    * and keeps k·rerankFactor per query with the bounded-memory
    * [[topByAdc]] heap aggregate (map-side combine; the full score table
    * is never sorted); stage 2 reranks the survivors by exact round-6
    * cosine. The code scan is exhaustive (documented flat-PQ baseline —
    * same contract as [[quantizedTopK]]); compose with [[ivfTopKWith]]'s
    * inverted lists for IVF-PQ at 100 TB. Fixed summation order keeps
    * the ADC score engine-portable (q204's oracle replays it). */
  def pqTopK(
      queries: DataFrame,
      candidates: DataFrame,
      codebooks: Array[Array[Array[Double]]],
      k: Int,
      rerankFactor: Int = 3,
      idQ: String = "qid",
      idC: String = "cid",
      vecCol: String = "embedding"): DataFrame = {
    val m = codebooks.length
    val codes = pqEncode(candidates, codebooks, idC, vecCol)
    // materialize the per-query LUTs behind one cheap exchange of |Q|
    // slim rows: without the boundary the round-6 LUT construction (128
    // BigDecimal rounds per evaluation) can be re-evaluated per JOINED
    // row by downstream expression inlining, and the single-partition
    // query scan serializes the whole flat fan-out onto one task — the
    // repartition buys both materialized arrays and full parallelism
    val q = queries.select(col(idQ) +: pqLutCols(codebooks, vecCol): _*)
      .repartition(queries.sparkSession.sparkContext.defaultParallelism)
    val survivors = topByAdc(
      q.crossJoin(codes).withColumn("adc", pqAdcScore(m)),
      k * rerankFactor, idQ, idC)
    val w2 = Window.partitionBy(idQ).orderBy(col("sim_r").desc, col(idC).asc)
    survivors
      .join(queries.select(col(idQ), col(vecCol).as("_qv")), idQ)
      .join(candidates.select(col(idC), col(vecCol).as("_cv")), idC)
      .withColumn("sim_r", round(cosineSimilarity(col("_qv"), col("_cv")), 6))
      .withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .select(col(idQ), col(idC), col("rank"), col("sim_r").as("sim"), col("adc"))
  }

  /** Materialize the IVF-PQ index ONCE as a parquet layout partitioned by
    * `centroid_id` — the build-once/query-many serving form of
    * [[ivfPqTopK]] (whose in-memory pipeline re-encodes the corpus per
    * query batch). Each inverted list becomes its own partition
    * directory, so a probe is FILE PRUNING, not just a join: at 100 TB a
    * nProbe=2-of-1024 query batch physically reads ~0.2% of the code
    * files (times the 32x PQ compression — compounding, exactly like a
    * partition-pruned fact scan). The encode pass itself is the same
    * zero-shuffle assignment+encode map stage; the only added cost is
    * the partitioned write. Production builds pass
    * [[pqCodebooksTrained]] books (train on a sample, freeze, encode —
    * measured strictly better recall@10 than the donor-row
    * [[pqCodebooks]], which remain the deterministic oracle form). */
  def writeIvfPqIndex(
      candidates: DataFrame,
      centroidVecs: Seq[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      dir: String,
      idC: String = "cid",
      vecCol: String = "embedding"): Unit = {
    // manifest-aware (r12): on a manifest layout a (re)build lands as a
    // fresh generation + atomic pointer swap — retrain-and-swap with
    // zero serving gap (new model picked up by the next probe that
    // passes the new model's arguments; a probe still holding the old
    // model fails LOUDLY on the sidecar, never mixes codes)
    IndexMaintenance.writeIndex(
      encodeForIndex(candidates, centroidVecs, codebooks, idC, vecCol),
      dir, IvfLayout, modelSig(centroidVecs, codebooks))
  }

  /** Deterministic fingerprint of the (centroids, codebooks) model a
    * persisted index was encoded under — PQ codes are meaningless across
    * models, so the sidecar lets append/serve fail LOUDLY on a model
    * mismatch instead of silently mixing incompatible codes. */
  private def modelSig(
      centroidVecs: Seq[Array[Double]],
      codebooks: Array[Array[Array[Double]]]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val bb = java.nio.ByteBuffer.allocate(8)
    def feed(x: Double): Unit = { bb.clear(); bb.putDouble(x); md.update(bb.array()) }
    centroidVecs.foreach(_.foreach(feed))
    codebooks.foreach(_.foreach(_.foreach(feed)))
    md.digest().map("%02x".format(_)).mkString
  }

  /** The IVF-PQ index's layout: code rows partitioned by cell, guarded
    * by the [[modelSig]] sidecar. Indexes written before the sidecar
    * existed (or by external tools) pass the guard unchecked. */
  private val IvfLayout =
    IndexMaintenance.IndexLayout(Seq("centroid_id"), "_graft_model", "model parameters")

  /** Incremental maintenance of a [[writeIvfPqIndex]] layout (r11 — the
    * last piece of the production ANN lifecycle): assign + PQ-encode
    * ONLY the new rows under the SAME frozen model and append them into
    * the centroid partition directories. Because the index is pure
    * per-row state (code rows keyed by centroid_id, no global statistics
    * and no ordering), append ≡ rebuild: `ivfPqTopKIndexed` over the
    * appended layout is bit-identical to a fresh build over the union
    * (IvfPqMaintSpec). A new model (retrained centroids/codebooks)
    * requires a rebuild — codes are meaningless across models, which is
    * why the model arguments here are the same values the index was
    * built with.
    *
    * Compaction: each append adds one file per touched partition (plus
    * Spark's usual task splits), so a high-frequency append cadence
    * accumulates small files; since rows are independent, compaction is
    * a plain per-partition rewrite (`read → repartition → overwrite`,
    * or any parquet compactor) that can run cell-by-cell, concurrently
    * with serving reads of the other cells. At 100 TB this is the
    * standard warehouse small-file story — nothing IVF-specific. */
  def appendIvfPqIndex(
      newRows: DataFrame,
      centroidVecs: Seq[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      dir: String,
      idC: String = "cid",
      vecCol: String = "embedding"): Unit = {
    // manifest-aware (r12): appends land in the LIVE generation
    IndexMaintenance.appendIndex(
      encodeForIndex(newRows, centroidVecs, codebooks, idC, vecCol),
      dir, IvfLayout, modelSig(centroidVecs, codebooks), "appendIvfPqIndex")
  }

  /** One-file-per-cell compaction of a [[writeIvfPqIndex]] layout after
    * an append-heavy ingest cadence — serving unchanged (pending
    * [[deleteFromIvfPqIndex]] tombstones are materialized: rows
    * physically dropped, the set cleared), small files gone
    * ([[IndexMaintenance.compact]] for the mechanics). */
  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      swap: Boolean = true): String =
    IndexMaintenance.compact(spark, dir, "centroid_id", swap, tombstoneIdCol = Some("cid"))

  /** DELETE candidate vectors from a [[writeIvfPqIndex]] layout —
    * tombstoned immediately ([[IndexMaintenance.tombstone]]), excluded
    * from every subsequent [[ivfPqTopKIndexed]] probe, expunged
    * physically at the next [[compactIvfPqIndex]]. */
  def deleteFromIvfPqIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      ids: DataFrame, idCol: String = "cid"): Unit =
    IndexMaintenance.tombstone(spark, dir, ids, idCol)

  /** Shared assign+encode map stage behind the index build AND append —
    * the zero-shuffle [[assignCells]] argmax fused with the PQ encode. */
  private def encodeForIndex(
      rows: DataFrame,
      centroidVecs: Seq[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      idC: String,
      vecCol: String): DataFrame = {
    val cAssigned = assignCells(
      rows.select(col(idC), col(vecCol).as("_cv")), centroidVecs, "_cv", 1)
    pqEncode(cAssigned, codebooks, idC, "_cv", keep = Seq("centroid_id"))
  }

  /** [[ivfPqTopK]] served from a [[writeIvfPqIndex]] layout: stage 1
    * scans the PERSISTED code partitions instead of re-encoding the
    * corpus, with the probed cells pruned STATICALLY: the probed cell
    * set (bounded by nCentroids regardless of query count — a
    * model-sized collect) becomes a literal IN filter on the
    * `centroid_id` partition column, so only those cells' files are
    * even LISTED. r12 replaced the previous dynamic-partition-pruning
    * reliance here — Catalyst's DPP rule requires a selective predicate
    * on the build side, which a serving micro-batch (an in-memory query
    * batch, no filter) never has, so streamed probes were silently
    * scanning every cell (caught by ServeTelemetrySpec's measured
    * per-batch file counts; PqSpec pins the static prune in-plan).
    * Bit-identical output to [[ivfPqTopK]] with the same model: same
    * codes (persisted), same ADC, same heap top-k, same exact rerank
    * against the full-precision `candidates` store. */
  def ivfPqTopKIndexed(
      queries: DataFrame,
      indexDir: String,
      candidates: DataFrame,
      centroidVecs: Seq[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      k: Int,
      nProbe: Int = 2,
      rerankFactor: Int = 3,
      idQ: String = "qid",
      idC: String = "cid",
      vecCol: String = "embedding"): DataFrame = {
    val m = codebooks.length
    val codes = IndexMaintenance.openIndex(queries.sparkSession, indexDir, IvfLayout,
      modelSig(centroidVecs, codebooks), idC, "ivfPqTopKIndexed")
    val qAssigned = assignCells(
      queries.select(col(idQ), col(vecCol).as("_qv")), centroidVecs, "_qv", nProbe)
    // STATIC partition pruning on the probed cells (r12): the probed
    // cell SET is bounded by nCentroids whatever the query count — a
    // model-sized collect — and the literal IN filter prunes the
    // partition listing itself, deterministically. Catalyst's dynamic
    // partition pruning is NOT reliable here: the rule requires a
    // selective predicate on the build side, which a serving
    // micro-batch (an in-memory batch of query vectors, no filter)
    // never has — measured in ServeTelemetrySpec, a streamed probe was
    // reading ALL cells while the identical batch probe read nProbe.
    val probedCells = qAssigned.select("centroid_id").distinct()
      .collect().map(_.getLong(0))
    // literals typed to the PARTITION column's inferred type (int for
    // the parquet layout) — a cast around the partition column would
    // defeat listing-time pruning
    val cellLits: Seq[Any] = codes.schema("centroid_id").dataType match {
      case org.apache.spark.sql.types.IntegerType => probedCells.map(_.toInt).toSeq
      case _ => probedCells.toSeq
    }
    val prunedCodes = codes.filter(col("centroid_id").isInCollection(cellLits))
    val qLut = qAssigned.select(col(idQ) +: col("centroid_id") +: pqLutCols(codebooks, "_qv"): _*)
    val survivors = topByAdc(
      broadcast(qLut).join(prunedCodes, "centroid_id").withColumn("adc", pqAdcScore(m)),
      k * rerankFactor, idQ, idC)
    val w2 = Window.partitionBy(idQ).orderBy(col("sim_r").desc, col(idC).asc)
    survivors
      .join(queries.select(col(idQ), col(vecCol).as("_qv")), idQ)
      .join(candidates.select(col(idC), col(vecCol).as("_cv")), idC)
      .withColumn("sim_r", round(cosineSimilarity(col("_qv"), col("_cv")), 6))
      .withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .select(col(idQ), col(idC), col("rank"), col("sim_r").as("sim"), col("adc"))
  }

  /** IVF-PQ (Jégou et al. 2011 §IV — the production 100 TB ANN index):
    * candidates are assigned once to their nearest trained centroid by
    * the zero-shuffle literal argmax ([[assignCells]] — the inverted
    * lists; no centroid join, no exchange between the candidate scan and
    * the PQ-encode projection) and PQ-encoded in the same map stage; a
    * query ADC-scores codes only inside its `nProbe` nearest cells
    * (centroid equi-join, never a flat scan), keeps k·rerankFactor per
    * query with the bounded-memory [[topByAdc]] heap aggregate, then
    * reranks survivors by exact round-6 cosine. Stage-1 bandwidth per
    * probe is |cell| × (m codes) — both the list pruning and the 32x
    * code compression compound at scale. */
  def ivfPqTopK(
      queries: DataFrame,
      candidates: DataFrame,
      centroidVecs: Seq[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      k: Int,
      nProbe: Int = 2,
      rerankFactor: Int = 3,
      idQ: String = "qid",
      idC: String = "cid",
      vecCol: String = "embedding"): DataFrame = {
    val m = codebooks.length
    val cAssigned = assignCells(
      candidates.select(col(idC), col(vecCol).as("_cv")), centroidVecs, "_cv", 1)
    val codes = pqEncode(cAssigned, codebooks, idC, "_cv", keep = Seq("centroid_id"))
    val qAssigned = assignCells(
      queries.select(col(idQ), col(vecCol).as("_qv")), centroidVecs, "_qv", nProbe)
    // same LUT-materialization boundary as [[pqTopK]]: one cheap exchange
    // of |Q|·nProbe slim rows keeps the BigDecimal-rounding LUT build at
    // per-query cost instead of per-probed-pair cost
    val qLut = qAssigned
      .select(col(idQ) +: col("centroid_id") +: pqLutCols(codebooks, "_qv"): _*)
      .repartition(queries.sparkSession.sparkContext.defaultParallelism)
    val survivors = topByAdc(
      qLut.join(codes, "centroid_id").withColumn("adc", pqAdcScore(m)),
      k * rerankFactor, idQ, idC)
    val w2 = Window.partitionBy(idQ).orderBy(col("sim_r").desc, col(idC).asc)
    survivors
      .join(queries.select(col(idQ), col(vecCol).as("_qv")), idQ)
      .join(candidates.select(col(idC), col(vecCol).as("_cv")), idC)
      .withColumn("sim_r", round(cosineSimilarity(col("_qv"), col("_cv")), 6))
      .withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .select(col(idQ), col(idC), col("rank"), col("sim_r").as("sim"), col("adc"))
  }

}
