package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Checkpoints.BarrierSyntax

/** BM25 full-text retrieval over a document corpus (builder extension —
  * the classic inverted-index ranking function, Robertson & Zaragoza 2009,
  * in the non-negative Lucene idf form `ln(1 + (N - df + 0.5)/(df + 0.5))`).
  *
  * Spark-first shape: for a BOUNDED query-term set the whole thing is
  * column algebra — per-doc term frequencies are row-local array folds
  * (`filter(w, x -> x = term)` per term, fixed columns, no explode and no
  * (doc, term) shuffle), the corpus statistics (N, avgdl, per-term df)
  * are ONE tiny global aggregate broadcast back, and scoring + top-k is a
  * map stage into `TakeOrderedAndProject`. Zero wide shuffles end to end:
  * the only exchanges are the single-row stats aggregate and the top-k.
  *
  * Train/score split (same pattern as [[TextAnalysis.unigramLm]]): corpus
  * statistics are a model — [[bm25Stats]] computes them once (one
  * column-pruned pass over `text`), [[bm25ScoreWith]] scores any batch
  * under them without rescanning the stats corpus. The [[bm25]]
  * convenience trains on the scored corpus itself (two scans, the
  * documented cost of self-training — at 100 TB train the stats on the
  * corpus once, persist the one-row model, and reuse it per query).
  *
  * Exactness: idf is rounded to 6 decimals at the model (libm `ln`
  * discipline); every other step is IEEE-deterministic (exact long
  * sums, single divisions, fixed-order term addition) and the final
  * score is rounded to 6.
  */
object Retrieval {

  private def sanitize(t: String): String = {
    require(t.matches("[A-Za-z0-9']+"), s"query term must be a plain word: $t")
    t
  }

  /** Per-doc word array + doc length + one tf column per query term —
    * purely row-local (fixed small term set ⇒ fixed columns). */
  private def perDoc(docs: DataFrame, terms: Seq[String], textCol: String, idCol: String)
      : DataFrame = {
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      expr(s"size(filter(_w, x -> x = '${sanitize(t)}'))").cast("long").as(s"tf$i")
    }
    docs
      .select(col(idCol), split(col(textCol), " ").as("_w"))
      .select(col(idCol) +: size(col("_w")).cast("long").as("dl") +: tfCols: _*)
  }

  /** The BM25 corpus model: ONE row with `n_docs`, `avgdl` and, per query
    * term, `df{i}` and round-6 `idf{i}`. */
  def bm25Stats(
      corpus: DataFrame,
      terms: Seq[String],
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val pd = perDoc(corpus, terms, textCol, idCol)
    val aggs =
      count(lit(1)).as("n_docs") +: sum(col("dl")).as("sum_dl") +:
        terms.indices.map(i => count(when(col(s"tf$i") > 0, 1)).as(s"df$i"))
    val idfs = terms.indices.map { i =>
      round(log(lit(1.0) +
        (col("n_docs").cast("double") - col(s"df$i") + lit(0.5)) / (col(s"df$i") + lit(0.5))), 6)
        .as(s"idf$i")
    }
    pd.agg(aggs.head, aggs.tail: _*)
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
      .select(col("n_docs") +: col("avgdl") +: (terms.indices.map(i => col(s"df$i")) ++ idfs): _*)
  }

  /** Score `docs` for `terms` under a pre-trained one-row `stats` model
    * (broadcast — scoring is a pure map stage) and return the global
    * top-`k` by (score desc, id asc). */
  def bm25ScoreWith(
      docs: DataFrame,
      stats: DataFrame,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      topK: Int = 50,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val den = lit(k1) * (lit(1 - b) + lit(b) * col("dl").cast("double") / col("avgdl"))
    val termScores: Seq[Column] = terms.indices.map { i =>
      val tfD = col(s"tf$i").cast("double")
      when(col(s"tf$i") > 0, col(s"idf$i") * (tfD * lit(k1 + 1)) / (tfD + den))
        .otherwise(lit(0.0))
    }
    perDoc(docs, terms, textCol, idCol)
      .crossJoin(broadcast(stats))
      .withColumn("score", round(termScores.reduce(_ + _), 6))
      .filter(col("score") > 0)
      .select(col(idCol), col("dl").as("n_words"), col("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(topK)
  }

  /** Batch BM25 — the fully RELATIONAL form for an unbounded query TABLE
    * (`queries`: one text per `qid`), the shape of RAG-training batch
    * retrieval where thousands of queries rank against the corpus at
    * once. The inverted index is the (doc, term, tf) table itself:
    *
    *   - corpus side: one explode, semi-join-pruned to the QUERIED
    *     vocabulary (df per term is invariant under dropping other
    *     terms' rows, so pruning before tf/df/scoring is
    *     result-identical — only queried postings are ever aggregated
    *     or scored; broadcast when the measured term-set bytes allow),
    *     then the (doc, term, tf) aggregate that also carries `dl`
    *     (constant per doc, rides the grouping key); per-term `df` via a
    *     term-partitioned WINDOW over that same table — the q70
    *     discipline, one corpus pass, no second aggregate;
    *   - corpus scalars (N, avgdl): a one-row column-pruned aggregate
    *     broadcast into the scoring join (the second, cheap scan);
    *   - query side: distinct (qid, term) — duplicate query words score
    *     once, the standard bag-of-query simplification;
    *   - scoring: term-keyed equi-join (hash-partitioned by term — hot
    *     stopword-ish terms pre-reduce map-side and AQE splits residual
    *     skew), per-(qid, doc) sum of round-6 MICRO term scores (integer,
    *     addition-order-free across engines), top-`k` per qid on the
    *     bounded-memory TopKNearest heap (r11 — window-identical order
    *     incl. tiebreaks; ≤ k rows per query cross the qid exchange and
    *     the scored pair table is never sorted).
    *
    * Shuffles: corpus (doc,term) aggregate, term join, (qid,doc) sum,
    * per-qid heap — each keyed by uniform-cardinality keys. Nothing is
    * ever all-pairs; the join volume is Σ_term df(term)·qf(term), the
    * true inverted-index cost. Doc ids must be integral (the heap keys
    * on a long — validated at plan-build time, the
    * [[Similarity.requireIntegralId]] contract). */
  def bm25Batch(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75,
      textCol: String = "text",
      idCol: String = "doc_id",
      qidCol: String = "qid"): DataFrame = {
    Similarity.requireIntegralId(corpus, idCol, "bm25Batch")
    val qt = queries
      .select(col(qidCol), explode(split(col(textCol), " ")).as("term"))
      .distinct()
    // query-vocabulary pruning (r16): postings for terms NO query asks
    // about never contribute — they die in the inner scoring join — yet
    // they dominated the tf aggregate, the df window, and the
    // transcendental scoring pass (the corpus vocabulary vs the queried
    // one). df per term is a count WITHIN the term, invariant under
    // dropping other terms' rows, so semi-joining the exploded corpus
    // down to queried terms BEFORE tf/df/scoring is result-identical —
    // the standard inverted-index discipline of touching only queried
    // postings. Deliberately UNHINTED and UNMATERIALIZED: AQE broadcasts
    // the term set when its runtime size allows and keeps the shuffle
    // semi-join for genuinely huge query batches — a paired A/B showed
    // every forced form (eager qt barrier, persisted qt, gated
    // broadcast) COSTS 0.2-0.6 s here in serial driver jobs, while the
    // plain declarative semi-join folds into the existing DAG.
    val qTerms = qt.select("term").distinct()
    val ct0 = corpus
      .select(col(idCol), size(split(col(textCol), " ")).cast("long").as("dl"),
        explode(split(col(textCol), " ")).as("term"))
    val ct = ct0.join(qTerms, Seq("term"), "left_semi")
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
    val stats = corpus.agg(
      count(lit(1)).as("n_docs"),
      sum(size(split(col(textCol), " ")).cast("long")).as("sum_dl"))
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val idf = round(log(lit(1.0) +
      (col("n_docs").cast("double") - col("df") + lit(0.5)) / (col("df") + lit(0.5))), 6)
    val tfD = col("tf").cast("double")
    val den = lit(k1) * (lit(1 - b) + lit(b) * col("dl").cast("double") / col("avgdl"))
    val termMicro =
      round(round(idf * (tfD * lit(k1 + 1)) / (tfD + den), 6) * 1e6).cast("long")
    // score each (doc, term) posting ONCE, before the query join: the
    // join fan-out is Σ df·qf rows and only (qid, doc, micro) needs to
    // cross it — not a transcendental evaluation per joined row
    // rebalance the slim posting table before the fan-out join: AQE
    // coalesces the small term-window output to one partition (bytes-
    // based), which would serialize the Σ df·qf join fan-out and its
    // partial aggregate into a single task — the known pathology of a
    // compact table feeding a high-fan-out join (cf. the k-NN rebalance).
    // At real scale the posting table is many-partition and this is a
    // cheap no-op-shaped exchange of 3 slim columns.
    val scored = ct
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", avgdl)
      .withColumn("_m", termMicro)
      .select(col(idCol), col("term"), col("_m"))
      .repartition(ct.sparkSession.sparkContext.defaultParallelism)
    // per-query top-k on the bounded-memory TopKNearest heap (r11 —
    // replaces the rank window, the same swap the ANN plane made in r10):
    // heap order asc (-score, doc) == the window's (score desc, doc asc)
    // including tiebreaks, posexplode position + 1 == row_number, and the
    // partial phase ships <= k rows per query into the qid exchange — the
    // full (qid, doc) score table is never sorted. n_terms rides as an
    // exact double payload (counts << 2^53).
    //
    // SALTED (qid, doc-hash) exchange for the scoring tail (r18, the r17
    // verdict's skew item): r17's qid-only exchange ran the sum + heap
    // exchange-free but concentrated each query's ENTIRE posting fan-out
    // (Σ df·qf rows for that qid — potentially corpus-scale for one hot
    // query) in a single task; a 1-query batch over the sf0.1 corpus
    // measured 4.8 s vs 3.2 s for a 16-query batch (r18 hot-query probe;
    // a later re-run is recorded in plans/r18/PROBES.md).
    // The salt is a DETERMINISTIC function of the doc id, so
    // (qid, _salt, doc) groups ≡ (qid, doc) groups — the sum is
    // result-identical (integer micros, order-free) — while the exchange
    // spreads one query's fan-out over the full width (guide §2.5
    // two-level aggregation; deterministic key per §2.5's rand() retry
    // hazard). The per-qid heap then pays one extra tiny exchange
    // (partial heaps ship ≤ k rows per (qid, partition)) instead of
    // riding the sum's partitioning. The map-side partial-agg analysis
    // from r17 still holds: a (qid, doc) duplicate needs one doc to
    // match two DIFFERENT terms, and those rows live in different term
    // partitions by construction, so no pre-exchange combine is planted.
    // explicit width: an unsized repartition(col) is AQE-coalescible,
    // and the compact fan-out bytes coalesce under the advisory size —
    // which would serialize this whole aggregate+heap tail into one or
    // two tasks (measured: q90 +1.0 s). User-specified widths are never
    // coalesced (the q81/prefix-join lesson).
    val w = ct.sparkSession.sparkContext.defaultParallelism
    qt.join(scored, "term")
      .withColumn("_salt", pmod(xxhash64(col(idCol)), lit(w.toLong)))
      .repartition(w, col(qidCol), col("_salt"))
      .groupBy(col(qidCol), col("_salt"), col(idCol))
      .agg(sum("_m").as("_sm"), count(lit(1)).as("n_terms"))
      .drop("_salt")
      .withColumn("score", col("_sm").cast("double") / lit(1e6))
      .groupBy(qidCol)
      .agg(graft.functions.TopKNearest.topkNearest(
        struct((-col("score")).as("dist2"),
          col(idCol).cast("long").as("src_id"),
          col("n_terms").cast("double").as("n_terms"),
          col("score").as("score")),
        k, payload = Seq("n_terms", "score")).as("_top"))
      .select(col(qidCol), posexplode(col("_top")).as(Seq("_i", "_t")))
      .select(col(qidCol), col("_t.src_id").as(idCol),
        (col("_i") + 1).cast("int").as("rank"),
        col("_t.n_terms").cast("long").as("n_terms"),
        col("_t.score").as("score"))
  }

  /** Reciprocal-rank fusion (Cormack et al., SIGIR 2009) of any number of
    * per-query rankings — the standard hybrid-retrieval combiner (sparse
    * BM25 + dense ANN, or any mix): each list contributes
    * `1/(rrfK + rank)` to a candidate's fused score; candidates missing
    * from a list contribute nothing.
    *
    * Each input needs (`qidCol`, `idCol`, `rankCol`). The contribution is
    * held as a round-0 MICRO int (`round(1e6/(rrfK+rank))`), so the fused
    * sum is integer, addition-order-free, and engine-portable; ranking is
    * an integer compare. Scale shape: inputs are already top-k tables —
    * k·L rows per query — so the union + one hash aggregate + per-query
    * top-k (WindowGroupLimit map-side heap) never touches the corpus; the
    * whole fusion is bounded by the retrieval depth, not the data. */
  def rrfFuse(
      rankings: Seq[DataFrame],
      k: Int = 10,
      rrfK: Int = 60,
      qidCol: String = "qid",
      idCol: String = "doc_id",
      rankCol: String = "rank"): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    val contrib = rankings.map(_.select(col(qidCol), col(idCol),
      round(lit(1000000.0) / (lit(rrfK) + col(rankCol)), 0).cast("long").as("_m")))
    val w = Window.partitionBy(qidCol).orderBy(col("_sm").desc, col(idCol).asc)
    contrib.reduce(_ unionByName _)
      .groupBy(col(qidCol), col(idCol))
      .agg(sum("_m").as("_sm"), count(lit(1)).as("n_lists"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .withColumn("score", col("_sm").cast("double") / lit(1e6))
      .select(col(qidCol), col(idCol), col("rank"), col("n_lists"), col("score"))
  }

  /** Exact phrase search over a POSITIONAL inverted index — the
    * retrieval-engine primitive BM25's bag-of-words scoring cannot
    * answer ("these words, adjacent, in this order").
    *
    * Build: `posexplode` the token stream once into (doc, pos, word);
    * a k-word phrase is then k−1 equi-joins on (doc, pos−offset), each
    * side pre-filtered to ONE term's postings. At 100 TB the index is
    * the corpus token count but every join input is a single term's
    * posting list (df-bounded, never the corpus), keyed by (doc, pos)
    * — the textbook positional-index intersection (Manning, Raghavan &
    * Schütze, IR ch. 2). Starting the chain from the phrase's RAREST
    * term would bound the intermediate by the smallest posting list;
    * here the left-fold order is kept = phrase order for oracle
    * clarity.
    *
    * Output: (doc, first_pos [1-based token index], n_matches) counting
    * ALL starting positions, overlapping included — which is why the
    * oracle replays a row-local position scan (`list_filter` over the
    * token range) rather than LIKE/replace counting, which cannot see
    * overlapping occurrences. */
  def phraseSearch(
      docs: DataFrame,
      phrase: String,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val ws = phrase.split(" ").toSeq
    require(ws.length >= 2, "phrase needs at least two terms")
    val idx = docs.select(col(idCol),
      posexplode(split(col(textCol), " ")).as(Seq("pos", "word")))
    val anchor = idx.filter(col("word") === ws.head).select(col(idCol), col("pos"))
    val matches = ws.zipWithIndex.tail.foldLeft(anchor) { case (acc, (w, i)) =>
      acc.join(
        idx.filter(col("word") === w)
          .select(col(idCol), (col("pos") - i).as("pos")),
        Seq(idCol, "pos"))
    }
    matches.groupBy(col(idCol))
      .agg((min(col("pos")) + 1).cast("long").as("first_pos"),
        count(lit(1)).as("n_matches"))
  }

  /** Self-trained convenience: rank `docs` against themselves. */
  def bm25(
      docs: DataFrame,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      topK: Int = 50,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    bm25ScoreWith(docs, bm25Stats(docs, terms, textCol, idCol), terms, k1, b, topK,
      textCol, idCol)
}
