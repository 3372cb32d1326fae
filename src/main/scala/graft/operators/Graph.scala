package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Checkpoints.BarrierSyntax

/** Graph analytics over pair tables — the companion to
  * [[Dedup.connectedComponents]] for the similarity/link graphs a curation
  * pipeline produces (near-dup pairs, citation/links, co-occurrence).
  *
  * `pageRankInt` is a DETERMINISTIC INTEGER formulation of PageRank:
  * ranks are micro-units (start = 1,000,000 per node), each node sends
  * `rank div degree` to every neighbour, and the update is
  * `rank' = 150000 + (85 * incoming) div 100` — i.e. damping 0.85 in
  * exact integer arithmetic. Because integer addition is associative and
  * commutative, the result is bit-identical regardless of partitioning,
  * aggregation order, or engine — the floating-point PageRank's
  * sum-order nondeterminism never appears, at the cost of a ≤1-micro-unit
  * floor bias per edge (irrelevant for ranking use).
  *
  * A FIXED number of iterations keeps the plan fully declarative: the
  * rounds are chained joins in ONE logical plan (no driver loop, no
  * checkpoint). For convergence-driven iteration counts, drive this from
  * a loop with `localCheckpoint` per round like `connectedComponents`.
  *
  * 100 TB design: the edge table is orders of magnitude smaller than the
  * corpus (it is the candidate-pair output of banded LSH); each round is
  * one shuffle keyed by node id with map-side combine on the incoming
  * sums. Degree skew (a hub node) only concentrates the FINAL combine of
  * pre-combined partials — the same bound as any hash aggregate.
  */
object Graph {

  /** @param pairs undirected edges as (d1, d2) — any extra columns ignored
    * @param iters number of power-iteration rounds (fixed, declarative)
    * @return (id, degree, rank) with rank in micro-units after `iters`
    *         rounds; every node incident to an edge appears. */
  def pageRankInt(pairs: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 8, "iters must be in [1, 8] (declarative chain)")
    // symmetrize via explode, then localCheckpoint the (graph-small) edge
    // list: deg + every iteration's contrib join reads it, and exchange
    // reuse across those differing consumers is Catalyst's choice, not a
    // guarantee — the checkpoint makes "pair plan evaluates once" a
    // property of the operator (same discipline as kCore/CC)
    val edges = pairs
      .select(explode(array(
        struct(col("d1").as("src"), col("d2").as("dst")),
        struct(col("d2").as("src"), col("d1").as("dst")))).as("_e"))
      .select(col("_e.src").as("src"), col("_e.dst").as("dst"))
      .distinct()
      .barrier()
    def distributed(): DataFrame = {
      val deg = edges.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("degree"))
      val r0 = deg.withColumn("rank", lit(1000000L))
      (1 to iters).foldLeft(r0) { (r, _) =>
        val contrib = edges
          .join(r.select(col("id").as("src"), expr("rank div degree").as("_c")), "src")
          .groupBy(col("dst").as("id"))
          .agg(sum(col("_c")).as("_in"))
        // every node has degree >= 1, so the contrib join always rebuilds
        // the full node set; inner join back to deg re-attaches the degree
        deg.join(contrib, "id")
          .withColumn("rank", lit(150000L) + expr("(85 * _in) div 100"))
          .select(col("id"), col("degree"), col("rank"))
      }
    }
    // small-graph fast path (r16, the CC/kCore adaptive switch): the
    // 3-round integer recurrence is a driver loop over the collected
    // edge list. Integer sums are order-free, so the micro-unit ranks
    // are bit-identical; the result schema is TAKEN from the
    // distributed plan (analysis only, nothing executes), so parity is
    // by construction.
    if (smallGraph(edges)) {
      localLongRows(edges).foreach { rows =>
        val adj = adjacency(rows)
        val rank = new java.util.HashMap[Long, Long]()
        adj.keySet().forEach(v => { rank.put(v, 1000000L); () })
        (1 to iters).foreach { _ =>
          val in = new java.util.HashMap[Long, Long]()
          adj.forEach { (u, dsts) =>
            val c = rank.get(u) / dsts.size() // rank div degree, once per node
            dsts.forEach(v => { in.merge(v, c, (a, b) => a + b); () })
          }
          adj.keySet().forEach(v =>
            { rank.put(v, 150000L + (85L * in.get(v)) / 100L); () })
        }
        val out = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row](adj.size)
        adj.forEach((v, dsts) => out += org.apache.spark.sql.Row(v, dsts.size().toLong, rank.get(v)))
        return edges.sparkSession.createDataFrame(
          edges.sparkSession.sparkContext.parallelize(out.toSeq, localResultSlices(out.size)), distributed().schema)
      }
    }
    distributed()
  }

  // ------------------- small-graph fast-path plumbing (r16)

  /** `spark.graft.cc.localThreshold` parsed loudly: a malformed conf
    * value must name the key instead of surfacing as a bare
    * NumberFormatException deep inside a graph operator. Shared with
    * `Dedup.connectedComponents`' twin gate. */
  private[operators] def ccLocalThreshold(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("spark.graft.cc.localThreshold") match {
      case None => 1000000L
      case Some(v) => v.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"spark.graft.cc.localThreshold must be an integer edge count, got '$v'"))
    }

  /** The tighter [[triangleStats]] fast-path cap, in edges: wedge work
    * is O(m^1.5), not O(m), so the shared CC threshold is too permissive
    * for the driver-local twin. Combined with [[ccLocalThreshold]] via
    * min — both gates must pass. */
  private val TriangleLocalMax = 200000L

  /** Slice count for a driver-local fast-path result: threshold-sized
    * results (~1M rows at the default gate) should not land in ONE task
    * for the first downstream stage, but tiny results should not pay 32
    * empty partitions either — ~64k rows per slice, capped at 8. */
  private[operators] def localResultSlices(rows: Int): Int =
    math.max(1, math.min(8, rows / 65536))

  /** Gate shared by every graph operator's driver-local twin: LongType
    * columns only and at most `spark.graft.cc.localThreshold` rows
    * (default 1M — see SCALING "Small-graph fast path" for the measured
    * crossover). The count reads the barrier/persisted table the
    * distributed plan was about to materialize anyway. */
  private def smallGraph(edges: DataFrame, cap: Long = Long.MaxValue): Boolean = {
    val localMax = math.min(ccLocalThreshold(edges.sparkSession), cap)
    localMax > 0 &&
      edges.schema.fields.forall(_.dataType == org.apache.spark.sql.types.LongType) &&
      edges.count() <= localMax
  }

  /** Collected rows, or None when any value is null (the distributed
    * null-join semantics are the contract and a Long map can't hold
    * them). */
  private def localLongRows(df: DataFrame): Option[Array[org.apache.spark.sql.Row]] = {
    val rows = df.collect()
    if (rows.exists(r => (0 until r.length).exists(r.isNullAt))) None else Some(rows)
  }

  /** src -> dst list over directed (symmetrized) 2-column rows. */
  private def adjacency(
      rows: Array[org.apache.spark.sql.Row]): java.util.HashMap[Long, java.util.ArrayList[Long]] = {
    val adj = new java.util.HashMap[Long, java.util.ArrayList[Long]]()
    rows.foreach { r =>
      adj.computeIfAbsent(r.getLong(0), _ => new java.util.ArrayList[Long]()).add(r.getLong(1))
    }
    adj
  }

  /** Exact triangle counts + local clustering coefficient per vertex —
    * the standard cohesion diagnostic over a similarity graph (a high-
    * clustering near-dup neighbourhood is template boilerplate; a low-
    * clustering hub is a quote/aggregator page).
    *
    * Algorithm: degree orientation (Chiba–Nishizeki / the MapReduce
    * formulation of Suri & Vassilvitskii 2011): each undirected edge is
    * directed from its (degree, id)-smaller endpoint, every triangle
    * {a≺b≺c} becomes exactly one wedge a→{b,c} closed by b→c, and the
    * wedge fan-out per vertex is bounded by O(√m) — the shape that
    * survives power-law graphs at scale, where the naive neighbour join
    * explodes on hubs. Counts are exact integers; the clustering
    * coefficient 2t/(d(d−1)) is ONE long/long division.
    *
    * @param pairs undirected edges as (d1, d2)
    * @return (id, degree, n_tri, clustering) for every vertex incident
    *         to an edge, clustering null when degree < 2. */
  def triangleStats(pairs: DataFrame): DataFrame = {
    // localCheckpoint the canonical edge list: deg, the two orientation
    // joins, and the wedge self-join's three sides all read it — without
    // the checkpoint the upstream pair plan (often a full LSH pipeline)
    // replays wherever exchange reuse doesn't happen to fire
    val e0 = pairs
      .select(least(col("d1"), col("d2")).as("a"), greatest(col("d1"), col("d2")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .barrier()
    // small-graph fast path (r16): same orientation + wedge-closure
    // algorithm on the driver. Capped tighter than the shared threshold
    // because the wedge count is O(m^1.5) (the orientation's bound),
    // not O(m) — 200k edges is ~10^8 wedge checks worst-case,
    // single-threaded-comfortable; past that the distributed self-join
    // spreads exactly that work across the cluster. A local-vs-
    // distributed sweep of this cap is recorded in plans/r18/PROBES.md.
    if (smallGraph(e0, cap = TriangleLocalMax)) {
      localLongRows(e0).foreach { rows =>
        val deg = new java.util.HashMap[Long, Long]()
        rows.foreach { r =>
          deg.merge(r.getLong(0), 1L, (x, y) => x + y)
          deg.merge(r.getLong(1), 1L, (x, y) => x + y)
        }
        // orient each edge from its (degree, id)-smaller endpoint; out
        // lists sorted by the wedge order key (dd, dst)
        val out = new java.util.HashMap[Long, java.util.ArrayList[(Long, Long)]]()
        val oriented = new java.util.HashSet[(Long, Long)]()
        rows.foreach { r =>
          val a = r.getLong(0); val b = r.getLong(1)
          val da = deg.get(a); val db = deg.get(b)
          val (s, d, dd) = if (da < db || (da == db && a < b)) (a, b, db) else (b, a, da)
          out.computeIfAbsent(s, _ => new java.util.ArrayList[(Long, Long)]()).add((dd, d))
          oriented.add((s, d)); ()
        }
        val tri = new java.util.HashMap[Long, Long]()
        out.forEach { (s, lst) =>
          val arr = new Array[(Long, Long)](lst.size())
          lst.toArray(arr)
          java.util.Arrays.sort(arr, Ordering.Tuple2[Long, Long])
          var i = 0
          while (i < arr.length) {
            var j = i + 1
            while (j < arr.length) {
              val b = arr(i)._2; val c = arr(j)._2
              if (oriented.contains((b, c))) {
                tri.merge(s, 1L, (x, y) => x + y)
                tri.merge(b, 1L, (x, y) => x + y)
                tri.merge(c, 1L, (x, y) => x + y)
              }
              j += 1
            }
            i += 1
          }
        }
        val res = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row](deg.size)
        deg.forEach { (v, d) =>
          val t = tri.getOrDefault(v, 0L)
          val clustering: Any =
            if (d >= 2) (t * 2).toDouble / (d * (d - 1)).toDouble else null
          res += org.apache.spark.sql.Row(v, d, t, clustering)
        }
        return e0.sparkSession.createDataFrame(
          e0.sparkSession.sparkContext.parallelize(res.toSeq, 1),
          distributedTriangleStats(e0).schema)
      }
    }
    distributedTriangleStats(e0)
  }

  private def distributedTriangleStats(e0: DataFrame): DataFrame = {
    val deg = e0
      .select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    // orient each edge from its (degree, id)-smaller endpoint; carry the
    // destination's order key for the wedge-neighbour comparison below
    val ed = e0
      .join(deg.select(col("id").as("a"), col("degree").as("_da")), "a")
      .join(deg.select(col("id").as("b"), col("degree").as("_db")), "b")
    val orient = ed.select(
      when(col("_da") < col("_db") || (col("_da") === col("_db") && col("a") < col("b")),
        struct(col("a").as("src"), col("b").as("dst"), col("_db").as("dd")))
        .otherwise(struct(col("b").as("src"), col("a").as("dst"), col("_da").as("dd")))
        .as("_o"))
      .select(col("_o.src").as("src"), col("_o.dst").as("dst"), col("_o.dd").as("dd"))
    val x = orient.as("x"); val y = orient.as("y"); val z = orient.as("z")
    val wedges = x.join(y,
      col("x.src") === col("y.src") &&
        (col("x.dd") < col("y.dd") ||
          (col("x.dd") === col("y.dd") && col("x.dst") < col("y.dst"))))
      .select(col("x.src").as("ta"), col("x.dst").as("tb"), col("y.dst").as("tc"))
    val tris = wedges.join(z,
        col("tb") === col("z.src") && col("tc") === col("z.dst"))
      .select(explode(array(col("ta"), col("tb"), col("tc"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_tri"))
    deg.join(tris, Seq("id"), "left")
      .withColumn("n_tri", coalesce(col("n_tri"), lit(0L)))
      .withColumn("clustering",
        when(col("degree") >= 2,
          (col("n_tri") * 2).cast("double") / (col("degree") * (col("degree") - 1))))
      .select("id", "degree", "n_tri", "clustering")
  }

  /** k-core decomposition by iterative peeling: repeatedly delete every
    * vertex with (current) degree < k until none remain; the survivors —
    * the k-core — are the graph's load-bearing cohesive region
    * (Seidman 1983). On a near-dup graph the 2-core separates genuine
    * duplicate clusters from incidental pairwise collisions; on a link
    * graph it is the standard spam-farm / community-core filter.
    *
    * Driver-side loop, one DISTRIBUTED round per peel (the
    * [[graft.operators.Dedup.connectedComponents]] pattern): each round
    * is a degree aggregate + two semi-joins over the (corpus-small) edge
    * table, `localCheckpoint`ed so round N never replays rounds 1..N-1;
    * convergence is an exact vertex-count compare. Rounds are bounded by
    * the peeling depth (≤ longest chain / 2), not the graph size.
    *
    * @return (id, core_degree) for every vertex of the k-core, where
    *         core_degree is the degree WITHIN the core. */
  def kCore(pairs: DataFrame, k: Int, maxIters: Int = 50): DataFrame = {
    require(k >= 1, "k must be positive")
    var edges = pairs
      .select(explode(array(
        struct(col("d1").as("src"), col("d2").as("dst")),
        struct(col("d2").as("src"), col("d1").as("dst")))).as("_e"))
      .select(col("_e.src").as("src"), col("_e.dst").as("dst"))
      .distinct()
      .barrier()
    // small-graph fast path (r16, the [[Dedup.connectedComponents]]
    // adaptive switch, same `spark.graft.cc.localThreshold` gate): a
    // peel below the threshold solves on the driver in one collect —
    // round-synchronous, so labels AND the maxIters truncation behave
    // exactly like the distributed loop. The count reads the barrier
    // the loop would materialize anyway.
    if (smallGraph(edges)) {
      localKCore(edges, k, maxIters) match {
        case Some(out) => return out
        case None => () // null ids: distributed join semantics are the contract
      }
    }
    var nVertices = -1L
    var i = 0
    var done = false
    while (!done && i < maxIters) {
      val deg = edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))
      val keep = Checkpoints.loopBarrier(deg.filter(col("degree") >= k))
      val n = keep.count()
      if (n == nVertices) {
        Checkpoints.reapBarrier(keep) // loop-owned, result reads edges only
        done = true // fixpoint: last filter changed nothing
      } else {
        nVertices = n
        val nextEdges = Checkpoints.loopBarrier(edges
          .join(keep.select(col("id").as("src")), "src", "left_semi")
          .join(keep.select(col("id").as("dst")), "dst", "left_semi"))
        // nextEdges is eager and self-contained — reclaim the superseded
        // round's reliable checkpoint files now (bounded-disk loop)
        Checkpoints.reapBarrier(keep)
        Checkpoints.reapBarrier(edges)
        edges = nextEdges
        i += 1
      }
    }
    edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("core_degree"))
  }

  /** Driver-local k-core peel for a small symmetrized edge table — the
    * [[kCore]] fast path. ROUND-synchronous like the distributed loop
    * (each round removes every vertex whose CURRENT degree < k at
    * once, at most `maxIters` rounds), so a maxIters-truncated result
    * is also bit-identical. Returns None when any id is null. */
  private def localKCore(edges: DataFrame, k: Int, maxIters: Int): Option[DataFrame] = {
    val spark = edges.sparkSession
    val rows = edges.collect()
    if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) return None
    // adjacency over the DIRECTED (symmetrized) rows: degree of v = its
    // out-list length, exactly the distributed groupBy("src") count
    val adj = new java.util.HashMap[Long, java.util.ArrayList[Long]]()
    rows.foreach { r =>
      adj.computeIfAbsent(r.getLong(0), _ => new java.util.ArrayList[Long]()).add(r.getLong(1))
    }
    val alive = new java.util.HashSet[Long](adj.keySet())
    def degree(v: Long): Int = {
      var d = 0
      val it = adj.get(v).iterator()
      while (it.hasNext) if (alive.contains(it.next())) d += 1
      d
    }
    var i = 0
    var done = false
    var nVertices = -1L
    while (!done && i < maxIters) {
      val keep = new java.util.ArrayList[Long]()
      alive.forEach(v => if (degree(v) >= k) keep.add(v))
      if (keep.size().toLong == nVertices) done = true
      else {
        nVertices = keep.size().toLong
        alive.clear(); keep.forEach(v => { alive.add(v); () })
        i += 1
      }
    }
    val out = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    alive.forEach { v =>
      val d = degree(v)
      if (d > 0) out += org.apache.spark.sql.Row(v.longValue(), d.toLong)
    }
    // distributed twin: groupBy(src).count over surviving edges — a
    // survivor with zero surviving edges has no row there either
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType,
        nullable = edges.schema.head.nullable),
      org.apache.spark.sql.types.StructField("core_degree", org.apache.spark.sql.types.LongType,
        nullable = false)))
    Some(spark.createDataFrame(spark.sparkContext.parallelize(out.toSeq, localResultSlices(out.size)), schema))
  }

  /** Degree assortativity of an undirected graph: the Pearson correlation
    * of endpoint degrees over every DIRECTED edge (Newman 2002) —
    * positive r means similar-degree vertices link (a mesh of mutually
    * similar docs), negative means hub-and-spoke (one template quoted by
    * many one-off pages). Rides [[graft.operators.Selection.corrByGroup]]'s
    * exact decimal cross-moments, so r is partition-order-independent.
    * One edge-keyed join against the (tiny) degree table, one aggregate. */
  def assortativity(pairs: DataFrame): DataFrame = {
    // checkpoint for the same single-evaluation guarantee as pageRankInt
    val edges = pairs
      .select(explode(array(
        struct(col("d1").as("src"), col("d2").as("dst")),
        struct(col("d2").as("src"), col("d1").as("dst")))).as("_e"))
      .select(col("_e.src").as("src"), col("_e.dst").as("dst"))
      .distinct()
      .barrier()
    val deg = edges.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("degree"))
    val ed = edges
      .join(deg.select(col("id").as("src"), col("degree").as("_ds")), "src")
      .join(deg.select(col("id").as("dst"), col("degree").as("_dd")), "dst")
      .withColumn("_g", lit(0))
    Selection.corrByGroup(ed, "_g", col("_ds"), col("_dd"))
      .select(col("n").as("n_directed_edges"), col("r").as("assortativity"))
  }

  /** Bounded-depth BFS from a seed set: minimum hop distance ≤ `maxDepth`
    * over the undirected pair graph — "how close is every doc to a known
    * cluster/benchmark member", the neighborhood-expansion primitive
    * behind contamination blast-radius and seed-growing curation.
    *
    * A FIXED depth keeps the plan declarative (the rounds are `maxDepth`
    * chained joins in one plan, like [[pageRankInt]]); distances are
    * exact integers and the final `min(dist)` resolves multi-path
    * reachability deterministically. Unbounded-diameter closures belong
    * to `Dedup.connectedComponents`' checkpointed loop instead.
    *
    * 100 TB design: each round joins the (shrinking or stable) frontier
    * against the edge table on its key — broadcastable frontiers make
    * rounds map-only; the union + min-aggregate is one hash aggregate
    * over ≤ maxDepth·|reached| rows. */
  def bfsHops(pairs: DataFrame, seeds: DataFrame, maxDepth: Int = 3): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 6, "maxDepth must be in [1, 6] (declarative chain)")
    // persist: each BFS round joins a (small, often broadcast) frontier
    // against the edges — broadcast joins leave no exchange to reuse, so
    // without the cache every round would re-evaluate the full upstream
    // pair plan (the expensive part). Same discipline as
    // [[Dedup.connectedComponents]].
    val edges = pairs
      .select(explode(array(
        struct(col("d1").as("u"), col("d2").as("v")),
        struct(col("d2").as("u"), col("d1").as("v")))).as("e"))
      .select(col("e.u"), col("e.v"))
      .distinct()
      .persist()
    def distributed(): DataFrame = {
      val seed0 = seeds.select(col("id"), lit(0).as("dist"))
      val frontiers = (1 to maxDepth).scanLeft(seed0) { (frontier, depth) =>
        // distinct per round: frontier rows stay bounded by NODE count, not
        // by the (possibly exponential) count of length-d walks
        edges.join(frontier.select(col("id").as("u")), Seq("u"))
          .select(col("v").as("id")).distinct()
          .select(col("id"), lit(depth).as("dist"))
      }
      frontiers.reduce(_ unionByName _)
        .groupBy("id")
        .agg(min("dist").as("dist"))
        .orderBy("id")
    }
    // small-graph fast path (r16): plain BFS on the driver. The round-d
    // frontier of the declarative chain is the full neighbor set of
    // round d-1 and the final min(dist) resolves multi-path visits, so
    // min-over-rounds IS the shortest hop distance — which is exactly
    // what BFS computes; equivalence is the standard induction (spec-
    // pinned against the forced-distributed chain).
    if (smallGraph(edges) &&
        seeds.schema.fields.forall(_.dataType == org.apache.spark.sql.types.LongType)) {
      (localLongRows(edges), localLongRows(seeds.select("id"))) match {
        case (Some(erows), Some(srows)) =>
          val adj = adjacency(erows)
          val dist = new java.util.LinkedHashMap[Long, Int]()
          var frontier = new java.util.ArrayList[Long]()
          srows.foreach { r =>
            val s = r.getLong(0)
            if (!dist.containsKey(s)) { dist.put(s, 0); frontier.add(s); () }
          }
          var d = 1
          while (d <= maxDepth && !frontier.isEmpty) {
            val next = new java.util.ArrayList[Long]()
            frontier.forEach { u =>
              val dsts = adj.get(u)
              if (dsts != null) dsts.forEach { v =>
                if (!dist.containsKey(v)) { dist.put(v, d); next.add(v); () }
              }
            }
            frontier = next
            d += 1
          }
          val out = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row](dist.size)
          dist.forEach((v, dd) => out += org.apache.spark.sql.Row(v, dd))
          return edges.sparkSession.createDataFrame(
            edges.sparkSession.sparkContext.parallelize(out.toSeq, localResultSlices(out.size)),
            distributed().schema).orderBy("id")
        case _ => () // nulls: distributed join semantics are the contract
      }
    }
    distributed()
  }

  /** Bounded Bellman-Ford: cheapest path cost (integer weights) from any
    * seed within `rounds` relaxations — the weighted companion of
    * [[bfsHops]] (blast radius asks "how far", this asks "how costly";
    * with unit weights they coincide). Each round is one distributed
    * relax-join + a per-node MIN — per-round reduction keeps every
    * intermediate bounded by the NODE count, never the walk count (a
    * naive "all walks ≤ R" recursion blows up on near-distinct float
    * costs; integer micro weights + min-per-round is the scalable and
    * oracle-portable form — the oracle unrolls the same R rounds as a
    * CTE chain). Edges persist for the same broadcast-reuse reason as
    * bfsHops/connectedComponents. */
  def weightedHops(
      edges: DataFrame, // (d1, d2, w) undirected, w integer > 0
      seeds: DataFrame, // (id)
      rounds: Int = 3): DataFrame = {
    require(rounds >= 1 && rounds <= 6, "rounds must be in [1, 6]")
    val und = edges
      .select(explode(array(
        struct(col("d1").as("u"), col("d2").as("v"), col("w")),
        struct(col("d2").as("u"), col("d1").as("v"), col("w")))).as("e"))
      .select(col("e.u"), col("e.v"), col("e.w"))
      .distinct()
      .persist()
    def distributed(): DataFrame = {
      val seed0 = seeds.select(col("id"), lit(0L).as("dist"))
      val best = (1 to rounds).foldLeft(seed0) { (b, _) =>
        val relaxed = und.join(b.select(col("id").as("u"), col("dist")), Seq("u"))
          .select(col("v").as("id"), (col("dist") + col("w")).as("dist"))
        b.unionByName(relaxed).groupBy("id").agg(min("dist").as("dist"))
      }
      best.orderBy("id")
    }
    // small-graph fast path (r16): synchronous Bellman-Ford on the
    // driver — each round relaxes every edge against the PREVIOUS
    // round's best map (a snapshot, exactly the declarative fold's
    // semantics), then merges with min. Integer arithmetic end-to-end.
    if (smallGraph(und) &&
        seeds.schema.fields.forall(_.dataType == org.apache.spark.sql.types.LongType)) {
      (localLongRows(und), localLongRows(seeds.select("id"))) match {
        case (Some(erows), Some(srows)) =>
          var best = new java.util.HashMap[Long, Long]()
          srows.foreach(r => { best.put(r.getLong(0), 0L); () })
          (1 to rounds).foreach { _ =>
            val next = new java.util.HashMap[Long, Long](best)
            erows.foreach { r =>
              val u = r.getLong(0)
              if (best.containsKey(u)) {
                val cand = best.get(u) + r.getLong(2)
                next.merge(r.getLong(1), cand, (a, b) => math.min(a, b)); ()
              }
            }
            best = next
          }
          val out = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row](best.size)
          best.forEach((v, dd) => out += org.apache.spark.sql.Row(v, dd))
          return und.sparkSession.createDataFrame(
            und.sparkSession.sparkContext.parallelize(out.toSeq, localResultSlices(out.size)),
            distributed().schema).orderBy("id")
        case _ => () // nulls: distributed join semantics are the contract
      }
    }
    distributed()
  }

}
