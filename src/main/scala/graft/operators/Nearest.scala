package graft.operators

import graft.functions.GeoFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** k-nearest-neighbour radius resampling — the Spark-native reformulation of
  * pyresample's kd-tree family (`pyresample/kd_tree.py`):
  * `get_neighbour_info` (`:281`) + `get_sample_from_neighbour_info` (`:566`).
  *
  * Instead of broadcasting a kd-tree, both sides are assigned 3-D geocentric
  * grid-cell ids at pitch = radius_of_influence; each target row joins the 27
  * neighbouring cells of its own cell. Because cell pitch >= radius, every
  * source point within the radius of a target is guaranteed to share one of
  * those 27 cells (SURVEY §7.4 proof obligation) — the join is exact, the
  * equivalent of kd-tree `epsilon=0` (`kd_tree.py:68`).
  *
  * Scale: one shuffle per side keyed by cell id; the 27x fan-out is on the
  * *target* side (the generated grid — cheap rows). Hash join + per-target
  * rank window. Skewed cells (dense swath regions) are handled by AQE skew
  * split since the join key is the cell id.
  */
object KnnResample {

  /** Coordinate space for the distance metric: geocentric XYZ chord metres
    * (the reference's kd-tree space, `kd_tree.py:975`) or planar — raw
    * (lon, lat, 0) degrees, pure arithmetic (useful where the exact-join
    * result must be replayable by a SQL oracle without trig).
    * `quantize` rounds the XYZ coordinates to that many decimals of a
    * metre: every downstream distance becomes pure IEEE arithmetic on
    * engine-identical inputs, so a SQL oracle replays ranks and radius
    * membership bit-exactly even though the trig itself may differ by an
    * ulp between libms. Metre-level rounding is far below any sensible
    * radius_of_influence, so results are unchanged in practice. */
  def coordsOf(planar: Boolean, quantize: Option[Int] = None): (Column, Column) => (Column, Column, Column) = {
    val base: (Column, Column) => (Column, Column, Column) =
      if (planar) (lon, lat) => (lon, lat, lit(0.0))
      else (lon, lat) => (lonlat2x(lon, lat), lonlat2y(lon, lat), lonlat2z(lat))
    quantize match {
      case None => base
      case Some(n) => (lon, lat) => {
        val (x, y, z) = base(lon, lat)
        (round(x, n), round(y, n), round(z, n))
      }
    }
  }

  /** J1 (`kd_tree.py:281-386`): neighbour table
    * (dst_id, src_id, dist2) with dist2 = squared distance in the chosen
    * coordinate space, at most k rows per target, nearest-first rank.
    * Ties broken by src_id for determinism.
    *
    * `salt` > 1 splits skewed cells: the source side gets a deterministic
    * salt bucket `pmod(hash(src_id), salt)` appended to its cell key, and
    * the target side explodes every neighbour cell across all salt values,
    * so each (target, source) candidate pair still meets exactly once.
    * A cell holding S source rows shuffles/joins as `salt` keys of ~S/salt
    * rows — the manual fallback for dense-swath / polar-convergence skew
    * when AQE's skew split isn't available (e.g. inside a non-AQE stage).
    * Results are identical for any salt; cost is a salt× multiplier on the
    * exploded target rows (the cheap side).
    *
    * `carry` names DOUBLE source columns to ride the aggregation into the
    * output (appended after rank): the winners' values arrive with their
    * ranks, so the caller needs NO second source scan + join-back on
    * src_id — on a wide source that join is a full extra scan, a full
    * distinct/shuffle, and a broadcast build of the whole source. */
  def neighbours(
      source: DataFrame, // (src_id, lon, lat, ...)
      target: DataFrame, // (dst_id, lon, lat, ...)
      radius: Double,
      k: Int,
      planar: Boolean = false,
      quantize: Option[Int] = None,
      salt: Int = 1,
      carry: Seq[String] = Nil): DataFrame =
    neighboursAgg(source, target, radius, k, planar, quantize, salt, carry)
      .select(col("dst_id"), posexplode(col("cand")).as(Seq("_pos", "_t")))
      .select(Seq(col("dst_id"), col("_t.src_id").as("src_id"),
        col("_t.dist2").as("dist2"), (col("_pos") + 1).cast("int").as("rank")) ++
        carry.map(c => col(s"_t.$c").as(c)): _*)

  /** [[neighbours]] in aggregated form: one row per target,
    * `cand: array<struct<dist2, src_id[, carry...]>>` holding the <=k
    * nearest candidates ascending (dist2, src_id) — i.e. rank order.
    * Consumers that want the whole candidate list per target (bilinear's
    * corner solve) read this directly: the top-k heap aggregation already
    * produces the sorted bounded array, so exploding it back to rows only
    * to re-collect_list + sort_array them per target would pay a second
    * full aggregation pass for nothing. */
  def neighboursAgg(
      source: DataFrame, // (src_id, lon, lat, ...)
      target: DataFrame, // (dst_id, lon, lat, ...)
      radius: Double,
      k: Int,
      planar: Boolean = false,
      quantize: Option[Int] = None,
      salt: Int = 1,
      carry: Seq[String] = Nil): DataFrame = {

    val coords = coordsOf(planar, quantize)
    val (sxE, syE, szE) = coords(col("lon"), col("lat"))
    val src = source
      .filter(legalLonLat(col("lon"), col("lat")))
      .withColumn("sx", sxE)
      .withColumn("sy", syE)
      .withColumn("sz", szE)
      .withColumn("cx", floor(col("sx") / radius).cast("long"))
      .withColumn("cy", floor(col("sy") / radius).cast("long"))
      .withColumn("cz", floor(col("sz") / radius).cast("long"))

    // planar space is flat in z (z = 0 both sides): 9 neighbour cells
    // suffice, cutting the exploded target rows by 3x
    val zOffsets = if (planar) Seq(0) else -1 to 1
    val offsets = (for { dx <- -1 to 1; dy <- -1 to 1; dz <- zOffsets } yield (dx, dy, dz)).toArray
    val offCol = array(offsets.map { case (dx, dy, dz) =>
      struct(lit(dx).as("dx"), lit(dy).as("dy"), lit(dz).as("dz"))
    }: _*)

    val (txE, tyE, tzE) = coords(col("lon"), col("lat"))
    val tgt = target
      .filter(legalLonLat(col("lon"), col("lat")))
      .withColumn("tx", txE)
      .withColumn("ty", tyE)
      .withColumn("tz", tzE)
      .withColumn("_off", explode(offCol))
      .withColumn("cx", floor(col("tx") / radius).cast("long") + col("_off.dx"))
      .withColumn("cy", floor(col("ty") / radius).cast("long") + col("_off.dy"))
      .withColumn("cz", floor(col("tz") / radius).cast("long") + col("_off.dz"))
      .drop("_off")

    val (srcK, tgtK, joinKeys) =
      if (salt <= 1) (src, tgt, Seq("cx", "cy", "cz"))
      else (
        src.withColumn("_salt", pmod(hash(col("src_id")), lit(salt))),
        tgt.withColumn("_salt", explode(array((0 until salt).map(lit): _*))),
        Seq("cx", "cy", "cz", "_salt"))

    val dist2 =
      (col("tx") - col("sx")) * (col("tx") - col("sx")) +
        (col("ty") - col("sy")) * (col("ty") - col("sy")) +
        (col("tz") - col("sz")) * (col("tz") - col("sz"))

    val srcCols = Seq("src_id", "sx", "sy", "sz") ++ joinKeys ++ carry
    val joined = tgtK
      .join(srcK.select(srcCols.map(col): _*), joinKeys)
      .withColumn("dist2", dist2)
      .filter(col("dist2") <= lit(radius * radius))

    // Bounded-memory top-k aggregation (TypedImperativeAggregate with a
    // k-slot heap), k=1 included. Identical ordering and tie-break as a
    // row_number window over (dist2 asc, src_id asc), but with a partial
    // phase — each map task ships at most k candidates per target into the
    // shuffle, state O(k) — and it hash-aggregates (ObjectHashAggregate),
    // where the min(struct)/window alternatives sort every candidate row.
    val structIn = struct(
      (Seq(col("dist2"), col("src_id")) ++ carry.map(c => col(c).cast("double"))): _*)
    joined
      .groupBy("dst_id")
      .agg(graft.functions.TopKNearest.topkNearest(structIn, k, carry).as("cand"))
  }

  /** J2 (`kd_tree.py:64-110`): nearest-neighbour gather. Returns
    * (dst_id, value...) for targets with a neighbour in radius. */
  def nearest(
      source: DataFrame,
      target: DataFrame,
      radius: Double,
      valueCols: Seq[String],
      planar: Boolean = false,
      quantize: Option[Int] = None): DataFrame = {
    // values ride the top-1 aggregation (carry) — no second source scan or
    // join-back; cast back to the source dtypes since carry travels DOUBLE
    val types = source.select(valueCols.map(col): _*).schema
      .map(f => f.name -> f.dataType).toMap
    neighbours(source, target, radius, k = 1, planar, quantize, carry = valueCols)
      .select(col("dst_id") +: valueCols.map(c => col(c).cast(types(c)).as(c)): _*)
  }

  /** J3/J4 + A9 (`kd_tree.py:741-859`): distance-weighted merge of the k
    * nearest neighbours. `weight` maps the dist2 column to a weight column
    * (gauss: exp(-d2/sigma2) — `:163-165`; custom f(d) — `:192-253`).
    * `uncertainty=true` adds the unbiased weighted stddev + neighbour count
    * using the algebraic decomposition of `:821-859`:
    *   stddev = sqrt( v1/(v1^2 - v2) * (sum(w*x^2) - (sum(w*x))^2/v1) )
    * (pure partial sums -> single hash aggregation, no second pass). */
  /** Bit-exact replica of `sum(term)` over the slot terms in rank order,
    * as a pure codegen expression chain (r17): Spark's Sum starts from a
    * NULL buffer and, per NON-NULL input in row order, assigns
    * `coalesce(buf, 0.0) + x` — null terms are skipped entirely (never
    * added as 0, which would flip a −0.0 partial), and an all-null group
    * yields null. The folded chain reproduces exactly that, so replacing
    * the explode + re-aggregate with a per-row fold over the heap's
    * rank-ordered candidate array is IEEE-identical. */
  private def foldSum(terms: Seq[Column]): Column =
    terms.foldLeft(lit(null).cast("double")) { (a, t) =>
      when(t.isNull, a).otherwise(coalesce(a, lit(0.0)) + t)
    }

  /** k fixed slots of the rank-ordered `cand` array (1-based
    * try_element_at — null past the array end, ANSI-safe), with the
    * weight null-guarded so a missing slot can never contribute even
    * under a non-null-propagating custom weight function. */
  private[graft] def candSlots(k: Int, weight: Column => Column): Seq[(Column, Column)] =
    (1 to k).map { i =>
      val s = try_element_at(col("cand"), lit(i))
      (when(s.isNull, lit(null).cast("double"))
        .otherwise(weight(s.getField("dist2"))), s)
    }

  def weighted(
      source: DataFrame,
      target: DataFrame,
      radius: Double,
      k: Int,
      valueCol: String,
      weight: Column => Column,
      uncertainty: Boolean = false,
      planar: Boolean = false): DataFrame = {

    // r17: the heap aggregation already grouped by dst_id and produced
    // the rank-ordered <=k candidate array — the weighted sums are a
    // row-local fold over that array's fixed slots, not a second
    // explode + hash aggregation over k× the rows (measured at sf0.1 on
    // q17: the re-aggregate was 12.3 s of task time). foldSum replicates
    // Sum's null-skip and accumulation order bit-exactly, and the whole
    // merge stays inside one whole-stage-codegen projection.
    val agg = neighboursAgg(source, target, radius, k, planar, carry = Seq(valueCol))
    val slots = candSlots(k, weight)
    val wv = slots.map { case (w, s) => (w, s.getField(valueCol)) }
    val base = agg.select(
      col("dst_id"),
      foldSum(wv.map { case (w, v) => w * v }).as("_swv"),
      foldSum(wv.map { case (w, _) => w }).as("_sw"),
      foldSum(wv.map { case (w, _) => w * w }).as("_sw2"),
      foldSum(wv.map { case (w, v) => w * v * v }).as("_swv2"),
      size(col("cand")).cast("long").as("n"))
      .withColumn(valueCol, col("_swv") / col("_sw"))
    if (!uncertainty) base.select("dst_id", valueCol)
    else {
      val v1 = col("_sw"); val v2 = col("_sw2")
      val wvar = col("_swv2") - (col("_swv") * col("_swv")) / v1
      base
        .withColumn("stddev", sqrt((v1 / (v1 * v1 - v2)) * wvar))
        .select("dst_id", valueCol, "stddev", "n")
    }
  }

  /** Multi-channel weighted merge (`kd_tree.py:607-615`: trailing channel
    * dimension): every channel shares the neighbour set and weights; one
    * aggregation computes all channels' weighted means. With
    * `uncertainty = true` each channel also gets its unbiased weighted
    * stddev (`kd_tree.py:821-859` — same algebraic decomposition as the
    * single-channel path) plus its own valid-neighbour count `n_<c>` and a
    * shared `n` (count of joined neighbours, the reference's shared count).
    *
    * Masking is an INTENTIONAL DIVERGENCE from the reference: pyresample's
    * `_remask_data` (`kd_tree.py:1198-1205`) masks every output pixel any
    * masked neighbour contributes to and keeps one shared neighbour count
    * across channels; we instead drop the invalid value from that channel's
    * sums and renormalise over the remaining valid neighbours — a partially
    * observed cell keeps its estimate instead of going null, and channels
    * cannot cross-poison each other. Schema note (changed in round 4): the
    * uncertainty output interleaves per-channel `n_<c>` columns; the shared
    * `n` column is appended last for consumers of the old shape. A channel
    * with fewer than 2 valid neighbours reports a NULL stddev (the
    * reference emits NaN for count < 2). Still one hash aggregation,
    * partial sums only. */
  def weightedMulti(
      source: DataFrame,
      target: DataFrame,
      radius: Double,
      k: Int,
      valueCols: Seq[String],
      weight: Column => Column,
      planar: Boolean = false,
      uncertainty: Boolean = false): DataFrame = {
    // r17: row-local fixed-slot folds over the heap's candidate array
    // (see [[weighted]]) — one codegen projection instead of a second
    // explode + hash aggregation. A null/NaN channel value must not
    // poison that cell's mean/stddev for the channel, and must not count
    // as a used neighbour — mask every per-channel term (values AND
    // weights) on the channel's slot validity, exactly what the
    // reference's masked arrays do (`kd_tree.py:821-859`).
    val agg = neighboursAgg(source, target, radius, k, planar, carry = valueCols)
    val slots = candSlots(k, weight)
    def vOf(c: String): Seq[Column] = slots.map(_._2.getField(c))
    def validOf(c: String): Seq[Column] =
      vOf(c).map(v => v.isNotNull && !isnan(v.cast("double")))
    def masked(c: String, term: (Column, Column) => Column): Seq[Column] =
      slots.zip(vOf(c)).zip(validOf(c)).map { case (((w, _), v), ok) =>
        when(ok, term(w, v))
      }
    if (!uncertainty) {
      val cols = valueCols.map { c =>
        (foldSum(masked(c, (w, v) => w * v)) / foldSum(masked(c, (w, _) => w))).as(c)
      }
      agg.select(col("dst_id") +: cols: _*)
    } else {
      val outCols = valueCols.flatMap { c =>
        val v1 = foldSum(masked(c, (w, _) => w))
        val v2 = foldSum(masked(c, (w, _) => w * w))
        val swv = foldSum(masked(c, (w, v) => w * v))
        val swvv = foldSum(masked(c, (w, v) => w * v * v))
        val nC = validOf(c).map(ok => when(ok, lit(1L)).otherwise(0L)).reduce(_ + _)
        Seq((swv / v1).as(c),
          // < 2 valid neighbours: the decomposition divides by v1^2 - v2 = 0
          // (0.0 or NaN slips out of greatest) — report NULL instead
          when(nC >= 2,
            sqrt(greatest((v1 / (v1 * v1 - v2)) * (swvv - (swv * swv) / v1), lit(0.0))))
            .as(s"stddev_$c"),
          nC.as(s"n_$c"))
      } :+ size(col("cand")).cast("long").as("n")
      agg.select(col("dst_id") +: outCols: _*)
    }
  }

  /** Per-channel weight functions (`kd_tree.py:192-253`: resample_custom
    * accepts one weight function per channel): channels share the
    * neighbour set; each gets its own weighting, all in one aggregation. */
  def weightedMultiPerChannel(
      source: DataFrame,
      target: DataFrame,
      radius: Double,
      k: Int,
      channels: Seq[(String, Column => Column)],
      planar: Boolean = false): DataFrame = {
    // r17: same row-local fixed-slot fold as [[weighted]], one weight
    // chain per channel
    val agg = neighboursAgg(source, target, radius, k, planar, carry = channels.map(_._1))
    val aggs = channels.map { case (c, wf) =>
      val slots = candSlots(k, wf)
      val wv = slots.map { case (w, s) => (w, s.getField(c)) }
      (foldSum(wv.map { case (w, v) => w * v }) /
        foldSum(wv.map { case (w, _) => w })).as(c)
    }
    agg.select(col("dst_id") +: aggs: _*)
  }

  /** Gaussian weighting (`kd_tree.py:113-189`): sigma from sigmas param. */
  def gauss(
      source: DataFrame,
      target: DataFrame,
      radius: Double,
      sigma: Double,
      valueCol: String,
      k: Int = 8,
      uncertainty: Boolean = false): DataFrame =
    weighted(source, target, radius, k, valueCol,
      d2 => exp(-d2 / lit(sigma * sigma)), uncertainty)
}
