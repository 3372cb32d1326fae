package graft.queries

import graft.core.{AreaDef, Crs}
import graft.functions.GeoFunctions._
import graft.operators._
import graft.sources.Tiled
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Checkpoints.BarrierSyntax
import org.apache.spark.sql.types.DecimalType

/** The driver-facing query surface: one entry per SURVEY §2 operator, each
  * with a DuckDB oracle SQL that reproduces the Spark result **bit-exactly**.
  *
  * Exactness discipline (the whole file follows these rules):
  *   - synthetic geo columns derive from keys by pure +,-,*,/,%,floor —
  *     IEEE-exact and identical across engines;
  *   - sums of data values go through DECIMAL (exact) and are cast to DOUBLE
  *     only at the end; averages are CAST(sum AS DOUBLE)/count — a single
  *     correctly-rounded division, never a float running sum;
  *   - weighted k-NN merges pivot the k neighbours into fixed columns and
  *     add them in a fixed textual order — no order-nondeterministic SUM;
  *   - transcendentals (exp/trig) are rounded to a fixed scale immediately,
  *     making 1-ulp libm differences between the JVM and DuckDB invisible;
  *   - every query ends in a deterministic ORDER BY;
  *   - ties anywhere are broken by an id column.
  */
object Queries {

  final case class Q(build: (SparkSession, String) => DataFrame, sql: Option[String])

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** events with `ts` normalized to epoch NANOSECONDS (long), whatever the
    * parquet physically carries — the driver's generator has shipped both
    * INT64-ns (read as long via nanosAsLong) and TIMESTAMP-µs versions of
    * this table across rounds. Oracle twin: DuckDB's `epoch_ns(ts)` (µs
    * files) == the raw value (ns files), so `ts div 1000` here stays
    * bit-equal to `epoch_us(ts)` there either way. All entry points pin
    * the session zone to UTC, so the NTZ cast is zone-independent. */
  def eventsNs(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw
      case _ => raw.withColumn("ts", expr("unix_micros(cast(ts as timestamp)) * 1000L"))
    }
  }

  // ------------------------------------------------------------ fixtures

  /** 1-degree world grid on longlat — the oracle-checkable target area
    * (projection = identity, so cell arithmetic is pure). */
  val world: AreaDef =
    AreaDef("world1deg", Crs.fromProj4("+proj=longlat"), 360, 180, -180, -90, 180, 90)

  /** Synthetic swath derived from lineitem by exact integer/float
    * arithmetic (lon in [-179.95, 179.95], lat in [-84.95, 84.95]). */
  val swathExprs: Seq[String] = Seq(
    "l_orderkey * 10 + l_linenumber AS pid",
    "((l_orderkey * 37 + l_linenumber * 11) % 3600) / CAST(10 AS DOUBLE) - 180.0 + 0.05 AS lon",
    "((l_partkey * 53 + l_suppkey * 17) % 1700) / CAST(10 AS DOUBLE) - 85.0 + 0.05 AS lat",
    "l_quantity AS value",
    "CASE WHEN l_linenumber = 3 THEN NULL ELSE l_quantity END AS value_n",
    "(l_orderkey * 10 + l_linenumber) % 97 AS iy",
    "l_partkey % 89 AS ix",
    "l_returnflag AS flag")

  def swath(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem").selectExpr(swathExprs: _*)

  val swathSql: String = s"swath AS (SELECT ${swathExprs.mkString(", ")} FROM lineitem)"

  /** Target points derived from customer keys. */
  val tgtExprs: Seq[String] = Seq(
    "c_custkey AS dst_id",
    "((c_custkey * 29) % 3600) / CAST(10 AS DOUBLE) - 180.0 + 0.05 AS lon",
    "((c_custkey * 31) % 1700) / CAST(10 AS DOUBLE) - 85.0 + 0.05 AS lat")

  def tgt(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "customer").selectExpr(tgtExprs: _*)

  val tgtSql: String = s"tgt AS (SELECT ${tgtExprs.mkString(", ")} FROM customer)"

  /** The SQL twin of GeoFunctions.cellIndex on the world grid. */
  val cellSql: String =
    "(CAST(FLOOR((90.0 - lat) / 1.0) AS BIGINT) * 360 + CAST(FLOOR((lon - -180.0) / 1.0) AS BIGINT))"

  val swCellSql: String = s"sw AS (SELECT *, $cellSql AS cell FROM swath)"

  private def bucket = BucketResampler(world)

  private val dec = DecimalType(18, 2)

  // ======================================================== bucket family

  val q01_bucket_count: Q = Q(
    (s, d) => bucket.count(swath(s, d)).orderBy("cell"),
    Some(s"""WITH $swathSql, $swCellSql
      SELECT cell, CAST(COUNT(*) AS BIGINT) AS n FROM sw GROUP BY cell ORDER BY cell"""))

  val q02_bucket_sum: Q = Q(
    (s, d) =>
      bucket.withCell(swath(s, d)).groupBy("cell")
        .agg(sum(col("value_n").cast(dec)).cast("double").as("sum_v"))
        .orderBy("cell"),
    Some(s"""WITH $swathSql, $swCellSql
      SELECT cell, CAST(SUM(CAST(value_n AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
      FROM sw GROUP BY cell ORDER BY cell"""))

  val q03_bucket_sum_noskip: Q = Q(
    (s, d) =>
      bucket.withCell(swath(s, d)).groupBy("cell")
        .agg(
          sum(col("value_n").cast(dec)).cast("double").as("_s"),
          max(when(col("value_n").isNull, 1).otherwise(0)).as("_bad"))
        .select(col("cell"),
          when(col("_bad") === 1, lit(null).cast("double")).otherwise(col("_s")).as("sum_v"))
        .orderBy("cell"),
    Some(s"""WITH $swathSql, $swCellSql
      SELECT cell,
        CASE WHEN MAX(CASE WHEN value_n IS NULL THEN 1 ELSE 0 END) = 1 THEN NULL
             ELSE CAST(SUM(CAST(value_n AS DECIMAL(18,2))) AS DOUBLE) END AS sum_v
      FROM sw GROUP BY cell ORDER BY cell"""))

  val q04_bucket_avg: Q = Q(
    (s, d) =>
      bucket.withCell(swath(s, d)).groupBy("cell")
        .agg(
          sum(col("value_n").cast(dec)).cast("double").as("_s"),
          count(col("value_n")).as("_n"))
        .select(col("cell"), (col("_s") / col("_n")).as("avg_v"))
        .orderBy("cell"),
    Some(s"""WITH $swathSql, $swCellSql
      SELECT cell,
        CAST(SUM(CAST(value_n AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value_n) AS avg_v
      FROM sw GROUP BY cell ORDER BY cell"""))

  val q05_bucket_minmax: Q = Q(
    (s, d) =>
      bucket.withCell(swath(s, d)).groupBy("cell")
        .agg(min("value").as("min_v"), max("value").as("max_v"))
        .orderBy("cell"),
    Some(s"""WITH $swathSql, $swCellSql
      SELECT cell, MIN(value) AS min_v, MAX(value) AS max_v
      FROM sw GROUP BY cell ORDER BY cell"""))

  val q06_bucket_absmax: Q = Q(
    (s, d) => {
      // lexicographic max(struct(|v2|, v2, -pid)) selects exactly the row a
      // row_number window over (|v2| DESC, v2 DESC, pid ASC) would rank
      // first — but as a hash aggregation with map-side partial combine:
      // one slim row per (task, cell) enters the shuffle instead of every
      // swath row passing through a sort
      bucket.withCell(swath(s, d))
        .withColumn("v2", col("value") - lit(25.0))
        .groupBy("cell")
        .agg(max(struct(abs(col("v2")), col("v2"), (-col("pid")).as("_np"))).as("_m"))
        .select(col("cell"), col("_m.v2").as("abs_max"))
        .orderBy("cell")
    },
    Some(s"""WITH $swathSql, $swCellSql,
      v AS (SELECT cell, value - 25.0 AS v2, pid FROM sw),
      r AS (SELECT cell, v2, ROW_NUMBER() OVER
              (PARTITION BY cell ORDER BY ABS(v2) DESC, v2 DESC, pid ASC) AS rn FROM v)
      SELECT cell, v2 AS abs_max FROM r WHERE rn = 1 ORDER BY cell"""))

  val q07_bucket_fractions: Q = Q(
    (s, d) => bucket.fractions(swath(s, d), "flag")
      .select("cell", "flag", "fraction").orderBy("cell", "flag"),
    Some(s"""WITH $swathSql, $swCellSql,
      c AS (SELECT cell, flag, COUNT(*) AS n FROM sw GROUP BY cell, flag),
      t AS (SELECT cell, COUNT(*) AS tot FROM sw GROUP BY cell)
      SELECT c.cell, c.flag, CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE) AS fraction
      FROM c JOIN t ON c.cell = t.cell ORDER BY c.cell, c.flag"""))

  // ================================================= filters / predicates

  val q08_reduce_bbox: Q = Q(
    (s, d) =>
      swath(s, d)
        .filter(DataReduce.bboxPredicate(col("lon"), col("lat"), 150.0, -30.0, -150.0, 30.0))
        .groupBy("flag")
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast(dec)).cast("double").as("sum_v"))
        .orderBy("flag"),
    Some(s"""WITH $swathSql
      SELECT flag, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
      FROM swath
      WHERE (lat >= -30.0 AND lat <= 30.0) AND (lon >= 150.0 OR lon <= -150.0)
      GROUP BY flag ORDER BY flag"""))

  /** Geo-radius filter through the native HaversineDist expression with the
    * GeoRadiusPruning rule active: the optimizer injects the bbox conjunct
    * (scan-prunable); result identical to the bare predicate. */
  val q39_georadius: Q = Q(
    (s, d) => {
      if (!s.experimental.extraOptimizations.contains(graft.functions.GeoRadiusPruning))
        s.experimental.extraOptimizations =
          s.experimental.extraOptimizations :+ graft.functions.GeoRadiusPruning
      swath(s, d)
        .filter(graft.functions.HaversineDist(col("lon"), col("lat"), lit(10.0), lit(50.0)) <= lit(2000000.0))
        .groupBy("flag")
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast(dec)).cast("double").as("sum_v"))
        .orderBy("flag")
    },
    Some(s"""WITH $swathSql
      SELECT flag, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
      FROM swath
      WHERE 2.0 * 6370997.0 * ASIN(LEAST(1.0, SQRT(
              POWER(SIN((RADIANS(50.0) - RADIANS(lat)) / 2), 2) +
              COS(RADIANS(lat)) * COS(RADIANS(50.0)) *
              POWER(SIN((RADIANS(10.0) - RADIANS(lon)) / 2), 2)))) <= 2000000.0
      GROUP BY flag ORDER BY flag"""))

  val q09_wrap_lon: Q = Q(
    (s, d) =>
      tgt(s, d).filter(col("dst_id") % 40 === 0)
        .select(col("dst_id"), wrapLon(col("lon") * lit(3.0)).as("wrapped"))
        .orderBy("dst_id"),
    Some(s"""WITH $tgtSql
      SELECT dst_id,
        (lon * 3.0) - 360.0 * FLOOR(((lon * 3.0) + 180.0) / 360.0) AS wrapped
      FROM tgt WHERE dst_id % 40 = 0 ORDER BY dst_id"""))

  val q10_union_concat: Q = Q(
    (s, d) => {
      val sw = swath(s, d)
      bucket.count(sw.filter(col("pid") % 10 === 1).unionByName(sw.filter(col("pid") % 10 === 2)))
        .orderBy("cell")
    },
    Some(s"""WITH $swathSql,
      u AS (SELECT * FROM swath WHERE pid % 10 = 1
            UNION ALL SELECT * FROM swath WHERE pid % 10 = 2),
      uc AS (SELECT *, $cellSql AS cell FROM u)
      SELECT cell, CAST(COUNT(*) AS BIGINT) AS n FROM uc GROUP BY cell ORDER BY cell"""))

  val q11_grid_filter: Q = Q(
    (s, d) => {
      val mask = bucket.count(swath(s, d)).filter(col("n") >= 8)
      DataReduce.gridFilter(tgt(s, d), world, mask)
        .select("dst_id", "cell").orderBy("dst_id")
    },
    Some(s"""WITH $swathSql, $swCellSql, $tgtSql,
      m AS (SELECT cell FROM sw GROUP BY cell HAVING COUNT(*) >= 8),
      tc AS (SELECT dst_id, $cellSql AS cell FROM tgt)
      SELECT dst_id, cell FROM tc WHERE cell IN (SELECT cell FROM m) ORDER BY dst_id"""))

  val q12_linesample: Q = Q(
    (s, d) => {
      val grid = bucket.withCell(swath(s, d)).groupBy("cell")
        .agg(
          sum(col("value").cast(dec)).cast("double").as("_s"),
          count(col("value")).as("_n"))
        .select(col("cell"), (col("_s") / col("_n")).as("avg_v"))
      Linesample.sample(tgt(s, d), world, grid)
        .select("dst_id", "cell", "avg_v").orderBy("dst_id")
    },
    Some(s"""WITH $swathSql, $swCellSql, $tgtSql,
      g AS (SELECT cell, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value) AS avg_v
            FROM sw GROUP BY cell),
      tc AS (SELECT dst_id, $cellSql AS cell FROM tgt)
      SELECT tc.dst_id, tc.cell, g.avg_v FROM tc LEFT JOIN g ON g.cell = tc.cell
      ORDER BY tc.dst_id"""))

  val q13_area_grid: Q = Q(
    (s, d) => {
      val eu = AreaDef("eu", Crs.fromProj4("+proj=longlat"), 40, 30, -10, 35, 30, 65)
      eu.grid(s).select("cell", "y", "x", "proj_x", "proj_y").orderBy("cell")
    },
    Some("""SELECT cell,
        CAST(FLOOR(cell / 40) AS INTEGER) AS y,
        CAST(cell % 40 AS INTEGER) AS x,
        -10.0 + ((cell % 40) + 0.5) * 1.0 AS proj_x,
        65.0 - (CAST(FLOOR(cell / 40) AS INTEGER) + 0.5) * 1.0 AS proj_y
      FROM range(0, 1200) t(cell) ORDER BY cell"""))

  // ============================================== k-NN join family (J1-J4)

  /** k-NN source point set: a DISTINCT projection keyed by a collision-free
    * composite id (lineitem rows are NOT unique on (orderkey, linenumber) in
    * this synthetic data; the id must be unique for deterministic rank
    * tie-breaks and fan-out-free value gathers). */
  private val ksrcExprs: Seq[String] = Seq(
    "(((l_orderkey * 8 + l_linenumber) * 1048576 + l_partkey) * 16384 + l_suppkey) * 64 + CAST(FLOOR(l_quantity) AS BIGINT) AS src_id",
    "((l_orderkey * 37 + l_linenumber * 11) % 3600) / CAST(10 AS DOUBLE) - 180.0 + 0.05 AS lon",
    "((l_partkey * 53 + l_suppkey * 17) % 1700) / CAST(10 AS DOUBLE) - 85.0 + 0.05 AS lat",
    "l_quantity AS value",
    // second channel for multi-channel merges; a pure function of the id's
    // key components, so the DISTINCT row set is unchanged
    "CAST(l_partkey % 83 AS DOUBLE) + l_quantity AS value2")

  private val ksrcSql: String =
    s"ksrc AS (SELECT DISTINCT ${ksrcExprs.mkString(", ")} FROM lineitem)"

  private def srcForKnn(s: SparkSession, d: String): DataFrame =
    table(s, d, "lineitem").selectExpr(ksrcExprs: _*).distinct()

  /** [[srcForKnn]] with parallelism restored for the geocentric stere
    * queries: AQE coalesces the distinct's tiny output to ONE partition
    * (sub-minPartitionSize), and the 27-cell geocentric join's ~170x
    * candidate fan-out + partial top-k aggregation then run in a single
    * task (~4s of q45's 6s). One round-robin exchange of the deduped rows
    * fixes that. The planar 9-cell queries skip it — their fan-out is small
    * enough that the extra exchange costs more than the serial join. */
  private def srcForKnnRebalanced(s: SparkSession, d: String): DataFrame =
    srcForKnn(s, d).repartition(s.sparkContext.defaultParallelism)

  /** Shared SQL: brute-force candidates within radius 2.0 deg + rank. */
  private val knnRankedSql: String =
    s"""$ksrcSql,
    cand AS (
      SELECT t.dst_id, s.src_id,
             (t.lon - s.lon) * (t.lon - s.lon) + (t.lat - s.lat) * (t.lat - s.lat) AS dist2,
             s.value, s.value2
      FROM tgt t CROSS JOIN ksrc s
      WHERE (t.lon - s.lon) * (t.lon - s.lon) + (t.lat - s.lat) * (t.lat - s.lat) <= 4.0),
    ranked AS (
      SELECT dst_id, src_id, dist2, value, value2,
             ROW_NUMBER() OVER (PARTITION BY dst_id ORDER BY dist2 ASC, src_id ASC) AS rank
      FROM cand)"""

  val q14_knn_nearest: Q = Q(
    (s, d) => {
      val src = srcForKnn(s, d)
      KnnResample.neighbours(src, tgt(s, d), 2.0, 1, planar = true, carry = Seq("value"))
        .select("dst_id", "src_id", "dist2", "value")
        .orderBy("dst_id")
    },
    Some(s"""WITH $swathSql, $tgtSql, $knnRankedSql
      SELECT dst_id, src_id, dist2, value FROM ranked WHERE rank = 1 ORDER BY dst_id"""))

  /** The q16/q17 pivot columns (wv_i, w_i [, wvv_i, ww_i]) over the
    * rank slots of `neighboursAgg`'s candidate array
    * (`KnnResample.candSlots`) — same names and values as the old
    * explode + `max(when(rank === i, expr))` pivot aggregate, bit-exactly:
    * rank i names at most ONE row, so the max over the group is slot i's
    * expression. The whole pivot is one codegen projection (r17; the
    * Generate + double HashAggregate cost 12.3 s of task time on q17 at
    * sf0.1). */
  private def pivotAgg(
      agg: DataFrame, k: Int, wOf: Column => Column, extra: Boolean): DataFrame = {
    val cols = KnnResample.candSlots(k, wOf).zipWithIndex.flatMap { case ((w, s), i0) =>
      val i = i0 + 1
      val v = s.getField("value")
      Seq((w * v).as(s"wv$i"), w.as(s"w$i")) ++
        (if (extra) Seq((w * v * v).as(s"wvv$i"), (w * w).as(s"ww$i")) else Nil)
    }
    agg.select(col("dst_id") +: cols: _*)
  }
  private def fixedSum(prefix: String, k: Int): Column =
    (1 to k).map(i => coalesce(col(s"$prefix$i"), lit(0.0))).reduce(_ + _)
  private def fixedSumSql(prefix: String, k: Int): String =
    (1 to k).map(i => s"COALESCE($prefix$i, 0.0)").mkString(" + ")
  private def pivotSql(k: Int, wExpr: String, extra: Boolean): String = {
    val cols = (1 to k).flatMap { i =>
      Seq(
        s"MAX(CASE WHEN rank = $i THEN ($wExpr) * value END) AS wv$i",
        s"MAX(CASE WHEN rank = $i THEN $wExpr END) AS w$i") ++
        (if (extra)
          Seq(
            s"MAX(CASE WHEN rank = $i THEN ($wExpr) * value * value END) AS wvv$i",
            s"MAX(CASE WHEN rank = $i THEN ($wExpr) * ($wExpr) END) AS ww$i")
        else Nil)
    }
    s"piv AS (SELECT dst_id, ${cols.mkString(", ")} FROM ranked WHERE rank <= $k GROUP BY dst_id)"
  }

  val q15_knn_custom: Q = Q(
    (s, d) => {
      val src = srcForKnn(s, d)
      val agg = KnnResample.neighboursAgg(src, tgt(s, d), 2.0, 5, planar = true,
        carry = Seq("value"))
      pivotAgg(agg, 5, d2 => lit(4.5) - d2, extra = false)
        .select(col("dst_id"), (fixedSum("wv", 5) / fixedSum("w", 5)).as("custom_v"))
        .orderBy("dst_id")
    },
    Some(s"""WITH $swathSql, $tgtSql, $knnRankedSql, ${pivotSql(5, "4.5 - dist2", extra = false)}
      SELECT dst_id, (${fixedSumSql("wv", 5)}) / (${fixedSumSql("w", 5)}) AS custom_v
      FROM piv ORDER BY dst_id"""))

  val q16_knn_gauss: Q = Q(
    (s, d) => {
      val src = srcForKnn(s, d)
      val agg = KnnResample.neighboursAgg(src, tgt(s, d), 2.0, 8, planar = true,
        carry = Seq("value"))
      pivotAgg(agg, 8, d2 => round(exp(-d2 / lit(2.25)), 7), extra = false)
        .select(col("dst_id"), (fixedSum("wv", 8) / fixedSum("w", 8)).as("gauss_v"))
        .orderBy("dst_id")
    },
    Some(s"""WITH $swathSql, $tgtSql, $knnRankedSql,
      ${pivotSql(8, "ROUND(EXP(-dist2 / 2.25), 7)", extra = false)}
      SELECT dst_id, (${fixedSumSql("wv", 8)}) / (${fixedSumSql("w", 8)}) AS gauss_v
      FROM piv ORDER BY dst_id"""))

  val q17_knn_uncertainty: Q = Q(
    (s, d) => {
      val src = srcForKnn(s, d)
      val agg = KnnResample.neighboursAgg(src, tgt(s, d), 2.0, 8, planar = true,
        carry = Seq("value"))
      val g = pivotAgg(agg, 8, d2 => round(exp(-d2 / lit(2.25)), 7), extra = true)
      val v1 = fixedSum("w", 8); val v2 = fixedSum("ww", 8)
      val swv = fixedSum("wv", 8); val swvv = fixedSum("wvv", 8)
      val n = (1 to 8).map(i => when(col(s"w$i").isNotNull, 1L).otherwise(0L)).reduce(_ + _)
      g.withColumn("n", n)
        .filter(col("n") >= 2)
        .select(
          col("dst_id"),
          (swv / v1).as("mean_v"),
          sqrt(greatest((v1 / (v1 * v1 - v2)) * (swvv - (swv * swv) / v1), lit(0.0))).as("stddev"),
          col("n"))
        .orderBy("dst_id")
    },
    Some {
      val v1 = s"(${fixedSumSql("w", 8)})"; val v2 = s"(${fixedSumSql("ww", 8)})"
      val swv = s"(${fixedSumSql("wv", 8)})"; val swvv = s"(${fixedSumSql("wvv", 8)})"
      val n = "CAST(" + (1 to 8).map(i => s"(CASE WHEN w$i IS NOT NULL THEN 1 ELSE 0 END)").mkString(" + ") + " AS BIGINT)"
      s"""WITH $swathSql, $tgtSql, $knnRankedSql,
      ${pivotSql(8, "ROUND(EXP(-dist2 / 2.25), 7)", extra = true)},
      f AS (SELECT dst_id, $swv / $v1 AS mean_v,
              SQRT(GREATEST(($v1 / ($v1 * $v1 - $v2)) * ($swvv - ($swv * $swv) / $v1), 0.0)) AS stddev,
              $n AS n
            FROM piv)
      SELECT dst_id, mean_v, stddev, n FROM f WHERE n >= 2 ORDER BY dst_id"""
    })

  /** Multi-channel uncertainty merge (`kd_tree.py:607-615` + `:821-859`):
    * two channels share the neighbour set and gauss weights; each gets its
    * weighted mean + unbiased weighted stddev, plus the shared count — the
    * exactness-disciplined twin of `KnnResample.weightedMulti(uncertainty
    * = true)` (same pivot rules as q17, doubled per channel). */
  val q50_multi_uncertainty: Q = Q(
    (s, d) => {
      val src = srcForKnn(s, d)
      val agg = KnnResample.neighboursAgg(src, tgt(s, d), 2.0, 8, planar = true,
        carry = Seq("value", "value2"))
      // rank-slot pivot (see pivotAgg): same columns, one codegen projection
      val cols = KnnResample.candSlots(8, d2 => round(exp(-d2 / lit(2.25)), 7)).zipWithIndex
        .flatMap { case ((w, sl), i0) =>
          val i = i0 + 1
          val va = sl.getField("value"); val vb = sl.getField("value2")
          Seq(
            w.as(s"w$i"),
            (w * w).as(s"ww$i"),
            (w * va).as(s"wva$i"),
            (w * va * va).as(s"wvva$i"),
            (w * vb).as(s"wvb$i"),
            (w * vb * vb).as(s"wvvb$i"))
        }
      val g = agg.select(col("dst_id") +: cols: _*)
      val v1 = fixedSum("w", 8); val v2 = fixedSum("ww", 8)
      val swva = fixedSum("wva", 8); val swvva = fixedSum("wvva", 8)
      val swvb = fixedSum("wvb", 8); val swvvb = fixedSum("wvvb", 8)
      val n = (1 to 8).map(i => when(col(s"w$i").isNotNull, 1L).otherwise(0L)).reduce(_ + _)
      g.withColumn("n", n)
        .filter(col("n") >= 2)
        .select(
          col("dst_id"),
          (swva / v1).as("mean_a"),
          sqrt(greatest((v1 / (v1 * v1 - v2)) * (swvva - (swva * swva) / v1), lit(0.0))).as("stddev_a"),
          (swvb / v1).as("mean_b"),
          sqrt(greatest((v1 / (v1 * v1 - v2)) * (swvvb - (swvb * swvb) / v1), lit(0.0))).as("stddev_b"),
          col("n"))
        .orderBy("dst_id")
    },
    Some {
      val wE = "ROUND(EXP(-dist2 / 2.25), 7)"
      val cols = (1 to 8).flatMap { i =>
        Seq(
          s"MAX(CASE WHEN rank = $i THEN $wE END) AS w$i",
          s"MAX(CASE WHEN rank = $i THEN ($wE) * ($wE) END) AS ww$i",
          s"MAX(CASE WHEN rank = $i THEN ($wE) * value END) AS wva$i",
          s"MAX(CASE WHEN rank = $i THEN ($wE) * value * value END) AS wvva$i",
          s"MAX(CASE WHEN rank = $i THEN ($wE) * value2 END) AS wvb$i",
          s"MAX(CASE WHEN rank = $i THEN ($wE) * value2 * value2 END) AS wvvb$i")
      }
      val v1 = s"(${fixedSumSql("w", 8)})"; val v2 = s"(${fixedSumSql("ww", 8)})"
      val swva = s"(${fixedSumSql("wva", 8)})"; val swvva = s"(${fixedSumSql("wvva", 8)})"
      val swvb = s"(${fixedSumSql("wvb", 8)})"; val swvvb = s"(${fixedSumSql("wvvb", 8)})"
      val n = "CAST(" + (1 to 8).map(i => s"(CASE WHEN w$i IS NOT NULL THEN 1 ELSE 0 END)").mkString(" + ") + " AS BIGINT)"
      s"""WITH $swathSql, $tgtSql, $knnRankedSql,
      piv AS (SELECT dst_id, ${cols.mkString(", ")} FROM ranked WHERE rank <= 8 GROUP BY dst_id),
      f AS (SELECT dst_id,
              $swva / $v1 AS mean_a,
              SQRT(GREATEST(($v1 / ($v1 * $v1 - $v2)) * ($swvva - ($swva * $swva) / $v1), 0.0)) AS stddev_a,
              $swvb / $v1 AS mean_b,
              SQRT(GREATEST(($v1 / ($v1 * $v1 - $v2)) * ($swvvb - ($swvb * $swvb) / $v1), 0.0)) AS stddev_b,
              $n AS n
            FROM piv)
      SELECT dst_id, mean_a, stddev_a, mean_b, stddev_b, n FROM f WHERE n >= 2 ORDER BY dst_id"""
    })

  // ===================================================== scalar functions

  val q18_haversine: Q = Q(
    (s, d) =>
      tgt(s, d).filter(col("dst_id") % 10 === 0)
        .select(col("dst_id"),
          round(haversine(col("lon"), col("lat"), lit(0.0), lit(0.0)), 2).as("hav_m"))
        .orderBy("dst_id"),
    Some(s"""WITH $tgtSql
      SELECT dst_id,
        ROUND(12741994.0 * ASIN(LEAST(1.0, SQRT(
          POWER(SIN((RADIANS(0.0) - RADIANS(lat)) / 2), 2) +
          COS(RADIANS(lat)) * COS(RADIANS(0.0)) *
          POWER(SIN((RADIANS(0.0) - RADIANS(lon)) / 2), 2)))), 2) AS hav_m
      FROM tgt WHERE dst_id % 10 = 0 ORDER BY dst_id"""))

  val q19_lonlat2xyz: Q = Q(
    (s, d) =>
      tgt(s, d).filter(col("dst_id") % 10 === 0)
        .select(col("dst_id"),
          round(lonlat2x(col("lon"), col("lat")), 4).as("gx"),
          round(lonlat2y(col("lon"), col("lat")), 4).as("gy"),
          round(lonlat2z(col("lat")), 4).as("gz"))
        .orderBy("dst_id"),
    Some(s"""WITH $tgtSql
      SELECT dst_id,
        ROUND(COS(RADIANS(lat)) * COS(RADIANS(lon)) * 6370997.0, 4) AS gx,
        ROUND(COS(RADIANS(lat)) * SIN(RADIANS(lon)) * 6370997.0, 4) AS gy,
        ROUND(SIN(RADIANS(lat)) * 6370997.0, 4) AS gz
      FROM tgt WHERE dst_id % 10 = 0 ORDER BY dst_id"""))

  val q20_swath_aggregate: Q = Q(
    (s, d) =>
      swath(s, d)
        .withColumn("by", floor(col("iy") / lit(8.0)).cast("long"))
        .withColumn("bx", floor(col("ix") / lit(8.0)).cast("long"))
        .groupBy("by", "bx")
        .agg(
          sum(col("lon").cast(DecimalType(9, 2))).cast("double").as("_slon"),
          sum(col("lat").cast(DecimalType(9, 2))).cast("double").as("_slat"),
          count(lit(1)).as("n"))
        .select(col("by"), col("bx"),
          (col("_slon") / col("n")).as("avg_lon"),
          (col("_slat") / col("n")).as("avg_lat"),
          col("n"))
        .orderBy("by", "bx"),
    Some(s"""WITH $swathSql
      SELECT CAST(FLOOR(iy / 8.0) AS BIGINT) AS by, CAST(FLOOR(ix / 8.0) AS BIGINT) AS bx,
        CAST(SUM(CAST(lon AS DECIMAL(9,2))) AS DOUBLE) / COUNT(*) AS avg_lon,
        CAST(SUM(CAST(lat AS DECIMAL(9,2))) AS DOUBLE) / COUNT(*) AS avg_lat,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM swath GROUP BY 1, 2 ORDER BY 1, 2"""))

  // ===================================================== relational bench

  val q21_pricing_agg: Q = Q(
    (s, d) =>
      table(s, d, "lineitem")
        .filter(expr("l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(dec)).cast("double").as("sum_base"),
          sum(col("l_extendedprice").cast(dec) *
            (lit(BigDecimal("1.00")).cast(DecimalType(3, 2)) - col("l_discount").cast(DecimalType(4, 2))))
            .cast("double").as("sum_disc"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus"),
    Some("""SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
             (CAST(1.00 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""))

  val q22_top_revenue: Q = Q(
    (s, d) => {
      val rev = table(s, d, "lineitem")
        .groupBy("l_orderkey")
        .agg(sum(col("l_extendedprice").cast(dec) *
          (lit(BigDecimal("1.00")).cast(DecimalType(3, 2)) - col("l_discount").cast(DecimalType(4, 2))))
          .cast("double").as("revenue"))
      rev.join(table(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select("l_orderkey", "revenue", "o_orderstatus")
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    },
    Some("""WITH r AS (
        SELECT l_orderkey,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
               (CAST(1.00 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        FROM lineitem GROUP BY l_orderkey)
      SELECT r.l_orderkey, r.revenue, o.o_orderstatus
      FROM r JOIN orders o ON o.o_orderkey = r.l_orderkey
      ORDER BY r.revenue DESC, r.l_orderkey ASC LIMIT 10"""))

  // ========================================== dedup / text (extension ops)

  val q23_dedup_exact: Q = Q(
    (s, d) => Dedup.exact(table(s, d, "documents")).orderBy("h"),
    Some("""SELECT md5(text) AS h, MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY md5(text) ORDER BY h"""))

  val q24_fingerprint: Q = Q(
    (s, d) => Dedup.fingerprint(table(s, d, "documents")).orderBy("fp"),
    Some("""SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp,
        MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY 1 ORDER BY fp"""))

  /** documents with parallelism restored: the sf tables are single-row-group
    * parquet files, so the scan is one task and AQE keeps every downstream
    * stage at one partition — the shingle explode + signature aggregation of
    * the dedup queries then run single-threaded. One cheap round-robin
    * exchange of the raw docs spreads them (same rationale as srcForKnn's
    * post-distinct repartition; at real scale a many-file table scan is
    * already parallel and this helper would be the identity). */
  private def docsRebalanced(s: SparkSession, d: String): DataFrame =
    table(s, d, "documents").repartition(s.sparkContext.defaultParallelism)

  /** MinHash banded-LSH pair CTEs (row-local form) shared by q25/q133:
    * per-doc bigram sets, 8 minhashes, 4×2 banding, candidate distinct,
    * and the Jaccard verify columns in `v` (filter ≥ threshold at use
    * site). Same hash family and banding as `Dedup.minhashLsh`. */
  private def minhashPairCtes: String = minhashPairCtes(None)

  /** `maxBandSize = Some(cap)` adds the hot-bucket prune between the
    * band table and the candidate self-join — the oracle form of
    * `Dedup.minhashLsh(maxBandSize = cap)`. */
  private def minhashPairCtes(maxBandSize: Option[Int]): String = {
    val sigs = (1 to 8)
      .map(i => "list_min(list_transform(bgs, x -> " +
        s"CAST('0x' || substr(md5(x || '#$i'), 1, 15) AS BIGINT))) AS h$i")
      .mkString(", ")
    val candSrc = maxBandSize match {
      case None => "bands"
      case Some(cap) =>
        s"""(SELECT b.* FROM bands b JOIN (
           SELECT band_idx, band FROM bands GROUP BY band_idx, band
           HAVING COUNT(*) <= $cap) ok USING (band_idx, band))"""
    }
    s"""bg AS (SELECT doc_id, list_distinct(${duckGrams(2)}) AS bgs
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
      sig AS (SELECT doc_id, $sigs FROM bg),
      bands AS (
        SELECT doc_id, 0 AS band_idx, CAST(h1 AS VARCHAR) || '_' || CAST(h2 AS VARCHAR) AS band FROM sig
        UNION ALL SELECT doc_id, 1 AS band_idx, CAST(h3 AS VARCHAR) || '_' || CAST(h4 AS VARCHAR) AS band FROM sig
        UNION ALL SELECT doc_id, 2 AS band_idx, CAST(h5 AS VARCHAR) || '_' || CAST(h6 AS VARCHAR) AS band FROM sig
        UNION ALL SELECT doc_id, 3 AS band_idx, CAST(h7 AS VARCHAR) || '_' || CAST(h8 AS VARCHAR) AS band FROM sig),
      cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
               FROM $candSrc a JOIN $candSrc b
                 ON a.band_idx = b.band_idx AND a.band = b.band AND a.doc_id < b.doc_id),
      v AS (SELECT c.d1, c.d2,
              CAST(len(list_intersect(b1.bgs, b2.bgs)) AS BIGINT) AS i,
              CAST(len(b1.bgs) AS BIGINT) AS sz1, CAST(len(b2.bgs) AS BIGINT) AS sz2
            FROM cand c JOIN bg b1 ON b1.doc_id = c.d1 JOIN bg b2 ON b2.doc_id = c.d2)"""
  }

  /** Blocked word-set Jaccard pair CTEs shared by q26/q64 — row-local
    * form (one distinct-word list per doc, `list_intersect` per candidate
    * pair): same allocator discipline as the other text oracles. */
  private val blockedJaccardPairsSql: String =
    """ws AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS dw FROM documents),
      cand AS (SELECT a.doc_id AS d1, b.doc_id AS d2 FROM documents a JOIN documents b
               ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id),
      v AS (SELECT c.d1, c.d2,
              CAST(len(list_intersect(w1.dw, w2.dw)) AS BIGINT) AS i,
              CAST(len(w1.dw) AS BIGINT) AS sz1, CAST(len(w2.dw) AS BIGINT) AS sz2
            FROM cand c JOIN ws w1 ON w1.doc_id = c.d1 JOIN ws w2 ON w2.doc_id = c.d2)"""

  val q25_minhash_lsh: Q = Q(
    (s, d) => Dedup.minhashLsh(docsRebalanced(s, d), maxBandSize = Dedup.Uncapped)
      .orderBy("d1", "d2"),
    // Row-local oracle form (same allocator discipline as q54-q58): the
    // per-doc bigram SET is one list column; each minhash is a
    // list_transform fold over it, and the Jaccard verify intersects the
    // two lists per candidate pair — the former relational form
    // (unnest-all-bigrams → MIN group-by → 3-way word join) was the last
    // oracle still failing a 100 MB memory_limit stress.
    Some(s"""WITH $minhashPairCtes
      SELECT d1, d2, CAST(i AS DOUBLE) / CAST(sz1 + sz2 - i AS DOUBLE) AS jaccard
      FROM v WHERE CAST(i AS DOUBLE) / CAST(sz1 + sz2 - i AS DOUBLE) >= 0.4
      ORDER BY d1, d2"""))

  val q26_ngram_jaccard: Q = Q(
    (s, d) => Dedup.ngramJaccard(table(s, d, "documents"), Seq("lang", "n_chars"),
        maxBlockSize = Dedup.Uncapped)
      .orderBy("d1", "d2"),
    Some(s"""WITH $blockedJaccardPairsSql
      SELECT d1, d2, CAST(i AS DOUBLE) / CAST(sz1 + sz2 - i AS DOUBLE) AS jaccard
      FROM v WHERE CAST(i AS DOUBLE) / CAST(sz1 + sz2 - i AS DOUBLE) >= 0.3
      ORDER BY d1, d2"""))

  val q27_token_stats: Q = Q(
    (s, d) => TextAnalysis.tokenStats(table(s, d, "documents")).orderBy("doc_id"),
    Some(s"""SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        CAST(len(regexp_extract_all(text, '${TextAnalysis.BpeTokenPattern.replace("'", "''")}')) AS BIGINT) AS n_bpe_tokens,
        CAST(length(text) AS BIGINT) AS n_chars,
        CAST(CAST(length(text) AS BIGINT) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS BIGINT) AS chars_per_word
      FROM documents ORDER BY doc_id"""))

  val q28_quality: Q = Q(
    (s, d) => TextAnalysis.quality(table(s, d, "documents")).orderBy("doc_id"),
    Some(s"""SELECT doc_id,
        CAST(len(w) AS BIGINT) AS n_words,
        CAST(length(text) - length(regexp_replace(text, '[.,!?;]', '', 'g')) AS BIGINT) AS n_punct,
        CAST(length(text) AS BIGINT) AS n_chars,
        CAST($duckStopHits AS BIGINT) AS stop_hits,
        CAST($duckStopHits AS DOUBLE) / CAST(len(w) AS BIGINT) AS stop_ratio,
        CAST(CAST(length(text) - length(regexp_replace(text, '[.,!?;]', '', 'g')) AS BIGINT) AS DOUBLE)
          / CAST(length(text) AS BIGINT) AS punct_ratio
      FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents) ORDER BY doc_id"""))

  val q29_langid: Q = Q(
    (s, d) => TextAnalysis.langId(table(s, d, "documents")).orderBy("doc_id"),
    Some(s"""WITH h AS (SELECT doc_id, $duckLangHitDefs
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
      SELECT doc_id, $duckLangArgmax AS pred_lang,
        CAST(greatest($duckLangCols) AS BIGINT) AS hits
      FROM h WHERE greatest($duckLangCols) > 0 ORDER BY doc_id"""))

  /** Per-row doc scoring (the streaming ingest cleaner's scoring stage,
    * `StreamingOps.scoreDocs`): higher-order-function stop/punct ratios +
    * join-free language argmax — the oracle replays the same lambda
    * filters with DuckDB's list functions and the argmax as an
    * alphabetical-first CASE cascade (identical to the (hits desc,
    * lang asc) selection), all row-local. */
  val q54_score_docs: Q = Q(
    (s, d) => graft.streaming.StreamingOps.scoreDocs(table(s, d, "documents"))
      .select("doc_id", "n_words", "stop_ratio", "punct_ratio", "pred_lang")
      .orderBy("doc_id"),
    Some(s"""WITH h AS (SELECT doc_id, text, w,
        $duckLangHitDefs
      FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents))
      SELECT doc_id,
        CAST(len(w) AS BIGINT) AS n_words,
        CAST($duckStopHits AS DOUBLE) / CAST(len(w) AS BIGINT) AS stop_ratio,
        CAST(length(text) - length(regexp_replace(text, '[.,!?;]', '', 'g')) AS DOUBLE)
          / CAST(length(text) AS BIGINT) AS punct_ratio,
        $duckLangArgmax AS pred_lang
      FROM h ORDER BY doc_id"""))

  /** DuckDB n-gram list: word n-grams of `w` via `list_transform` over a
    * 1-based `range` (end-exclusive), mirroring `TextAnalysis.gramsSql`. */
  /** Content signature of a source parquet (every file's name/size/mtime
    * folded) — cache keys for per-sf-dir build artifacts (q210's IVF-PQ
    * index, q215's MinHash index): a regenerated dataset at the same
    * path gets a FRESH index instead of silently serving stale rows
    * (r10 advice). */
  private def srcContentSig(d: String, file: String): String = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().sortBy(_.getName).foldLeft(f.getName.hashCode.toLong) {
        (acc, ch) => acc * 1000003L + walk(ch)
      }
      else f.getName.hashCode.toLong * 31L + f.length * 31L + f.lastModified
    java.lang.Long.toHexString(walk(new java.io.File(d, file)))
  }

  private def duckGrams(n: Int): String = {
    val parts = (0 until n).map(j => s"w[i + $j]").mkString(" || ' ' || ")
    s"list_transform(range(1, len(w) - ${n - 2}), i -> $parts)"
  }

  // Row-local oracle fragments. The text oracles used to unnest every
  // word/gram occurrence into relational (doc_id, token) tables and
  // re-aggregate — correct, but the exploded intermediates were the
  // largest allocations in the whole oracle suite and tripped the
  // checker's degraded allocator (r5: q54–q58 red on DuckDB OOM while
  // bit-exact on re-run). These fragments compute the identical values
  // per row with list lambdas/histograms, so peak memory stays at
  // one document's tokens instead of the corpus'.

  /** Stopword list literal (single source: `TextAnalysis.EnStopwords`). */
  private def duckStopList: String =
    TextAnalysis.EnStopwords.map(w => s"'$w'").mkString(", ")

  /** Per-row stop-hit count over the split word list `w`. */
  private def duckStopHits: String =
    s"len(list_filter(w, x -> list_contains([$duckStopList], x)))"

  private def duckLangs: Seq[(String, Seq[String])] =
    TextAnalysis.LangKeywords.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (l, kw) => (l, kw.map(_._2)) }

  /** Per-language hit-count columns (`h_de`, `h_en`, …) as row-local
    * list folds over `w` — no unnest, no keyword join. */
  private def duckLangHitDefs: String =
    duckLangs.map { case (l, ws) =>
      val lst = ws.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(w, x -> list_contains([$lst], x))) AS h_$l"
    }.mkString(",\n        ")

  private def duckLangCols: String = duckLangs.map(l => s"h_${l._1}").mkString(", ")

  /** Alphabetical-first argmax over the `h_<lang>` columns — the same
    * selection as `scoreDocs`' `min(struct(-hits, lang))` (hits desc,
    * lang asc); NULL when no keyword hits at all. */
  private def duckLangArgmax: String = {
    val ls = duckLangs.map(_._1)
    val cases = ls.init.map { l =>
      val conds = ls.filter(_ != l).map(m => s"h_$l >= h_$m").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString(" ")
    s"CASE WHEN greatest($duckLangCols) = 0 THEN NULL $cases ELSE '${ls.last}' END"
  }

  /** Modal n-gram count per row: max histogram value of the gram list
    * (0 when the doc has no n-grams). */
  private def duckTopGramN(n: Int): String =
    s"COALESCE(list_max(map_values(list_aggregate(${duckGrams(n)}, 'histogram'))), 0)"

  /** Gopher-style per-doc repetition stats (`TextAnalysis.repetitionStats`):
    * modal 2/3-gram share + duplicated-5-gram fraction. Spark computes the
    * mode as a per-row sorted-run fold (zero shuffles); the oracle mirrors
    * it row-locally (list histogram → max value). Counts are integers and
    * each fraction is a single long/long division — bit-exact across
    * engines. */
  val q55_repetition: Q = Q(
    (s, d) => TextAnalysis.repetitionStats(table(s, d, "documents")).orderBy("doc_id"),
    Some(s"""WITH h AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
        ${duckTopGramN(2)} AS top2_n,
        ${duckTopGramN(3)} AS top3_n,
        CAST(len(${duckGrams(5)}) AS BIGINT) AS n5,
        CAST(len(list_distinct(${duckGrams(5)})) AS BIGINT) AS d5
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
      SELECT doc_id, n_words,
        CAST(top2_n AS BIGINT) AS top2_n,
        CASE WHEN n_words >= 2
          THEN CAST(top2_n AS DOUBLE) / CAST(n_words - 1 AS BIGINT) END AS top2_frac,
        CAST(top3_n AS BIGINT) AS top3_n,
        CASE WHEN n_words >= 3
          THEN CAST(top3_n AS DOUBLE) / CAST(n_words - 2 AS BIGINT) END AS top3_frac,
        n5 - d5 AS dup5_n,
        CASE WHEN n5 > 0
          THEN CAST(n5 - d5 AS DOUBLE) / CAST(n5 AS BIGINT) END AS dup5_frac
      FROM h ORDER BY doc_id"""))

  /** Corpus-level repeated 6-grams (`TextAnalysis.repeatedNgrams`): the
    * boilerplate/contamination sweep — word 6-grams seen in ≥3 distinct
    * docs, with doc and occurrence counts. Pure integer aggregation. */
  val q56_repeated_ngrams: Q = Q(
    (s, d) => TextAnalysis.repeatedNgrams(table(s, d, "documents")).orderBy("ngram"),
    Some(s"""WITH h AS (SELECT doc_id, list_aggregate(${duckGrams(6)}, 'histogram') AS hist
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) WHERE len(w) >= 6),
      e AS (SELECT unnest(map_keys(hist)) AS g, unnest(map_values(hist)) AS n FROM h)
      SELECT g AS ngram, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_occ
      FROM e GROUP BY g HAVING COUNT(*) >= 3 ORDER BY ngram"""))

  /** End-to-end corpus cleaning — the C4/Gopher-style pipeline as ONE
    * declarative plan: join-free per-row scoring (`StreamingOps.scoreDocs`)
    * + the modal-bigram repetition gate + word-set-fingerprint dedup
    * (keep-first). Everything up to the final dedup join is a pure map
    * stage; the dedup is one digest-keyed aggregation + semi-join. The
    * oracle replays scoring (q54 idiom), the repetition fold (q55's
    * row-local histogram), and the q24 fingerprint — all integer counts
    * and single long/long divisions, bit-exact. */
  val q58_clean_corpus: Q = Q(
    (s, d) => {
      // Plan discipline: the scoring/fold expressions are interpreted
      // (higher-order functions are CodegenFallback), so they must be
      // evaluated exactly ONCE, at full parallelism. A gate `filter`
      // before the dedup would be pushed below the rebalance exchange
      // onto the unsplittable single-row-group test scan (1 task) with
      // the whole fold inlined into the predicate; and the semi-join
      // `dropFingerprintDuplicates(gated)` form would inline it TWICE.
      // Instead: materialize every column once post-rebalance, and rank
      // each fingerprint group with gated docs FIRST — "rn=1 AND gate"
      // picks the min-id gated doc per group, which is exactly
      // gate-then-keep-first, while the window blocks any pushdown of
      // the (non-partition-key) gate predicate below the heavy project.
      val scored = graft.streaming.StreamingOps.scoreDocs(docsRebalanced(s, d))
        .withColumn("_w", split(col("text"), " "))
        .withColumn("top2_n", expr(TextAnalysis.maxRunSql(TextAnalysis.gramsSql(2, "_w"))))
        .withColumn("top2_frac", col("top2_n").cast("double") / (col("n_words") - 1))
        .withColumn("_fp", Dedup.fingerprintExprFromWords(col("_w")))
        .withColumn("_ok", col("n_words") >= 25 &&
          col("stop_ratio") >= 0.03 && col("top2_frac") <= 0.12)
      val w = Window.partitionBy(col("_fp"))
        .orderBy(col("_ok").desc, col("doc_id").asc)
      scored
        .withColumn("_rn", row_number().over(w))
        .filter(col("_ok") && col("_rn") === 1)
        .select("doc_id", "n_words", "stop_ratio", "top2_frac", "pred_lang")
        .orderBy("doc_id")
    },
    Some(s"""WITH sc AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n_words,
        CAST($duckStopHits AS DOUBLE) / CAST(len(w) AS BIGINT) AS stop_ratio,
        ${duckTopGramN(2)} AS top2_n,
        $duckLangHitDefs
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
      gate AS (SELECT doc_id, w, n_words, stop_ratio,
          CAST(top2_n AS DOUBLE) / CAST(n_words - 1 AS BIGINT) AS top2_frac,
          $duckLangArgmax AS pred_lang
        FROM sc
        WHERE n_words >= 25 AND stop_ratio >= 0.03
          AND CAST(top2_n AS DOUBLE) / CAST(n_words - 1 AS BIGINT) <= 0.12),
      fp AS (SELECT MIN(doc_id) AS keep_id FROM gate
             GROUP BY md5(array_to_string(list_sort(list_distinct(w)), ' ')))
      SELECT g.doc_id, g.n_words, g.stop_ratio, g.top2_frac, g.pred_lang
      FROM gate g JOIN fp ON fp.keep_id = g.doc_id
      ORDER BY g.doc_id"""))

  /** Deterministic stratified sampling (`TextAnalysis.stratifiedSample`):
    * 40 docs per language by md5-hash order — the data-mixing stage.
    * Pure integer/string rank logic, trivially bit-exact. */
  val q61_stratified_sample: Q = Q(
    (s, d) => TextAnalysis.stratifiedSample(table(s, d, "documents"), "lang", perStratum = 40)
      .select("doc_id", "lang", "sample_rank")
      .orderBy("lang", "sample_rank"),
    Some("""WITH r AS (SELECT doc_id, lang,
          CAST(ROW_NUMBER() OVER (PARTITION BY lang
            ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS INTEGER) AS sample_rank
        FROM documents)
      SELECT doc_id, lang, sample_rank FROM r WHERE sample_rank <= 40
      ORDER BY lang, sample_rank"""))

  /** Sequence packing (`TextAnalysis.packSequences`): docs laid end-to-end
    * per (lang, id%4 shard) and cut into 2048-token chunks via one
    * running-sum window. Integer arithmetic end-to-end. */
  val q62_pack_sequences: Q = Q(
    (s, d) => TextAnalysis.packSequences(table(s, d, "documents"), budget = 2048L)
      .orderBy("lang", "shard", "doc_id"),
    Some("""WITH t AS (SELECT doc_id, lang,
          CAST(((doc_id % 4) + 4) % 4 AS INTEGER) AS shard,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents),
      c AS (SELECT doc_id, lang, shard, n_tokens,
          SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS pack_offset
        FROM t)
      SELECT doc_id, lang, shard, n_tokens,
        CAST(pack_offset AS BIGINT) AS pack_offset,
        CAST(pack_offset // 2048 AS BIGINT) AS chunk_id
      FROM c ORDER BY lang, shard, doc_id"""))

  /** Benchmark decontamination (`TextAnalysis.decontaminate`): the corpus
    * minus every doc sharing a 6-gram with the held-out "benchmark"
    * slice (doc_id % 11 == 0; any benchmark doc with >= 6 words removes
    * itself via self-overlap — shorter ones have no 6-grams to match).
    * Pure set algebra over distinct grams — bit-exact. */
  val q63_decontaminate: Q = Q(
    (s, d) => {
      val docs = table(s, d, "documents")
      val bench = docs.filter(col("doc_id") % 11 === 0)
      TextAnalysis.decontaminate(docs, bench)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    },
    Some(s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      g AS (SELECT DISTINCT doc_id, unnest(${duckGrams(6)}) AS ngram FROM ws),
      bg AS (SELECT DISTINCT ngram FROM g WHERE doc_id % 11 = 0),
      bad AS (SELECT DISTINCT g.doc_id FROM g JOIN bg ON bg.ngram = g.ngram)
      SELECT d.doc_id, d.lang, d.n_chars FROM documents d
      WHERE d.doc_id NOT IN (SELECT doc_id FROM bad)
      ORDER BY d.doc_id"""))

  /** Transitive near-dup clustering (`Dedup.ngramNearDupClusters`, r13):
    * connected components by iterative min-id label propagation over the
    * q26 blocked-Jaccard pair graph — computed via the exact-class
    * COLLAPSE (`ngramClusterLabels`): identical (block, word-set) docs
    * reduce to one representative before pair generation, components run
    * over reps, membership expands back — bit-identical to the direct
    * `nearDupClusters(docs, ngramJaccard(docs, ...))` form
    * (NgramCollapseSpec) while the pair shuffle scales with distinct
    * content. The oracle replays the UNCOLLAPSED pair table and closes
    * it with a recursive CTE: `walk` enumerates every (vertex, reachable
    * label) and the min per vertex is the component minimum — fixpoint
    * semantics identical to the propagation loop. */
  val q64_neardup_clusters: Q = Q(
    (s, d) => {
      val docs = table(s, d, "documents")
      // labels cover EVERY doc (singletons label as themselves), so the
      // keep flag derives without joining the corpus back at all
      Dedup.ngramClusterLabels(docs, Seq("lang", "n_chars"),
          maxBlockSize = Dedup.Uncapped)
        .withColumn("keep", col("cluster_id") === col("doc_id"))
        .select("doc_id", "cluster_id", "keep")
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE $blockedJaccardPairsSql,
      pairs AS MATERIALIZED (SELECT d1, d2 FROM v
                WHERE CAST(i AS DOUBLE) / CAST(sz1 + sz2 - i AS DOUBLE) >= 0.3),
      verts(id) AS (SELECT d1 FROM pairs UNION SELECT d2 FROM pairs),
      edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
                UNION ALL SELECT d2 AS src, d1 AS dst FROM pairs),
      walk(id, label) AS (
        SELECT id, id FROM verts
        UNION
        SELECT e.src, w.label FROM edges e JOIN walk w ON w.id = e.dst),
      lab AS (SELECT id, MIN(label) AS cluster_id FROM walk GROUP BY id)
      SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
        (COALESCE(l.cluster_id, d.doc_id) = d.doc_id) AS keep
      FROM documents d LEFT JOIN lab l ON l.id = d.doc_id
      ORDER BY d.doc_id"""))

  /** PII redaction (`TextAnalysis.redactPii`). The synthetic corpus
    * carries no digits at all, so the query first plants deterministic
    * PII derived from doc_id — the SAME concat on both engines — then
    * scrubs it; md5 of the redacted text makes replacement-position
    * parity bit-checkable, not just the counts. */
  val q65_redact_pii: Q = Q(
    (s, d) => {
      val pii = table(s, d, "documents").withColumn("text",
        concat(col("text"),
          lit(" contact u"), col("doc_id").cast("string"), lit("@mail.example.com or 10.0."),
          pmod(col("doc_id"), lit(256)).cast("string"), lit(".7 ext 555-"),
          (pmod(col("doc_id"), lit(9000)) + 1000).cast("string")))
      TextAnalysis.redactPii(pii)
        .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"),
          col("n_redactions"), md5(col("redacted")).as("red_md5"))
        .orderBy("doc_id")
    },
    Some {
      val (e, i, p) = (TextAnalysis.EmailRegex, TextAnalysis.Ipv4Regex, TextAnalysis.PhoneRegex)
      s"""WITH pii AS (SELECT doc_id,
        text || ' contact u' || CAST(doc_id AS VARCHAR) || '@mail.example.com or 10.0.' ||
          CAST(((doc_id % 256) + 256) % 256 AS VARCHAR) || '.7 ext 555-' ||
          CAST(((doc_id % 9000) + 9000) % 9000 + 1000 AS VARCHAR) AS text
        FROM documents),
      s1 AS (SELECT doc_id, text, regexp_replace(text, '$e', '<EMAIL>', 'g') AS t1 FROM pii),
      s2 AS (SELECT doc_id, text, t1, regexp_replace(t1, '$i', '<IP>', 'g') AS t2 FROM s1),
      c AS (SELECT doc_id,
          CAST(len(regexp_extract_all(text, '$e')) AS BIGINT) AS n_emails,
          CAST(len(regexp_extract_all(t1, '$i')) AS BIGINT) AS n_ips,
          CAST(len(regexp_extract_all(t2, '$p')) AS BIGINT) AS n_phones,
          md5(regexp_replace(t2, '$p', '<PHONE>', 'g')) AS red_md5
        FROM s2)
      SELECT doc_id, n_emails, n_ips, n_phones,
        n_emails + n_ips + n_phones AS n_redactions, red_md5
      FROM c ORDER BY doc_id"""
    })

  /** Boilerplate span removal (`TextAnalysis.removeBoilerplate`): the
    * rewrite stage downstream of q56's detection — every 6-gram seen in
    * ≥3 docs is excised from every doc, which is reassembled in order.
    * md5 of the cleaned text makes the rewrite (positions, ordering,
    * separator discipline) bit-checkable. The oracle mirrors the same
    * shape row-locally: q56's histogram idiom for the bad set, a
    * gram-keyed join for each doc's own bad list, then pure list algebra
    * (start positions → flattened covered spans → filtered words). */
  val q66_remove_boilerplate: Q = Q(
    (s, d) => TextAnalysis.removeBoilerplate(docsRebalanced(s, d))
      .select(col("doc_id"), col("n_words"), col("n_removed"),
        md5(col("clean_text")).as("clean_md5"))
      .orderBy("doc_id"),
    Some(s"""WITH g AS (SELECT doc_id, w, ${duckGrams(6)} AS gl
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
      hh AS (SELECT doc_id, list_aggregate(gl, 'histogram') AS hist FROM g WHERE len(gl) > 0),
      e AS (SELECT unnest(map_keys(hist)) AS ngram FROM hh),
      bad AS (SELECT ngram FROM e GROUP BY ngram HAVING COUNT(*) >= 3),
      dg AS (SELECT doc_id, unnest(list_distinct(gl)) AS ngram FROM g),
      db AS (SELECT dg.doc_id, list(dg.ngram) AS badl
             FROM dg JOIN bad USING (ngram) GROUP BY dg.doc_id),
      r AS (SELECT g.doc_id, g.w, g.gl,
              COALESCE(db.badl, CAST([] AS VARCHAR[])) AS badl
            FROM g LEFT JOIN db USING (doc_id)),
      cv AS (SELECT doc_id, w,
              list_distinct(flatten(list_transform(
                CASE WHEN len(gl) = 0 OR len(badl) = 0 THEN CAST([] AS BIGINT[])
                     ELSE list_filter(range(0, len(gl)), i -> list_contains(badl, gl[i + 1])) END,
                i -> range(i, i + 6)))) AS cov
            FROM r),
      k AS (SELECT doc_id, w,
              list_filter(range(0, len(w)), j -> NOT list_contains(cov, j)) AS keep0
            FROM cv)
      SELECT doc_id,
        CAST(len(w) AS BIGINT) AS n_words,
        CAST(len(w) - len(keep0) AS BIGINT) AS n_removed,
        md5(COALESCE(array_to_string(list_transform(keep0, j -> w[j + 1]), ' '), '')) AS clean_md5
      FROM k ORDER BY doc_id"""))

  /** Temperature-weighted mixture sampling (`TextAnalysis
    * .temperatureMixture`): per-language token quotas proportional to
    * `floor(sqrt(lang_tokens))` (α = 0.5 upsampling of low-resource
    * languages), filled in md5-hash order until each quota is exhausted.
    * Integer quota `div`, integer running sum — bit-exact. */
  val q68_temperature_mix: Q = Q(
    (s, d) => TextAnalysis.temperatureMixture(table(s, d, "documents"), budget = 12000L)
      .orderBy("lang", "doc_id"),
    Some("""WITH t AS (SELECT doc_id, lang,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
      wts AS (SELECT lang,
          CAST(FLOOR(SQRT(CAST(SUM(n_tokens) AS DOUBLE))) AS BIGINT) AS w
        FROM t GROUP BY lang),
      q AS (SELECT lang,
          CAST((12000 * w) // (SELECT SUM(w) FROM wts) AS BIGINT) AS quota_tokens FROM wts),
      c AS (SELECT t.doc_id, t.lang, t.n_tokens,
          SUM(t.n_tokens) OVER (PARTITION BY t.lang
            ORDER BY md5(CAST(t.doc_id AS VARCHAR)) ASC, t.doc_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens,
          q.quota_tokens
        FROM t JOIN q USING (lang))
      SELECT doc_id, lang, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens, quota_tokens
      FROM c WHERE cum_tokens <= quota_tokens ORDER BY lang, doc_id"""))

  /** TF-IDF top terms (`TextAnalysis.tfidfTopTerms`): per-doc top-5 terms
    * by tf·idf with a term tie-break; idf rounded to 6 before the multiply
    * (libm-ulp discipline). The oracle computes per-doc tf row-locally
    * (list histogram) and df from the histogram keys. */
  val q70_tfidf_terms: Q = Q(
    (s, d) => TextAnalysis.tfidfTopTerms(table(s, d, "documents"), k = 5)
      .orderBy("doc_id", "rank"),
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      hh AS (SELECT doc_id, list_aggregate(w, 'histogram') AS h FROM w),
      tf AS (SELECT doc_id, unnest(map_keys(h)) AS term,
               CAST(unnest(map_values(h)) AS BIGINT) AS tf FROM hh),
      df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
      n AS (SELECT COUNT(*) AS n FROM documents),
      sc AS (SELECT t.doc_id, t.term, t.tf, d.df,
               ROUND(LN(CAST(n.n AS DOUBLE) / d.df), 6) AS idf
             FROM tf t JOIN df d USING (term) CROSS JOIN n),
      rk AS (SELECT doc_id, term, tf, df, idf, tf * idf AS score,
               CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                 ORDER BY tf * idf DESC, term ASC) AS INTEGER) AS rank
             FROM sc)
      SELECT doc_id, term, tf, df, idf, score, rank FROM rk
      WHERE rank <= 5 ORDER BY doc_id, rank"""))

  /** Incremental cross-corpus dedup (`Dedup.dedupAgainstReference`):
    * "incoming" docs (id % 3 = 0) anti-joined on word-set fingerprint
    * against a "reference" corpus (id % 2 = 0). Docs at id % 6 = 0 are
    * literal reference members, so the drop set is non-empty by
    * construction; any cross-id content dup goes with them. */
  val q71_dedup_incremental: Q = Q(
    (s, d) => {
      val docs = table(s, d, "documents")
      Dedup.dedupAgainstReference(
          docs.filter(col("doc_id") % 3 === 0),
          docs.filter(col("doc_id") % 2 === 0))
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    },
    Some("""WITH fp AS (SELECT doc_id,
          md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
        FROM documents),
      ref AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 2 = 0)
      SELECT d.doc_id, d.lang, d.n_chars
      FROM documents d JOIN fp ON fp.doc_id = d.doc_id
      WHERE d.doc_id % 3 = 0 AND fp.fp NOT IN (SELECT fp FROM ref)
      ORDER BY d.doc_id"""))

  /** Overlapping document chunking (`TextAnalysis.chunkDocuments`):
    * 64-token windows every 48 tokens (16-token overlap). md5 of each
    * chunk makes the slice arithmetic bit-checkable without dumping
    * text. The oracle replays the same start set — 0..ceil((n-64)/48)·48
    * via end-exclusive `range` — and windows via 1-based inclusive
    * `list_slice`. (DuckDB `//` floors where Spark `div` truncates, but
    * they only disagree on negative operands, where both collapse to the
    * same `greatest(0, …)`.) */
  val q72_chunk_docs: Q = Q(
    (s, d) => TextAnalysis.chunkDocuments(table(s, d, "documents"), chunkTokens = 64, overlap = 16)
      .select(col("doc_id"), col("chunk_id"), col("chunk_start"),
        col("n_chunk_tokens"), md5(col("chunk_text")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_id"),
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      st AS (SELECT doc_id, w,
               unnest(range(0, greatest(0, ((len(w) - 64 + 47) // 48) * 48) + 1, 48)) AS s
             FROM w),
      c AS (SELECT doc_id, CAST(s // 48 AS BIGINT) AS chunk_id, CAST(s AS BIGINT) AS chunk_start,
              list_slice(w, s + 1, s + 64) AS chunk
            FROM st)
      SELECT doc_id, chunk_id, chunk_start,
        CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
        md5(COALESCE(array_to_string(chunk, ' '), '')) AS chunk_md5
      FROM c ORDER BY doc_id, chunk_id"""))

  /** Per-doc contamination report (`TextAnalysis.contaminationReport`):
    * the observability twin of q63 — distinct-6-gram overlap count and
    * fraction per corpus doc against the held-out benchmark slice
    * (doc_id % 11 = 0). Integer counts + one long/long division. */
  val q73_contamination_report: Q = Q(
    (s, d) => {
      val docs = table(s, d, "documents")
      TextAnalysis.contaminationReport(docs, docs.filter(col("doc_id") % 11 === 0))
        .orderBy("doc_id")
    },
    Some(s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      g AS (SELECT DISTINCT doc_id, unnest(${duckGrams(6)}) AS ngram FROM ws),
      bg AS (SELECT DISTINCT ngram FROM g WHERE doc_id % 11 = 0),
      pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM g GROUP BY doc_id),
      h AS (SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_contaminated
            FROM g JOIN bg USING (ngram) GROUP BY g.doc_id)
      SELECT d.doc_id,
        COALESCE(pd.n_grams, 0) AS n_grams,
        COALESCE(h.n_contaminated, 0) AS n_contaminated,
        CASE WHEN COALESCE(pd.n_grams, 0) > 0
             THEN CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE) / pd.n_grams END AS contamination
      FROM documents d
      LEFT JOIN pd ON pd.doc_id = d.doc_id
      LEFT JOIN h ON h.doc_id = d.doc_id
      ORDER BY d.doc_id"""))

  /** Unigram-LM perplexity scoring (`TextAnalysis.lmScore`): per-doc
    * mean word log-prob + perplexity under the corpus's own unigram
    * model. Word log-probs become round-6 integer micro-logs, so the
    * per-doc sum is addition-order-free; one end division + round-6 exp
    * are the only float steps. */
  val q74_lm_perplexity: Q = Q(
    (s, d) => TextAnalysis.lmScore(table(s, d, "documents")).orderBy("doc_id"),
    Some("""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      c AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM t GROUP BY w),
      tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tt FROM c),
      lp AS (SELECT w,
               CAST(ROUND(ROUND(LN(CAST(cnt AS DOUBLE) / tt), 6) * 1000000) AS BIGINT) AS li
             FROM c CROSS JOIN tot),
      d AS (SELECT t.doc_id, CAST(SUM(lp.li) AS BIGINT) AS sli,
              CAST(COUNT(*) AS BIGINT) AS n_scored
            FROM t JOIN lp USING (w) GROUP BY t.doc_id)
      SELECT doc_id, n_scored,
        CAST(sli AS DOUBLE) / (n_scored * 1000000) AS avg_logp,
        ROUND(EXP(-(CAST(sli AS DOUBLE) / (n_scored * 1000000))), 6) AS ppl
      FROM d ORDER BY doc_id"""))

  /** The q75 query-term set (words that occur in the synthetic corpus at
    * varied document frequencies). Declared before q75 builds its oracle
    * from it (object vals initialize in declaration order). */
  private val Bm25Terms: Seq[String] = Seq("hash", "stream", "spark")

  /** BM25 retrieval (`Retrieval.bm25`): top-50 docs for a 3-term query,
    * Lucene non-negative idf. Per-doc tfs are row-local list folds (no
    * explode), the corpus stats are one broadcast row, and the oracle
    * replays the identical double-expression tree (idf round-6 at the
    * model, score round-6 at the end; every DuckDB operand is cast to
    * DOUBLE before a fractional literal touches it, or its DECIMAL
    * arithmetic would diverge from Spark's doubles). */
  val q75_bm25: Q = Q(
    (s, d) => Retrieval.bm25(table(s, d, "documents"), Bm25Terms),
    Some(bm25Sql(Bm25Terms, k1 = 1.2, b = 0.75, topK = 50)))

  /** Shared DSIR oracle CTEs (q76/q79): hashed-bigram buckets, the
    * 64-bucket smoothed micro-log-ratio model (totals via window over the
    * 64-row bucket table), and per-doc weights `dw` — the row-local /
    * pre-aggregated discipline of the other text oracles. */
  private val dsirCtes: String =
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      g AS (SELECT doc_id, unnest(${duckGrams(2)}) AS g FROM w),
      gb AS (SELECT doc_id,
               CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) % 64 AS bucket FROM g),
      rawc AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS raw_n FROM gb GROUP BY bucket),
      tgtc AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS tgt_n
               FROM gb WHERE doc_id % 11 = 0 GROUP BY bucket),
      mb AS (SELECT r.range AS bucket,
               COALESCE(rawc.raw_n, 0) AS raw_n, COALESCE(tgtc.tgt_n, 0) AS tgt_n
             FROM range(0, 64) r
             LEFT JOIN rawc ON rawc.bucket = r.range
             LEFT JOIN tgtc ON tgtc.bucket = r.range),
      mdl AS (SELECT bucket,
               CAST(ROUND(ROUND(LN(
                 ((CAST(tgt_n AS DOUBLE) + 1.0) / (CAST(SUM(tgt_n) OVER () AS DOUBLE) + 64.0)) /
                 ((CAST(raw_n AS DOUBLE) + 1.0) / (CAST(SUM(raw_n) OVER () AS DOUBLE) + 64.0))), 6)
                 * 1e6) AS BIGINT) AS li
             FROM mb),
      db AS (SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS nf
             FROM gb GROUP BY doc_id, bucket),
      pdw AS (SELECT db.doc_id,
               CAST(SUM(db.nf * mdl.li) AS BIGINT) AS log_w_micro,
               CAST(SUM(db.nf) AS BIGINT) AS n_features
             FROM db JOIN mdl USING (bucket) GROUP BY db.doc_id),
      dw AS (SELECT d.doc_id,
               COALESCE(pdw.n_features, 0) AS n_features,
               COALESCE(pdw.log_w_micro, 0) AS log_w_micro,
               CAST(COALESCE(pdw.log_w_micro, 0) AS DOUBLE) / 1e6 AS log_w
             FROM documents d LEFT JOIN pdw USING (doc_id))"""

  /** DSIR importance weighting (`Selection.dsirWeights`): hashed-bigram
    * bucket model (64 buckets, add-one smoothing) trained with the
    * benchmark slice (doc_id % 11 = 0) as target; per-doc weight = Σ
    * micro-log ratios (integer, order-free). */
  val q76_dsir_weights: Q = Q(
    (s, d) => {
      val docs = table(s, d, "documents")
      Selection.dsirWeights(docs, docs.filter(col("doc_id") % 11 === 0))
        .orderBy("doc_id")
    },
    Some(s"""WITH $dsirCtes
      SELECT doc_id, n_features, log_w_micro, log_w
      FROM dw ORDER BY doc_id"""))

  /** DSIR importance RESAMPLING (`Selection.dsirResample`): Gumbel-top-k
    * in log space — deterministic md5 uniform (52-bit exact, strictly
    * inside (0,1)), integer key = round-6 micro `ln(-ln(u))` minus the
    * micro log-weight, 100 smallest keys win. */
  val q79_dsir_resample: Q = Q(
    (s, d) => {
      val docs = table(s, d, "documents")
      Selection.dsirResample(
        docs, Selection.dsirModel(docs, docs.filter(col("doc_id") % 11 === 0)), k = 100)
    },
    Some(s"""WITH $dsirCtes,
      sel AS (SELECT doc_id, n_features, log_w_micro, log_w,
               CAST(ROUND(ROUND(LN(-LN(
                 CAST((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                       % 4503599627370496) + 1 AS DOUBLE)
                 / CAST(4503599627370497 AS DOUBLE))), 6) * 1e6) AS BIGINT)
                 - log_w_micro AS key_micro
             FROM dw)
      SELECT doc_id, n_features, log_w_micro, log_w, key_micro
      FROM sel ORDER BY key_micro ASC, doc_id ASC LIMIT 100"""))

  /** End-to-end curation to shard manifests (`Selection.curate` →
    * `shardManifest`): classifier gate (w_micro ≥ 0 ⟺ sigmoid ≥ 0.5, an
    * integer compare) + fingerprint keep-first dedup + md5 sharding with
    * `bit_xor` checksums, all one declarative plan — the terminal
    * artifact of the curation pipeline. */
  val q80_curated_shards: Q = Q(
    (s, d) => Selection.shardManifest(
        Selection.curate(docsRebalanced(s, d), Selection.defaultQualityWeights(64)))
      .orderBy("shard"),
    Some {
      val wl = Selection.defaultQualityWeights(64).mkString("[", ", ", "]")
      s"""WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
      sc AS (SELECT doc_id, text, w,
               md5(array_to_string(list_sort(list_distinct(w)), ' ')) AS fp,
               CAST(list_sum(list_transform(w, x ->
                 $wl[CAST(CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) % 64 AS INTEGER) + 1]))
                 AS BIGINT) AS wm
             FROM w),
      keep AS (SELECT fp, MIN(doc_id) AS keep_id FROM sc WHERE wm >= 0 GROUP BY fp),
      cur AS (SELECT s.doc_id, s.text, s.w FROM sc s
              JOIN keep k ON k.fp = s.fp AND k.keep_id = s.doc_id)
      SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 16 AS shard,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(len(w)) AS BIGINT) AS n_tokens,
        MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
        CAST(bit_xor(CAST('0x' || substr(md5(text), 1, 15) AS BIGINT)) AS BIGINT) AS checksum
      FROM cur GROUP BY 1 ORDER BY shard"""
    })

  /** Hashed linear quality classifier (`Selection.classifierScore`):
    * per-word md5 bucket → literal micro-weight vector → integer fold,
    * mean-weight logit, round-6 sigmoid. Fully row-local on both
    * engines (one `aggregate` fold / one `list_transform` sum). */
  val q77_classifier: Q = Q(
    (s, d) => Selection.classifierScore(
        table(s, d, "documents"), Selection.defaultQualityWeights(64))
      .orderBy("doc_id"),
    Some {
      val wl = Selection.defaultQualityWeights(64).mkString("[", ", ", "]")
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      sc AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
               CAST(list_sum(list_transform(w, x ->
                 $wl[CAST(CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) % 64 AS INTEGER) + 1]))
                 AS BIGINT) AS w_micro
             FROM w)
      SELECT doc_id, n_words, w_micro,
        CAST(w_micro AS DOUBLE) / (n_words * 1000000) AS logit,
        ROUND(1.0 / (1.0 + EXP(-(CAST(w_micro AS DOUBLE) / (n_words * 1000000)))), 6) AS prob,
        CAST(CASE WHEN ROUND(1.0 / (1.0 + EXP(-(CAST(w_micro AS DOUBLE) / (n_words * 1000000)))), 6)
                       >= 0.5 THEN 1 ELSE 0 END AS INTEGER) AS keep
      FROM sc ORDER BY doc_id"""
    })

  /** Deterministic output sharding (`Selection.shardManifest`): md5 shard
    * assignment + per-shard manifest with an order-free `bit_xor` content
    * checksum — two engines can verify shard contents without sorting. */
  val q78_shard_manifest: Q = Q(
    (s, d) => Selection.shardManifest(table(s, d, "documents")).orderBy("shard"),
    Some("""SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 16 AS shard,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
        CAST(bit_xor(CAST('0x' || substr(md5(text), 1, 15) AS BIGINT)) AS BIGINT) AS checksum
      FROM documents GROUP BY 1 ORDER BY shard"""))

  /** Batch BM25 (`Retrieval.bm25Batch`): an unbounded query TABLE (first
    * 5 words of every doc_id % 29 = 0 doc) ranked against the corpus via
    * the term-keyed inverted join; per-(qid, doc) scores are order-free
    * micro-int sums; top-10 per query. */
  val q81_bm25_batch: Q = Q(
    (s, d) => {
      val docs = table(s, d, "documents")
      val qs = docs.filter(col("doc_id") % 29 === 0)
        .select(col("doc_id").as("qid"),
          concat_ws(" ", slice(split(col("text"), " "), 1, 5)).as("text"))
      Retrieval.bm25Batch(qs, docs, k = 10).orderBy("qid", "rank")
    },
    Some("""WITH q AS (SELECT doc_id AS qid,
               array_to_string(list_slice(string_split(text, ' '), 1, 5), ' ') AS qtext
             FROM documents WHERE doc_id % 29 = 0),
      qt AS (SELECT DISTINCT qid, unnest(string_split(qtext, ' ')) AS term FROM q),
      ctw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      ct0 AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, unnest(w) AS term FROM ctw),
      ct1 AS (SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
              FROM ct0 GROUP BY doc_id, dl, term),
      ct AS (SELECT *, CAST(COUNT(*) OVER (PARTITION BY term) AS BIGINT) AS df FROM ct1),
      st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_dl FROM documents),
      sc AS (SELECT qt.qid, ct.doc_id,
               CAST(ROUND(ROUND(
                 ROUND(LN(1.0 + ((CAST(st.n_docs AS DOUBLE) - ct.df) + 0.5)
                               / (CAST(ct.df AS DOUBLE) + 0.5)), 6)
                 * (CAST(ct.tf AS DOUBLE) * 2.2)
                 / (CAST(ct.tf AS DOUBLE)
                    + 1.2 * (0.25 + (0.75 * CAST(ct.dl AS DOUBLE))
                                    / (CAST(st.sum_dl AS DOUBLE) / st.n_docs))), 6)
                 * 1e6) AS BIGINT) AS m
             FROM qt JOIN ct USING (term) CROSS JOIN st),
      pg AS (SELECT qid, doc_id, CAST(SUM(m) AS BIGINT) AS sm,
               CAST(COUNT(*) AS BIGINT) AS n_terms FROM sc GROUP BY qid, doc_id),
      rk AS (SELECT qid, doc_id, n_terms, CAST(sm AS DOUBLE) / 1e6 AS score,
               CAST(ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY CAST(sm AS DOUBLE) / 1e6 DESC, doc_id ASC) AS INTEGER) AS rank
             FROM pg)
      SELECT qid, doc_id, rank, n_terms, score FROM rk
      WHERE rank <= 10 ORDER BY qid, rank"""))

  /** Corpus-level segment dedup (`Dedup.dedupSegments`): the C4 recipe —
    * cut every document into 10-word segments, keep only the FIRST
    * corpus-wide occurrence (smallest (doc_id, seg_no)) of each distinct
    * segment, rebuild each doc from its survivors. md5 of the rebuilt text
    * bit-checks positions/ordering/separators; the flag-then-aggregate
    * keeps fully-deduplicated docs as empty rows. The oracle mirrors the
    * packed first-occurrence key and the conditional ordered string_agg
    * (NULL-skipping CASE ≡ Spark's null-skipping collect_list). */
  val q82_dedup_segments: Q = Q(
    (s, d) => Dedup.dedupSegments(docsRebalanced(s, d)).orderBy("doc_id"),
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      segs0 AS (SELECT doc_id, unnest(list_transform(range((len(w) + 9) // 10),
          i -> {'sn': CAST(i AS INTEGER),
                'sg': array_to_string(w[(i*10 + 1):(i*10 + 10)], ' ')})) AS s FROM w),
      segs AS (SELECT doc_id, s.sn AS seg_no, s.sg AS seg FROM segs0),
      f AS (SELECT doc_id, seg_no, seg,
              (doc_id*1000000 + seg_no)
                = MIN(doc_id*1000000 + seg_no) OVER (PARTITION BY seg) AS keep
            FROM segs),
      agg AS (SELECT doc_id,
                COALESCE(string_agg(CASE WHEN keep THEN seg END, ' ' ORDER BY seg_no), '') AS clean,
                CAST(COUNT(*) AS BIGINT) AS n_segs,
                CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT) AS n_kept
              FROM f GROUP BY doc_id)
      SELECT doc_id, md5(clean) AS clean_md5,
        CAST(length(clean) AS BIGINT) AS n_chars_clean, n_segs, n_kept
      FROM agg ORDER BY doc_id"""))

  /** Winnowing fingerprint overlap (`TextAnalysis.winnowOverlap`,
    * Schleimer et al. SIGMOD'03): 3-gram rolling hashes, window-of-4
    * minima as the per-doc fingerprint set (all row-local list algebra on
    * both engines), then a df-capped posting self-join counting shared
    * fingerprints per pair. 60-bit md5-prefix hashes — the library-wide
    * oracle-portable hash convention. */
  val q83_winnow_overlap: Q = Q(
    (s, d) => TextAnalysis.winnowOverlap(docsRebalanced(s, d)).orderBy("d1", "d2"),
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      h AS (SELECT doc_id, list_transform(range(greatest(len(w) - 2, 1)),
              i -> CAST('0x' || substr(md5(array_to_string(w[(i+1):(i+3)], ' ')), 1, 15) AS BIGINT)) AS hs
            FROM w),
      f AS (SELECT doc_id, list_distinct(list_transform(range(greatest(len(hs) - 3, 1)),
              j -> list_min(hs[(j+1):(j+4)]))) AS fps FROM h),
      e AS (SELECT doc_id, unnest(fps) AS fp FROM f),
      d AS (SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS df FROM e),
      p AS (SELECT doc_id, fp FROM d WHERE df <= 10)
      SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS shared
      FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY d1, d2"""))

  /** As-of join (`Temporal.asOfJoin`): every purchase event gets the most
    * recent click at-or-before it by the same user. Spark side is the
    * union + fill-forward window (one shuffle on user_id, no range join);
    * the oracle is DuckDB's native ASOF LEFT JOIN — two entirely
    * independent formulations of the same semantics. µs timestamp floor
    * as in q60; values are copied, never computed, so doubles are exact. */
  val q84_asof_join: Q = Q(
    (s, d) => {
      val ev = eventsNs(s, d).withColumn("tus", expr("ts div 1000"))
      Temporal.asOfJoin(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"),
        keyCol = "user_id", tsCol = "tus", payloadCol = "value", orderCol = "event_id",
        leftCols = Seq("event_id", "user_id", "tus", "value"))
        .orderBy("event_id")
    },
    Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus, value, event_type
               FROM events),
      r0 AS (SELECT user_id, tus, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, tus ORDER BY event_id DESC) AS rn
             FROM e WHERE event_type = 'click'),
      r AS (SELECT user_id, tus, value FROM r0 WHERE rn = 1),
      l AS (SELECT event_id, user_id, tus, value FROM e WHERE event_type = 'purchase')
      SELECT l.event_id, l.user_id, l.tus, l.value, r.tus AS r_ts, r.value AS r_value
      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.tus >= r.tus
      ORDER BY l.event_id"""))

  /** Corpus mixture report: per (lang, source) doc counts, word totals,
    * exact median doc length (Spark `percentile` ≡ DuckDB `quantile_cont`,
    * both linear interpolation at p·(n-1)), and each cell's share of the
    * corpus — the table a data-mixing stage reads before setting quotas.
    * The share denominator rides a single-partition window over the
    * ~|langs|·|sources| GROUPED table, never over the corpus. */
  val q85_corpus_report: Q = Q(
    (s, d) => {
      val g = table(s, d, "documents")
        .withColumn("n_words", size(split(col("text"), " ")).cast("long"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("sum_words"),
          max(col("n_chars")).as("max_chars"),
          round(expr("percentile(n_chars, 0.5D)"), 6).as("p50_chars"))
      g.withColumn("doc_share",
          round(col("n_docs").cast("double") / sum(col("n_docs")).over(Window.partitionBy()), 6))
        .orderBy("lang", "source")
    },
    Some("""WITH g AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_words,
          CAST(MAX(n_chars) AS BIGINT) AS max_chars,
          ROUND(quantile_cont(CAST(n_chars AS DOUBLE), 0.5), 6) AS p50_chars
        FROM documents GROUP BY lang, source)
      SELECT lang, source, n_docs, sum_words, max_chars, p50_chars,
        ROUND(CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER (), 6) AS doc_share
      FROM g ORDER BY lang, source"""))

  /** Attribution via binned interval join (`Temporal.intervalJoin`): each
    * purchase is paired with every click by the same user in the 24 h
    * before it, then aggregated per purchase (click count, latest click,
    * decimal-exact click-value sum). The Spark side never writes the
    * range predicate into a join Spark would nest-loop: the fixed window
    * reduces it to a 2-bin explode + equi-join on (user, bin). The oracle
    * is DuckDB's native range join (IEJoin) — an independent formulation.
    * Inner semantics: purchases with no click in-window emit nothing. */
  val q86_attribution: Q = Q(
    (s, d) => {
      val W = 86400000000L // 24 h in µs (µs floor as in q60/q84)
      val ev = eventsNs(s, d).withColumn("tus", expr("ts div 1000"))
      Temporal.intervalJoin(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"),
        keyCol = "user_id", tsCol = "tus", window = W, payloadCol = "value",
        pointCols = Seq("event_id", "user_id", "tus"))
        .groupBy("event_id", "user_id", "tus")
        .agg(
          count(lit(1)).as("n_clicks"),
          max(col("r_ts")).as("last_click_us"),
          sum(col("r_value").cast(dec)).cast("double").as("sum_click_v"))
        .orderBy("event_id")
    },
    Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus, value, event_type
               FROM events),
      p AS (SELECT event_id, user_id, tus FROM e WHERE event_type = 'purchase'),
      c AS (SELECT user_id, tus, value FROM e WHERE event_type = 'click')
      SELECT p.event_id, p.user_id, p.tus,
        CAST(COUNT(*) AS BIGINT) AS n_clicks,
        MAX(c.tus) AS last_click_us,
        CAST(SUM(CAST(c.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_click_v
      FROM p JOIN c ON p.user_id = c.user_id
        AND c.tus BETWEEN p.tus - 86400000000 AND p.tus
      GROUP BY 1, 2, 3 ORDER BY 1"""))

  /** Exact top-10%-per-language length gate
    * (`Selection.topFractionByGroup`): integer-ppm cut k = ceil(n·0.1),
    * histogram + boundary-rank selection — the corpus is never shuffled;
    * only the boundary bin pays a sort. The score is a slim materialized
    * column (`n_chars`), the op's documented production shape (the
    * 4-consumer plan prunes every scan to 3 columns). The oracle is the
    * independent full-window formulation (row_number ≤ k per group). */
  val q87_top_fraction: Q = Q(
    (s, d) => {
      val scored = table(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars").as("score"))
      Selection.topFractionByGroup(scored, "lang", "score", fracPpm = 100000L)
        .orderBy(col("lang"), col("score").desc, col("doc_id"))
    },
    Some("""WITH r AS (SELECT doc_id, lang, n_chars AS score,
              ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rn,
              CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n
            FROM documents)
      SELECT doc_id, lang, score FROM r
      WHERE rn <= (n * 100000 + 999999) // 1000000
      ORDER BY lang, score DESC, doc_id"""))

  /** Per-domain frequency cap (`Selection.capPerGroup`): at most 8 docs
    * per source, longest-first — the SEO-farm blunting cap. Declarative
    * row_number form; Spark's WindowGroupLimit rewrite applies the cap as
    * a map-side bounded heap before the shuffle (CapPerGroupSpec pins the
    * rewrite). */
  val q88_domain_cap: Q = Q(
    (s, d) => Selection.capPerGroup(
        table(s, d, "documents").select("doc_id", "source", "n_chars"),
        Seq("source"), n = 8,
        Seq(col("n_chars").desc, col("doc_id").asc))
      .orderBy(col("source"), col("n_chars").desc, col("doc_id")),
    Some("""WITH r AS (SELECT doc_id, source, n_chars,
              ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS rn
            FROM documents)
      SELECT doc_id, source, n_chars FROM r WHERE rn <= 8
      ORDER BY source, n_chars DESC, doc_id"""))

  /** Exact-k per-group uniform sample (`Selection.samplePerGroup`): 10
    * docs per language drawn by 60-bit md5 of the doc id — deterministic,
    * repartition-invariant, engine-portable; the exact-count complement
    * of q61's fraction-based stratified draw. Same WindowGroupLimit
    * map-side heap as q88. */
  val q89_group_sample: Q = Q(
    (s, d) => Selection.samplePerGroup(
        table(s, d, "documents").select("doc_id", "lang"),
        Seq("lang"), k = 10)
      .orderBy("lang", "doc_id"),
    Some("""WITH r AS (SELECT doc_id, lang,
              ROW_NUMBER() OVER (PARTITION BY lang
                ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) ASC,
                         doc_id ASC) AS rn
            FROM documents)
      SELECT doc_id, lang FROM r WHERE rn <= 10 ORDER BY lang, doc_id"""))

  /** Hybrid retrieval (`Retrieval.rrfFuse`): BM25 top-20 (sparse, q81's
    * inverted join) and brute-force cosine top-20 (dense; doc_id ≡ vec_id
    * in the fixtures) fused by reciprocal-rank fusion — integer micro
    * contributions `round(1e6/(60+rank))`, so the fused ranking is an
    * order-free integer compare on both engines. The fusion itself never
    * touches the corpus: it aggregates 40 rows per query. The %100 query
    * set (vs q81's %29) keeps this a fusion demo rather than a second
    * copy of the suite's heaviest retrieval load. */
  val q90_hybrid_rrf: Q = Q(
    (s, d) => {
      val docs = table(s, d, "documents")
      val emb = table(s, d, "embeddings")
      val qs = docs.filter(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("qid"),
          concat_ws(" ", slice(split(col("text"), " "), 1, 5)).as("text"))
      val sparse = Retrieval.bm25Batch(qs, docs, k = 20)
        .select("qid", "doc_id", "rank")
      val qe = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("embedding"))
      val dense = Similarity.bruteForceTopK(
          qe, emb.select(col("vec_id").as("cid"), col("embedding")), k = 20)
        .select(col("qid"), col("cid").as("doc_id"), col("rank"))
      Retrieval.rrfFuse(Seq(sparse, dense), k = 10).orderBy("qid", "rank")
    },
    Some("""WITH q AS (SELECT doc_id AS qid,
               array_to_string(list_slice(string_split(text, ' '), 1, 5), ' ') AS qtext
             FROM documents WHERE doc_id % 100 = 0),
      qt AS (SELECT DISTINCT qid, unnest(string_split(qtext, ' ')) AS term FROM q),
      ctw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      ct0 AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, unnest(w) AS term FROM ctw),
      ct1 AS (SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
              FROM ct0 GROUP BY doc_id, dl, term),
      ct AS (SELECT *, CAST(COUNT(*) OVER (PARTITION BY term) AS BIGINT) AS df FROM ct1),
      st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_dl FROM documents),
      sc AS (SELECT qt.qid, ct.doc_id,
               CAST(ROUND(ROUND(
                 ROUND(LN(1.0 + ((CAST(st.n_docs AS DOUBLE) - ct.df) + 0.5)
                               / (CAST(ct.df AS DOUBLE) + 0.5)), 6)
                 * (CAST(ct.tf AS DOUBLE) * 2.2)
                 / (CAST(ct.tf AS DOUBLE)
                    + 1.2 * (0.25 + (0.75 * CAST(ct.dl AS DOUBLE))
                                    / (CAST(st.sum_dl AS DOUBLE) / st.n_docs))), 6)
                 * 1e6) AS BIGINT) AS m
             FROM qt JOIN ct USING (term) CROSS JOIN st),
      pg AS (SELECT qid, doc_id, CAST(SUM(m) AS BIGINT) AS sm FROM sc GROUP BY qid, doc_id),
      srk AS (SELECT qid, doc_id, ROW_NUMBER() OVER (PARTITION BY qid
                ORDER BY CAST(sm AS DOUBLE) / 1e6 DESC, doc_id ASC) AS rank FROM pg),
      stop AS (SELECT qid, doc_id, rank FROM srk WHERE rank <= 20),
      dq AS (SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id % 100 = 0),
      dp AS (SELECT dq.qid, c.vec_id AS doc_id,
               ROUND(list_cosine_similarity(CAST(dq.embedding AS DOUBLE[]),
                 CAST(c.embedding AS DOUBLE[])), 6) AS sim
             FROM dq CROSS JOIN embeddings c),
      drk AS (SELECT qid, doc_id, ROW_NUMBER() OVER (PARTITION BY qid
                ORDER BY sim DESC, doc_id ASC) AS rank FROM dp),
      dtop AS (SELECT qid, doc_id, rank FROM drk WHERE rank <= 20),
      u AS (SELECT qid, doc_id, CAST(ROUND(1000000.0 / (60 + rank), 0) AS BIGINT) AS m FROM stop
            UNION ALL
            SELECT qid, doc_id, CAST(ROUND(1000000.0 / (60 + rank), 0) AS BIGINT) AS m FROM dtop),
      g AS (SELECT qid, doc_id, CAST(SUM(m) AS BIGINT) AS sm,
              CAST(COUNT(*) AS BIGINT) AS n_lists FROM u GROUP BY qid, doc_id),
      f AS (SELECT qid, doc_id,
              CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sm DESC, doc_id ASC) AS INTEGER) AS rank,
              n_lists, CAST(sm AS DOUBLE) / 1e6 AS score FROM g)
      SELECT qid, doc_id, rank, n_lists, score FROM f WHERE rank <= 10 ORDER BY qid, rank"""))

  /** Vocabulary coverage (`TextAnalysis.vocabulary` + `oovRate`): build
    * the top-200 frequency-ranked vocab (ties at the cut broken
    * alphabetically), then score every doc's out-of-vocabulary rate under
    * it — explode → broadcast model join → per-doc aggregate; the rate is
    * one long/long division. Two corpus scans by design (train + score,
    * the unigramLm split). */
  val q91_vocab_coverage: Q = Q(
    (s, d) => {
      val docs = table(s, d, "documents")
      TextAnalysis.oovRate(docs, TextAnalysis.vocabulary(docs, topV = 200))
        .orderBy("doc_id")
    },
    Some("""WITH t AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
      v AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM t GROUP BY word
            ORDER BY cnt DESC, word ASC LIMIT 200),
      dd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      j AS (SELECT dd.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
              CAST(COUNT(v.word) AS BIGINT) AS in_vocab
            FROM dd LEFT JOIN v USING (word) GROUP BY dd.doc_id)
      SELECT doc_id, n_words, in_vocab,
        CAST(n_words - in_vocab AS DOUBLE) / n_words AS oov_rate
      FROM j ORDER BY doc_id"""))

  /** Per-group weighted sampling (`Selection.weightedSamplePerGroup`):
    * 10 docs per language, probability ∝ n_chars (log-weight =
    * round-6 micro ln(n_chars)), via the per-stratum Gumbel race — md5
    * uniforms, integer keys, WindowGroupLimit heap. Oracle is the
    * independent full-window formulation with the same integer key. */
  val q92_weighted_sample: Q = Q(
    (s, d) => Selection.weightedSamplePerGroup(
        table(s, d, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .withColumn("log_w_micro",
            round(round(log(col("n_chars").cast("double")), 6) * 1e6).cast("long")),
        Seq("lang"), k = 10, logWMicroCol = "log_w_micro")
      .orderBy("lang", "doc_id"),
    Some("""WITH b AS (SELECT doc_id, lang, n_chars,
              CAST(ROUND(ROUND(LN(CAST(n_chars AS DOUBLE)), 6) * 1e6) AS BIGINT) AS log_w_micro
            FROM documents),
      kk AS (SELECT doc_id, lang, n_chars, log_w_micro,
               CAST(ROUND(ROUND(LN(-LN(
                 CAST((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                       % 4503599627370496) + 1 AS DOUBLE)
                 / CAST(4503599627370497 AS DOUBLE))), 6) * 1e6) AS BIGINT)
                 - log_w_micro AS skey
             FROM b),
      r AS (SELECT doc_id, lang, n_chars, log_w_micro,
              ROW_NUMBER() OVER (PARTITION BY lang ORDER BY skey ASC, doc_id ASC) AS rn
            FROM kk)
      SELECT doc_id, lang, n_chars, log_w_micro FROM r WHERE rn <= 10
      ORDER BY lang, doc_id"""))

  /** Text canonicalization (`TextAnalysis.normalizeText`): lowercase +
    * punctuation strip + whitespace collapse as a pure per-row regex
    * chain; emits canonical text, its 60-bit fingerprint, and a changed
    * flag. The oracle replays the identical RE2-subset regexes (DuckDB
    * needs the 'g' flag for global replace). */
  val q93_normalize: Q = Q(
    (s, d) => TextAnalysis.normalizeText(table(s, d, "documents"))
      .orderBy("doc_id"),
    Some("""WITH n AS (SELECT doc_id,
              trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                   ' +', ' ', 'g')) AS norm_text, text
            FROM documents)
      SELECT doc_id, norm_text,
        CAST('0x' || substr(md5(norm_text), 1, 15) AS BIGINT) AS norm_fp,
        CAST(CASE WHEN norm_text = text THEN 0 ELSE 1 END AS INTEGER) AS changed,
        CAST(len(norm_text) AS BIGINT) AS n_chars_norm
      FROM n ORDER BY doc_id"""))

  /** Embedding dimensionality reduction under the baked PCA model
    * (`Similarity.projectEmbeddings` + `TrainedProjection`): per-row
    * native codegen dots against literal components, mean folded into one
    * offset per component — zero-shuffle, join-free, streaming-safe. The
    * oracle is generated from the SAME literals (Double.toString
    * round-trips into DuckDB), mirroring the bm25Sql pattern. */
  val q94_pca_project: Q = Q(
    (s, d) => Similarity.projectEmbeddings(
        table(s, d, "embeddings"),
        TrainedProjection.comps, TrainedProjection.offsets)
      .orderBy("vec_id"),
    Some {
      val exprs = TrainedProjection.comps.zip(TrainedProjection.offsets).zipWithIndex
        .map { case ((v, c), j) =>
          s"ROUND(list_inner_product(CAST(embedding AS DOUBLE[]), [${v.mkString(", ")}]) - ($c), 6) AS p$j"
        }.mkString(",\n        ")
      s"SELECT vec_id,\n        $exprs\n      FROM embeddings ORDER BY vec_id"
    })

  /** Exact per-group p90 without a sort (`Selection.exactQuantileByGroup`):
    * the p90 doc length per language as a type-1 order statistic at
    * integer-ppm rank ceil(0.9·n) — histogram locates the bin, only that
    * bin's slice ranks. Oracle is the full-window order-statistic twin. */
  val q95_group_quantile: Q = Q(
    (s, d) => Selection.exactQuantileByGroup(
        table(s, d, "documents").select(col("lang"), col("n_chars")),
        "lang", "n_chars", qPpm = 900000L)
      .orderBy("lang"),
    Some("""WITH r AS (SELECT lang, n_chars,
              ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars ASC) AS rn,
              CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n
            FROM documents)
      SELECT lang, n, CAST(n_chars AS DOUBLE) AS quantile FROM r
      WHERE rn = (n * 900000 + 999999) // 1000000 ORDER BY lang"""))

  /** Tokenization under the built vocab (`TextAnalysis.tokenize`): every
    * word becomes its top-200 vocab rank (OOV → 0/UNK), 1-based
    * positions — posexplode + broadcast model join, map-only. With q91
    * this is the full tokenizer-prep pair: build, then apply. */
  val q96_tokenize: Q = Q(
    (s, d) => {
      val docs = table(s, d, "documents")
      TextAnalysis.tokenize(docs, TextAnalysis.vocabulary(docs, topV = 200))
        .orderBy("doc_id", "pos")
    },
    Some("""WITH t AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
      agg AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM t GROUP BY word),
      v AS (SELECT word, ROW_NUMBER() OVER (ORDER BY cnt DESC, word ASC) AS rank
            FROM (SELECT word, cnt FROM agg ORDER BY cnt DESC, word ASC LIMIT 200)),
      dd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word,
               generate_subscripts(string_split(text, ' '), 1) AS pos
             FROM documents)
      SELECT dd.doc_id, CAST(dd.pos AS INTEGER) AS pos,
        CAST(COALESCE(v.rank, 0) AS INTEGER) AS token_id
      FROM dd LEFT JOIN v USING (word) ORDER BY doc_id, pos"""))

  /** Bigram-LM perplexity with stupid backoff (`TextAnalysis.bigramLm` +
    * `bigramScoreWith`): models trained on the even-id half, every doc
    * scored under them — so the backoff tiers (discount + unigram,
    * discount + UNK floor) are genuinely exercised on the odd half.
    * Integer micro scores end-to-end; one explode + two broadcast model
    * joins. */
  val q97_bigram_lm: Q = Q(
    (s, d) => {
      val docs = table(s, d, "documents")
      val ref = docs.filter(col("doc_id") % 2 === 0)
      TextAnalysis.bigramScoreWith(
          docs, TextAnalysis.bigramLm(ref), TextAnalysis.unigramLm(ref))
        .orderBy("doc_id")
    },
    Some("""WITH rw AS (SELECT string_split(text, ' ') AS w FROM documents WHERE doc_id % 2 = 0),
      uni AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1
              FROM (SELECT unnest(w) AS w1 FROM rw) GROUP BY w1),
      tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS t FROM uni),
      u1 AS (SELECT w1 AS w2u, CAST(ROUND(ROUND(LN(CAST(c1 AS DOUBLE) / t), 6) * 1e6) AS BIGINT) AS li1
             FROM uni CROSS JOIN tot),
      bgr AS (SELECT w[i] AS w1, w[i + 1] AS w2
              FROM (SELECT w, generate_subscripts(w, 1) AS i FROM rw)
              WHERE i < len(w)),
      b2 AS (SELECT w1, w2, CAST(ROUND(ROUND(LN(CAST(c2 AS DOUBLE) / c1), 6) * 1e6) AS BIGINT) AS li2
             FROM (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM bgr GROUP BY w1, w2) b
             JOIN uni USING (w1)),
      dw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      db AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
             FROM (SELECT doc_id, w, generate_subscripts(w, 1) AS i FROM dw)
             WHERE i < len(w)),
      sc AS (SELECT db.doc_id,
               COALESCE(b2.li2, -916291 + COALESCE(u1.li1, -20000000)) AS m,
               CASE WHEN b2.li2 IS NULL THEN 1 ELSE 0 END AS bo
             FROM db LEFT JOIN b2 USING (w1, w2) LEFT JOIN u1 ON u1.w2u = db.w2),
      g AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
              CAST(SUM(bo) AS BIGINT) AS n_backoff, CAST(SUM(m) AS BIGINT) AS sm
            FROM sc GROUP BY doc_id)
      SELECT doc_id, n_bigrams, n_backoff,
        CAST(sm AS DOUBLE) / (n_bigrams * 1000000) AS avg_logp,
        ROUND(EXP(-(CAST(sm AS DOUBLE) / (n_bigrams * 1000000))), 6) AS ppl
      FROM g ORDER BY doc_id"""))

  /** Hard-negative mining (`Similarity.hardNegativeTopK`): per query
    * vector, the 10 most-similar embeddings with a DIFFERENT label — the
    * confusable-but-wrong examples a contrastive loss trains against.
    * Exact crossJoin baseline (bounded query set, q31 contract); the
    * scale path composes the banded LSH candidates with the same filter. */
  val q98_hard_negatives: Q = Q(
    (s, d) => {
      val emb = table(s, d, "embeddings")
      val qs = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("embedding"), col("label"))
      Similarity.hardNegativeTopK(
          qs, emb.select(col("vec_id").as("cid"), col("embedding"), col("label")),
          k = 10)
        .orderBy("qid", "rank")
    },
    Some("""WITH q AS (SELECT vec_id AS qid, embedding, label AS ql
               FROM embeddings WHERE vec_id % 100 = 0),
      p AS (SELECT q.qid, c.vec_id AS cid, c.label AS neg_label,
              ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                CAST(c.embedding AS DOUBLE[])), 6) AS sim_r
            FROM q CROSS JOIN embeddings c WHERE c.label <> q.ql),
      r AS (SELECT qid, cid, neg_label, sim_r,
              CAST(ROW_NUMBER() OVER (PARTITION BY qid
                ORDER BY sim_r DESC, cid ASC) AS INTEGER) AS rank FROM p)
      SELECT qid, cid, rank, neg_label, sim_r AS sim FROM r
      WHERE rank <= 10 ORDER BY qid, rank"""))

  /** Per-source vocabulary drift (`TextAnalysis.sourceDrift`):
    * KL(p_source ‖ p_corpus) per source — integer micro log-ratios
    * weighted by integer counts, one division per source at the end.
    * Everything beyond the (source, word) aggregate rides windows over
    * the model-sized table. */
  val q99_source_drift: Q = Q(
    (s, d) => TextAnalysis.sourceDrift(table(s, d, "documents"))
      .orderBy("source"),
    Some("""WITH sw AS (SELECT source AS src, unnest(string_split(text, ' ')) AS w
               FROM documents),
      c AS (SELECT src, w, CAST(COUNT(*) AS BIGINT) AS c_sw FROM sw GROUP BY src, w),
      e AS (SELECT src, w, c_sw,
              CAST(SUM(c_sw) OVER (PARTITION BY src) AS BIGINT) AS ts,
              CAST(SUM(c_sw) OVER (PARTITION BY w) AS BIGINT) AS cw,
              CAST(SUM(c_sw) OVER () AS BIGINT) AS t
            FROM c),
      li AS (SELECT src, ts, c_sw,
               CAST(ROUND(ROUND(LN(CAST(c_sw * t AS DOUBLE) / (ts * cw)), 6) * 1e6) AS BIGINT) AS li
             FROM e),
      g AS (SELECT src AS source, CAST(MAX(ts) AS BIGINT) AS n_words,
              CAST(SUM(c_sw * li) AS BIGINT) AS klm
            FROM li GROUP BY src)
      SELECT source, n_words, CAST(klm AS DOUBLE) / (n_words * 1000000) AS kl
      FROM g ORDER BY source"""))

  /** Margin-based bitext/pair mining (`Similarity.marginMine`, Artetxe &
    * Schwenk 2019 ratio margin): even-label vectors are the "source
    * side", odd-label the "target side"; each source picks its
    * best-margin target where margin = cosine over the mean top-4
    * neighbourhood cosine of both endpoints. Integer-micro cosines make
    * both k-NN sums exact, so the margin is one BIGINT/BIGINT division —
    * identical on every engine. */
  val q100_margin_mine: Q = Q(
    (s, d) => {
      val emb = table(s, d, "embeddings")
      Similarity.marginMine(
          emb.filter(col("label") % 2 === 0).select(col("vec_id").as("qid"), col("embedding")),
          emb.filter(col("label") % 2 === 1).select(col("vec_id").as("cid"), col("embedding")),
          k = 4, threshold = 1.02)
        .orderBy("qid")
    },
    Some("""WITH q AS (SELECT vec_id AS qid, embedding FROM embeddings WHERE label % 2 = 0),
      c AS (SELECT vec_id AS cid, embedding FROM embeddings WHERE label % 2 = 1),
      p AS (SELECT q.qid, c.cid,
              CAST(ROUND(ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                CAST(c.embedding AS DOUBLE[])), 6) * 1000000) AS BIGINT) AS sm
            FROM q CROSS JOIN c),
      r AS (SELECT qid, cid, sm,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sm DESC, cid ASC) AS rq,
              ROW_NUMBER() OVER (PARTITION BY cid ORDER BY sm DESC, qid ASC) AS rc
            FROM p),
      s AS (SELECT qid, cid, sm,
              CAST(SUM(CASE WHEN rq <= 4 THEN sm ELSE 0 END)
                OVER (PARTITION BY qid) AS BIGINT) AS sq,
              CAST(SUM(CASE WHEN rc <= 4 THEN sm ELSE 0 END)
                OVER (PARTITION BY cid) AS BIGINT) AS sc
            FROM r),
      m AS (SELECT qid, cid, sm, CAST(sm * 8 AS DOUBLE) / (sq + sc) AS margin FROM s),
      b AS (SELECT qid, cid, sm, margin,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY margin DESC, cid ASC) AS rk
            FROM m)
      SELECT qid, cid, ROUND(margin, 6) AS margin, CAST(sm AS DOUBLE) / 1000000 AS sim
      FROM b WHERE rk = 1 AND margin > 1.02 ORDER BY qid"""))

  /** PMI collocation mining (`TextAnalysis.collocations`, Church & Hanks
    * 1990): top-50 adjacent word pairs by pointwise mutual information
    * over the bigram table's own margins, min count 5 — the
    * tokenizer-merge-list / boilerplate-phrase extraction stage. One
    * corpus explode-aggregate; margins and the total ride windows over
    * the model-sized bigram table. */
  val q101_collocations: Q = Q(
    (s, d) => TextAnalysis.collocations(table(s, d, "documents"), minCount = 5L, topK = 50),
    Some("""WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
      b AS (SELECT w[i] AS w1, w[i + 1] AS w2
            FROM (SELECT w, generate_subscripts(w, 1) AS i FROM w) WHERE i < len(w)),
      c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY w1, w2),
      m AS (SELECT w1, w2, n,
              CAST(SUM(n) OVER (PARTITION BY w1) AS BIGINT) AS cl,
              CAST(SUM(n) OVER (PARTITION BY w2) AS BIGINT) AS cr,
              CAST(SUM(n) OVER () AS BIGINT) AS t
            FROM c2),
      p AS (SELECT w1, w2, n,
              CAST(ROUND(ROUND(LN(CAST(n * t AS DOUBLE) / (cl * cr)), 6) * 1e6) AS BIGINT) AS pm
            FROM m WHERE n >= 5)
      SELECT w1, w2, n, CAST(pm AS DOUBLE) / 1000000 AS pmi
      FROM p ORDER BY pm DESC, w1 ASC, w2 ASC LIMIT 50"""))

  /** Leakage-aware corpus split (`Selection.splitByContent`): the
    * train/valid/test draw comes from the md5 of the CONTENT, so
    * byte-identical duplicates land in the same split by construction
    * (no train→eval leakage through re-crawled ids). Output is the
    * per-split budget summary: docs, distinct fingerprints, tokens. */
  val q102_content_split: Q = Q(
    (s, d) => {
      val assigned = Selection.splitByContent(table(s, d, "documents"))
        .select(col("split"), col("fp"),
          size(split(col("text"), " ")).cast("long").as("_nw"))
      assigned
        .groupBy("split", "fp")
        .agg(count(lit(1)).as("_n"), sum("_nw").as("_sw"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_fp"), sum("_n").as("n_docs"), sum("_sw").as("n_tokens"))
        .select(col("split"), col("n_docs"), col("n_fp"), col("n_tokens"))
        .orderBy("split")
    },
    Some("""WITH d AS (SELECT
        CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS fp,
        CAST((CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) % 4503599627370496 + 1)
          AS DOUBLE) / 4503599627370497 AS u,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS nw
      FROM documents),
      a AS (SELECT fp, nw,
              CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'valid'
                   ELSE 'test' END AS split
            FROM d),
      g AS (SELECT split, fp, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(nw) AS BIGINT) AS sw
            FROM a GROUP BY split, fp)
      SELECT split, CAST(SUM(n) AS BIGINT) AS n_docs, CAST(COUNT(*) AS BIGINT) AS n_fp,
        CAST(SUM(sw) AS BIGINT) AS n_tokens
      FROM g GROUP BY split ORDER BY split"""))

  /** Exact per-source signal correlation (`Selection.corrByGroup`):
    * Pearson r between document length and distinct-word count — the
    * lexical-diversity-vs-length curve per source, and the pipeline's
    * signal-redundancy diagnostic. Cross-moments are exact DECIMAL sums
    * (a float corr() is partial-sum-order-dependent); r is one fixed
    * double expression over the exact moments. */
  val q103_signal_corr: Q = Q(
    (s, d) => {
      val docs = table(s, d, "documents").select(col("source"),
        size(split(col("text"), " ")).cast("long").as("_x"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("_y"))
      Selection.corrByGroup(docs, "source", col("_x"), col("_y"))
        .orderBy("source")
    },
    Some("""WITH d AS (SELECT source,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS x,
        CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS y
      FROM documents),
      g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
              CAST(SUM(x * x) AS HUGEINT) AS sxx, CAST(SUM(y * y) AS HUGEINT) AS syy,
              CAST(SUM(x * y) AS HUGEINT) AS sxy
            FROM d GROUP BY source)
      SELECT source, n,
        CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
          THEN ROUND(CAST(n * sxy - sx * sy AS DOUBLE) /
            (SQRT(CAST(n * sxx - sx * sx AS DOUBLE)) *
             SQRT(CAST(n * syy - sy * sy AS DOUBLE))), 6)
        END AS r
      FROM g ORDER BY source"""))

  /** Zipf power-law fit (`TextAnalysis.zipfFit`): least-squares slope of
    * ln(count) vs ln(rank) over the top-1000 vocabulary — the
    * natural-language sanity diagnostic (true text sits near −1).
    * Micro-integer logs make the regression moments exact BIGINT sums;
    * the corpus is scanned once (the vocabulary aggregate). */
  val q104_zipf_fit: Q = Q(
    (s, d) => TextAnalysis.zipfFit(table(s, d, "documents"), topV = 1000),
    Some("""WITH t AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
      agg AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM t GROUP BY word),
      v AS (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, word ASC) AS rank
            FROM (SELECT word, cnt FROM agg ORDER BY cnt DESC, word ASC LIMIT 1000)),
      xy AS (SELECT CAST(ROUND(ROUND(LN(CAST(rank AS DOUBLE)), 6) * 1e6) AS BIGINT) AS x,
               CAST(ROUND(ROUND(LN(CAST(cnt AS DOUBLE)), 6) * 1e6) AS BIGINT) AS y
             FROM v),
      m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
              CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * x) AS BIGINT) AS sxx,
              CAST(SUM(x * y) AS BIGINT) AS sxy FROM xy),
      s AS (SELECT n, sx, sy,
              ROUND(CAST(n * sxy - sx * sy AS DOUBLE) /
                CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope
            FROM m)
      SELECT n AS n_types, slope,
        ROUND((CAST(sy AS DOUBLE) / 1e6 - slope * (CAST(sx AS DOUBLE) / 1e6)) / n, 6)
          AS intercept
      FROM s"""))

  /** Trained-BPE application (`TextAnalysis.applyBpe` under the
    * `tools/TrainBpe` model baked in [[TrainedBpe]]): every doc is
    * tokenized by replaying the trained merge list as a per-row literal
    * replace chain; the md5 of the full tokenized stream proves
    * TOKEN-LEVEL parity with the oracle, which is generated from the
    * SAME merge literals (one definition). */
  val q105_bpe_tokenize: Q = Q(
    (s, d) => TextAnalysis.applyBpe(table(s, d, "documents"), TrainedBpe.merges)
      .orderBy("doc_id"),
    Some(bpeSql(TrainedBpe.merges)))

  /** Cross-source duplication matrix (`Dedup.sourceOverlap`): distinct
    * word-set fingerprints per source, pairwise shared counts and
    * fingerprint-set Jaccard over the full upper triangle — the
    * corpus-composition diagnostic run before mixing crawls. Jaccard is
    * one long/long double division, exact on both engines. */
  val q106_source_overlap: Q = Q(
    (s, d) => Dedup.sourceOverlap(table(s, d, "documents"))
      .orderBy("src1", "src2"),
    Some("""WITH f AS (SELECT DISTINCT source AS src,
        md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
      FROM documents),
      n AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS nfp FROM f GROUP BY src),
      sh AS (SELECT a.src AS src1, b.src AS src2, CAST(COUNT(*) AS BIGINT) AS shared
             FROM f a JOIN f b ON a.fp = b.fp AND a.src < b.src GROUP BY 1, 2),
      m AS (SELECT n1.src AS src1, n2.src AS src2, n1.nfp AS nfp1, n2.nfp AS nfp2,
              COALESCE(sh.shared, CAST(0 AS BIGINT)) AS shared
            FROM n n1 JOIN n n2 ON n1.src < n2.src
            LEFT JOIN sh ON sh.src1 = n1.src AND sh.src2 = n2.src)
      SELECT src1, src2, nfp1, nfp2, shared,
        CAST(shared AS DOUBLE) / (nfp1 + nfp2 - shared) AS jaccard
      FROM m ORDER BY src1, src2"""))

  /** Per-user decayed-history features + spike flag
    * (`Temporal.decayedHistory`): bounded 8-lag half-life pivot, exact
    * dyadic weights, spike gate compared in the pre-division form — the
    * whole row is bit-reproducible with no ROUND (see the operator
    * scaladoc for the exactness argument). */
  val q107_decay_features: Q = Q(
    (s, d) => Temporal.decayedHistory(
        eventsNs(s, d).withColumn("tus", expr("ts div 1000")), k = 8)
      .orderBy("event_id"),
    Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus, value FROM events),
      l AS (SELECT event_id, user_id, tus, value,
          LAG(value, 1) OVER w AS l1, LAG(value, 2) OVER w AS l2,
          LAG(value, 3) OVER w AS l3, LAG(value, 4) OVER w AS l4,
          LAG(value, 5) OVER w AS l5, LAG(value, 6) OVER w AS l6,
          LAG(value, 7) OVER w AS l7, LAG(value, 8) OVER w AS l8
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus ASC, event_id ASC)),
      d AS (SELECT event_id, user_id, tus, value,
          COALESCE(l1, 0.0) / 1.0 + COALESCE(l2, 0.0) / 2.0 + COALESCE(l3, 0.0) / 4.0
            + COALESCE(l4, 0.0) / 8.0 + COALESCE(l5, 0.0) / 16.0 + COALESCE(l6, 0.0) / 32.0
            + COALESCE(l7, 0.0) / 64.0 + COALESCE(l8, 0.0) / 128.0 AS decayed,
          CAST((CASE WHEN l1 IS NULL THEN 0 ELSE 1 END) + (CASE WHEN l2 IS NULL THEN 0 ELSE 1 END)
            + (CASE WHEN l3 IS NULL THEN 0 ELSE 1 END) + (CASE WHEN l4 IS NULL THEN 0 ELSE 1 END)
            + (CASE WHEN l5 IS NULL THEN 0 ELSE 1 END) + (CASE WHEN l6 IS NULL THEN 0 ELSE 1 END)
            + (CASE WHEN l7 IS NULL THEN 0 ELSE 1 END) + (CASE WHEN l8 IS NULL THEN 0 ELSE 1 END)
            AS BIGINT) AS n_hist
        FROM l),
      g AS (SELECT *, CASE n_hist WHEN 1 THEN 1.0 WHEN 2 THEN 1.5 WHEN 3 THEN 1.75
          WHEN 4 THEN 1.875 WHEN 5 THEN 1.9375 WHEN 6 THEN 1.96875 WHEN 7 THEN 1.984375
          WHEN 8 THEN 1.9921875 END AS wsum
        FROM d)
      SELECT event_id, user_id, tus, value, n_hist, decayed,
        decayed / CAST(wsum AS DOUBLE) AS ewma,
        CAST(CASE WHEN n_hist > 0 AND value * CAST(wsum AS DOUBLE) > 2.0 * decayed
          THEN 1 ELSE 0 END AS BIGINT) AS spike
      FROM g ORDER BY event_id"""))

  /** Semantic decontamination (`Similarity.semanticContamination`): the
    * embedding-space twin of q63 — corpus vectors whose round-6 cosine to
    * any benchmark vector (the `vec_id % 100` query set) reaches 0.2,
    * with hit counts and the deterministic best match. Zero-shuffle
    * broadcast-model scoring on the Spark side. */
  val q108_semantic_decontaminate: Q = Q(
    (s, d) => {
      val emb = table(s, d, "embeddings")
      Similarity.semanticContamination(
          emb.filter(col("vec_id") % 100 =!= 0),
          emb.filter(col("vec_id") % 100 === 0).select(col("vec_id").as("bid"), col("embedding")),
          threshold = 0.2)
        .orderBy("vec_id")
    },
    Some("""WITH b AS (SELECT vec_id AS bid, embedding AS bv FROM embeddings WHERE vec_id % 100 = 0),
      c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 100 <> 0),
      p AS (SELECT c.vec_id, b.bid,
              ROUND(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                CAST(b.bv AS DOUBLE[])), 6) AS sim
            FROM c CROSS JOIN b),
      g AS (SELECT vec_id,
              CAST(COUNT(CASE WHEN sim >= 0.2 THEN 1 END) AS BIGINT) AS n_hits,
              MAX(struct_pack(sim := sim, bid := bid)) AS m
            FROM p GROUP BY vec_id)
      SELECT vec_id, n_hits, m.sim AS top_sim, m.bid AS top_bid
      FROM g WHERE n_hits > 0 ORDER BY vec_id"""))

  /** Containment near-dup (`Dedup.containment` over
    * `TextAnalysis.winnowOverlap` candidates): Broder's asymmetric
    * |W1∩W2|/|W1| — the quote/subset detector Jaccard misses. Candidates
    * come from the df-capped winnow posting join (q83); verification is
    * the relational word equi-join. */
  val q109_containment: Q = Q(
    (s, d) => {
      val docs = docsRebalanced(s, d)
      Dedup.containment(docs, TextAnalysis.winnowOverlap(docs), threshold = 0.5)
        .orderBy("d1", "d2")
    },
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      h AS (SELECT doc_id, list_transform(range(greatest(len(w) - 2, 1)),
              i -> CAST('0x' || substr(md5(array_to_string(w[(i+1):(i+3)], ' ')), 1, 15) AS BIGINT)) AS hs
            FROM w),
      f AS (SELECT doc_id, list_distinct(list_transform(range(greatest(len(hs) - 3, 1)),
              j -> list_min(hs[(j+1):(j+4)]))) AS fps FROM h),
      e AS (SELECT doc_id, unnest(fps) AS fp FROM f),
      d AS (SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS df FROM e),
      p AS (SELECT doc_id, fp FROM d WHERE df <= 10),
      cand AS (SELECT a.doc_id AS d1, b.doc_id AS d2
               FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id < b.doc_id
               GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      ws AS (SELECT doc_id, list_distinct(w) AS dw FROM w),
      v AS (SELECT c.d1, c.d2,
              CAST(len(list_intersect(w1.dw, w2.dw)) AS BIGINT) AS i,
              CAST(len(w1.dw) AS BIGINT) AS n1, CAST(len(w2.dw) AS BIGINT) AS n2
            FROM cand c JOIN ws w1 ON c.d1 = w1.doc_id JOIN ws w2 ON c.d2 = w2.doc_id)
      SELECT d1, d2, i AS inter, n1, n2,
        CAST(i AS DOUBLE) / n1 AS c1, CAST(i AS DOUBLE) / n2 AS c2
      FROM v WHERE greatest(CAST(i AS DOUBLE) / n1, CAST(i AS DOUBLE) / n2) >= 0.5
      ORDER BY d1, d2"""))

  /** Per-source z-score normalization (`Selection.zscoreByGroup`) of doc
    * length: z = (n·x − s)/sqrt(n·ss − s²) over exact decimal moments —
    * no float cancellation, no sqrt-of-negative edge; the corpus is
    * scanned once and never shuffled (broadcast stats join-back). */
  val q110_zscore: Q = Q(
    (s, d) => Selection.zscoreByGroup(
        table(s, d, "documents").select("doc_id", "source", "n_chars"),
        "source", col("n_chars"))
      .orderBy("doc_id"),
    Some("""WITH d AS (SELECT doc_id, source, n_chars FROM documents),
      g AS (SELECT source, CAST(COUNT(*) AS HUGEINT) AS n,
              CAST(SUM(n_chars) AS HUGEINT) AS s,
              CAST(SUM(n_chars * n_chars) AS HUGEINT) AS ss
            FROM d GROUP BY source)
      SELECT d.doc_id, d.source, d.n_chars,
        CASE WHEN (n * ss - s * s) > 0
          THEN ROUND(CAST(n * d.n_chars - s AS DOUBLE) / SQRT(CAST(n * ss - s * s AS DOUBLE)), 6)
        END AS z
      FROM d JOIN g ON d.source = g.source ORDER BY d.doc_id"""))

  /** Spearman rank correlation per source (`Selection.spearmanByGroup`):
    * the q103 Pearson pair's monotone-association twin — RANK() (min-rank
    * ties, no tie-break column needed) feeds the same exact decimal
    * moments. */
  val q111_spearman: Q = Q(
    (s, d) => {
      val docs = table(s, d, "documents").select(col("source"),
        size(split(col("text"), " ")).cast("long").as("_x"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("_y"))
      Selection.spearmanByGroup(docs, "source", col("_x"), col("_y"))
        .orderBy("source")
    },
    Some("""WITH d AS (SELECT source,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS x,
        CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS y
      FROM documents),
      r AS (SELECT source,
              CAST(RANK() OVER (PARTITION BY source ORDER BY x ASC) AS BIGINT) AS rx,
              CAST(RANK() OVER (PARTITION BY source ORDER BY y ASC) AS BIGINT) AS ry
            FROM d),
      g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(rx) AS HUGEINT) AS sx, CAST(SUM(ry) AS HUGEINT) AS sy,
              CAST(SUM(rx * rx) AS HUGEINT) AS sxx, CAST(SUM(ry * ry) AS HUGEINT) AS syy,
              CAST(SUM(rx * ry) AS HUGEINT) AS sxy
            FROM r GROUP BY source)
      SELECT source, n,
        CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
          THEN ROUND(CAST(n * sxy - sx * sy AS DOUBLE) /
            (SQRT(CAST(n * sxx - sx * sx AS DOUBLE)) *
             SQRT(CAST(n * syy - sy * sy AS DOUBLE))), 6)
        END AS r
      FROM g ORDER BY source"""))

  /** Winsorized mean per language (`Selection.winsorizedMeanByGroup`):
    * doc length clamped to the exact [p10, p90] quantile values — both
    * bounds from ONE histogram pass (no per-group corpus sort), then a
    * broadcast-bounds clip + decimal mean. */
  val q112_winsorized: Q = Q(
    (s, d) => Selection.winsorizedMeanByGroup(
        table(s, d, "documents").select(col("lang"), col("n_chars")),
        "lang", "n_chars")
      .orderBy("lang"),
    Some("""WITH r AS (SELECT lang, n_chars,
              ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars ASC) AS rn,
              CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n
            FROM documents),
      b AS (SELECT lang, MAX(n) AS n,
              MIN(CASE WHEN rn = (n * 100000 + 999999) // 1000000 THEN CAST(n_chars AS DOUBLE) END) AS q_lo,
              MIN(CASE WHEN rn = (n * 900000 + 999999) // 1000000 THEN CAST(n_chars AS DOUBLE) END) AS q_hi
            FROM r GROUP BY lang)
      SELECT d.lang, b.n, b.q_lo, b.q_hi,
        CAST(CAST(SUM(CAST(least(greatest(CAST(d.n_chars AS DOUBLE), b.q_lo), b.q_hi) AS DECIMAL(19,0))) AS DOUBLE) / b.n AS DOUBLE) AS wins_mean
      FROM documents d JOIN b ON d.lang = b.lang
      GROUP BY d.lang, b.n, b.q_lo, b.q_hi ORDER BY d.lang"""))

  /** MinHash estimator accuracy (`Dedup.minhashAccuracy`): for every
    * banded candidate pair, the signature-match Jaccard estimate next to
    * the exact shingle-set Jaccard and |err| — the measure-don't-guess
    * diagnostic for the (numHashes, rowsPerBand) config. Zero-overlap
    * band collisions survive with jaccard = 0 (the estimator's false
    * positives). */
  val q113_minhash_accuracy: Q = Q(
    (s, d) => Dedup.minhashAccuracy(docsRebalanced(s, d)).orderBy("d1", "d2"),
    Some {
      val sigs = (1 to 8)
        .map(i => "list_min(list_transform(bgs, x -> " +
          s"CAST('0x' || substr(md5(x || '#$i'), 1, 15) AS BIGINT))) AS h$i")
        .mkString(", ")
      val matches = (1 to 8)
        .map(i => s"(CASE WHEN s1.h$i = s2.h$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH bg AS (SELECT doc_id, list_distinct(${duckGrams(2)}) AS bgs
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
      -- MATERIALIZED at the narrow cuts (sig: doc_id + 8 ints; cand: the
      -- candidate pairs) so the heavy bg list build is not inlined under
      -- bands x2 + m x2; passes a 70MB memory_limit stress
      sig AS MATERIALIZED (SELECT doc_id, $sigs FROM bg),
      bands AS (
        SELECT doc_id, 0 AS band_idx, CAST(h1 AS VARCHAR) || '_' || CAST(h2 AS VARCHAR) AS band FROM sig
        UNION ALL SELECT doc_id, 1 AS band_idx, CAST(h3 AS VARCHAR) || '_' || CAST(h4 AS VARCHAR) AS band FROM sig
        UNION ALL SELECT doc_id, 2 AS band_idx, CAST(h5 AS VARCHAR) || '_' || CAST(h6 AS VARCHAR) AS band FROM sig
        UNION ALL SELECT doc_id, 3 AS band_idx, CAST(h7 AS VARCHAR) || '_' || CAST(h8 AS VARCHAR) AS band FROM sig),
      cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
               FROM bands a JOIN bands b
                 ON a.band_idx = b.band_idx AND a.band = b.band AND a.doc_id < b.doc_id),
      m AS (SELECT c.d1, c.d2, CAST($matches AS BIGINT) AS matches
            FROM cand c JOIN sig s1 ON s1.doc_id = c.d1 JOIN sig s2 ON s2.doc_id = c.d2),
      v AS (SELECT c.d1, c.d2,
              CAST(len(list_intersect(b1.bgs, b2.bgs)) AS BIGINT) AS i,
              CAST(len(b1.bgs) AS BIGINT) AS sz1, CAST(len(b2.bgs) AS BIGINT) AS sz2
            FROM cand c JOIN bg b1 ON b1.doc_id = c.d1 JOIN bg b2 ON b2.doc_id = c.d2)
      SELECT m.d1, m.d2, CAST(m.matches AS DOUBLE) / 8 AS est,
        CAST(v.i AS DOUBLE) / CAST(v.sz1 + v.sz2 - v.i AS DOUBLE) AS jaccard,
        abs(CAST(m.matches AS DOUBLE) / 8 -
          CAST(v.i AS DOUBLE) / CAST(v.sz1 + v.sz2 - v.i AS DOUBLE)) AS abs_err
      FROM m JOIN v ON m.d1 = v.d1 AND m.d2 = v.d2
      ORDER BY m.d1, m.d2"""
    })

  /** Quality-canonical near-dup clusters (`Dedup.nearDupCanonical`): q64's
    * transitive components, but each cluster keeps its LONGEST member
    * (ties → lowest id) — the keep-best-copy policy. Same recursive-CTE
    * oracle with a rank-1 window pick. */
  val q114_canonical_cluster: Q = Q(
    (s, d) => {
      val docs = table(s, d, "documents")
      Dedup.ngramNearDupCanonical(docs, Seq("lang", "n_chars"), "n_chars",
          maxBlockSize = Dedup.Uncapped)
        .select("doc_id", "cluster_id", "n_chars", "keep")
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE $blockedJaccardPairsSql,
      pairs AS MATERIALIZED (SELECT d1, d2 FROM v
                WHERE CAST(i AS DOUBLE) / CAST(sz1 + sz2 - i AS DOUBLE) >= 0.3),
      verts(id) AS (SELECT d1 FROM pairs UNION SELECT d2 FROM pairs),
      edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
                UNION ALL SELECT d2 AS src, d1 AS dst FROM pairs),
      walk(id, label) AS (
        SELECT id, id FROM verts
        UNION
        SELECT e.src, w.label FROM edges e JOIN walk w ON w.id = e.dst),
      lab AS (SELECT id, MIN(label) AS cluster_id FROM walk GROUP BY id),
      l2 AS (SELECT d.doc_id, d.n_chars,
               COALESCE(l.cluster_id, d.doc_id) AS cluster_id
             FROM documents d LEFT JOIN lab l ON l.id = d.doc_id)
      SELECT doc_id, cluster_id, n_chars,
        (ROW_NUMBER() OVER (PARTITION BY cluster_id
           ORDER BY n_chars DESC, doc_id ASC) = 1) AS keep
      FROM l2 ORDER BY doc_id"""))

  /** The q105 oracle, derived from the baked merge literals — the DuckDB
    * replay of the identical sentinel/double-space replace chain
    * (`replace` is left-to-right non-overlapping in both engines, which
    * IS greedy BPE application). */
  private def bpeSql(merges: Seq[(String, String)]): String = {
    val chain = merges.foldLeft(
      "' ' || coalesce(array_to_string(string_split(w, ''), '  '), '') || ' '") {
      case (acc, (a, b)) => s"replace($acc, ' $a  $b ', ' $a$b ')"
    }
    s"""WITH t AS (SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        list_transform(string_split(text, ' '), w -> trim($chain)) AS toks
      FROM documents),
      g AS (SELECT doc_id, n_words,
          CAST(list_aggregate(list_transform(toks, t -> len(string_split(t, '  '))),
            'sum') AS BIGINT) AS n_subwords,
          md5(array_to_string(toks, '  ')) AS tok_md5
        FROM t)
      SELECT doc_id, n_words, n_subwords, tok_md5,
        ROUND(CAST(n_subwords AS DOUBLE) / n_words, 6) AS ratio
      FROM g ORDER BY doc_id"""
  }

  /** The BM25 oracle, generated from the SAME Scala doubles the Spark plan
    * uses (`toString` of a Double is shortest-round-trip, and DuckDB
    * parses it back to the identical IEEE value). */
  private def bm25Sql(terms: Seq[String], k1: Double, b: Double, topK: Int): String = {
    val tfDefs = terms.indices.map(i =>
      s"CAST(len(list_filter(w, x -> x = '${terms(i)}')) AS BIGINT) AS tf$i").mkString(", ")
    val dfDefs = terms.indices.map(i =>
      s"CAST(COUNT(CASE WHEN tf$i > 0 THEN 1 END) AS BIGINT) AS df$i").mkString(", ")
    val idfDefs = terms.indices.map(i =>
      s"ROUND(LN(1.0 + ((CAST(n_docs AS DOUBLE) - df$i) + 0.5) / (CAST(df$i AS DOUBLE) + 0.5)), 6) AS idf$i")
      .mkString(", ")
    val den = s"$k1 * (${1 - b} + ($b * CAST(pd.dl AS DOUBLE)) / m.avgdl)"
    val termSum = terms.indices.map(i =>
      s"""CASE WHEN pd.tf$i > 0
         THEN (m.idf$i * (CAST(pd.tf$i AS DOUBLE) * ${k1 + 1})) / (CAST(pd.tf$i AS DOUBLE) + $den)
         ELSE CAST(0 AS DOUBLE) END""").mkString(" + ")
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      pd AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, $tfDefs FROM w),
      st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl,
               $dfDefs FROM pd),
      m AS (SELECT n_docs, CAST(sum_dl AS DOUBLE) / n_docs AS avgdl, $idfDefs FROM st),
      sc AS (SELECT pd.doc_id, pd.dl, ROUND($termSum, 6) AS score FROM pd CROSS JOIN m)
      SELECT doc_id, dl AS n_words, score FROM sc
      WHERE score > 0 ORDER BY score DESC, doc_id LIMIT $topK"""
  }

  // ============================================ embeddings (extension ops)

  val q30_cosine_sim: Q = Q(
    (s, d) => {
      val emb = table(s, d, "embeddings")
      val q = emb.filter(col("vec_id") % 100 === 0).select(col("vec_id").as("qid"), col("embedding"))
      val c = emb.filter(col("vec_id") % 7 === 0).select(col("vec_id").as("cid"), col("embedding"))
      Similarity.cosinePairs(q, c)
        .select(col("qid"), col("cid"), round(col("sim"), 6).as("sim"))
        .orderBy("qid", "cid")
    },
    Some("""SELECT q.vec_id AS qid, c.vec_id AS cid,
        ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS sim
      FROM embeddings q CROSS JOIN embeddings c
      WHERE q.vec_id % 100 = 0 AND c.vec_id % 7 = 0 ORDER BY qid, cid"""))

  val q31_ann_topk: Q = Q(
    (s, d) => {
      val emb = table(s, d, "embeddings")
      val q = emb.filter(col("vec_id") % 100 === 0).select(col("vec_id").as("qid"), col("embedding"))
      val c = emb.select(col("vec_id").as("cid"), col("embedding"))
      Similarity.bruteForceTopK(q, c, k = 10).orderBy("qid", "rank")
    },
    Some("""WITH pairs AS (
        SELECT q.vec_id AS qid, c.vec_id AS cid,
          ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS sim_r
        FROM embeddings q CROSS JOIN embeddings c WHERE q.vec_id % 100 = 0),
      r AS (SELECT qid, cid, sim_r,
              CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim_r DESC, cid ASC) AS INTEGER) AS rank
            FROM pairs)
      SELECT qid, cid, rank, sim_r AS sim FROM r WHERE rank <= 10 ORDER BY qid, rank"""))

  // ==================== grid-to-grid resampling / geometry / binary / events

  /** Gradient-search-equivalent bilinear area->area resample (J8), fully
    * oracle-checkable: longlat grids make every step pure arithmetic. */
  val q32_gradient_bilinear: Q = Q(
    (s, d) => {
      val g = bucket.withCell(swath(s, d)).groupBy("cell")
        .agg(
          sum(col("value").cast(dec)).cast("double").as("_s"),
          count(col("value")).as("_n"))
        .select(col("cell"), (col("_s") / col("_n")).as("value"))
      val dst = AreaDef("eu05", Crs.fromProj4("+proj=longlat"), 80, 60, -10, 35, 30, 65)
      GradientResample.bilinear(g, world, dst).orderBy("dst_id")
    },
    Some(s"""WITH $swathSql, $swCellSql,
      g AS (SELECT cell, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value) AS value
            FROM sw GROUP BY cell),
      dst AS (SELECT cell AS dst_id,
                -10.0 + ((cell % 80) + 0.5) * 0.5 AS lon,
                65.0 - (CAST(FLOOR(cell / 80) AS BIGINT) + 0.5) * 0.5 AS lat
              FROM range(0, 4800) t(cell)),
      f AS (SELECT dst_id, (lon - -180.0) / 1.0 AS src_col, (90.0 - lat) / 1.0 AS src_row FROM dst),
      f2 AS (SELECT dst_id,
               CAST(FLOOR(src_col - 0.5) AS BIGINT) AS c0,
               CAST(FLOOR(src_row - 0.5) AS BIGINT) AS r0,
               src_col - 0.5 - CAST(FLOOR(src_col - 0.5) AS BIGINT) AS fc,
               src_row - 0.5 - CAST(FLOOR(src_row - 0.5) AS BIGINT) AS fr
             FROM f
             WHERE CAST(FLOOR(src_col - 0.5) AS BIGINT) >= 0 AND CAST(FLOOR(src_col - 0.5) AS BIGINT) < 359
               AND CAST(FLOOR(src_row - 0.5) AS BIGINT) >= 0 AND CAST(FLOOR(src_row - 0.5) AS BIGINT) < 179)
      SELECT f2.dst_id,
        g00.value * (1.0 - fc) * (1.0 - fr) + g01.value * fc * (1.0 - fr) +
        g10.value * (1.0 - fc) * fr + g11.value * fc * fr AS value
      FROM f2
      JOIN g g00 ON g00.cell = r0 * 360 + c0
      JOIN g g01 ON g01.cell = r0 * 360 + c0 + 1
      JOIN g g10 ON g10.cell = (r0 + 1) * 360 + c0
      JOIN g g11 ON g11.cell = (r0 + 1) * 360 + c0 + 1
      ORDER BY f2.dst_id"""))

  /** EWA on a longlat grid with decimal-quantized weights — the whole
    * per-scan Jacobian + footprint-scatter pipeline reproduced bit-exactly
    * by the oracle (weights rounded to 7 decimals and summed as DECIMAL,
    * so the unbounded per-cell contribution count has an order-free sum). */
  val q33_ewa: Q = Q(
    (s, d) => {
      val area = AreaDef("ewa_ll", Crs.fromProj4("+proj=longlat"), 80, 40, -15, 40, 25, 60)
      val sw = table(s, d, "lineitem").selectExpr(
        "CAST(l_orderkey % 100 AS INT) AS y",
        "CAST(l_partkey % 80 AS INT) AS x",
        "l_quantity AS q0")
        .groupBy("y", "x").agg(min("q0").as("value"))
        .selectExpr("y", "x",
          "x * 0.45 - 12.0 + y * 0.01 AS lon",
          "58.0 - y * 0.18 + x * 0.004 AS lat",
          "value")
      EwaResample.resample(sw, area, rowsPerScan = 25, quantizeWeights = Some(7))
        .orderBy("cell")
    },
    Some {
      val negAlpha = (-(-math.log(0.01) / 1.0)).toString // -alpha, exact double literal
      s"""WITH pix AS (SELECT CAST(l_orderkey % 100 AS INT) AS y, CAST(l_partkey % 80 AS INT) AS x,
                  MIN(l_quantity) AS value FROM lineitem GROUP BY 1, 2),
      sw AS (SELECT y, x, x * 0.45 - 12.0 + y * 0.01 AS lon, 58.0 - y * 0.18 + x * 0.004 AS lat, value FROM pix),
      cr AS (SELECT *, (lon - -15.0) / 0.5 AS u, (60.0 - lat) / 0.5 AS v FROM sw),
      wscan AS (SELECT *, CAST(FLOOR(y / 25) AS BIGINT) AS scan, y % 25 AS y_in FROM cr),
      srows AS (SELECT scan, MIN(y_in) AS y0, MAX(y_in) AS y1,
                  CAST(FLOOR((MIN(y_in) + MAX(y_in) + 1) / 2) AS BIGINT) AS ymid
                FROM wscan GROUP BY scan),
      ws AS (SELECT w.*, s.y0, s.y1, s.ymid FROM wscan w JOIN srows s ON s.scan = w.scan),
      mid AS (SELECT scan, x,
               (LEAD(u, 1) OVER (PARTITION BY scan ORDER BY x) -
                LAG(u, 1) OVER (PARTITION BY scan ORDER BY x)) / 2.0 * 1.0 AS ux,
               (LEAD(v, 1) OVER (PARTITION BY scan ORDER BY x) -
                LAG(v, 1) OVER (PARTITION BY scan ORDER BY x)) / 2.0 * 1.0 AS vx
             FROM ws WHERE y_in = ymid),
      fl AS (SELECT scan, x,
               MAX(CASE WHEN y_in = y1 THEN u END) - MAX(CASE WHEN y_in = y0 THEN u END) AS du,
               MAX(CASE WHEN y_in = y1 THEN v END) - MAX(CASE WHEN y_in = y0 THEN v END) AS dv,
               MAX(y1 - y0) AS dy
             FROM ws WHERE y_in = y0 OR y_in = y1 GROUP BY scan, x),
      fl2 AS (SELECT scan, x, CASE WHEN dy > 0 THEN du / dy * 1.0 ELSE 0.0 END AS uy,
                CASE WHEN dy > 0 THEN dv / dy * 1.0 ELSE 0.0 END AS vy FROM fl),
      par0 AS (SELECT scan, x, ux, vx, uy, vy FROM mid FULL OUTER JOIN fl2 USING (scan, x)),
      par1 AS (SELECT *,
                 (ux IS NULL OR vx IS NULL OR uy IS NULL OR vy IS NULL OR
                  isnan(ux) OR isnan(vx) OR isnan(uy) OR isnan(vy)) AS bad,
                 GREATEST((ux * vy - uy * vx) * (ux * vy - uy * vx), 0.0000000000000001) AS fs
               FROM par0),
      par2 AS (SELECT scan, x, bad,
                 CASE WHEN bad THEN 0.0 ELSE (vx * vx + vy * vy) * (1.0 / fs) END AS ea,
                 CASE WHEN bad THEN 0.0 ELSE -2.0 * (ux * vx + uy * vy) * (1.0 / fs) END AS eb,
                 CASE WHEN bad THEN 0.0 ELSE (ux * ux + uy * uy) * (1.0 / fs) END AS ec
               FROM par1),
      par3 AS (SELECT *, GREATEST(4.0 * ea * ec - eb * eb, 0.0000000000000001) AS d FROM par2),
      par AS (SELECT scan, x, ea, eb, ec,
                CASE WHEN bad THEN 1.0 ELSE LEAST(SQRT(ec * (4.0 / d)), 10.0) END AS udel,
                CASE WHEN bad THEN 1.0 ELSE LEAST(SQRT(ea * (4.0 / d)), 10.0) END AS vdel
              FROM par3),
      px0 AS (SELECT w.u, w.v, w.value, p.ea, p.eb, p.ec, p.udel, p.vdel
              FROM wscan w JOIN par p ON p.scan = w.scan AND p.x = w.x
              WHERE NOT isnan(w.u) AND NOT isnan(w.v) AND w.value IS NOT NULL AND NOT isnan(w.value)
                AND w.u >= -p.udel AND w.v >= -p.vdel),
      px1 AS (SELECT *,
                GREATEST(CAST(FLOOR(u - udel) AS INTEGER), 0) AS iu1,
                LEAST(CAST(FLOOR(u + udel) AS INTEGER), 79) AS iu2,
                GREATEST(CAST(FLOOR(v - vdel) AS INTEGER), 0) AS iv1,
                LEAST(CAST(FLOOR(v + vdel) AS INTEGER), 39) AS iv2
              FROM px0),
      px2 AS (SELECT * FROM px1 WHERE iu1 <= iu2 AND iv1 <= iv2),
      scA AS (SELECT px2.*, unnest(generate_series(iu1, iu2)) AS iu FROM px2),
      sc0 AS (SELECT scA.*, unnest(generate_series(iv1, iv2)) AS iv FROM scA),
      sc1 AS (SELECT *, iu + 0.5 - u AS du, iv + 0.5 - v AS dv FROM sc0),
      sc2 AS (SELECT *, ea * du * du + eb * du * dv + ec * dv * dv AS q FROM sc1
              WHERE ea * du * du + eb * du * dv + ec * dv * dv >= 0
                AND ea * du * du + eb * du * dv + ec * dv * dv < 1.0),
      sc3 AS (SELECT CAST(iv AS BIGINT) * 80 + iu AS cell,
                CAST(ROUND(EXP($negAlpha * q), 7) AS DECIMAL(16,7)) AS wq,
                CAST(value AS DECIMAL(18,6)) AS vq
              FROM sc2)
      SELECT cell, CAST(SUM(wq * vq) AS DOUBLE) / CAST(SUM(wq) AS DOUBLE) AS value
      FROM sc3 GROUP BY cell
      HAVING CAST(SUM(wq) AS DOUBLE) >= 0.01
      ORDER BY cell"""
    })

  /** DynamicAreaDefinition.freeze (`geometry.py:1224`): data-driven area
    * completion, checked as single-row metadata arithmetic. */
  val q35_freeze: Q = Q(
    (s, d) => {
      val a = GeometryOps.freeze("frozen", Crs.fromProj4("+proj=longlat"),
        tgt(s, d), (2.0, 2.0))
      val sess = s
      import sess.implicits._
      Seq((a.width, a.height, a.xLL, a.yLL, a.xUR, a.yUR))
        .toDF("w", "h", "x0", "y0", "x1", "y1")
    },
    Some(s"""WITH $tgtSql,
      ext AS (SELECT MIN(lon) AS lon_min, MAX(lon) AS lon_max,
                     MIN(lat) AS lat_min, MAX(lat) AS lat_max,
                     MIN(CASE WHEN lon < 0 THEN lon + 360 ELSE lon END) AS wmin,
                     MAX(CASE WHEN lon < 0 THEN lon + 360 ELSE lon END) AS wmax
              FROM tgt WHERE lon >= -180.0 AND lon <= 180.0 AND lat >= -90.0 AND lat <= 90.0),
      pick AS (SELECT CASE WHEN (wmax - wmin) < (lon_max - lon_min) - 0.000000001 THEN wmin ELSE lon_min END AS lo_w,
                      CASE WHEN (wmax - wmin) < (lon_max - lon_min) - 0.000000001 THEN wmax ELSE lon_max END AS lo_e,
                      lat_min, lat_max FROM ext),
      dims AS (SELECT GREATEST(1, CAST(CEIL((lo_e - lo_w) / 2.0) AS INTEGER)) AS w,
                      GREATEST(1, CAST(CEIL((lat_max - lat_min) / 2.0) AS INTEGER)) AS h,
                      lo_w, lat_min FROM pick)
      SELECT CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h, lo_w AS x0, lat_min AS y0,
             lo_w + w * 2.0 AS x1, lat_min + h * 2.0 AS y1 FROM dims"""))

  /** Multimodal binary-column plumbing: opaque payloads (utf-8 bytes here),
    * content digest + byte length — exact oracle over BLOB functions. */
  val q36_multimodal: Q = Q(
    (s, d) =>
      Multimodal.dedupPayloads(
        table(s, d, "documents").withColumn("payload", encode(col("text"), "UTF-8")),
        "doc_id").orderBy("digest"),
    // DuckDB's md5 takes VARCHAR and hashes its UTF-8 bytes — identical to
    // Spark's md5 over encode(text, 'UTF-8')
    Some("""SELECT md5(text) AS digest, MIN(doc_id) AS keep_id,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(MAX(octet_length(encode(text))) AS INTEGER) AS n_bytes
      FROM documents GROUP BY md5(text) ORDER BY digest"""))

  /** Batch twin of the streaming windowed aggregation (SURVEY §2.10):
    * tumbling 1h event-time windows over the events table (ns timestamps
    * read as long via spark.sql.legacy.parquet.nanosAsLong). */
  val q37_events_window: Q = Q(
    (s, d) =>
      eventsNs(s, d)
        .withColumn("win", expr("ts div 3600000000000"))
        .groupBy("win", "event_type")
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_v"))
        .orderBy("win", "event_type"),
    Some("""SELECT epoch_ns(ts) // 3600000000000 AS win, event_type,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_v
      FROM events GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Gap-based sessionization over the events table: a new session starts
    * after >30 min of user inactivity (lag + running-sum windows, both over
    * the same (user, time) ordering → ONE shuffle keyed by user, no
    * self-join). Session stats aggregate with the decimal-sum discipline.
    * The classic behavioural-pipeline operator the reference lacks. */
  val q60_sessionize: Q = Q(
    (s, d) => {
      // microsecond floor on both engines: DuckDB's parquet reader maps
      // the ns timestamps at µs precision, so ns-exact values are not
      // replayable — floor(ns/1000) here == epoch_us there, bit-equal
      val tus = expr("ts div 1000")
      val ev = eventsNs(s, d).withColumn("tus", tus)
      val w = Window.partitionBy("user_id").orderBy(col("tus").asc, col("event_id").asc)
      val gapUs = 30L * 60L * 1000000L
      val isNew = when(
        lag(col("tus"), 1).over(w).isNull || col("tus") - lag(col("tus"), 1).over(w) > gapUs, 1L)
        .otherwise(0L)
      ev
        .withColumn("session_idx", sum(isNew).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_idx")
        .agg(
          count(lit(1)).as("n_events"),
          min(col("tus")).as("ts_start_us"),
          max(col("tus")).as("ts_end_us"),
          sum(col("value").cast(dec)).cast("double").as("sum_v"))
        .orderBy("user_id", "session_idx")
    },
    Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus, value FROM events),
      flag AS (SELECT user_id, event_id, tus, value,
          CASE WHEN LAG(tus) OVER w IS NULL
                 OR tus - LAG(tus) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus ASC, event_id ASC)),
      sess AS (SELECT user_id, tus, value,
          CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY tus ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        FROM flag)
      SELECT user_id, session_idx,
        CAST(COUNT(*) AS BIGINT) AS n_events,
        MIN(tus) AS ts_start_us,
        MAX(tus) AS ts_end_us,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
      FROM sess GROUP BY user_id, session_idx ORDER BY user_id, session_idx"""))

  /** JSON property extraction over the events stream table (incidental
    * semi-structured support — Spark get_json_object vs DuckDB JSON). */
  val q38_events_json: Q = Q(
    (s, d) =>
      table(s, d, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(
          count(col("k")).as("n"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
        .orderBy("event_type"),
    Some("""SELECT event_type,
        CAST(COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS n,
        CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      FROM events GROUP BY event_type ORDER BY event_type"""))

  // ================================= real-projection resampling (no oracle)

  /** The kd-tree golden-test stere area (`test_kd_tree.py:35-48`), at 200x200. */
  def stereArea(w: Int = 200, h: Int = 200): AreaDef =
    AreaDef("stere_eu",
      Crs.fromProj4("+proj=stere +a=6378144 +b=6356759 +lat_0=50 +lat_ts=50 +lon_0=8"),
      w, h, -1370912.72, -909968.64, 1029087.28, 1490031.36)

  /** Shared oracle CTEs for the stere k-NN family: target grid -> unrolled
    * inverse projection -> metre-quantized geocentric XYZ; reduced source ->
    * quantized XYZ; radius join + (dist2, src_id) rank — exactly the
    * cell-join's candidate set (SURVEY §7.4 equivalence proof). The radius
    * join is itself a geocentric cell join (bucket edge = radius, so any
    * pair within the radius differs by at most 1 bucket per axis — the
    * 27-offset pigeonhole), NOT a cross join: DuckDB's unbounded execution
    * of the q45 cross-product reserved multi-GB arenas and was the r10
    * driver-checker allocation high-water mark (CORRECTNESS_r10's 9
    * tail-of-suite oracle OOMs); the equi-join form holds the whole suite
    * under tools/stress_oracle.py --driver at a hard RLIMIT_AS. */
  private def stereKnnSql(area: AreaDef, radius: Double,
      srcProjQuantize: Option[Int] = None): String = {
    val st = OracleSql.StereSql(area)
    val (gx, gy, gz) = OracleSql.xyzSql("lon", "lat", 0)
    val legal = "lon >= -180.0 AND lon <= 180.0 AND lat >= -90.0 AND lat <= 90.0"
    // optionally carry the source's target-projection coordinates (rounded)
    // through the candidate join — the bilinear corner solve needs them
    val (srcPrj, srcFrom, carry) = srcProjQuantize match {
      case Some(n) =>
        (st.fwdCtes("sprj", "red", Seq("src_id", "value", "lon", "lat"),
          outX = "in_x", outY = "in_y", quantize = Some(n)) + ",",
          "sprj", ", s.in_x, s.in_y")
      case None => ("", "red", "")
    }
    val carryR = if (carry.isEmpty) "" else ", in_x, in_y"
    s"""${OracleSql.gridCte("tg", area)},
    ${st.invCtes("tll", "tg", Seq("cell AS dst_id"), "px", "py")},
    txyz AS (SELECT dst_id, $gx AS tx, $gy AS ty, $gz AS tz FROM tll WHERE $legal),
    $ksrcSql,
    red AS (SELECT * FROM ksrc
            WHERE ${OracleSql.reducePredSql(area, radius)} AND $legal),
    $srcPrj
    sxyz AS (SELECT src_id, value${if (carry.isEmpty) "" else ", in_x, in_y"}, $gx AS sx, $gy AS sy, $gz AS sz FROM $srcFrom),
    boff AS (SELECT a.o AS ox, b.o AS oy, c.o AS oz
             FROM (VALUES (-1), (0), (1)) a(o), (VALUES (-1), (0), (1)) b(o),
                  (VALUES (-1), (0), (1)) c(o)),
    tbkt AS (SELECT t.*,
               CAST(FLOOR(t.tx / ${OracleSql.slit(radius)}) AS BIGINT) + o.ox AS bx,
               CAST(FLOOR(t.ty / ${OracleSql.slit(radius)}) AS BIGINT) + o.oy AS by,
               CAST(FLOOR(t.tz / ${OracleSql.slit(radius)}) AS BIGINT) + o.oz AS bz
             FROM txyz t CROSS JOIN boff o),
    sbkt AS (SELECT s.*,
               CAST(FLOOR(s.sx / ${OracleSql.slit(radius)}) AS BIGINT) AS bx,
               CAST(FLOOR(s.sy / ${OracleSql.slit(radius)}) AS BIGINT) AS by,
               CAST(FLOOR(s.sz / ${OracleSql.slit(radius)}) AS BIGINT) AS bz
             FROM sxyz s),
    cand AS (SELECT t.dst_id, s.src_id, s.value$carry,
               (t.tx - s.sx) * (t.tx - s.sx) + (t.ty - s.sy) * (t.ty - s.sy) + (t.tz - s.sz) * (t.tz - s.sz) AS dist2
             FROM tbkt t JOIN sbkt s ON t.bx = s.bx AND t.by = s.by AND t.bz = s.bz
             WHERE (t.tx - s.sx) * (t.tx - s.sx) + (t.ty - s.sy) * (t.ty - s.sy) + (t.tz - s.sz) * (t.tz - s.sz)
                   <= ${OracleSql.slit(radius * radius)}),
    ranked AS (SELECT dst_id, src_id, dist2, value$carryR,
                 ROW_NUMBER() OVER (PARTITION BY dst_id ORDER BY dist2 ASC, src_id ASC) AS rank FROM cand)"""
  }

  val q40_nearest_stere: Q = Q(
    (s, d) => {
      val area = stereArea()
      val src = DataReduce.reduceToArea(
        srcForKnnRebalanced(s, d), area, 50000.0)
      val target = area.grid(s, withLonLat = true).select(col("cell").as("dst_id"), col("lon"), col("lat"))
      KnnResample.nearest(src, target, 50000.0, Seq("value"), quantize = Some(0)).orderBy("dst_id")
    },
    Some(s"""WITH ${stereKnnSql(stereArea(), 50000.0)}
      SELECT dst_id, value FROM ranked WHERE rank = 1 ORDER BY dst_id"""))

  /** Bucket average onto the real ellipsoidal-stere grid. Oracle: the full
    * forward projection is replayed in DuckDB (OracleSql.StereSql); no
    * quantization needed — cell binning is floor() with 12 km cells, so
    * libm 1-ulp differences (~1e-9 m) cannot flip any cell assignment. */
  val q41_bucket_stere: Q = Q(
    (s, d) => {
      val area = stereArea()
      BucketResampler(area).average(
        DataReduce.reduceToArea(swath(s, d), area, 0.0), "value").orderBy("cell")
    },
    Some {
      val area = stereArea()
      val st = OracleSql.StereSql(area)
      s"""WITH $swathSql,
      leg AS (SELECT lon, lat, value FROM swath
              WHERE ${OracleSql.reducePredSql(area, 0.0)}
                AND lon >= -180.0 AND lon <= 180.0 AND lat >= -90.0 AND lat <= 90.0),
      ${st.fwdCtes("prj", "leg", Seq("value"))},
      cc AS (SELECT value, ${OracleSql.fracColSql(area, "proj_x")} AS c,
                    ${OracleSql.fracRowSql(area, "proj_y")} AS r FROM prj),
      cells AS (SELECT r * ${area.width} + c AS cell, value FROM cc
                WHERE c >= 0 AND c < ${area.width} AND r >= 0 AND r < ${area.height})
      SELECT cell, SUM(value) / COUNT(value) AS avg FROM cells GROUP BY cell ORDER BY cell"""
    })

  /** Gauss-weighted k=8 merge on the stere grid — same weighting as
    * `KnnResample.gauss` (sigma 25 km) but with the q16 exactness
    * discipline: weights rounded to 7 decimals, fixed-order pivot sums. */
  val q42_gauss_stere: Q = Q(
    (s, d) => {
      val area = stereArea()
      val src = DataReduce.reduceToArea(
        srcForKnnRebalanced(s, d), area, 50000.0)
      val target = area.grid(s, withLonLat = true).select(col("cell").as("dst_id"), col("lon"), col("lat"))
      val agg = KnnResample.neighboursAgg(src, target, 50000.0, 8, quantize = Some(0),
        carry = Seq("value"))
      pivotAgg(agg, 8, d2 => round(exp(-d2 / lit(25000.0 * 25000.0)), 7), extra = false)
        .select(col("dst_id"), (fixedSum("wv", 8) / fixedSum("w", 8)).as("gauss_v"))
        .orderBy("dst_id")
    },
    Some(s"""WITH ${stereKnnSql(stereArea(), 50000.0)},
      ${pivotSql(8, s"ROUND(EXP(-dist2 / ${OracleSql.slit(25000.0 * 25000.0)}), 7)", extra = false)}
      SELECT dst_id, (${fixedSumSql("wv", 8)}) / (${fixedSumSql("w", 8)}) AS gauss_v
      FROM piv ORDER BY dst_id"""))

  val q43_simhash_neardup: Q = Q(
    (s, d) => Dedup.simhashNearDup(table(s, d, "documents"),
        maxBandSize = Dedup.Uncapped).orderBy("d1", "d2"),
    Some {
      val bits = Dedup.SimhashBits
      val bitSums = (0 until bits)
        .map(i => s"SUM((h // ${1L << i}) % 2 * 2 - 1) AS b$i").mkString(", ")
      val fold = (0 until bits)
        .map(i => s"CASE WHEN b$i > 0 THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
        .mkString(" + ")
      val chunkDiv = s"CASE ci.i WHEN 0 THEN 1 WHEN 1 THEN ${1L << 15} WHEN 2 THEN ${1L << 30} ELSE ${1L << 45} END"
      s"""WITH wa AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS word FROM documents),
      hs AS (SELECT doc_id, CAST('0x' || substr(md5(word), 1, 15) AS BIGINT) AS h FROM wa),
      votes AS (SELECT doc_id, $bitSums FROM hs GROUP BY doc_id),
      sim AS (SELECT doc_id, $fold AS simhash FROM votes),
      chunks AS (SELECT doc_id, simhash, ci.i AS chunk_idx, (simhash // ($chunkDiv)) % ${1L << 15} AS chunk
                 FROM sim CROSS JOIN (VALUES (0), (1), (2), (3)) ci(i)),
      pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
                  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
                FROM chunks a JOIN chunks b
                  ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
      SELECT d1, d2, hamming FROM pairs WHERE hamming <= 3 ORDER BY d1, d2"""
    })

  val q44_lsh_topk: Q = Q(
    (s, d) => {
      val emb = table(s, d, "embeddings")
      val q = emb.filter(col("vec_id") % 100 === 0).select(col("vec_id").as("qid"), col("embedding"))
      val c = emb.select(col("vec_id").as("cid"), col("embedding"))
      Similarity.lshTopK(q, c, dim = 64, k = 10).orderBy("qid", "rank")
    },
    Some {
      // the exact hyperplane constants inside the Spark plan, baked as list
      // literals; signature bit = sign of the (left-fold) dot product
      val planes = Similarity.hyperplanes(nBits = 16, dim = 64, seed = 42L)
      val sig = planes.zipWithIndex.map { case (p, i) =>
        val lst = p.map(OracleSql.slit).mkString("[", ", ", "]")
        s"CASE WHEN list_inner_product(CAST(embedding AS DOUBLE[]), $lst) >= 0 THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
      }.mkString(" + ")
      s"""WITH sigs AS (SELECT vec_id, $sig AS sig FROM embeddings),
      qb AS (SELECT vec_id AS qid, bi.i AS band_idx, (sig // (CASE bi.i WHEN 0 THEN 1 ELSE 256 END)) % 256 AS band
             FROM sigs CROSS JOIN (VALUES (0), (1)) bi(i) WHERE vec_id % 100 = 0),
      cb AS (SELECT vec_id AS cid, bi.i AS band_idx, (sig // (CASE bi.i WHEN 0 THEN 1 ELSE 256 END)) % 256 AS band
             FROM sigs CROSS JOIN (VALUES (0), (1)) bi(i)),
      cpair AS (SELECT DISTINCT qid, cid FROM qb JOIN cb USING (band_idx, band)),
      rr AS (SELECT qid, cid,
               ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS sim_r
             FROM cpair JOIN embeddings q ON q.vec_id = qid JOIN embeddings c ON c.vec_id = cid),
      rk AS (SELECT qid, cid, sim_r,
               CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim_r DESC, cid ASC) AS INTEGER) AS rank FROM rr)
      SELECT qid, cid, rank, sim_r AS sim FROM rk WHERE rank <= 10 ORDER BY qid, rank"""
    })

  /** ANN recall eval in the data plane (`Similarity.annRecall`): per
    * query, |LSH top-10 ∩ exact top-10| / 10 — the recall monitor a
    * production ANN deployment runs on a sampled query set. The oracle
    * replays BOTH retrievals (q31's brute-force window + q44's baked
    * hyperplane signatures) and joins them. */
  val q115_ann_recall: Q = Q(
    (s, d) => {
      val emb = table(s, d, "embeddings")
      val q = emb.filter(col("vec_id") % 100 === 0).select(col("vec_id").as("qid"), col("embedding"))
      val c = emb.select(col("vec_id").as("cid"), col("embedding"))
      Similarity.annRecall(q, c, dim = 64, k = 10).orderBy("qid")
    },
    Some {
      val planes = Similarity.hyperplanes(nBits = 16, dim = 64, seed = 42L)
      val sig = planes.zipWithIndex.map { case (p, i) =>
        val lst = p.map(OracleSql.slit).mkString("[", ", ", "]")
        s"CASE WHEN list_inner_product(CAST(embedding AS DOUBLE[]), $lst) >= 0 THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
      }.mkString(" + ")
      s"""WITH sigs AS (SELECT vec_id, $sig AS sig FROM embeddings),
      qb AS (SELECT vec_id AS qid, bi.i AS band_idx, (sig // (CASE bi.i WHEN 0 THEN 1 ELSE 256 END)) % 256 AS band
             FROM sigs CROSS JOIN (VALUES (0), (1)) bi(i) WHERE vec_id % 100 = 0),
      cb AS (SELECT vec_id AS cid, bi.i AS band_idx, (sig // (CASE bi.i WHEN 0 THEN 1 ELSE 256 END)) % 256 AS band
             FROM sigs CROSS JOIN (VALUES (0), (1)) bi(i)),
      cpair AS (SELECT DISTINCT qid, cid FROM qb JOIN cb USING (band_idx, band)),
      rr AS (SELECT qid, cid,
               ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS sim_r
             FROM cpair JOIN embeddings q ON q.vec_id = qid JOIN embeddings c ON c.vec_id = cid),
      ap AS (SELECT qid, cid FROM (SELECT qid, cid,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim_r DESC, cid ASC) AS rank FROM rr)
             WHERE rank <= 10),
      bf AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
               ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS sim_r
             FROM embeddings q CROSS JOIN embeddings c WHERE q.vec_id % 100 = 0),
      ex AS (SELECT qid, cid FROM (SELECT qid, cid,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim_r DESC, cid ASC) AS rank FROM bf)
             WHERE rank <= 10)
      SELECT e.qid, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(COUNT(a.cid) AS BIGINT) AS hits,
        CAST(COUNT(a.cid) AS DOUBLE) / COUNT(*) AS recall
      FROM ex e LEFT JOIN ap a ON a.qid = e.qid AND a.cid = e.cid
      GROUP BY e.qid ORDER BY e.qid"""
    })

  /** Time-series regularization (`Temporal.resampleFill`): each user's
    * events resampled onto a 6-hour grid with forward-fill — pandas
    * `resample().ffill()` as the fill-forward as-of join over a generated
    * grid; the oracle is DuckDB's native ASOF LEFT JOIN on the same grid
    * (independent formulations, as q84). */
  val q116_resample_fill: Q = Q(
    (s, d) => {
      val iv = 21600000000L // 6h in µs
      Temporal.resampleFill(
          eventsNs(s, d).withColumn("tus", expr("ts div 1000")), interval = iv)
        .orderBy("user_id", "grid_ts")
    },
    Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus, value FROM events),
      s AS (SELECT user_id, MIN(tus) AS t0, MAX(tus) AS t1 FROM e GROUP BY user_id),
      g AS (SELECT user_id,
              unnest(range(t0 // 21600000000, t1 // 21600000000 + 1)) * 21600000000 AS grid_ts
            FROM s),
      r0 AS (SELECT user_id, tus, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, tus ORDER BY event_id DESC) AS rn
             FROM e),
      r AS (SELECT user_id, tus, value FROM r0 WHERE rn = 1)
      SELECT g.user_id, g.grid_ts, r.tus AS r_ts, r.value AS r_value
      FROM g ASOF LEFT JOIN r ON g.user_id = r.user_id AND g.grid_ts >= r.tus
      ORDER BY g.user_id, g.grid_ts"""))

  /** Cleaning-gate ablation report: how many docs each q58 gate (length /
    * stopword / repetition) would drop, alone and combined, plus the
    * post-dedup survivor count — the table you read before tuning
    * thresholds. One aggregate over the scored corpus (single scan, all
    * counts exact integers; the only distinct is over survivors'
    * fingerprints). */
  val q117_gate_report: Q = Q(
    (s, d) => {
      val scored = graft.streaming.StreamingOps.scoreDocs(docsRebalanced(s, d))
        .withColumn("_w", split(col("text"), " "))
        .withColumn("top2_frac",
          expr(TextAnalysis.maxRunSql(TextAnalysis.gramsSql(2, "_w"))).cast("double") /
            (col("n_words") - 1))
        .withColumn("_fp", Dedup.fingerprintExprFromWords(col("_w")))
        .withColumn("_ok", col("n_words") >= 25 &&
          col("stop_ratio") >= 0.03 && col("top2_frac") <= 0.12)
      scored.agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_words") < 25, 1L).otherwise(0L)).as("fail_len"),
        sum(when(col("stop_ratio") < 0.03, 1L).otherwise(0L)).as("fail_stop"),
        sum(when(col("top2_frac") > 0.12, 1L).otherwise(0L)).as("fail_rep"),
        sum(when(col("_ok"), 1L).otherwise(0L)).as("n_pass"),
        count_distinct(when(col("_ok"), col("_fp"))).as("n_pass_unique"))
    },
    Some(s"""WITH sc AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n_words,
        CAST($duckStopHits AS DOUBLE) / CAST(len(w) AS BIGINT) AS stop_ratio,
        ${duckTopGramN(2)} AS top2_n
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
      g AS (SELECT doc_id, w, n_words, stop_ratio,
          CAST(top2_n AS DOUBLE) / CAST(n_words - 1 AS BIGINT) AS top2_frac
        FROM sc),
      f AS (SELECT *, (n_words >= 25 AND stop_ratio >= 0.03 AND top2_frac <= 0.12) AS ok
        FROM g)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(CASE WHEN n_words < 25 THEN 1 ELSE 0 END) AS BIGINT) AS fail_len,
        CAST(SUM(CASE WHEN stop_ratio < 0.03 THEN 1 ELSE 0 END) AS BIGINT) AS fail_stop,
        CAST(SUM(CASE WHEN top2_frac > 0.12 THEN 1 ELSE 0 END) AS BIGINT) AS fail_rep,
        CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
        CAST(COUNT(DISTINCT CASE WHEN ok
          THEN md5(array_to_string(list_sort(list_distinct(w)), ' ')) END) AS BIGINT) AS n_pass_unique
      FROM f"""))

  /** Near-dup cluster-size report: the q64 components reduced to a size
    * histogram (cluster size → how many clusters) — the one-page answer
    * to "how duplicated is this corpus?". Two tiny aggregates over the
    * label table; the corpus-scale work is the same pair generation +
    * label propagation as q64. */
  val q118_cluster_report: Q = Q(
    (s, d) => {
      val docs = table(s, d, "documents")
      Dedup.ngramClusterLabels(docs, Seq("lang", "n_chars"),
          maxBlockSize = Dedup.Uncapped)
        .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
        .orderBy("sz")
    },
    Some(s"""WITH RECURSIVE $blockedJaccardPairsSql,
      pairs AS MATERIALIZED (SELECT d1, d2 FROM v
                WHERE CAST(i AS DOUBLE) / CAST(sz1 + sz2 - i AS DOUBLE) >= 0.3),
      verts(id) AS (SELECT d1 FROM pairs UNION SELECT d2 FROM pairs),
      edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
                UNION ALL SELECT d2 AS src, d1 AS dst FROM pairs),
      walk(id, label) AS (
        SELECT id, id FROM verts
        UNION
        SELECT e.src, w.label FROM edges e JOIN walk w ON w.id = e.dst),
      lab AS (SELECT id, MIN(label) AS cluster_id FROM walk GROUP BY id),
      l2 AS (SELECT COALESCE(l.cluster_id, d.doc_id) AS cluster_id
             FROM documents d LEFT JOIN lab l ON l.id = d.doc_id),
      cs AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz FROM l2 GROUP BY cluster_id)
      SELECT sz, CAST(COUNT(*) AS BIGINT) AS n_clusters
      FROM cs GROUP BY sz ORDER BY sz"""))

  /** Embedding QC report (`Similarity` hygiene stats): per label-parity
    * slice, vector count, dimension spread, zero-vector count, and the
    * micro-rounded mean L2 norm — the sanity table before any ANN build.
    * One aggregate scan; norms are per-row codegen folds. */
  val q119_embedding_qc: Q = Q(
    (s, d) => {
      val emb = table(s, d, "embeddings")
        .withColumn("_nm",
          round(round(graft.functions.GeoFunctions.l2Norm(col("embedding")), 6) * 1000000L)
            .cast("long"))
      emb.groupBy((col("label") % 2).cast("long").as("parity"))
        .agg(
          count(lit(1)).as("n_vecs"),
          min(size(col("embedding"))).cast("long").as("dim_min"),
          max(size(col("embedding"))).cast("long").as("dim_max"),
          sum(when(col("_nm") === 0L, 1L).otherwise(0L)).as("n_zero"),
          (sum(col("_nm")).cast("double") /
            (count(lit(1)) * lit(1000000L))).as("mean_norm"))
        .orderBy("parity")
    },
    Some("""WITH e AS (SELECT label % 2 AS parity,
        len(embedding) AS dim,
        CAST(ROUND(ROUND(sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
          CAST(embedding AS DOUBLE[]))), 6) * 1000000) AS BIGINT) AS nm
      FROM embeddings)
      SELECT CAST(parity AS BIGINT) AS parity,
        CAST(COUNT(*) AS BIGINT) AS n_vecs,
        CAST(MIN(dim) AS BIGINT) AS dim_min,
        CAST(MAX(dim) AS BIGINT) AS dim_max,
        CAST(SUM(CASE WHEN nm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        CAST(SUM(nm) AS DOUBLE) / (COUNT(*) * 1000000) AS mean_norm
      FROM e GROUP BY parity ORDER BY parity"""))

  /** Join-key skew profiler over the k-NN cell key: the top-20 hottest
    * geocentric cells with their share of all rows and their ratio to the
    * mean cell load — the table that tells you whether the cell join
    * needs the salt fallback (`KnnResample.neighbours(salt=…)`) before
    * you pay for it. One count aggregate + a 20-row top-k; share and
    * ratio are exact long arithmetic into single divisions. */
  val q120_skew_report: Q = Q(
    (s, d) => {
      val cells = swath(s, d).select(cellIndex(world, col("lon"), col("lat")).as("cell"))
      val counts = cells.groupBy("cell").agg(count(lit(1)).as("cnt"))
      val tot = Window.partitionBy(lit(0))
      counts
        .withColumn("n_keys", count(lit(1)).over(tot))
        .withColumn("total", sum(col("cnt")).over(tot))
        .withColumn("share", col("cnt").cast("double") / col("total"))
        .withColumn("ratio_to_mean",
          (col("cnt") * col("n_keys")).cast("double") / col("total"))
        .orderBy(col("cnt").desc, col("cell").asc)
        .limit(20)
        .select("cell", "cnt", "n_keys", "total", "share", "ratio_to_mean")
    },
    Some(s"""WITH $swathSql, $swCellSql,
      c AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS cnt FROM sw GROUP BY cell),
      t AS (SELECT cell, cnt,
              CAST(COUNT(*) OVER () AS BIGINT) AS n_keys,
              CAST(SUM(cnt) OVER () AS BIGINT) AS total
            FROM c)
      SELECT cell, cnt, n_keys, total,
        CAST(cnt AS DOUBLE) / total AS share,
        CAST(cnt * n_keys AS DOUBLE) / total AS ratio_to_mean
      FROM t ORDER BY cnt DESC, cell ASC LIMIT 20"""))

  /** Ordered funnel (`Temporal.funnel`): per user, the earliest
    * view → click-after-view → purchase-after-click reach times — the
    * classic product-analytics operator; null past the first missed
    * step. One conditional min per step, #users-row broadcast
    * join-backs, exact integer timestamps. */
  val q121_funnel: Q = Q(
    (s, d) => Temporal.funnel(
        eventsNs(s, d).withColumn("tus", expr("ts div 1000")),
        steps = Seq("view", "click", "purchase"))
      .orderBy("user_id"),
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_type FROM events),
      s0 AS (SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN tus END) AS t0
             FROM e GROUP BY user_id),
      s1 AS (SELECT e.user_id, MIN(t0) AS t0,
               MIN(CASE WHEN event_type = 'click' AND t0 IS NOT NULL AND tus >= t0
                 THEN tus END) AS t1
             FROM e JOIN s0 ON e.user_id = s0.user_id GROUP BY e.user_id),
      s2 AS (SELECT e.user_id, MIN(t0) AS t0, MIN(t1) AS t1,
               MIN(CASE WHEN event_type = 'purchase' AND t1 IS NOT NULL AND tus >= t1
                 THEN tus END) AS t2
             FROM e JOIN s1 ON e.user_id = s1.user_id GROUP BY e.user_id)
      SELECT user_id, t0, t1, t2 FROM s2 ORDER BY user_id"""))

  /** Weekly cohort retention (`Temporal.cohortRetention`): users grouped
    * by first-event week; per (cohort, week offset) the active count and
    * retention fraction — the analytics retention triangle. Exact integer
    * week arithmetic (`div`, matching BIGINT `//`). */
  val q122_retention: Q = Q(
    (s, d) => Temporal.cohortRetention(
        eventsNs(s, d).withColumn("tus", expr("ts div 1000")),
        period = 604800000000L)
      .orderBy("cohort", "offset"),
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS p FROM events),
      f AS (SELECT user_id, MIN(p) AS cohort FROM e GROUP BY user_id),
      a AS (SELECT DISTINCT user_id, p FROM e),
      sz AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_cohort FROM f GROUP BY cohort),
      r AS (SELECT f.cohort, a.p - f.cohort AS offset, CAST(COUNT(*) AS BIGINT) AS n_active
            FROM a JOIN f ON a.user_id = f.user_id GROUP BY 1, 2)
      SELECT r.cohort, r.offset, sz.n_cohort, r.n_active,
        CAST(r.n_active AS DOUBLE) / sz.n_cohort AS retention
      FROM r JOIN sz ON r.cohort = sz.cohort
      ORDER BY r.cohort, r.offset"""))

  /** Market-basket pair mining over lineitem: parts co-ordered in the
    * same order, counted and ranked — the co-occurrence miner (the
    * collocation pattern on transactions instead of text). The self-join
    * is keyed by orderkey, so fan-out is (items-per-order choose 2) —
    * basket-bounded, never corpus-quadratic; top-50 by support with
    * deterministic ties. */
  val q123_basket_pairs: Q = Q(
    (s, d) => {
      val li = table(s, d, "lineitem").select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      li.toDF("ok", "p1")
        .join(li.toDF("ok2", "p2"), col("ok") === col("ok2") && col("p1") < col("p2"))
        .groupBy("p1", "p2")
        .agg(count(lit(1)).as("support"))
        .orderBy(col("support").desc, col("p1").asc, col("p2").asc)
        .limit(50)
    },
    Some("""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem)
      SELECT a.pk AS p1, b.pk AS p2, CAST(COUNT(*) AS BIGINT) AS support
      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY 1, 2 ORDER BY support DESC, p1 ASC, p2 ASC LIMIT 50"""))

  /** Association rules over the q123 pairs: confidence and lift from
    * exact integer supports — lift = support·N / (s1·s2), one double
    * division on integer operands. Item supports ride a broadcast join;
    * the basket-bounded pair join is the only corpus-scale stage. Top-50
    * by lift among pairs with support >= 3 (deterministic ties). */
  val q124_association_rules: Q = Q(
    (s, d) => {
      val li = table(s, d, "lineitem").select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val nOrders = li.select(countDistinct(col("ok")).as("n_orders"))
      val item = li.groupBy(col("pk")).agg(count(lit(1)).as("s"))
      val pairs = li.toDF("ok", "p1")
        .join(li.toDF("ok2", "p2"), col("ok") === col("ok2") && col("p1") < col("p2"))
        .groupBy("p1", "p2")
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= 3)
      pairs
        .join(broadcast(item.toDF("p1", "s1")), "p1")
        .join(broadcast(item.toDF("p2", "s2")), "p2")
        .crossJoin(broadcast(nOrders))
        .withColumn("confidence", col("support").cast("double") / col("s1"))
        .withColumn("lift",
          (col("support") * col("n_orders")).cast("double") / (col("s1") * col("s2")))
        .orderBy(col("lift").desc, col("p1").asc, col("p2").asc)
        .limit(50)
        .select("p1", "p2", "support", "s1", "s2", "confidence", "lift")
    },
    Some("""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM li),
      it AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS s FROM li GROUP BY pk),
      pr AS (SELECT a.pk AS p1, b.pk AS p2, CAST(COUNT(*) AS BIGINT) AS support
             FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
             GROUP BY 1, 2 HAVING COUNT(*) >= 3)
      SELECT p1, p2, support, i1.s AS s1, i2.s AS s2,
        CAST(support AS DOUBLE) / i1.s AS confidence,
        CAST(support * n.n_orders AS DOUBLE) / (i1.s * i2.s) AS lift
      FROM pr JOIN it i1 ON pr.p1 = i1.pk JOIN it i2 ON pr.p2 = i2.pk CROSS JOIN n
      ORDER BY lift DESC, p1 ASC, p2 ASC LIMIT 50"""))

  /** Robust scale per language (`Selection.madByGroup`): exact median of
    * |n_chars − exact median| — MAD, the outlier-immune spread stat next
    * to q112's winsorized location. Both medians are boundary-rank picks
    * (value at rank ceil(n/2)); the oracle replays them with
    * ROW_NUMBER over values. */
  val q125_mad: Q = Q(
    (s, d) => Selection.madByGroup(
        table(s, d, "documents").select(col("lang"), col("n_chars")),
        "lang", "n_chars")
      .orderBy("lang"),
    Some("""WITH r AS (SELECT lang, n_chars,
              ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars ASC) AS rn,
              CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n
            FROM documents),
      m AS (SELECT lang, MAX(n) AS n,
              MIN(CASE WHEN rn = (n * 500000 + 999999) // 1000000
                THEN CAST(n_chars AS DOUBLE) END) AS med
            FROM r GROUP BY lang),
      dv AS (SELECT d.lang, abs(CAST(d.n_chars AS DOUBLE) - m.med) AS dev
             FROM documents d JOIN m ON d.lang = m.lang),
      r2 AS (SELECT lang, dev,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY dev ASC) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n
             FROM dv)
      SELECT r2.lang, r2.n, m.med AS median,
        MIN(CASE WHEN r2.rn = (r2.n * 500000 + 999999) // 1000000 THEN dev END) AS mad
      FROM r2 JOIN m ON r2.lang = m.lang
      GROUP BY r2.lang, r2.n, m.med ORDER BY r2.lang"""))

  /** Referential-integrity audit over the star schema: orphan lineitems
    * (no order), orders without lineitems, and orphan customer keys on
    * orders — the data-quality gate before any join-dependent pipeline.
    * Three anti-join counts folded into one summary row; every count is
    * a left-join null test, never a collect. */
  val q126_fk_audit: Q = Q(
    (s, d) => {
      val li = table(s, d, "lineitem").select(col("l_orderkey"))
      val ord = table(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val cust = table(s, d, "customer").select(col("c_custkey"))
      // one declarative plan: three anti-join counts cross-joined into a
      // single summary row (no driver-side actions)
      val a = li.join(ord.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("orphan_lineitems"))
      val b = ord.join(li.distinct(),
        col("o_orderkey") === col("l_orderkey"), "left_anti")
        .agg(count(lit(1)).as("orders_no_lineitems"))
      val c = ord.join(cust, col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("orders_orphan_cust"))
      a.crossJoin(b).crossJoin(c)
    },
    Some("""SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
          AS orphan_lineitems,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey))
          AS orders_no_lineitems,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
          AS orders_orphan_cust"""))

  /** Dedup-config evaluation (the q115 pattern for MinHash banding):
    * ground truth = exact blocked Jaccard pairs at 0.4 (q26's space);
    * predicted = the q25 banded-LSH pairs at the same threshold. One
    * summary row of TP / FN / FP counts + recall — "how much does this
    * banding config miss" measured in the data plane. FP counts pairs
    * the bands surface OUTSIDE the blocked ground-truth space (band
    * collisions across blocks that still verify ≥ 0.4). */
  val q127_dedup_eval: Q = Q(
    (s, d) => {
      val docs = docsRebalanced(s, d)
      val truth = Dedup.ngramJaccard(docs, Seq("lang", "n_chars"), threshold = 0.4,
        shingleN = 2, maxBlockSize = Dedup.Uncapped)
        .select(col("d1"), col("d2"), lit(1L).as("_t"))
      val pred = Dedup.minhashLsh(docs, threshold = 0.4, maxBandSize = Dedup.Uncapped)
        .select(col("d1"), col("d2"), lit(1L).as("_p"))
      truth.join(pred, Seq("d1", "d2"), "full_outer")
        .agg(
          sum(when(col("_t").isNotNull && col("_p").isNotNull, 1L).otherwise(0L)).as("tp"),
          sum(when(col("_t").isNotNull && col("_p").isNull, 1L).otherwise(0L)).as("fn"),
          sum(when(col("_t").isNull && col("_p").isNotNull, 1L).otherwise(0L)).as("fp"))
        .withColumn("recall",
          when(col("tp") + col("fn") > 0,
            col("tp").cast("double") / (col("tp") + col("fn"))))
    },
    Some {
      val sigs = (1 to 8)
        .map(i => "list_min(list_transform(bgs, x -> " +
          s"CAST('0x' || substr(md5(x || '#$i'), 1, 15) AS BIGINT))) AS h$i")
        .mkString(", ")
      s"""WITH bg AS (SELECT doc_id, list_distinct(${duckGrams(2)}) AS bgs
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
      meta AS (SELECT doc_id, lang, n_chars FROM documents),
      tc AS (SELECT a.doc_id AS d1, b.doc_id AS d2 FROM meta a JOIN meta b
             ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id),
      tv AS (SELECT c.d1, c.d2 FROM tc c
             JOIN bg b1 ON b1.doc_id = c.d1 JOIN bg b2 ON b2.doc_id = c.d2
             WHERE CAST(len(list_intersect(b1.bgs, b2.bgs)) AS DOUBLE) /
               (len(b1.bgs) + len(b2.bgs) - len(list_intersect(b1.bgs, b2.bgs))) >= 0.4),
      sig AS (SELECT doc_id, $sigs FROM bg),
      bands AS (
        SELECT doc_id, 0 AS band_idx, CAST(h1 AS VARCHAR) || '_' || CAST(h2 AS VARCHAR) AS band FROM sig
        UNION ALL SELECT doc_id, 1 AS band_idx, CAST(h3 AS VARCHAR) || '_' || CAST(h4 AS VARCHAR) AS band FROM sig
        UNION ALL SELECT doc_id, 2 AS band_idx, CAST(h5 AS VARCHAR) || '_' || CAST(h6 AS VARCHAR) AS band FROM sig
        UNION ALL SELECT doc_id, 3 AS band_idx, CAST(h7 AS VARCHAR) || '_' || CAST(h8 AS VARCHAR) AS band FROM sig),
      pc AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
             FROM bands a JOIN bands b
               ON a.band_idx = b.band_idx AND a.band = b.band AND a.doc_id < b.doc_id),
      pv AS (SELECT c.d1, c.d2 FROM pc c
             JOIN bg b1 ON b1.doc_id = c.d1 JOIN bg b2 ON b2.doc_id = c.d2
             WHERE CAST(len(list_intersect(b1.bgs, b2.bgs)) AS DOUBLE) /
               (len(b1.bgs) + len(b2.bgs) - len(list_intersect(b1.bgs, b2.bgs))) >= 0.4),
      j AS (SELECT COALESCE(t.d1, p.d1) AS d1, COALESCE(t.d2, p.d2) AS d2,
              (t.d1 IS NOT NULL) AS it, (p.d1 IS NOT NULL) AS ip
            FROM tv t FULL OUTER JOIN pv p ON t.d1 = p.d1 AND t.d2 = p.d2)
      SELECT CAST(SUM(CASE WHEN it AND ip THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        CAST(SUM(CASE WHEN it AND NOT ip THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        CAST(SUM(CASE WHEN NOT it AND ip THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        CASE WHEN SUM(CASE WHEN it THEN 1 ELSE 0 END) > 0
          THEN CAST(SUM(CASE WHEN it AND ip THEN 1 ELSE 0 END) AS DOUBLE) /
            SUM(CASE WHEN it THEN 1 ELSE 0 END) END AS recall
      FROM j"""
    })

  /** Per-group decile labels (`ntile`-exact): quality bucketing by rank —
    * decile = ceil(rank·10/n) over (value desc, id asc) — the label a
    * curation pipeline writes before decile-based mixing. Pure integer
    * arithmetic, engine-identical. */
  val q128_deciles: Q = Q(
    (s, d) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      table(s, d, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("_rn", row_number().over(w).cast("long"))
        .withColumn("_n", count(lit(1)).over(Window.partitionBy(col("lang"))))
        .withColumn("decile", expr("(_rn * 10 + _n - 1) div _n"))
        .select("doc_id", "lang", "n_chars", "decile")
        .orderBy("doc_id")
    },
    Some("""WITH r AS (SELECT doc_id, lang, n_chars,
              CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS BIGINT) AS rn,
              CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n
            FROM documents)
      SELECT doc_id, lang, n_chars, (rn * 10 + n - 1) // n AS decile
      FROM r ORDER BY doc_id"""))

  /** OHLC bar downsampling (`Temporal.ohlcBars`): 6-hour candlesticks per
    * event type — open/close via (ts, id)-struct min_by/max_by selections
    * (engine-exact, no arithmetic), decimal-exact volume sum. ONE hash
    * aggregate; shuffle bounded by #bars. */
  val q129_ohlc: Q = Q(
    (s, d) => {
      val iv = 21600000000L // 6h in µs
      Temporal.ohlcBars(
          eventsNs(s, d).withColumn("tus", expr("ts div 1000")), interval = iv)
        .orderBy("event_type", "bar_ts")
    },
    Some("""WITH e AS (SELECT event_id, event_type, epoch_us(ts) AS tus, value FROM events),
      r AS (SELECT event_type, tus // 21600000000 AS bar, tus, value,
              ROW_NUMBER() OVER (PARTITION BY event_type, tus // 21600000000
                ORDER BY tus ASC, event_id ASC) AS rf,
              ROW_NUMBER() OVER (PARTITION BY event_type, tus // 21600000000
                ORDER BY tus DESC, event_id DESC) AS rl
            FROM e)
      SELECT event_type, bar * 21600000000 AS bar_ts,
        MAX(CASE WHEN rf = 1 THEN value END) AS open,
        MAX(value) AS high, MIN(value) AS low,
        MAX(CASE WHEN rl = 1 THEN value END) AS close,
        CAST(COUNT(*) AS BIGINT) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
      FROM r GROUP BY event_type, bar ORDER BY event_type, bar_ts"""))

  /** Time-weighted average (`Temporal.twap`) per user: exact integer
    * cents × µs products summed in wide decimal, ONE division at the end
    * (micro-int discipline — no float running sum anywhere). */
  val q130_twap: Q = Q(
    (s, d) => Temporal.twap(
        eventsNs(s, d).withColumn("tus", expr("ts div 1000")))
      .orderBy("user_id"),
    Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus,
              CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc FROM events),
      l AS (SELECT user_id, tus, vc,
              LEAD(tus, 1) OVER (PARTITION BY user_id ORDER BY tus ASC, event_id ASC) - tus AS dt
            FROM e)
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        MAX(tus) - MIN(tus) AS span,
        CASE WHEN MAX(tus) - MIN(tus) > 0
          THEN CAST(SUM(CAST(vc AS HUGEINT) * dt) AS DOUBLE)
            / CAST((MAX(tus) - MIN(tus)) * 100 AS DOUBLE) END AS twap
      FROM l GROUP BY user_id ORDER BY user_id"""))

  /** Exact rolling median of the last 10 values per user
    * (`Temporal.rollingMedian`): micro-int cents in a sorted window
    * frame, the two middle INTEGERS interpolated — bit-identical on any
    * engine (no float-median ambiguity). */
  val q131_rolling_median: Q = Q(
    (s, d) => Temporal.rollingMedian(
        eventsNs(s, d).withColumn("tus", expr("ts div 1000")), k = 10)
      .orderBy("event_id"),
    Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus, value,
              CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc FROM events),
      r AS (SELECT event_id, user_id, tus, value,
              list_sort(list(vc) OVER (PARTITION BY user_id ORDER BY tus ASC, event_id ASC
                ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)) AS fr
            FROM e)
      SELECT event_id, user_id, tus, value, CAST(len(fr) AS BIGINT) AS n_window,
        (CAST(fr[CAST((len(fr) + 1) // 2 AS INT)] AS DOUBLE)
          + CAST(fr[CAST(len(fr) // 2 + 1 AS INT)] AS DOUBLE)) / 2.0 / 100.0 AS roll_med
      FROM r ORDER BY event_id"""))

  /** Markov transition matrix (`Temporal.transitionMatrix`): event-type
    * step counts within 30-minute continuations, row-normalized over the
    * TRANSITION TABLE (#types² rows) — exact counts, one long/long
    * division per cell. */
  val q132_transitions: Q = Q(
    (s, d) => Temporal.transitionMatrix(
        eventsNs(s, d).withColumn("tus", expr("ts div 1000")), gap = 1800000000L)
      .orderBy("from_type", "to_type"),
    Some("""WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS tus FROM events),
      l AS (SELECT user_id, event_type, tus,
              LAG(event_type, 1) OVER w AS pt, LAG(tus, 1) OVER w AS pts
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus ASC, event_id ASC)),
      s AS (SELECT pt AS from_type, event_type AS to_type FROM l
            WHERE pt IS NOT NULL AND tus - pts <= 1800000000),
      m AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n FROM s GROUP BY 1, 2)
      SELECT from_type, to_type, n,
        CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS row_total,
        CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS p
      FROM m ORDER BY from_type, to_type"""))

  /** Deterministic integer PageRank (`Graph.pageRankInt`) over the q25
    * near-dup graph: 3 power-iteration rounds in micro-units with
    * damping 85/100 — integer arithmetic end-to-end, so the result is
    * bit-identical under ANY partitioning or aggregation order (the
    * float PageRank's sum-order nondeterminism never appears). */
  val q133_pagerank: Q = Q(
    (s, d) => Graph.pageRankInt(
        Dedup.minhashLsh(docsRebalanced(s, d), maxBandSize = Dedup.Uncapped), iters = 3)
      .orderBy("id"),
    Some {
      val rounds = (1 to 3).map { i =>
        s"""r$i AS (SELECT e.dst AS id, 150000 + (85 * SUM(r${i - 1}.r // deg.degree)) // 100 AS r
             FROM e JOIN r${i - 1} ON r${i - 1}.id = e.src
                    JOIN deg ON deg.id = e.src
             GROUP BY e.dst)"""
      }.mkString(",\n      ")
      s"""WITH $minhashPairCtes,
      -- MATERIALIZED at the narrowest cut: p is the ~50-row filtered pair
      -- list, so the minhash pipeline runs exactly once and every graph
      -- round inlines from a tiny table. Materializing the wider e here
      -- instead needed 130MB (the minhash build and the pinned CTE
      -- coexist); this form passes an 80MB memory_limit stress.
      p AS MATERIALIZED (SELECT d1, d2 FROM v
            WHERE CAST(i AS DOUBLE) / CAST(sz1 + sz2 - i AS DOUBLE) >= 0.4),
      e AS (SELECT d1 AS src, d2 AS dst FROM p UNION SELECT d2, d1 FROM p),
      deg AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS degree FROM e GROUP BY src),
      r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM deg),
      $rounds
      SELECT deg.id, deg.degree, CAST(r3.r AS BIGINT) AS rank
      FROM deg JOIN r3 ON r3.id = deg.id ORDER BY deg.id"""
    })

  /** N-gram novelty (`TextAnalysis.noveltyScore`): per doc, the fraction
    * of its distinct 3-grams appearing in no other document. Oracle
    * counts the complement (grams with df ≥ 2 — the small set) so the
    * allocator never holds a corpus-wide window sort. */
  val q134_novelty: Q = Q(
    (s, d) => TextAnalysis.noveltyScore(docsRebalanced(s, d), n = 3)
      .orderBy("doc_id"),
    Some(s"""WITH dg AS (SELECT doc_id, unnest(list_distinct(${duckGrams(3)})) AS gram
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
      dup AS (SELECT gram FROM (SELECT gram, COUNT(*) AS c FROM dg GROUP BY gram) WHERE c >= 2),
      sh AS (SELECT dg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
             FROM dg JOIN dup USING (gram) GROUP BY dg.doc_id),
      tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM dg GROUP BY doc_id)
      SELECT t.doc_id, t.n_grams,
        t.n_grams - COALESCE(s.n_shared, 0) AS n_novel,
        CAST(t.n_grams - COALESCE(s.n_shared, 0) AS DOUBLE) / t.n_grams AS novelty
      FROM tot t LEFT JOIN sh s ON s.doc_id = t.doc_id ORDER BY t.doc_id"""))

  /** Degree-oriented exact triangle counts + local clustering coefficient
    * (`Graph.triangleStats`) over the q25 near-dup graph — wedge fan-out
    * bounded O(√m) by the orientation, counts exact, clustering one
    * long/long division. */
  val q136_triangles: Q = Q(
    (s, d) => Graph.triangleStats(
        Dedup.minhashLsh(docsRebalanced(s, d), maxBandSize = Dedup.Uncapped))
      .orderBy("id"),
    Some(s"""WITH $minhashPairCtes,
      p AS MATERIALIZED (SELECT d1, d2 FROM v
            WHERE CAST(i AS DOUBLE) / CAST(sz1 + sz2 - i AS DOUBLE) >= 0.4),
      e0 AS (SELECT DISTINCT least(d1, d2) AS a, greatest(d1, d2) AS b
            FROM p WHERE d1 <> d2),
      deg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS degree
            FROM (SELECT a AS id FROM e0 UNION ALL SELECT b FROM e0) GROUP BY id),
      o AS MATERIALIZED (SELECT
              CASE WHEN da.degree < db.degree OR (da.degree = db.degree AND a < b)
                THEN a ELSE b END AS src,
              CASE WHEN da.degree < db.degree OR (da.degree = db.degree AND a < b)
                THEN b ELSE a END AS dst,
              CASE WHEN da.degree < db.degree OR (da.degree = db.degree AND a < b)
                THEN db.degree ELSE da.degree END AS dd
            FROM e0 JOIN deg da ON da.id = e0.a JOIN deg db ON db.id = e0.b),
      w AS (SELECT x.src AS ta, x.dst AS tb, y.dst AS tc FROM o x JOIN o y
            ON x.src = y.src AND (x.dd < y.dd OR (x.dd = y.dd AND x.dst < y.dst))),
      t AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
              SELECT unnest([ta, tb, tc]) AS id
              FROM w JOIN o z ON z.src = w.tb AND z.dst = w.tc)
            GROUP BY id)
      SELECT deg.id, deg.degree, COALESCE(t.n_tri, 0) AS n_tri,
        CASE WHEN deg.degree >= 2
          THEN CAST(COALESCE(t.n_tri, 0) * 2 AS DOUBLE) / (deg.degree * (deg.degree - 1)) END
          AS clustering
      FROM deg LEFT JOIN t ON t.id = deg.id ORDER BY deg.id"""))

  /** Fuzzy record linkage (`Dedup.fuzzyPairs`): blocked candidates scored
    * by exact Levenshtein over a 64-char prefix (codegen'd built-in on
    * both engines; integer distances). English docs, length blocking —
    * the character-order-aware companion to q26's token Jaccard. */
  val q137_fuzzy: Q = Q(
    (s, d) => Dedup.fuzzyPairs(
        table(s, d, "documents").filter(col("lang") === "en"),
        Seq("n_chars"), maxDist = 46)
      .orderBy("d1", "d2"),
    Some("""SELECT a.doc_id AS d1, b.doc_id AS d2,
        CAST(levenshtein(substr(a.text, 1, 64), substr(b.text, 1, 64)) AS BIGINT) AS dist
      FROM documents a JOIN documents b
        ON a.n_chars = b.n_chars AND a.doc_id < b.doc_id
      WHERE a.lang = 'en' AND b.lang = 'en'
        AND levenshtein(substr(a.text, 1, 64), substr(b.text, 1, 64)) <= 46
      ORDER BY d1, d2"""))

  /** Rolling DAU/WAU engagement (`Temporal.rollingActive`): per observed
    * day, distinct users active that day and in the trailing 7-day
    * window, plus stickiness — one (user, day) distinct, a bounded
    * 7-way explode, and a tiny per-day aggregate. */
  val q138_rolling_active: Q = Q(
    (s, d) => Temporal.rollingActive(
        eventsNs(s, d).withColumn("tus", expr("ts div 1000")),
        period = 86400000000L, windowPeriods = 7)
      .orderBy("report_period"),
    Some("""WITH du AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      days AS (SELECT DISTINCT day AS report_period FROM du),
      r AS (SELECT user_id, day, day + unnest(range(0, 7)) AS report_period FROM du),
      g AS (SELECT r.report_period,
              COUNT(DISTINCT CASE WHEN r.day = r.report_period THEN r.user_id END) AS active_now,
              COUNT(DISTINCT r.user_id) AS active_window
            FROM r JOIN days ON days.report_period = r.report_period
            GROUP BY r.report_period)
      SELECT report_period, CAST(active_now AS BIGINT) AS active_now,
        CAST(active_window AS BIGINT) AS active_window,
        CAST(active_now AS DOUBLE) / CAST(active_window AS BIGINT) AS stickiness
      FROM g ORDER BY report_period"""))

  /** Character-level Shannon entropy (`TextAnalysis.charEntropy`):
    * micro-log integer numerator over one division — the low/high-entropy
    * junk filters, zero-shuffle per-row. */
  val q139_char_entropy: Q = Q(
    (s, d) => TextAnalysis.charEntropy(docsRebalanced(s, d)).orderBy("doc_id"),
    Some("""WITH c AS (SELECT doc_id, list_sort(string_split(text, '')) AS ch FROM documents),
      h AS (SELECT doc_id, CAST(len(ch) AS BIGINT) AS n,
              list_aggregate(ch, 'histogram') AS hist FROM c),
      e AS (SELECT doc_id, n, CAST(len(map_keys(hist)) AS BIGINT) AS n_unique_chars,
              list_sum(list_transform(map_values(hist),
                c -> c * CAST(round(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT))) AS s
            FROM h)
      SELECT doc_id, n AS n_chars_total, n_unique_chars,
        CASE WHEN n > 0 THEN
          CAST(n * CAST(round(ln(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) - s AS DOUBLE)
            / (CAST(n AS DOUBLE) * 1e6) END AS entropy
      FROM e ORDER BY doc_id"""))

  /** Degree assortativity (`Graph.assortativity`) of the q25 near-dup
    * graph: Newman 2002 r over exact decimal cross-moments — mesh vs
    * hub-and-spoke in one number. */
  val q140_assortativity: Q = Q(
    (s, d) => Graph.assortativity(
        Dedup.minhashLsh(docsRebalanced(s, d), maxBandSize = Dedup.Uncapped)),
    Some(s"""WITH $minhashPairCtes,
      p AS MATERIALIZED (SELECT d1, d2 FROM v
            WHERE CAST(i AS DOUBLE) / CAST(sz1 + sz2 - i AS DOUBLE) >= 0.4),
      e AS (SELECT d1 AS src, d2 AS dst FROM p UNION SELECT d2, d1 FROM p),
      deg AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS degree FROM e GROUP BY src),
      ed AS (SELECT da.degree AS ds, db.degree AS dd
             FROM e JOIN deg da ON da.id = e.src JOIN deg db ON db.id = e.dst),
      m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              SUM(CAST(ds AS HUGEINT)) AS sx, SUM(CAST(dd AS HUGEINT)) AS sy,
              SUM(CAST(ds AS HUGEINT) * ds) AS sxx, SUM(CAST(dd AS HUGEINT) * dd) AS syy,
              SUM(CAST(ds AS HUGEINT) * dd) AS sxy
            FROM ed)
      SELECT n AS n_directed_edges,
        CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
          THEN ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
            / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
          END AS assortativity
      FROM m"""))

  /** Inter-arrival burstiness (`Temporal.interArrival`): per-user gap
    * moments in wide decimal, B = (σ−µ)/(σ+µ) — the bot-vs-human
    * signature (Goh & Barabási 2008), engine-bit-exact. */
  val q141_interarrival: Q = Q(
    (s, d) => Temporal.interArrival(
        eventsNs(s, d).withColumn("tus", expr("ts div 1000")))
      .orderBy("user_id"),
    Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus FROM events),
      l AS (SELECT user_id,
              tus - LAG(tus, 1) OVER (PARTITION BY user_id ORDER BY tus ASC, event_id ASC) AS gap
            FROM e),
      g AS (SELECT user_id, gap FROM l WHERE gap IS NOT NULL),
      m AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
              SUM(CAST(gap AS HUGEINT)) AS sg, SUM(CAST(gap AS HUGEINT) * gap) AS sgg
            FROM g GROUP BY user_id),
      f AS (SELECT user_id, n_gaps,
              CAST(sg AS DOUBLE) / n_gaps AS mean_gap,
              sqrt(CAST(n_gaps * sgg - sg * sg AS DOUBLE)
                / (CAST(n_gaps AS DOUBLE) * CAST(n_gaps AS DOUBLE))) AS sd_gap
            FROM m)
      SELECT user_id, n_gaps, mean_gap, sd_gap,
        CASE WHEN n_gaps >= 2 AND (sd_gap + mean_gap) > 0
          THEN (sd_gap - mean_gap) / (sd_gap + mean_gap) END AS burstiness
      FROM f ORDER BY user_id"""))

  /** 2-core of the near-dup graph (`Graph.kCore`): iterative peeling to
    * the exact fixpoint (driver loop, checkpointed rounds); the oracle
    * chains 6 MATERIALIZED peel rounds — past the measured sf0.01
    * fixpoint (1 round), and peeling is monotone so extra rounds are
    * no-ops. Separates cohesive duplicate clusters from incidental
    * pairwise collisions. */
  val q142_kcore: Q = Q(
    (s, d) => Graph.kCore(
        Dedup.minhashLsh(docsRebalanced(s, d), maxBandSize = Dedup.Uncapped), k = 2)
      .orderBy("id"),
    Some {
      val rounds = (1 to 6).map { i =>
        s"""d${i - 1} AS MATERIALIZED (SELECT src AS id, COUNT(*) AS degree
             FROM e${i - 1} GROUP BY src),
           e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e
             JOIN d${i - 1} a ON a.id = e.src AND a.degree >= 2
             JOIN d${i - 1} b ON b.id = e.dst AND b.degree >= 2)"""
      }.mkString(",\n      ")
      s"""WITH $minhashPairCtes,
      p AS MATERIALIZED (SELECT d1, d2 FROM v
            WHERE CAST(i AS DOUBLE) / CAST(sz1 + sz2 - i AS DOUBLE) >= 0.4),
      e0 AS (SELECT d1 AS src, d2 AS dst FROM p UNION SELECT d2, d1 FROM p),
      $rounds
      SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS core_degree
      FROM e6 GROUP BY src ORDER BY id"""
    })

  /** Revenue ROLLUP cube: (nation, order-year) with subtotals and grand
    * total via Spark's native `rollup` (one aggregate pass computes all
    * grouping sets — no union of re-scans); grouping level exposed as the
    * standard grouping_id bitmask. Decimal-exact revenue. */
  val q143_rollup: Q = Q(
    (s, d) => {
      // the SQL surface, deliberately: Dataset-API rollup over a joined
      // frame trips Spark 4.1's ambiguous-self-join detector (the
      // rollup's Expand duplicates dataset-id-tagged grouping attrs —
      // engine false positive); the SQL path builds the identical
      // Expand+Aggregate plan without Dataset lineage metadata
      Seq("lineitem", "orders", "customer", "nation").foreach(t =>
        table(s, d, t).createOrReplaceTempView(s"q143_$t"))
      s.sql("""SELECT n_name, o_year,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
            (CAST(1.00 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
          COUNT(*) AS n_items,
          grouping_id() AS gid
        FROM (SELECT /*+ BROADCAST(n) */ l.l_extendedprice, l.l_discount, n.n_name,
                CAST(year(o.o_orderdate) AS BIGINT) AS o_year
              FROM q143_lineitem l JOIN q143_orders o ON l.l_orderkey = o.o_orderkey
              JOIN q143_customer c ON o.o_custkey = c.c_custkey
              JOIN q143_nation n ON c.c_nationkey = n.n_nationkey)
        GROUP BY ROLLUP (n_name, o_year)
        ORDER BY gid, n_name, o_year""")
    },
    Some("""SELECT n_name, o_year,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
          (CAST(1.00 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        CAST(COUNT(*) AS BIGINT) AS n_items,
        CAST(GROUPING(n_name) * 2 + GROUPING(o_year) AS BIGINT) AS gid
      FROM (SELECT l.l_extendedprice, l.l_discount, n.n_name,
              CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey)
      GROUP BY ROLLUP (n_name, o_year)
      ORDER BY gid, n_name, o_year"""))

  /** Snapshot diff / CDC (`Snapshot.diff`): added/removed/changed keys
    * between the customer table and a deterministically mutated copy —
    * portable md5 row hashes over DECIMAL-cast values, one full-outer
    * key join. */
  val q144_snapshot_diff: Q = Q(
    (s, d) => {
      val cust = table(s, d, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
      def prep(df: DataFrame): DataFrame =
        df.withColumn("bal", col("c_acctbal").cast(DecimalType(18, 2)))
      val newDf = cust.filter(col("c_custkey") % 17 =!= 0)
        .withColumn("c_acctbal",
          when(col("c_custkey") % 10 === 0, col("c_acctbal") + 10.0)
            .otherwise(col("c_acctbal")))
        .unionByName(cust.filter(col("c_custkey") % 23 === 0)
          .withColumn("c_custkey", col("c_custkey") + 1000000L))
      Snapshot.diff(prep(cust), prep(newDf), "c_custkey", Seq("c_nationkey", "bal"))
        .orderBy("c_custkey")
    },
    Some("""WITH c AS (SELECT c_custkey, c_nationkey,
              CAST(c_acctbal AS DECIMAL(18,2)) AS bal FROM customer),
      nw AS (SELECT c_custkey, c_nationkey,
              CASE WHEN c_custkey % 10 = 0 THEN CAST(c_acctbal + 10.0 AS DECIMAL(18,2))
                ELSE CAST(c_acctbal AS DECIMAL(18,2)) END AS bal
            FROM customer WHERE c_custkey % 17 <> 0
            UNION ALL
            SELECT c_custkey + 1000000, c_nationkey, CAST(c_acctbal AS DECIMAL(18,2))
            FROM customer WHERE c_custkey % 23 = 0),
      ho AS (SELECT c_custkey AS k,
              md5(CAST(c_nationkey AS VARCHAR) || chr(1) || CAST(bal AS VARCHAR)) AS h FROM c),
      hn AS (SELECT c_custkey AS k,
              md5(CAST(c_nationkey AS VARCHAR) || chr(1) || CAST(bal AS VARCHAR)) AS h FROM nw)
      SELECT COALESCE(ho.k, hn.k) AS c_custkey,
        CASE WHEN ho.k IS NULL THEN 'added' WHEN hn.k IS NULL THEN 'removed'
          WHEN ho.h <> hn.h THEN 'changed' END AS status
      FROM ho FULL OUTER JOIN hn ON ho.k = hn.k
      WHERE (ho.k IS NULL OR hn.k IS NULL OR ho.h <> hn.h)
      ORDER BY c_custkey"""))

  /** Table profiling (`Profile.profile`): per-column row/null/distinct
    * counts + min/max over ONE scan (multi-DISTINCT via a single
    * Expand), unpivoted to one row per column. */
  val q145_profile: Q = Q(
    (s, d) => Profile.profile(table(s, d, "lineitem"),
        Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_shipdate"))
      .orderBy("column_name"),
    Some(Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_shipdate")
      .map(c => s"""SELECT '$c' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
          CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_nulls,
          CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
          CAST(MIN($c) AS VARCHAR) AS min_value,
          CAST(MAX($c) AS VARCHAR) AS max_value
        FROM lineitem""").mkString("", " UNION ALL ", " ORDER BY column_name")))

  /** Per-user value trend (`Selection.trendByGroup`): least-squares
    * slope/intercept/r over exact decimal moments (seconds × cents) —
    * drift detection with no float cancellation anywhere. */
  val q146_trend: Q = Q(
    (s, d) => Selection.trendByGroup(
        eventsNs(s, d)
          .withColumn("xs", expr("(ts div 1000) div 1000000"))
          .withColumn("vc", (col("value").cast(DecimalType(18, 2)) * 100).cast("long")),
        "user_id", col("xs"), col("vc"))
      .orderBy("user_id"),
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) // 1000000 AS xs,
              CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc FROM events),
      m AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
              SUM(CAST(xs AS HUGEINT)) AS sx, SUM(CAST(vc AS HUGEINT)) AS sy,
              SUM(CAST(xs AS HUGEINT) * xs) AS sxx, SUM(CAST(vc AS HUGEINT) * vc) AS syy,
              SUM(CAST(xs AS HUGEINT) * vc) AS sxy
            FROM e GROUP BY user_id),
      f AS (SELECT user_id, n,
              CAST(n * sxy - sx * sy AS DOUBLE) AS num,
              CAST(n * sxx - sx * sx AS DOUBLE) AS vx,
              CAST(n * syy - sy * sy AS DOUBLE) AS vy,
              CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
            FROM m)
      SELECT user_id, n,
        CASE WHEN vx > 0 THEN num / vx END AS slope,
        CASE WHEN vx > 0 THEN (syd - (num / vx) * sxd) / n END AS intercept,
        CASE WHEN vx > 0 AND vy > 0 THEN ROUND(num / (sqrt(vx) * sqrt(vy)), 6) END AS r
      FROM f ORDER BY user_id"""))

  /** Multimodal patchification (`Multimodal.withPortableMeta` +
    * `patchGrid`): portable decode-stub metadata (md5 arithmetic, no
    * UDF) into ViT 16-px patch tokens with position ids and clamped
    * bounds — the vision-pipeline materialization, zero shuffles. */
  val q147_patchify: Q = Q(
    (s, d) => Multimodal.patchGrid(
        Multimodal.withPortableMeta(
          docsRebalanced(s, d).withColumn("payload", encode(col("text"), "UTF-8"))),
        patchSize = 16)
      .select(col("doc_id"), col("width"), col("height"), col("patch_id"),
        col("py"), col("px"), col("x0"), col("y0"), col("x1"), col("y1"))
      .orderBy("doc_id", "patch_id"),
    Some("""WITH m AS (SELECT doc_id, CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS h
              FROM documents),
      g AS (SELECT doc_id, CAST(16 + h % 64 AS INT) AS width,
              CAST(16 + (h // 64) % 64 AS INT) AS height FROM m),
      pg AS (SELECT *, (width + 15) // 16 AS pw, (height + 15) // 16 AS ph FROM g),
      e AS (SELECT doc_id, width, height, pw,
              unnest(range(0, pw * ph)) AS patch_id FROM pg)
      SELECT doc_id, width, height, patch_id,
        patch_id // pw AS py, patch_id % pw AS px,
        (patch_id % pw) * 16 AS x0, (patch_id // pw) * 16 AS y0,
        least((patch_id % pw) * 16 + 16, CAST(width AS BIGINT)) AS x1,
        least((patch_id // pw) * 16 + 16, CAST(height AS BIGINT)) AS y1
      FROM e ORDER BY doc_id, patch_id"""))

  /** Chi-square independence of lang × source
    * (`Selection.chiSquare`): nano-integer cell terms make the
    * cross-cell sum associative — engine-exact drift diagnostic. */
  val q148_chi2: Q = Q(
    (s, d) => Selection.chiSquare(table(s, d, "documents"), "lang", "source"),
    Some("""WITH cells AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
              FROM documents GROUP BY lang, source),
      m AS (SELECT lang, source, o,
              SUM(o) OVER (PARTITION BY lang) AS ra,
              SUM(o) OVER (PARTITION BY source) AS cb,
              SUM(o) OVER () AS nn
            FROM cells),
      t AS (SELECT lang, source, nn,
              CAST(round(CAST(o * o AS DOUBLE) / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)) * 1e9) AS BIGINT) AS term_nano
            FROM m)
      SELECT CAST(MAX(nn) AS BIGINT) AS n,
        CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_a,
        CAST(COUNT(DISTINCT source) AS BIGINT) AS n_b,
        CAST(MAX(nn) AS DOUBLE) * SUM(term_nano) / 1e9 - MAX(nn) AS chi2,
        CAST((COUNT(DISTINCT lang) - 1) * (COUNT(DISTINCT source) - 1) AS BIGINT) AS dof
      FROM t"""))

  /** Exact two-sample KS statistic (`Selection.ksTest`) on doc length
    * between two sources: integer cross-multiplied CDF gaps, ONE
    * division — distribution drift with no float compares. */
  val q149_ks: Q = Q(
    (s, d) => Selection.ksTest(table(s, d, "documents"),
      "source", "src0", "src1", col("n_chars")),
    Some("""WITH f AS (SELECT source, n_chars FROM documents WHERE source IN ('src0', 'src1')),
      per AS (SELECT n_chars AS v,
               CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
               CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS c2
             FROM f GROUP BY n_chars),
      c AS (SELECT v,
              SUM(CAST(c1 AS HUGEINT)) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k1,
              SUM(CAST(c2 AS HUGEINT)) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k2,
              SUM(CAST(c1 AS HUGEINT)) OVER () AS n1,
              SUM(CAST(c2 AS HUGEINT)) OVER () AS n2
            FROM per),
      g AS (SELECT n1, n2, abs(k1 * n2 - k2 * n1) AS num FROM c)
      SELECT CAST(MAX(n1) AS BIGINT) AS n1, CAST(MAX(n2) AS BIGINT) AS n2,
        CASE WHEN MAX(n1) > 0 AND MAX(n2) > 0
          THEN CAST(MAX(num) AS DOUBLE) / (CAST(MAX(n1) AS DOUBLE) * CAST(MAX(n2) AS DOUBLE)) END AS d
      FROM g"""))

  /** Multi-touch linear attribution (`Temporal.linearAttribution`):
    * purchase credit split equally over clicks in a 2h lookback —
    * micro-integer credits keep the per-hour report associative. */
  val q150_attribution_linear: Q = Q(
    (s, d) => {
      val ev = eventsNs(s, d).withColumn("tus", expr("ts div 1000"))
      Temporal.linearAttribution(
          ev.filter(col("event_type") === "purchase"),
          ev.filter(col("event_type") === "click"),
          "user_id", "tus", window = 7200000000L)
        .groupBy(expr("(touch_ts div 3600000000) % 24").as("hour"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("credit_micro")).as("credit_micro_sum"))
        .withColumn("credit", col("credit_micro_sum").cast("double") / 1e6)
        .orderBy("hour")
    },
    Some("""WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS tus FROM events),
      p AS (SELECT event_id, user_id, tus FROM e WHERE event_type = 'purchase'),
      c AS (SELECT event_id AS cid, user_id, tus AS ctus FROM e WHERE event_type = 'click'),
      j AS (SELECT p.event_id, p.tus, c.ctus FROM p JOIN c
            ON p.user_id = c.user_id AND c.ctus >= p.tus - 7200000000 AND c.ctus <= p.tus),
      n AS (SELECT *, 1000000 // COUNT(*) OVER (PARTITION BY event_id) AS credit FROM j)
      SELECT (ctus // 3600000000) % 24 AS hour,
        CAST(COUNT(*) AS BIGINT) AS n_pairs,
        CAST(SUM(credit) AS BIGINT) AS credit_micro_sum,
        CAST(SUM(credit) AS DOUBLE) / 1e6 AS credit
      FROM n GROUP BY hour ORDER BY hour"""))

  /** Top-20 session paths (`Temporal.topPaths`): first five event types
    * per 30-min-gap session, path built row-locally from a sorted struct
    * array (no order-sensitive string_agg), counted corpus-wide. */
  val q151_top_paths: Q = Q(
    (s, d) => Temporal.topPaths(
        eventsNs(s, d).withColumn("tus", expr("ts div 1000")),
        gap = 1800000000L, maxLen = 5, k = 20),
    Some("""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events),
      flag AS (SELECT user_id, event_id, event_type, tus,
          CASE WHEN LAG(tus) OVER w IS NULL
                 OR tus - LAG(tus) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus ASC, event_id ASC)),
      sess AS (SELECT user_id, event_id, event_type, tus,
          SUM(is_new) OVER (PARTITION BY user_id ORDER BY tus ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        FROM flag),
      sp AS (SELECT user_id, session_idx,
              list_sort(list(struct_pack(t := tus, i := event_id, e := event_type))) AS evs
            FROM sess GROUP BY user_id, session_idx),
      pp AS (SELECT array_to_string(list_transform(evs[1:5], s -> s.e), '>') AS path FROM sp)
      SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
      FROM pp GROUP BY path ORDER BY n_sessions DESC, path ASC LIMIT 20"""))

  /** Daily p50/p95/p99 value bands (`Selection.quantilesByGroup`): all
    * three exact quantile VALUES from ONE histogram pass per day — the
    * monitoring materialization, no per-day corpus sort. */
  val q152_daily_bands: Q = Q(
    (s, d) => Selection.quantilesByGroup(
        eventsNs(s, d).select(expr("(ts div 1000) div 86400000000").as("day"), col("value")),
        "day", "value", Seq("p50" -> 500000L, "p95" -> 950000L, "p99" -> 990000L))
      .orderBy("day", "tag"),
    Some("""WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day, value FROM events),
      r AS (SELECT day, value, ROW_NUMBER() OVER (PARTITION BY day ORDER BY value ASC) AS rn,
              CAST(COUNT(*) OVER (PARTITION BY day) AS BIGINT) AS n FROM e),
      q AS (SELECT day, 'p50' AS tag, n, CAST(value AS DOUBLE) AS quantile FROM r
              WHERE rn = (n * 500000 + 999999) // 1000000
            UNION ALL SELECT day, 'p95', n, CAST(value AS DOUBLE) FROM r
              WHERE rn = (n * 950000 + 999999) // 1000000
            UNION ALL SELECT day, 'p99', n, CAST(value AS DOUBLE) FROM r
              WHERE rn = (n * 990000 + 999999) // 1000000)
      SELECT day, tag, n, quantile FROM q ORDER BY day, tag"""))

  /** Language-ID confusion matrix: `langId` predictions against the
    * labeled `lang` column, row-normalized — the classifier-quality
    * report for the n-gram heuristic (only docs with ≥1 keyword hit are
    * classified, as in q29). */
  val q153_lang_confusion: Q = Q(
    (s, d) => {
      val docs = docsRebalanced(s, d)
      TextAnalysis.langId(docs)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy("lang", "pred_lang")
        .agg(count(lit(1)).as("n"))
        .withColumn("row_total",
          sum(col("n")).over(Window.partitionBy(col("lang"))))
        .withColumn("frac", col("n").cast("double") / col("row_total"))
        .orderBy("lang", "pred_lang")
    },
    Some(s"""WITH h AS (SELECT doc_id, lang, $duckLangHitDefs
        FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents)),
      p AS (SELECT doc_id, lang, $duckLangArgmax AS pred_lang
            FROM h WHERE greatest($duckLangCols) > 0),
      m AS (SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
            FROM p GROUP BY lang, pred_lang)
      SELECT lang, pred_lang, n,
        CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS row_total,
        CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS frac
      FROM m ORDER BY lang, pred_lang"""))

  /** Point-in-time state (`Temporal.stateAt`): every user's latest value
    * at the event-log midpoint — the reproducible-snapshot
    * materialization; cut derived from the same min/max both engines. */
  val q154_state_at: Q = Q(
    (s, d) => {
      val ev = eventsNs(s, d).withColumn("tus", expr("ts div 1000"))
      val Array(lo, hi) = ev.agg(min(col("tus")), max(col("tus"))).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      Temporal.stateAt(ev, (lo + hi) / 2).orderBy("user_id")
    },
    Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus, value FROM events),
      cut AS (SELECT (MIN(tus) + MAX(tus)) // 2 AS t FROM e),
      f AS (SELECT e.* FROM e, cut WHERE e.tus <= cut.t),
      r AS (SELECT user_id, tus, value, event_id,
              ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY tus DESC, event_id DESC) AS rn,
              CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_events,
              MAX(tus) OVER (PARTITION BY user_id) AS last_ts
            FROM f)
      SELECT user_id, n_events, last_ts, value AS last_value
      FROM r WHERE rn = 1 ORDER BY user_id"""))

  /** Integer percentile-rank transform (`Selection.cdfPpmByGroup`):
    * per-doc length ppm within its language — RANGE-window ≤-count,
    * one integer multiply-divide, no floats. */
  val q155_cdf_ppm: Q = Q(
    (s, d) => Selection.cdfPpmByGroup(
        docsRebalanced(s, d), "lang", col("n_chars"))
      .orderBy("doc_id"),
    Some("""WITH r AS (SELECT doc_id, lang, n_chars AS v,
        CAST(COUNT(*) OVER (PARTITION BY lang ORDER BY n_chars
          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS le,
        CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n
      FROM documents)
      SELECT doc_id, lang, v, n, (le * 1000000) // n AS ppm
      FROM r ORDER BY doc_id"""))

  /** Per-day equi-width value histogram (`Profile.histogram`): 10 bins
    * between each day's min/max with exact counts — the drift-dashboard
    * distribution report (quantilesByGroup's binning arithmetic). */
  val q156_histogram: Q = Q(
    (s, d) => Profile.histogram(
        eventsNs(s, d).select(expr("(ts div 1000) div 86400000000").as("day"), col("value")),
        "day", "value", bins = 10)
      .orderBy("day", "bin"),
    Some("""WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day, value FROM events),
      s AS (SELECT day, MIN(value) AS lo, MAX(value) AS hi FROM e GROUP BY day),
      b AS (SELECT e.day,
              CASE WHEN s.hi = s.lo THEN 0
                ELSE CAST(least(9, CAST(floor((e.value - s.lo) * 10 / (s.hi - s.lo)) AS INT)) AS INT)
              END AS bin,
              s.lo, s.hi
            FROM e JOIN s ON e.day = s.day),
      g AS (SELECT day, bin, CAST(COUNT(*) AS BIGINT) AS n,
              MIN(lo) AS lo, MIN(hi) AS hi FROM b GROUP BY day, bin)
      SELECT day, bin,
        lo + bin * (hi - lo) / 10 AS bin_lo,
        lo + (bin + 1) * (hi - lo) / 10 AS bin_hi, n
      FROM g ORDER BY day, bin"""))

  /** Character-class structural profile (`TextAnalysis.charClasses`):
    * letters/digits/spaces/punct counts + fractions — replace-based,
    * zero-shuffle quality features. */
  val q157_char_classes: Q = Q(
    (s, d) => TextAnalysis.charClasses(docsRebalanced(s, d)).orderBy("doc_id"),
    Some("""SELECT doc_id,
        CAST(length(text) AS BIGINT) AS n_chars,
        CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_letters,
        CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digits,
        CAST(length(text) - length(regexp_replace(text, ' ', '', 'g')) AS BIGINT) AS n_spaces,
        CAST(length(text) - length(regexp_replace(text, '[.,!?;]', '', 'g')) AS BIGINT) AS n_punct,
        CASE WHEN length(text) > 0 THEN
          CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS DOUBLE)
            / CAST(length(text) AS BIGINT) END AS letter_frac,
        CASE WHEN length(text) > 0 THEN
          CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
            / CAST(length(text) AS BIGINT) END AS digit_frac
      FROM documents ORDER BY doc_id"""))

  /** Benford first-digit audit (`Profile.benford`) on lineitem extended
    * price in cents: digit from the INTEGER's decimal string, observed
    * and expected frequencies as integer PPB, deviation an integer
    * |obs−exp| — the fabricated-data detector, fully exact. */
  val q158_benford: Q = Q(
    (s, d) => Profile.benford(
        table(s, d, "lineitem")
          .withColumn("cents", (col("l_extendedprice").cast(dec) * 100).cast("long")),
        "cents")
      .orderBy("digit"),
    Some {
      val expCase = Profile.BenfordPpb.zipWithIndex
        .map { case (ppb, i) => s"WHEN digit = ${i + 1} THEN ${ppb}" }.mkString(" ")
      s"""WITH v AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
              FROM lineitem),
      dg AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit
             FROM v WHERE cents > 0),
      g AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM dg GROUP BY digit),
      t AS (SELECT digit, n, CAST(SUM(n) OVER () AS BIGINT) AS n_total FROM g)
      SELECT digit, n, n_total,
        (n * 1000000000) // n_total AS obs_ppb,
        CAST(CASE $expCase END AS BIGINT) AS exp_ppb,
        abs((n * 1000000000) // n_total - CAST(CASE $expCase END AS BIGINT)) AS diff_ppb
      FROM t ORDER BY digit"""
    })

  /** Poisson-bootstrap 95% CI on mean doc length
    * (`Selection.bootstrapSummary`): 16 deterministic Poisson(1) replicas
    * in ONE pass (md5 uniforms + the shared CDF-literal cascade), replica
    * means decimal-exact, summary over a FIXED-order pivot (no float sum
    * ambiguity; IEEE sqrt is correctly rounded on both engines). */
  val q135_bootstrap: Q = Q(
    (s, d) => Selection.bootstrapSummary(
      table(s, d, "documents"), b = 16, valCol = col("n_chars")),
    Some {
      val caseW = Selection.PoissonCdf.zipWithIndex
        .map { case (t, i) => s"WHEN u < $t THEN $i" }.mkString(" ")
      val ms = (0 until 16)
        .map(i => s"MAX(CASE WHEN replica = $i THEN boot_mean END) AS m$i").mkString(", ")
      val msum = (0 until 16).map(i => s"m$i").mkString(" + ")
      val dev2 = (0 until 16).map(i => s"(m$i - mbar) * (m$i - mbar)").mkString(" + ")
      s"""WITH r AS (SELECT doc_id, n_chars, unnest(range(0, 16)) AS replica FROM documents),
      u0 AS (SELECT doc_id, n_chars, replica,
              CAST((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#' || CAST(replica AS VARCHAR)), 1, 15) AS BIGINT)
                % 4503599627370496) + 1 AS DOUBLE) / CAST(4503599627370497 AS DOUBLE) AS u
            FROM r),
      wt AS (SELECT n_chars, replica, CASE $caseW ELSE ${Selection.PoissonCdf.size} END AS w FROM u0),
      m AS (SELECT replica, CAST(SUM(w) AS BIGINT) AS n_draws,
              CAST(SUM(CAST(w * n_chars AS HUGEINT)) AS DOUBLE) / CAST(SUM(w) AS BIGINT) AS boot_mean
            FROM wt GROUP BY replica),
      p AS (SELECT $ms FROM m),
      sb AS (SELECT *, ($msum) / 16.0 AS mbar FROM p),
      tb AS (SELECT mbar, sqrt(($dev2) / 15.0) AS boot_se FROM sb)
      SELECT CAST(16 AS BIGINT) AS n_replicas, mbar AS boot_mean, boot_se,
        mbar - 1.96 * boot_se AS ci_lo, mbar + 1.96 * boot_se AS ci_hi
      FROM tb"""
    })

  /** The q47/q48 gridded swath: tiny after the groupBy (<=10k rows at any
    * SF), so the driver-side omerc fit persists it once and every fit
    * action plus the final bucket pass reads the cache — lineitem is
    * scanned exactly once. */
  private def omercSwath(s: SparkSession, d: String): DataFrame =
    table(s, d, "lineitem").selectExpr(
      "CAST(l_orderkey % 200 AS INT) AS y",
      "CAST(l_partkey % 50 AS INT) AS x",
      "l_quantity AS value")
      .groupBy("y", "x").agg(min("value").as("value"))
      .selectExpr("y", "x",
        "x * 0.3 - 5.0 + y * 0.12 AS lon",
        "30.0 + y * 0.15 + x * 0.02 AS lat",
        "value")

  /** Shared DuckDB CTE chain replaying `computeOptimalBbArea` end-to-end:
    * rebuild the omerc swath, fit (centreline endpoints/midpoint +
    * great-circle azimuth), spherical omerc forward over every point, then
    * the frozen extent and grid dims. Ends at `pp3` (per-point xx/yy) and
    * `dims` (x0f/y1f/w/h + fit params). Cross-engine trig ulps (~1e-9 m)
    * are absorbed by the 50 km floor-binning / 6-decimal rounding
    * downstream — the q41 "no quantize needed before coarse floors"
    * discipline (see OracleSql scaladoc). */
  private def omercFitCtes: String = {
    val D2R = OracleSql.slit(math.Pi / 180.0)
    val PI2 = OracleSql.slit(math.Pi / 2)
    val R = OracleSql.slit(6370997.0)
    s"""pix AS (SELECT CAST(l_orderkey % 200 AS INT) AS y, CAST(l_partkey % 50 AS INT) AS x,
                  MIN(l_quantity) AS value FROM lineitem GROUP BY 1, 2),
      sw AS (SELECT y, x, CAST(x * 0.3 - 5.0 + y * 0.12 AS DOUBLE) AS lon,
                    CAST(30.0 + y * 0.15 + x * 0.02 AS DOUBLE) AS lat FROM pix),
      xm AS (SELECT CAST(TRUNC((MAX(x) + MIN(x)) / 2) AS INTEGER) AS xv FROM sw),
      ctr AS (SELECT y, lon, lat FROM sw, xm WHERE x = xv),
      oc AS (SELECT *, ROW_NUMBER() OVER (ORDER BY y) AS rn, COUNT(*) OVER () AS n FROM ctr),
      pts AS (SELECT MAX(CASE WHEN rn = 1 THEN lon END) AS lo1, MAX(CASE WHEN rn = 1 THEN lat END) AS la1,
                     MAX(CASE WHEN rn = n THEN lon END) AS lo2, MAX(CASE WHEN rn = n THEN lat END) AS la2,
                     MAX(CASE WHEN rn = CAST(FLOOR(n / 2) AS BIGINT) + 1 THEN lon END) AS lonc,
                     MAX(CASE WHEN rn = CAST(FLOOR(n / 2) AS BIGINT) + 1 THEN lat END) AS lat0 FROM oc),
      az0 AS (SELECT *, RADIANS(la1) AS pr1, RADIANS(la2) AS pr2, RADIANS(lo2 - lo1) AS dl FROM pts),
      az1 AS (SELECT *, DEGREES(ATAN2(SIN(dl) * COS(pr2),
                          COS(pr1) * SIN(pr2) - SIN(pr1) * COS(pr2) * COS(dl))) AS az FROM az0),
      fit AS (SELECT lonc, lat0, CASE WHEN ABS(az) > 90 THEN az - 180 * SIGN(az) ELSE az END AS alpha FROM az1),
      om1 AS (SELECT *, lat0 * $D2R AS phiC, alpha * $D2R AS alphaR FROM fit),
      om2 AS (SELECT *, ASIN(COS(phiC) * SIN(alphaR)) AS phiP,
                     ATAN2(-COS(alphaR), -SIN(phiC) * SIN(alphaR)) + lonc * $D2R AS lamP FROM om1),
      om3 AS (SELECT *, lamP + $PI2 AS lam0, SIN(phiP) AS sinPp, COS(phiP) AS cosPp FROM om2),
      prj AS (SELECT s.lon, s.lat, o.* FROM sw s CROSS JOIN om3 o
              WHERE s.lon >= -180.0 AND s.lon <= 180.0 AND s.lat >= -90.0 AND s.lat <= 90.0),
      pp1 AS (SELECT *, ${OracleSql.wrapSql("lon")} * $D2R - lam0 AS lam, lat * $D2R AS phi FROM prj),
      pp2 AS (SELECT *, sinPp * SIN(phi) - cosPp * COS(phi) * SIN(lam) AS aa FROM pp1),
      pp3 AS (SELECT $R * ATAN2(TAN(phi) * cosPp + sinPp * SIN(lam), COS(lam)) AS xx,
                     ($R / 2) * LN((1 + aa) / (1 - aa)) AS yy, lonc, lat0, alpha FROM pp2),
      ext AS (SELECT MIN(xx) AS x0f, MAX(xx) AS x1f, MIN(yy) AS y0f, MAX(yy) AS y1f,
                     MAX(lonc) AS lonc, MAX(lat0) AS lat0, MAX(alpha) AS alpha FROM pp3),
      dims AS (SELECT *, GREATEST(1, CAST(CEIL((x1f - x0f) / 50000.0) AS INTEGER)) AS w,
                      GREATEST(1, CAST(CEIL((y1f - y0f) / 50000.0) AS INTEGER)) AS h FROM ext)"""
  }

  /** compute_optimal_bb_area in the data plane: fit an oblique-Mercator
    * frame to a structured swath, then bucket-count onto the fitted grid
    * (omerc forward projection per row). Oracle: the shared fit chain
    * ([[omercFitCtes]], already 6-dp-verified by q48) continued with the
    * exact `cellIndex` binning — pixel sizes derived from the frozen
    * extent with the same association order as `AreaDef.pixelSizeX/Y`. */
  val q47_optimal_bb: Q = Q(
    (s, d) => {
      val sw = omercSwath(s, d).persist()
      val area = GeometryOps.computeOptimalBbArea(sw, resolutionMetres = 50000, id = "omerc_q47")
      BucketResampler(area).count(sw).orderBy("cell")
    },
    Some {
      val RES = OracleSql.slit(50000.0)
      s"""WITH $omercFitCtes,
      area AS (SELECT x0f, y1f, w, h,
          ((x0f + CAST(w AS DOUBLE) * $RES) - x0f) / CAST(w AS DOUBLE) AS pix_x,
          (y1f - (y1f - CAST(h AS DOUBLE) * $RES)) / CAST(h AS DOUBLE) AS pix_y FROM dims),
      cc AS (SELECT CAST(FLOOR((p.xx - a.x0f) / a.pix_x) AS BIGINT) AS c,
                    CAST(FLOOR((a.y1f - p.yy) / a.pix_y) AS BIGINT) AS r,
                    CAST(a.w AS BIGINT) AS wb, CAST(a.h AS BIGINT) AS hb
             FROM pp3 p CROSS JOIN area a),
      cells AS (SELECT r * wb + c AS cell FROM cc
                WHERE c >= 0 AND c < wb AND r >= 0 AND r < hb)
      SELECT cell, COUNT(*) AS n FROM cells GROUP BY cell ORDER BY cell"""
    })

  /** The omerc fit parameters as a single-row query (like q35): centreline
    * endpoints/midpoint, great-circle azimuth, frozen projected extent —
    * the full `_compute_omerc_parameters` analog (`geometry.py:911-951`),
    * replayed by DuckDB including the spherical omerc forward kernel. */
  val q48_omerc_fit: Q = Q(
    (s, d) => {
      val sw = omercSwath(s, d).persist()
      val area = GeometryOps.computeOptimalBbArea(sw, resolutionMetres = 50000, id = "omerc_q48")
      val p = area.crs.params
      val sess = s
      import sess.implicits._
      Seq((p("lonc").toDouble, p("lat_0").toDouble, p("alpha").toDouble,
        area.width, area.height, area.xLL, area.yLL, area.xUR, area.yUR))
        .toDF("lonc", "lat0", "alpha", "w", "h", "x0", "y0", "x1", "y1")
        .select(
          round(col("lonc"), 6).as("lonc"), round(col("lat0"), 6).as("lat0"),
          round(col("alpha"), 6).as("alpha"), col("w"), col("h"),
          round(col("x0"), 3).as("x0"), round(col("y0"), 3).as("y0"),
          round(col("x1"), 3).as("x1"), round(col("y1"), 3).as("y1"))
    },
    Some {
      s"""WITH $omercFitCtes
      SELECT ROUND(lonc, 6) AS lonc, ROUND(lat0, 6) AS lat0, ROUND(alpha, 6) AS alpha,
        CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h,
        ROUND(x0f, 3) AS x0, ROUND(y1f - h * 50000.0, 3) AS y0,
        ROUND(x0f + w * 50000.0, 3) AS x1, ROUND(y1f, 3) AS y1
      FROM dims"""
    })

  /** Bilinear swath resample onto the stere area (J5, geocentric k-NN).
    * Oracle: the full operator — quadrant corner pick, quadratic (t, s)
    * solve with its two fallbacks, and the blend — transcribed op-for-op
    * into SQL; with XYZ and projection coordinates quantized, every
    * division/sqrt is IEEE-identical, so the result hash-matches. Scala
    * NaN paths (sqrt of negative disc, division by zero) map to DuckDB
    * NULLs; both fail the in-unit check the same way. */
  val q45_bilinear_stere: Q = Q(
    (s, d) => {
      val area = stereArea(100, 100)
      // radius sized to the synthetic swath's density: ~20 candidates per
      // 250 km disc at sf0.01 — enough for the 4-corner pick, and the cell
      // join stays ~27 candidate cells per target
      val src = DataReduce.reduceToArea(
        srcForKnnRebalanced(s, d), area, 250000.0)
      BilinearResample.resample(src, area, radius = 250000.0,
        quantizeXyz = Some(0), quantizeProj = Some(2)).orderBy("dst_id")
    },
    Some {
      val area = stereArea(100, 100)
      def inU(v: String) = s"COALESCE($v >= 0.0 AND $v <= 1.0, FALSE)"
      s"""WITH ${stereKnnSql(area, 250000.0, srcProjQuantize = Some(2))},
      quads AS (SELECT r.*, t.px AS out_x, t.py AS out_y,
                  CASE WHEN t.px - r.in_x > 0 AND t.py - r.in_y < 0 THEN 1
                       WHEN t.px - r.in_x < 0 AND t.py - r.in_y < 0 THEN 2
                       WHEN t.px - r.in_x > 0 AND t.py - r.in_y > 0 THEN 3
                       WHEN t.px - r.in_x < 0 AND t.py - r.in_y > 0 THEN 4 END AS quad
                FROM ranked r JOIN tg t ON t.cell = r.dst_id
                WHERE r.rank <= 32),
      fp AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY dst_id, quad ORDER BY rank) AS qrn
             FROM quads WHERE quad IS NOT NULL),
      corners AS (SELECT dst_id,
          MAX(CASE WHEN quad = 1 THEN in_x END) AS p1x, MAX(CASE WHEN quad = 1 THEN in_y END) AS p1y,
          MAX(CASE WHEN quad = 1 THEN value END) AS v1,
          MAX(CASE WHEN quad = 2 THEN in_x END) AS p2x, MAX(CASE WHEN quad = 2 THEN in_y END) AS p2y,
          MAX(CASE WHEN quad = 2 THEN value END) AS v2,
          MAX(CASE WHEN quad = 3 THEN in_x END) AS p3x, MAX(CASE WHEN quad = 3 THEN in_y END) AS p3y,
          MAX(CASE WHEN quad = 3 THEN value END) AS v3,
          MAX(CASE WHEN quad = 4 THEN in_x END) AS p4x, MAX(CASE WHEN quad = 4 THEN in_y END) AS p4y,
          MAX(CASE WHEN quad = 4 THEN value END) AS v4,
          MAX(out_x) AS out_x, MAX(out_y) AS out_y
        FROM fp WHERE qrn = 1 GROUP BY dst_id HAVING COUNT(*) = 4),
      d1 AS (SELECT *, p2x - p1x AS x21_1, p3x - p1x AS x31_1, p4x - p2x AS x42_1,
                       p2y - p1y AS y21_1, p3y - p1y AS y31_1, p4y - p2y AS y42_1 FROM corners),
      d2 AS (SELECT *, x31_1 * y42_1 - y31_1 * x42_1 AS a1,
               out_y * (x42_1 - x31_1) - out_x * (y42_1 - y31_1) + x31_1 * p2y - y31_1 * p2x + y42_1 * p1x - x42_1 * p1y AS b1,
               out_y * x21_1 - out_x * y21_1 + p1x * p2y - p2x * p1y AS c1 FROM d1),
      d3 AS (SELECT *, b1 * b1 - 4 * a1 * c1 AS disc1 FROM d2),
      d4 AS (SELECT *, CASE WHEN disc1 >= 0 THEN -0.5 * (b1 + SIGN(b1) * SQRT(disc1)) END AS qq1 FROM d3),
      d5 AS (SELECT *, CASE WHEN b1 >= 0 THEN c1 / qq1 ELSE qq1 / a1 END AS x1a,
                       CASE WHEN b1 >= 0 THEN qq1 / a1 ELSE c1 / qq1 END AS x1b,
                       -c1 / b1 AS x1c FROM d4),
      d6 AS (SELECT *, CASE WHEN ${inU("x1a")} THEN x1a WHEN ${inU("x1b")} THEN x1b WHEN ${inU("x1c")} THEN x1c END AS t1 FROM d5),
      d7 AS (SELECT *, CASE WHEN t1 IS NOT NULL THEN (out_y - p1y - y31_1 * t1) / (p2y + y42_1 * t1 - p1y - y31_1 * t1) END AS g1 FROM d6),
      d8 AS MATERIALIZED (SELECT *, CASE WHEN ${inU("g1")} THEN g1 END AS s1 FROM d7),
      e1 AS (SELECT *, p3x - p1x AS x21_2, p2x - p1x AS x31_2, p4x - p3x AS x42_2,
                       p3y - p1y AS y21_2, p2y - p1y AS y31_2, p4y - p3y AS y42_2 FROM d8),
      e2 AS (SELECT *, x31_2 * y42_2 - y31_2 * x42_2 AS a2,
               out_y * (x42_2 - x31_2) - out_x * (y42_2 - y31_2) + x31_2 * p3y - y31_2 * p3x + y42_2 * p1x - x42_2 * p1y AS b2,
               out_y * x21_2 - out_x * y21_2 + p1x * p3y - p3x * p1y AS c2 FROM e1),
      e3 AS (SELECT *, b2 * b2 - 4 * a2 * c2 AS disc2 FROM e2),
      e4 AS (SELECT *, CASE WHEN disc2 >= 0 THEN -0.5 * (b2 + SIGN(b2) * SQRT(disc2)) END AS qq2 FROM e3),
      e5 AS (SELECT *, CASE WHEN b2 >= 0 THEN c2 / qq2 ELSE qq2 / a2 END AS x2a,
                       CASE WHEN b2 >= 0 THEN qq2 / a2 ELSE c2 / qq2 END AS x2b,
                       -c2 / b2 AS x2c FROM e4),
      e6 AS (SELECT *, CASE WHEN ${inU("x2a")} THEN x2a WHEN ${inU("x2b")} THEN x2b WHEN ${inU("x2c")} THEN x2c END AS s2 FROM e5),
      e7 AS (SELECT *, CASE WHEN s2 IS NOT NULL THEN (out_y - p1y - y31_2 * s2) / (p3y + y42_2 * s2 - p1y - y31_2 * s2) END AS g2 FROM e6),
      e8 AS MATERIALIZED (SELECT *, CASE WHEN ${inU("g2")} THEN g2 END AS t2 FROM e7),
      f1 AS (SELECT *, (x21_1 * (out_y - p1y) - y21_1 * (out_x - p1x)) / (x21_1 * y31_1 - y21_1 * x31_1) AS t3c FROM e8),
      f2 AS MATERIALIZED (SELECT *, CASE WHEN ${inU("t3c")} THEN (out_x - p1x + x31_1 * t3c) / x21_1 END AS s3c FROM f1),
      f3 AS MATERIALIZED (SELECT *,
               CASE WHEN t1 IS NOT NULL AND s1 IS NOT NULL THEN t1
                    WHEN t2 IS NOT NULL AND s2 IS NOT NULL THEN t2
                    WHEN ${inU("t3c")} AND ${inU("s3c")} THEN t3c END AS tf,
               CASE WHEN t1 IS NOT NULL AND s1 IS NOT NULL THEN s1
                    WHEN t2 IS NOT NULL AND s2 IS NOT NULL THEN s2
                    WHEN ${inU("t3c")} AND ${inU("s3c")} THEN s3c END AS sf FROM f2)
      SELECT dst_id,
        v1 * (1 - sf) * (1 - tf) + v2 * sf * (1 - tf) + v3 * (1 - sf) * tf + v4 * sf * tf AS value
      FROM f3 WHERE tf IS NOT NULL AND sf IS NOT NULL ORDER BY dst_id"""
    })

  /** EWA resample of a structured synthetic swath (J6/J7/A8). */
  val q46_ewa_stere: Q = Q(
    (s, d) => {
      val area = stereArea(100, 100)
      // structured swath: smooth lon/lat over a (y, x) grid derived from
      // keys; one row per pixel (gridded swaths are unique per (y, x) —
      // collapsing duplicates also keeps the footprint explode linear in
      // the number of PIXELS, not input rows)
      val sw = table(s, d, "lineitem").selectExpr(
        "CAST(l_orderkey % 200 AS INT) AS y",
        "CAST(l_partkey % 100 AS INT) AS x",
        "l_quantity AS value")
        .groupBy("y", "x").agg(avg("value").as("value"))
        .selectExpr("y", "x",
          "x * 0.45 - 15.0 + y * 0.01 AS lon",
          "62.0 - y * 0.11 + x * 0.004 AS lat",
          "value")
      // quantized weights + quantized ll2cr -> the full per-scan Jacobian
      // pipeline on a REAL projection is replayable bit-exactly by the
      // DuckDB oracle (the q33 chain with the stere forward inserted)
      EwaResample.resample(sw, area, rowsPerScan = 50,
        quantizeWeights = Some(7), quantizeCr = Some(6)).orderBy("cell")
    },
    Some {
      val area = stereArea(100, 100)
      val st = OracleSql.StereSql(area)
      val negAlpha = OracleSql.slit(-(-math.log(0.01) / 1.0))
      val xLL = OracleSql.slit(area.xLL); val yUR = OracleSql.slit(area.yUR)
      val psx = OracleSql.slit(area.pixelSizeX); val psy = OracleSql.slit(area.pixelSizeY)
      s"""WITH pix AS (SELECT CAST(l_orderkey % 200 AS INT) AS y, CAST(l_partkey % 100 AS INT) AS x,
                  AVG(l_quantity) AS value FROM lineitem GROUP BY 1, 2),
      sw AS (SELECT y, x, x * 0.45 - 15.0 + y * 0.01 AS lon, 62.0 - y * 0.11 + x * 0.004 AS lat, value FROM pix),
      ${st.fwdCtes("prj", "sw", Seq("y", "x", "value"))},
      cr AS (SELECT *, ROUND((proj_x - $xLL) / $psx, 6) AS u, ROUND(($yUR - proj_y) / $psy, 6) AS v FROM prj),
      wscan AS (SELECT *, CAST(FLOOR(y / 50) AS BIGINT) AS scan, y % 50 AS y_in FROM cr),
      srows AS (SELECT scan, MIN(y_in) AS y0, MAX(y_in) AS y1,
                  CAST(FLOOR((MIN(y_in) + MAX(y_in) + 1) / 2) AS BIGINT) AS ymid
                FROM wscan GROUP BY scan),
      ws AS (SELECT w.*, s.y0, s.y1, s.ymid FROM wscan w JOIN srows s ON s.scan = w.scan),
      mid AS (SELECT scan, x,
               (LEAD(u, 1) OVER (PARTITION BY scan ORDER BY x) -
                LAG(u, 1) OVER (PARTITION BY scan ORDER BY x)) / 2.0 * 1.0 AS ux,
               (LEAD(v, 1) OVER (PARTITION BY scan ORDER BY x) -
                LAG(v, 1) OVER (PARTITION BY scan ORDER BY x)) / 2.0 * 1.0 AS vx
             FROM ws WHERE y_in = ymid),
      fl AS (SELECT scan, x,
               MAX(CASE WHEN y_in = y1 THEN u END) - MAX(CASE WHEN y_in = y0 THEN u END) AS du,
               MAX(CASE WHEN y_in = y1 THEN v END) - MAX(CASE WHEN y_in = y0 THEN v END) AS dv,
               MAX(y1 - y0) AS dy
             FROM ws WHERE y_in = y0 OR y_in = y1 GROUP BY scan, x),
      fl2 AS (SELECT scan, x, CASE WHEN dy > 0 THEN du / dy * 1.0 ELSE 0.0 END AS uy,
                CASE WHEN dy > 0 THEN dv / dy * 1.0 ELSE 0.0 END AS vy FROM fl),
      par0 AS (SELECT scan, x, ux, vx, uy, vy FROM mid FULL OUTER JOIN fl2 USING (scan, x)),
      par1 AS (SELECT *,
                 (ux IS NULL OR vx IS NULL OR uy IS NULL OR vy IS NULL OR
                  isnan(ux) OR isnan(vx) OR isnan(uy) OR isnan(vy)) AS bad,
                 GREATEST((ux * vy - uy * vx) * (ux * vy - uy * vx), 0.0000000000000001) AS fs
               FROM par0),
      par2 AS (SELECT scan, x, bad,
                 CASE WHEN bad THEN 0.0 ELSE (vx * vx + vy * vy) * (1.0 / fs) END AS ea,
                 CASE WHEN bad THEN 0.0 ELSE -2.0 * (ux * vx + uy * vy) * (1.0 / fs) END AS eb,
                 CASE WHEN bad THEN 0.0 ELSE (ux * ux + uy * uy) * (1.0 / fs) END AS ec
               FROM par1),
      par3 AS (SELECT *, GREATEST(4.0 * ea * ec - eb * eb, 0.0000000000000001) AS d FROM par2),
      par AS (SELECT scan, x, ea, eb, ec,
                CASE WHEN bad THEN 1.0 ELSE LEAST(SQRT(ec * (4.0 / d)), 10.0) END AS udel,
                CASE WHEN bad THEN 1.0 ELSE LEAST(SQRT(ea * (4.0 / d)), 10.0) END AS vdel
              FROM par3),
      px0 AS (SELECT w.u, w.v, w.value, p.ea, p.eb, p.ec, p.udel, p.vdel
              FROM wscan w JOIN par p ON p.scan = w.scan AND p.x = w.x
              WHERE NOT isnan(w.u) AND NOT isnan(w.v) AND w.value IS NOT NULL AND NOT isnan(w.value)
                AND w.u >= -p.udel AND w.v >= -p.vdel),
      px1 AS (SELECT *,
                GREATEST(CAST(FLOOR(u - udel) AS INTEGER), 0) AS iu1,
                LEAST(CAST(FLOOR(u + udel) AS INTEGER), ${area.width - 1}) AS iu2,
                GREATEST(CAST(FLOOR(v - vdel) AS INTEGER), 0) AS iv1,
                LEAST(CAST(FLOOR(v + vdel) AS INTEGER), ${area.height - 1}) AS iv2
              FROM px0),
      px2 AS (SELECT * FROM px1 WHERE iu1 <= iu2 AND iv1 <= iv2),
      scA AS (SELECT px2.*, unnest(generate_series(iu1, iu2)) AS iu FROM px2),
      sc0 AS (SELECT scA.*, unnest(generate_series(iv1, iv2)) AS iv FROM scA),
      sc1 AS (SELECT *, iu + 0.5 - u AS du, iv + 0.5 - v AS dv FROM sc0),
      sc2 AS (SELECT *, ea * du * du + eb * du * dv + ec * dv * dv AS q FROM sc1
              WHERE ea * du * du + eb * du * dv + ec * dv * dv >= 0
                AND ea * du * du + eb * du * dv + ec * dv * dv < 1.0),
      sc3 AS (SELECT CAST(iv AS BIGINT) * ${area.width} + iu AS cell,
                CAST(ROUND(EXP($negAlpha * q), 7) AS DECIMAL(16,7)) AS wq,
                CAST(value AS DECIMAL(18,6)) AS vq
              FROM sc2)
      SELECT cell, CAST(SUM(wq * vq) AS DOUBLE) / CAST(SUM(wq) AS DOUBLE) AS value
      FROM sc3 GROUP BY cell
      HAVING CAST(SUM(wq) AS DOUBLE) >= 0.01
      ORDER BY cell"""
    })

  /** SwathSlicer (slicer.py:94-160): crop a structured swath to the blocks
    * whose lon/lat bbox intersects a target area, assembled to one (y, x)
    * rectangle. Output = the assembled bounds plus aggregates over the
    * cropped swath — the oracle recomputes block bboxes, the planar
    * intersection test, the assembly, and the crop entirely in SQL. */
  val q49_swath_slice: Q = Q(
    (s, d) => {
      val target = AreaDef("eu_slice", Crs.fromProj4("+proj=longlat"), 30, 20, 0, 45, 15, 55)
      val sw = table(s, d, "lineitem").selectExpr(
        "CAST(l_orderkey % 200 AS INT) AS y",
        "CAST(l_partkey % 100 AS INT) AS x",
        "l_quantity AS value")
        .groupBy("y", "x").agg(min("value").as("value"))
        .selectExpr("y", "x",
          "x * 0.45 - 15.0 + y * 0.01 AS lon",
          "62.0 - y * 0.11 + x * 0.004 AS lat",
          "value")
      // match the Option explicitly (disjoint footprints -> clean empty
      // result, not a MatchError) and reuse the computed bounds for the
      // crop filter instead of recomputing them through slice()
      SwathSlicer.sliceBounds(sw, target, blockRows = 8, blockCols = 8) match {
        case Some((r0, r1, c0, c1)) =>
          sw.filter(col("y").between(r0, r1) && col("x").between(c0, c1))
            .agg(
              count(lit(1)).as("n"),
              sum(col("value").cast(dec)).cast("double").as("sum_v"))
            .select(lit(r0).as("r0"), lit(r1).as("r1"), lit(c0).as("c0"), lit(c1).as("c1"),
              col("n"), col("sum_v"))
        case None =>
          sw.limit(0)
            .agg(count(lit(1)).as("n"), sum(col("value").cast(dec)).cast("double").as("sum_v"))
            .select(lit(0L).as("r0"), lit(0L).as("r1"), lit(0L).as("c0"), lit(0L).as("c1"),
              col("n"), col("sum_v"))
            .where(col("n") > 0)
      }
    },
    Some {
      val t = AreaDef("eu_slice", Crs.fromProj4("+proj=longlat"), 30, 20, 0, 45, 15, 55)
      import OracleSql.slit
      s"""WITH pix AS (SELECT CAST(l_orderkey % 200 AS INT) AS y, CAST(l_partkey % 100 AS INT) AS x,
                  MIN(l_quantity) AS value FROM lineitem GROUP BY 1, 2),
      sw AS (SELECT y, x, x * 0.45 - 15.0 + y * 0.01 AS lon, 62.0 - y * 0.11 + x * 0.004 AS lat, value FROM pix),
      blk AS (SELECT CAST(FLOOR(y / 8) AS BIGINT) AS by, CAST(FLOOR(x / 8) AS BIGINT) AS bx,
                CAST(MIN(y) AS BIGINT) AS y0, CAST(MAX(y) AS BIGINT) AS y1,
                CAST(MIN(x) AS BIGINT) AS x0, CAST(MAX(x) AS BIGINT) AS x1,
                MIN(CAST(lon AS DOUBLE)) AS lon_min, MAX(CAST(lon AS DOUBLE)) AS lon_max,
                MIN(CAST(lat AS DOUBLE)) AS lat_min, MAX(CAST(lat AS DOUBLE)) AS lat_max
              FROM sw GROUP BY 1, 2),
      hit AS (SELECT * FROM blk
              WHERE lon_min <= ${slit(t.xUR)} AND lon_max >= ${slit(t.xLL)}
                AND lat_min <= ${slit(t.yUR)} AND lat_max >= ${slit(t.yLL)}),
      bounds AS (SELECT MIN(y0) - 1 AS r0, MAX(y1) + 1 AS r1, MIN(x0) - 1 AS c0, MAX(x1) + 1 AS c1 FROM hit)
      SELECT b.r0, b.r1, b.c0, b.c1, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
      FROM sw, bounds b
      WHERE y >= b.r0 AND y <= b.r1 AND x >= b.c0 AND x <= b.c1
      GROUP BY b.r0, b.r1, b.c0, b.c1"""
    })

  /** IVF ANN (inverted-list probe): deterministic md5-hash centroid subset,
    * argmax-cosine assignment, nProbe-list probe + exact rerank — the whole
    * pipeline replayed in DuckDB (centroid pick via the same md5-derived
    * 60-bit hash, assignment/rerank on round-6 cosine). */
  val q51_ivf_topk: Q = Q(
    (s, d) => {
      val emb = table(s, d, "embeddings")
      val q = emb.filter(col("vec_id") % 100 === 0).select(col("vec_id").as("qid"), col("embedding"))
      val c = emb.select(col("vec_id").as("cid"), col("embedding"))
      Similarity.ivfTopK(q, c, k = 10, nCentroids = 16, nProbe = 4).orderBy("qid", "rank")
    },
    Some("""WITH hs AS (SELECT vec_id, embedding,
               CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
             FROM embeddings),
      ctr AS (SELECT vec_id AS centroid_id, embedding AS cemb FROM hs ORDER BY h, vec_id LIMIT 16),
      ca AS (SELECT e.vec_id AS cid, e.embedding, t.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(t.cemb AS DOUBLE[])), 6) DESC,
                 t.centroid_id ASC) AS crk
             FROM embeddings e CROSS JOIN ctr t),
      cass AS (SELECT cid, embedding, centroid_id FROM ca WHERE crk = 1),
      qa AS (SELECT e.vec_id AS qid, e.embedding, t.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(t.cemb AS DOUBLE[])), 6) DESC,
                 t.centroid_id ASC) AS crk
             FROM embeddings e CROSS JOIN ctr t
             WHERE e.vec_id % 100 = 0),
      qass AS (SELECT qid, embedding, centroid_id FROM qa WHERE crk <= 4),
      rr AS (SELECT q.qid, c.cid,
               ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS sim_r
             FROM qass q JOIN cass c ON c.centroid_id = q.centroid_id),
      rk AS (SELECT qid, cid, sim_r,
               CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim_r DESC, cid ASC) AS INTEGER) AS rank FROM rr)
      SELECT qid, cid, rank, sim_r AS sim FROM rk WHERE rank <= 10 ORDER BY qid, rank"""))

  /** Trained-model IVF ANN: the [[TrainedCentroids]] k=8 Lloyd model (an
    * offline build artifact — see `tools/TrainCentroids`) drives
    * `Similarity.ivfTopKWith`: broadcast argmax assignment, 2-list probe,
    * exact round-6 rerank. The oracle replays the identical literals from
    * a `VALUES` table — same q51 discipline, but with the trained model
    * instead of the md5-picked candidate subset. */
  val q57_ivf_trained: Q = Q(
    (s, d) => {
      val emb = table(s, d, "embeddings")
      val q = emb.filter(col("vec_id") % 100 === 0).select(col("vec_id").as("qid"), col("embedding"))
      val c = emb.select(col("vec_id").as("cid"), col("embedding"))
      Similarity.ivfTopKWith(q, c, TrainedCentroids.sf001k8, k = 10, nProbe = 2)
        .orderBy("qid", "rank")
    },
    Some(s"""WITH ctr(centroid_id, cemb) AS (VALUES
      ${TrainedCentroids.sf001k8Sql}),
      ca AS (SELECT e.vec_id AS cid, e.embedding, t.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), t.cemb), 6) DESC,
                 t.centroid_id ASC) AS crk
             FROM embeddings e CROSS JOIN ctr t),
      cass AS (SELECT cid, embedding, centroid_id FROM ca WHERE crk = 1),
      qa AS (SELECT e.vec_id AS qid, e.embedding, t.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), t.cemb), 6) DESC,
                 t.centroid_id ASC) AS crk
             FROM embeddings e CROSS JOIN ctr t
             WHERE e.vec_id % 100 = 0),
      qass AS (SELECT qid, embedding, centroid_id FROM qa WHERE crk <= 2),
      rr AS (SELECT q.qid, c.cid,
               ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS sim_r
             FROM qass q JOIN cass c ON c.centroid_id = q.centroid_id),
      rk AS (SELECT qid, cid, sim_r,
               CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim_r DESC, cid ASC) AS INTEGER) AS rank FROM rr)
      SELECT qid, cid, rank, sim_r AS sim FROM rk WHERE rank <= 10 ORDER BY qid, rank"""))

  /** Model serving (`Similarity.assignClusters`): every embedding routed
    * to its nearest [[TrainedCentroids]] centroid as a pure per-row codegen
    * argmax — no join, no shuffle (streaming-safe). Oracle replays the
    * argmax via the q57 assignment CTE at crk=1. */
  val q59_cluster_assign: Q = Q(
    (s, d) => Similarity.assignClusters(table(s, d, "embeddings"), TrainedCentroids.sf001k8)
      .select(col("vec_id"), col("centroid_id"), round(col("centroid_sim"), 6).as("centroid_sim"))
      .orderBy("vec_id"),
    Some(s"""WITH ctr(centroid_id, cemb) AS (VALUES
      ${TrainedCentroids.sf001k8Sql}),
      ca AS (SELECT e.vec_id, t.centroid_id,
               ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), t.cemb), 6) AS sim,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), t.cemb), 6) DESC,
                 t.centroid_id ASC) AS crk
             FROM embeddings e CROSS JOIN ctr t)
      SELECT vec_id, CAST(centroid_id AS BIGINT) AS centroid_id, ROUND(sim, 6) AS centroid_sim
      FROM ca WHERE crk = 1 ORDER BY vec_id"""))

  /** Embedding-cosine near-duplicate detection (the dedup flavour of the
    * LSH pipeline): banded signature join -> exact round-6 cosine verify at
    * a threshold. Oracle: same hyperplane literals + band arithmetic as
    * q44, plus the verify filter. */
  val q52_cosine_neardup: Q = Q(
    (s, d) =>
      Similarity.cosineNearDup(table(s, d, "embeddings"), dim = 64, threshold = 0.2,
          maxBandSize = Dedup.Uncapped)
        .orderBy("d1", "d2"),
    Some {
      val planes = Similarity.hyperplanes(nBits = 16, dim = 64, seed = 42L)
      val sig = planes.zipWithIndex.map { case (p, i) =>
        val lst = p.map(OracleSql.slit).mkString("[", ", ", "]")
        s"CASE WHEN list_inner_product(CAST(embedding AS DOUBLE[]), $lst) >= 0 THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
      }.mkString(" + ")
      s"""WITH sigs AS (SELECT vec_id, $sig AS sig FROM embeddings),
      bands AS (SELECT vec_id, bi.i AS band_idx, (sig // (CASE bi.i WHEN 0 THEN 1 ELSE 256 END)) % 256 AS band
                FROM sigs CROSS JOIN (VALUES (0), (1)) bi(i)),
      cand AS (SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
               FROM bands a JOIN bands b
                 ON a.band_idx = b.band_idx AND a.band = b.band AND a.vec_id < b.vec_id),
      vv AS (SELECT c.d1, c.d2,
               ROUND(list_cosine_similarity(CAST(e1.embedding AS DOUBLE[]), CAST(e2.embedding AS DOUBLE[])), 6) AS sim
             FROM cand c JOIN embeddings e1 ON e1.vec_id = c.d1 JOIN embeddings e2 ON e2.vec_id = c.d2)
      SELECT d1, d2, sim FROM vv WHERE sim >= 0.2 ORDER BY d1, d2"""
    })

  /** SemDeDup semantic deduplication (`Similarity.semanticDedup`): the
    * trained k=8 centroid model partitions the space, pairwise round-6
    * cosine runs only within clusters, and every vec with a smaller-id
    * cluster-mate above the threshold is dropped. The oracle replays the
    * q59 assignment CTE and the within-cluster self-join. */
  val q67_semantic_dedup: Q = Q(
    (s, d) => Similarity.semanticDedup(
        table(s, d, "embeddings"), TrainedCentroids.sf001k8, threshold = 0.2)
      .orderBy("vec_id"),
    Some(s"""WITH ctr(centroid_id, cemb) AS (VALUES
      ${TrainedCentroids.sf001k8Sql}),
      ca AS (SELECT e.vec_id, e.embedding, t.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), t.cemb), 6) DESC,
                 t.centroid_id ASC) AS crk
             FROM embeddings e CROSS JOIN ctr t),
      ass AS (SELECT vec_id, embedding, centroid_id FROM ca WHERE crk = 1),
      dup AS (SELECT DISTINCT b.vec_id FROM ass a JOIN ass b
                ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
               WHERE ROUND(list_cosine_similarity(
                 CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= 0.2)
      SELECT s.vec_id, CAST(s.centroid_id AS BIGINT) AS centroid_id,
        (d.vec_id IS NULL) AS keep
      FROM ass s LEFT JOIN dup d ON d.vec_id = s.vec_id
      ORDER BY s.vec_id"""))

  /** Quantized two-stage ANN (`Similarity.quantizedTopK`): int8 codes
    * (`round(x*127)` — exact, portable; see the operator scaladoc) score
    * every candidate by integer dot product, the top 3k survive, and the
    * exact round-6 cosine reranks survivors to top-10. Integer stage-1
    * scores make the candidate set bit-identical across engines. */
  val q69_quantized_topk: Q = Q(
    (s, d) => {
      val emb = table(s, d, "embeddings")
      val q = emb.filter(col("vec_id") % 100 === 0).select(col("vec_id").as("qid"), col("embedding"))
      val c = emb.select(col("vec_id").as("cid"), col("embedding"))
      Similarity.quantizedTopK(q, c, k = 10).orderBy("qid", "rank")
    },
    Some("""WITH qv AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS v,
          list_transform(CAST(embedding AS DOUBLE[]), x -> ROUND(x * 127)) AS qq
        FROM embeddings WHERE vec_id % 100 = 0),
      cv AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS v,
          list_transform(CAST(embedding AS DOUBLE[]), x -> ROUND(x * 127)) AS qq
        FROM embeddings),
      s1 AS (SELECT q.qid, c.cid, list_inner_product(q.qq, c.qq) AS qdot,
          ROW_NUMBER() OVER (PARTITION BY q.qid
            ORDER BY list_inner_product(q.qq, c.qq) DESC, c.cid ASC) AS r1
        FROM qv q CROSS JOIN cv c),
      s2 AS (SELECT s.qid, s.cid, CAST(s.qdot AS BIGINT) AS qdot,
          ROUND(list_cosine_similarity(q.v, c.v), 6) AS sim_r
        FROM s1 s JOIN qv q ON q.qid = s.qid JOIN cv c ON c.cid = s.cid
        WHERE s.r1 <= 30),
      rk AS (SELECT qid, cid, qdot, sim_r,
          CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim_r DESC, cid ASC) AS INTEGER) AS rank
        FROM s2)
      SELECT qid, cid, rank, sim_r AS sim, qdot FROM rk WHERE rank <= 10 ORDER BY qid, rank"""))

  /** Tiled-source scan pruning (the Spark analog of the reference's
    * `resample_blocks` per-chunk crop, `resampler.py:330-352`): the swath
    * is written once as tile-partitioned parquet (30-degree tile_y/tile_x
    * Hive layout, `Tiled.ensureTiled`) and joined against the distinct
    * tile set of a regional target window. Spark's dynamic partition
    * pruning turns the broadcast tile set into a runtime filter on the
    * partition columns, so only the touched tile directories are scanned
    * (TiledDppSpec asserts the pruned partition count and the
    * dynamicpruning expression in the physical plan). The result is pure
    * tile algebra — partitioning is a physical detail — so the DuckDB twin
    * replays it off the raw table with the same floor arithmetic. */
  val q53_tiled_dpp: Q = Q(
    (s, d) => {
      val path = s"/root/repo/target/tmp/tiled_${d.replaceAll("[^A-Za-z0-9]+", "_")}"
      val tiled = Tiled.ensureTiled(s, swath(s, d), path, tileDeg = 30.0)
      val tiles = Tiled.withTiles(
          tgt(s, d).filter(col("lon") >= 0.0 && col("lon") < 90.0 &&
            col("lat") >= 0.0 && col("lat") < 60.0), 30.0)
        .select("tile_y", "tile_x").distinct()
      Tiled.prunedJoin(tiled, tiles)
        .groupBy("tile_y", "tile_x")
        .agg(count(lit(1)).as("n"), sum(col("value").cast(dec)).cast("double").as("sum_v"))
        .orderBy("tile_y", "tile_x")
    },
    Some(s"""WITH $swathSql, $tgtSql,
      st AS (SELECT *, CAST(FLOOR((lon + 180.0) / 30.0) AS INTEGER) AS tile_x,
                       CAST(FLOOR((90.0 - lat) / 30.0) AS INTEGER) AS tile_y FROM swath),
      tt AS (SELECT DISTINCT CAST(FLOOR((lon + 180.0) / 30.0) AS INTEGER) AS tile_x,
                             CAST(FLOOR((90.0 - lat) / 30.0) AS INTEGER) AS tile_y
             FROM tgt WHERE lon >= 0.0 AND lon < 90.0 AND lat >= 0.0 AND lat < 60.0)
      SELECT tile_y, tile_x, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
      FROM st JOIN tt USING (tile_y, tile_x)
      GROUP BY tile_y, tile_x ORDER BY tile_y, tile_x"""))

  /** HyperLogLog distinct users per event type (`Sketch.hllDistinct`,
    * b=8 → 256 registers): the O(sketch)-shuffle replacement for exact
    * COUNT(DISTINCT) at 100 TB. Deterministic md5-60bit hashing, integer
    * register file, EXACT scaled-integer harmonic sum (Σ 2^(53−M_j)), one
    * double division against a shared numerator literal, linear-counting
    * fallback ln rounded to 6 — the oracle rebuilds the identical sketch
    * and the gate checks the ESTIMATE bit-for-bit. */
  val q159_hll_distinct: Q = Q(
    (s, d) => Sketch.hllDistinct(
        eventsNs(s, d), col("user_id"), Seq("event_type"))
      .orderBy("event_type"),
    Some(s"""WITH h AS (SELECT event_type,
              CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS hv
            FROM events),
      r AS (SELECT event_type, hv % 256 AS bucket, hv // 256 AS rem FROM h),
      rr AS (SELECT event_type, bucket,
              CASE WHEN rem = 0 THEN 53 ELSE 53 - length(bin(rem)) END AS rho FROM r),
      regs AS (SELECT event_type, bucket, MAX(rho) AS m_reg FROM rr GROUP BY 1, 2),
      pg AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS observed,
              CAST(SUM(CAST(1 AS BIGINT) << (53 - m_reg)) AS BIGINT) AS s_obs
            FROM regs GROUP BY 1),
      e AS (SELECT event_type, CAST(256 - observed AS BIGINT) AS v_empty,
              s_obs + (256 - observed) * (CAST(1 AS BIGINT) << 53) AS s_int FROM pg),
      est AS (SELECT event_type, v_empty, s_int,
              CAST(${OracleSql.slit(Sketch.hllAlphaNum(8))} AS DOUBLE)
                / CAST(s_int AS DOUBLE) AS raw_e FROM e),
      x AS (SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
            FROM events GROUP BY 1)
      SELECT event_type, n_exact, v_empty, s_int,
        round(CASE WHEN raw_e <= 640.0 AND v_empty > 0
          THEN 256.0 * ln(256.0 / v_empty) ELSE raw_e END, 6) AS hll_est
      FROM est JOIN x USING (event_type)
      ORDER BY event_type"""))

  /** Count-Min heavy hitters (`Sketch.countMinTopK`, 4×1024 grid): the
    * top-20 exact words read back through the sketch — `n_est` never
    * undercounts; `overcount` is the collision noise. The grid build is
    * one map-side-combined aggregate to ≤4096 cells whatever the corpus
    * size; the oracle materializes the shared word-count CTE once. */
  val q160_cms_heavy: Q = Q(
    (s, d) => Sketch.countMinTopK(table(s, d, "documents")),
    Some("""WITH words AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
      wc AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM words GROUP BY word),
      wr AS (SELECT word, c, unnest([0, 1, 2, 3]) AS rw FROM wc),
      g AS (SELECT rw,
              CAST('0x' || substr(md5(CAST(rw AS VARCHAR) || '#' || word), 1, 15) AS BIGINT) % 1024 AS slot,
              CAST(SUM(c) AS BIGINT) AS cnt
            FROM wr GROUP BY 1, 2),
      topw AS (SELECT word, c AS n_exact FROM wc ORDER BY c DESC, word ASC LIMIT 20),
      te AS (SELECT word, n_exact, unnest([0, 1, 2, 3]) AS rw FROM topw),
      ts2 AS (SELECT word, n_exact, rw,
              CAST('0x' || substr(md5(CAST(rw AS VARCHAR) || '#' || word), 1, 15) AS BIGINT) % 1024 AS slot
            FROM te),
      est AS (SELECT word, n_exact, MIN(cnt) AS n_est
            FROM ts2 JOIN g USING (rw, slot) GROUP BY 1, 2)
      SELECT word, n_exact, n_est, n_est - n_exact AS overcount
      FROM est ORDER BY n_exact DESC, word ASC"""))

  /** Bloom-filter decontamination pre-filter (`Sketch.bloomContamination`,
    * 65536 bits, k=3, 6-grams, benchmark = the q63 doc_id%11 slice): per
    * doc, gram count, Bloom hits, true hits and false positives — the
    * broadcastable front-end that cuts the exact anti-join's input at
    * 100 TB. No false negatives by construction. */
  val q161_bloom_prefilter: Q = Q(
    (s, d) => {
      val docs = table(s, d, "documents")
      Sketch.bloomContamination(docs, docs.filter(col("doc_id") % 11 === 0))
    },
    Some(s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      g AS MATERIALIZED (SELECT DISTINCT doc_id, unnest(${duckGrams(6)}) AS ngram FROM ws),
      bg AS MATERIALIZED (SELECT DISTINCT ngram FROM g WHERE doc_id % 11 = 0),
      bits AS MATERIALIZED (SELECT DISTINCT
              CAST('0x' || substr(md5(CAST(j AS VARCHAR) || '#' || ngram), 1, 15) AS BIGINT) % 65536 AS pos
            FROM (SELECT ngram, unnest([0, 1, 2]) AS j FROM bg)),
      dg AS MATERIALIZED (SELECT DISTINCT ngram FROM g),
      probe AS (SELECT ngram,
              CAST('0x' || substr(md5(CAST(j AS VARCHAR) || '#' || ngram), 1, 15) AS BIGINT) % 65536 AS pos
            FROM (SELECT ngram, unnest([0, 1, 2]) AS j FROM dg)),
      bh AS (SELECT ngram FROM probe JOIN bits USING (pos)
            GROUP BY ngram HAVING COUNT(*) = 3),
      th AS (SELECT g2.ngram FROM dg g2 JOIN bg USING (ngram)),
      pd AS (SELECT g.doc_id,
              CAST(COUNT(*) AS BIGINT) AS n_grams,
              CAST(SUM(CASE WHEN bh.ngram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits,
              CAST(SUM(CASE WHEN th.ngram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_true_hits
            FROM g LEFT JOIN bh ON g.ngram = bh.ngram
                   LEFT JOIN th ON g.ngram = th.ngram
            GROUP BY g.doc_id)
      SELECT doc_id, n_grams, n_bloom_hits, n_true_hits,
        n_bloom_hits - n_true_hits AS n_false_pos
      FROM pd ORDER BY doc_id"""))

  /** CUSUM upward-shift detection per event type (`Temporal.cusum`): the
    * serial max(0, S+x) recurrence as prefix-sum minus running-min — two
    * stock windows over the small daily table, integer micro-units
    * end-to-end. */
  val q162_cusum: Q = Q(
    (s, d) => Temporal.cusum(
        eventsNs(s, d).select(col("event_type"),
          expr("(ts div 1000) div 86400000000").as("day"), col("value")))
      .orderBy("event_type", "day"),
    Some("""WITH e AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day, value FROM events),
      dd AS (SELECT event_type, day,
              CAST(SUM(CAST(value AS DECIMAL(18,6)) * 1000000) AS BIGINT) AS day_micro
            FROM e GROUP BY 1, 2),
      r AS (SELECT *,
              SUM(day_micro) OVER (PARTITION BY event_type)
                // COUNT(*) OVER (PARTITION BY event_type) AS ref FROM dd),
      p AS (SELECT *, SUM(day_micro - ref - ref // 20)
              OVER (PARTITION BY event_type ORDER BY day ROWS UNBOUNDED PRECEDING) AS cum
            FROM r),
      m AS (SELECT *, least(0, MIN(cum)
              OVER (PARTITION BY event_type ORDER BY day ROWS UNBOUNDED PRECEDING)) AS runmin
            FROM p)
      SELECT event_type, day, day_micro, CAST(ref AS BIGINT) AS ref,
        CAST(cum - runmin AS BIGINT) AS s_t,
        CASE WHEN cum - runmin > ref * 4 THEN 1 ELSE 0 END AS alarm
      FROM m ORDER BY event_type, day"""))

  /** Activity streaks per user (`Temporal.streaks`): gaps-and-islands via
    * the `day − row_number()` island constant — active days, streak
    * count, longest streak, last day. Exact integers. */
  val q163_streaks: Q = Q(
    (s, d) => Temporal.streaks(
      eventsNs(s, d).select(col("user_id"),
        expr("(ts div 1000) div 86400000000").as("day"))),
    Some("""WITH e AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      i AS (SELECT user_id, day,
              day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp FROM e),
      st AS (SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len, MAX(day) AS grp_end
            FROM i GROUP BY 1, 2)
      SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
        CAST(COUNT(*) AS BIGINT) AS n_streaks,
        CAST(MAX(len) AS BIGINT) AS longest_streak, MAX(grp_end) AS last_day
      FROM st GROUP BY user_id ORDER BY user_id"""))

  /** Z-order vs row-major file layout (`Layout.layoutReport`) on the
    * swath's distinct (ix, iy) cells: 64 equal-count files per layout,
    * summed file bboxes and files touched by a fixed box query — the
    * min/max-pruning argument for Morton-sorted writes, as an exact
    * integer scorecard. */
  val q164_zorder_layout: Q = Q(
    (s, d) => Layout.layoutReport(
      swath(s, d).select("ix", "iy").distinct(),
      "ix", "iy", bits = 7, nFiles = 64, box = (10, 19, 20, 29)),
    Some {
      val zTerms = (0 until 7).map(i =>
        s"((x >> $i) & 1) * ${1L << (2 * i)} + ((y >> $i) & 1) * ${1L << (2 * i + 1)}")
        .mkString(" + ")
      def side(layout: String, ordCol: String): String =
        s"""(SELECT '$layout' AS layout, CAST(COUNT(*) AS BIGINT) AS n_files,
          CAST(SUM((x1 - x0 + 1) * (y1 - y0 + 1)) AS BIGINT) AS sum_bbox_area,
          CAST(SUM(CASE WHEN x0 <= 19 AND x1 >= 10 AND y0 <= 29 AND y1 >= 20
            THEN 1 ELSE 0 END) AS BIGINT) AS files_touched
        FROM (SELECT file_id, MIN(x) AS x0, MAX(x) AS x1, MIN(y) AS y0, MAX(y) AS y1
              FROM (SELECT x, y, ntile(64) OVER (ORDER BY $ordCol, y, x) AS file_id FROM k)
              GROUP BY file_id))"""
      s"""WITH $swathSql,
      c AS (SELECT DISTINCT CAST(ix AS BIGINT) AS x, CAST(iy AS BIGINT) AS y FROM swath),
      k AS (SELECT x, y, y * 128 + x AS ord_rowmajor, ($zTerms) AS ord_zorder FROM c)
      SELECT * FROM (${side("rowmajor", "ord_rowmajor")}
        UNION ALL ${side("zorder", "ord_zorder")}) ORDER BY layout"""
    })

  /** Daily-series autocorrelation per event type (`Temporal.acf`, lags
    * 1..7): integer mean-centering (n·x−S), DECIMAL(38,0)/HUGEINT lag
    * products, ONE double division per lag — weekly seasonality shows as
    * an acf peak at lag 7. */
  val q165_acf: Q = Q(
    (s, d) => Temporal.acf(
      eventsNs(s, d).select(col("event_type"),
          expr("(ts div 1000) div 86400000000").as("day"),
          col("value"))
        .groupBy("event_type", "day")
        .agg(sum(col("value").cast(DecimalType(18, 6)) * 1000000).cast("long").as("x"))),
    Some {
      val lagDefs = (1 to 7)
        .map(l => s"lag(dd2.d, $l) OVER (PARTITION BY event_type ORDER BY day) AS d$l")
        .mkString(", ")
      val aggDefs = (1 to 7)
        .map(l => s"SUM(d * d$l) AS num$l, CAST(COUNT(d$l) AS BIGINT) AS np$l")
        .mkString(", ")
      val arms = (1 to 7)
        .map(l => s"SELECT event_type, $l AS lag_k, num$l AS num, np$l AS n_pairs, den FROM g")
        .mkString(" UNION ALL ")
      s"""WITH e AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day, value FROM events),
      dd AS (SELECT event_type, day,
              CAST(SUM(CAST(value AS DECIMAL(18,6)) * 1000000) AS BIGINT) AS x
            FROM e GROUP BY 1, 2),
      st AS (SELECT event_type, day, x,
              COUNT(*) OVER (PARTITION BY event_type) AS n,
              SUM(x) OVER (PARTITION BY event_type) AS s FROM dd),
      dd2 AS (SELECT event_type, day, CAST(n * x - s AS HUGEINT) AS d FROM st),
      l AS (SELECT event_type, d, $lagDefs FROM dd2),
      g AS MATERIALIZED (SELECT event_type, SUM(d * d) AS den, $aggDefs
            FROM l GROUP BY 1)
      SELECT event_type, lag_k, n_pairs,
        ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS acf
      FROM ($arms) ORDER BY event_type, lag_k"""
    })

  /** Classifier reliability diagram (`Selection.calibrationBins`): the
    * q77 quality classifier's 6-decimal probabilities in 10 equal bins vs
    * the observed n_chars≥300 label — integer micro-prob sums, two
    * long/long divisions per bin. */
  val q166_calibration: Q = Q(
    (s, d) => {
      // carry n_chars through the scorer: label derives inline, the
      // corpus is scanned ONCE (a join-back formulation scans it twice)
      val scored = Selection.classifierScore(
        table(s, d, "documents"), Selection.defaultQualityWeights(64),
        carry = Seq("n_chars"))
      Selection.calibrationBins(
        scored.withColumn("label", (col("n_chars") >= 300).cast("int")))
    },
    Some {
      val wl = Selection.defaultQualityWeights(64).mkString("[", ", ", "]")
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      sc AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
              CAST(list_sum(list_transform(w, x ->
                $wl[CAST(CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) % 64 AS INTEGER) + 1]))
                AS BIGINT) AS w_micro
            FROM w),
      pr AS (SELECT doc_id,
              ROUND(1.0 / (1.0 + EXP(-(CAST(w_micro AS DOUBLE) / (n_words * 1000000)))), 6) AS prob
            FROM sc),
      mb AS (SELECT p.doc_id, CAST(round(prob * 1000000) AS BIGINT) AS micro,
              CASE WHEN dcs.n_chars >= 300 THEN 1 ELSE 0 END AS label
            FROM pr p JOIN documents dcs USING (doc_id)),
      b AS (SELECT CAST(least(9, micro // 100000) AS INTEGER) AS bin,
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(micro) AS BIGINT) AS sum_micro,
              CAST(SUM(label) AS BIGINT) AS n_pos
            FROM mb GROUP BY 1)
      SELECT bin, n, n_pos,
        CAST(sum_micro AS DOUBLE) / CAST(n * 1000000 AS BIGINT) AS avg_pred,
        CAST(n_pos AS DOUBLE) / CAST(n AS BIGINT) AS pos_rate
      FROM b ORDER BY bin"""
    })

  /** Bounded BFS from the doc_id%97 seed set over the q26 blocked-Jaccard
    * near-dup graph (`Graph.bfsHops`, ≤3 hops): contamination
    * blast-radius — every doc within 3 similarity hops of a seed, with
    * its exact minimum hop count. Oracle: depth-limited recursive CTE. */
  val q167_bfs_hops: Q = Q(
    (s, d) => {
      val docs = table(s, d, "documents")
      val pairs = Dedup.ngramJaccard(docs, Seq("lang", "n_chars"),
        maxBlockSize = Dedup.Uncapped).select("d1", "d2")
      Graph.bfsHops(pairs, docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("id")))
    },
    Some(s"""WITH RECURSIVE $blockedJaccardPairsSql,
      pairs AS MATERIALIZED (SELECT d1, d2 FROM v
                WHERE CAST(i AS DOUBLE) / CAST(sz1 + sz2 - i AS DOUBLE) >= 0.3),
      edges AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM pairs
                UNION SELECT d2 AS src, d1 AS dst FROM pairs),
      walk(id, dist) AS (
        SELECT doc_id, 0 FROM documents WHERE doc_id % 97 = 0
        UNION
        SELECT e.dst, w.dist + 1 FROM walk w JOIN edges e ON e.src = w.id
        WHERE w.dist < 3)
      SELECT id, CAST(MIN(dist) AS INTEGER) AS dist FROM walk
      GROUP BY id ORDER BY id"""))

  /** DDSketch relative-error quantiles per event type
    * (`Sketch.ddsketchQuantiles`, γ=1.02 → 1% accuracy): micro-log
    * integer buckets, ONE (key, bucket) aggregate as the mergeable
    * sketch, p50/p95/p99 read back by integer cumulative rank —
    * completing the sketch family (distinct/frequency/membership/
    * quantiles). The estimate 2γ^b/(γ+1) is round-6. */
  val q168_ddsketch: Q = Q(
    (s, d) => Sketch.ddsketchQuantiles(
      eventsNs(s, d).select(col("event_type"), col("value")),
      "event_type", "value"),
    Some {
      val lnG = math.round(math.log(1.02) * 1e6)
      def rank(q: Long) = s"($q * n + 999999) // 1000000"
      val bCols = Seq(500000L -> "b_p50", 950000L -> "b_p95", 990000L -> "b_p99")
        .map { case (q, nm) =>
          s"MIN(CASE WHEN cum >= ${rank(q)} THEN bucket END) AS $nm" }
        .mkString(", ")
      val eCols = Seq("p50", "p95", "p99")
        .map(p => s"ROUND(2.0 * POW(1.02, b_$p) / 2.02, 6) AS ${p}_est")
        .mkString(", ")
      s"""WITH e AS (SELECT event_type, value FROM events WHERE value > 0),
      bu AS (SELECT event_type,
              (lnu // $lnG) + (CASE WHEN lnu % $lnG > 0 THEN 1 ELSE 0 END) AS bucket
            FROM (SELECT event_type,
                    CAST(round(ln(value) * 1000000) AS BIGINT) AS lnu FROM e)),
      sk AS (SELECT event_type, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM bu GROUP BY 1, 2),
      cm AS (SELECT event_type, bucket, cnt,
              SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket
                ROWS UNBOUNDED PRECEDING) AS cum,
              SUM(cnt) OVER (PARTITION BY event_type) AS n FROM sk),
      g AS (SELECT event_type, CAST(MAX(n) AS BIGINT) AS n, $bCols
            FROM cm GROUP BY 1)
      SELECT event_type, n, b_p50, b_p95, b_p99, $eCols
      FROM g ORDER BY event_type"""
    })

  /** HLL register merge (`Sketch.hllUnion`): union cardinality of all
    * event types' user sketches WITHOUT rescanning — max over the
    * per-type register files, then the standard finalize; exact overall
    * distinct joined for calibration. The mergeability that makes the
    * sketch the distributed answer. */
  val q169_hll_union: Q = Q(
    (s, d) => {
      val ev = eventsNs(s, d)
      val regs = Sketch.hllRegisters(ev, col("user_id"), Seq("event_type"))
      Sketch.hllUnion(regs)
        .crossJoin(ev.agg(countDistinct(col("user_id")).as("n_exact")))
        .select("n_exact", "v_empty", "s_int", "hll_est")
    },
    Some(s"""WITH h AS (SELECT event_type,
              CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS hv
            FROM events),
      r AS (SELECT event_type, hv % 256 AS bucket, hv // 256 AS rem FROM h),
      rr AS (SELECT event_type, bucket,
              CASE WHEN rem = 0 THEN 53 ELSE 53 - length(bin(rem)) END AS rho FROM r),
      regs AS (SELECT event_type, bucket, MAX(rho) AS m_reg FROM rr GROUP BY 1, 2),
      mg AS (SELECT bucket, MAX(m_reg) AS m_reg FROM regs GROUP BY 1),
      pg AS (SELECT CAST(COUNT(*) AS BIGINT) AS observed,
              CAST(SUM(CAST(1 AS BIGINT) << (53 - m_reg)) AS BIGINT) AS s_obs FROM mg),
      e2 AS (SELECT CAST(256 - observed AS BIGINT) AS v_empty,
              s_obs + (256 - observed) * (CAST(1 AS BIGINT) << 53) AS s_int FROM pg),
      est AS (SELECT v_empty, s_int,
              CAST(${OracleSql.slit(Sketch.hllAlphaNum(8))} AS DOUBLE)
                / CAST(s_int AS DOUBLE) AS raw_e FROM e2)
      SELECT (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events) AS n_exact,
        v_empty, s_int,
        round(CASE WHEN raw_e <= 640.0 AND v_empty > 0
          THEN 256.0 * ln(256.0 / v_empty) ELSE raw_e END, 6) AS hll_est
      FROM est"""))

  /** Trailing 7-day purchase↔view correlation (`Temporal.rollingCorr`):
    * daily cent totals, DECIMAL(38,0)-exact window moments, round-6 r —
    * the co-movement monitor between two activity series. */
  val q170_rolling_corr: Q = Q(
    (s, d) => {
      val daily = eventsNs(s, d)
        .select(expr("(ts div 1000) div 86400000000").as("day"),
          col("event_type"), col("value"))
        .groupBy("day")
        .agg(
          coalesce(sum(when(col("event_type") === "purchase",
            (col("value").cast(DecimalType(18, 2)) * 100))), lit(0))
            .cast("long").as("x_cents"),
          coalesce(sum(when(col("event_type") === "view",
            (col("value").cast(DecimalType(18, 2)) * 100))), lit(0))
            .cast("long").as("y_cents"))
      Temporal.rollingCorr(daily, "x_cents", "y_cents")
    },
    Some("""WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day, event_type, value FROM events),
      dd AS (SELECT day,
              CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                THEN CAST(value AS DECIMAL(18,2)) * 100 END), 0) AS BIGINT) AS x_cents,
              CAST(COALESCE(SUM(CASE WHEN event_type = 'view'
                THEN CAST(value AS DECIMAL(18,2)) * 100 END), 0) AS BIGINT) AS y_cents
            FROM e GROUP BY 1),
      m AS (SELECT day, x_cents, y_cents,
              CAST(COUNT(*) OVER win AS HUGEINT) AS n,
              CAST(SUM(CAST(x_cents AS HUGEINT)) OVER win AS HUGEINT) AS sx,
              CAST(SUM(CAST(y_cents AS HUGEINT)) OVER win AS HUGEINT) AS sy,
              CAST(SUM(CAST(x_cents AS HUGEINT) * CAST(x_cents AS HUGEINT)) OVER win AS HUGEINT) AS sxx,
              CAST(SUM(CAST(y_cents AS HUGEINT) * CAST(y_cents AS HUGEINT)) OVER win AS HUGEINT) AS syy,
              CAST(SUM(CAST(x_cents AS HUGEINT) * CAST(y_cents AS HUGEINT)) OVER win AS HUGEINT) AS sxy
            FROM dd
            WINDOW win AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
      a AS (SELECT day, x_cents, y_cents, CAST(n AS BIGINT) AS n_days,
              n * sxx - sx * sx AS va, n * syy - sy * sy AS vb,
              n * sxy - sx * sy AS num FROM m)
      SELECT day, x_cents, y_cents, n_days,
        CASE WHEN va > 0 AND vb > 0 THEN
          ROUND(CAST(num AS DOUBLE) / (sqrt(CAST(va AS DOUBLE)) * sqrt(CAST(vb AS DOUBLE))), 6)
        END AS r
      FROM a ORDER BY day"""))

  /** Rolling 7-day distinct users per day (`Sketch.hllRolling`): per-day
    * HLL register files merged across a trailing RANGE window — the
    * constant-state sketch twin of q138's exact rolling DAU, with the
    * exact count joined per day for calibration. */
  val q171_rolling_distinct: Q = Q(
    (s, d) => {
      val ev = eventsNs(s, d)
        .select(expr("(ts div 1000) div 86400000000").as("day"), col("user_id"))
      val est = Sketch.hllRolling(ev, col("user_id"), "day")
      val days = ev.select("day").distinct()
      val exact = ev.distinct()
        .withColumn("off", explode(array((0 until 7).map(lit(_)): _*)))
        .select((col("day") + col("off")).as("wday"), col("user_id"))
        .join(days.withColumnRenamed("day", "wday"), Seq("wday"))
        .groupBy(col("wday").as("day"))
        .agg(countDistinct("user_id").as("n_exact"))
      est.join(exact, Seq("day"))
        .select("day", "n_exact", "v_empty", "s_int", "hll_est")
        .orderBy("day")
    },
    Some(s"""WITH e AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id FROM events),
      days AS MATERIALIZED (SELECT DISTINCT day FROM e),
      h AS (SELECT day, CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS hv FROM e),
      r AS (SELECT day, hv % 256 AS bucket, hv // 256 AS rem FROM h),
      rr AS (SELECT day, bucket,
              CASE WHEN rem = 0 THEN 53 ELSE 53 - length(bin(rem)) END AS rho FROM r),
      regs AS MATERIALIZED (SELECT day, bucket, MAX(rho) AS m_reg FROM rr GROUP BY 1, 2),
      grid AS (SELECT d.day, bk.bucket FROM days d
               CROSS JOIN (SELECT DISTINCT bucket FROM regs) bk),
      mg AS (SELECT g.day, g.bucket,
              MAX(m_reg) OVER (PARTITION BY g.bucket ORDER BY g.day
                RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS mm
            FROM grid g LEFT JOIN regs ON regs.day = g.day AND regs.bucket = g.bucket),
      mreg AS (SELECT day, bucket, mm AS m_reg FROM mg WHERE mm IS NOT NULL),
      pg AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS observed,
              CAST(SUM(CAST(1 AS BIGINT) << (53 - m_reg)) AS BIGINT) AS s_obs
            FROM mreg GROUP BY 1),
      e2 AS (SELECT day, CAST(256 - observed AS BIGINT) AS v_empty,
              s_obs + (256 - observed) * (CAST(1 AS BIGINT) << 53) AS s_int FROM pg),
      est AS (SELECT day, v_empty, s_int,
              CAST(${OracleSql.slit(Sketch.hllAlphaNum(8))} AS DOUBLE)
                / CAST(s_int AS DOUBLE) AS raw_e FROM e2),
      ex AS (SELECT e.day + o.off AS wday, e.user_id
             FROM e CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4, 5, 6]) AS off) o),
      exd AS (SELECT ex.wday AS day, CAST(COUNT(DISTINCT ex.user_id) AS BIGINT) AS n_exact
             FROM ex JOIN days dd ON dd.day = ex.wday GROUP BY 1)
      SELECT day, n_exact, v_empty, s_int,
        round(CASE WHEN raw_e <= 640.0 AND v_empty > 0
          THEN 256.0 * ln(256.0 / v_empty) ELSE raw_e END, 6) AS hll_est
      FROM est JOIN exd USING (day) ORDER BY day"""))

  /** Declarative data-quality expectations audit (`Profile.expectations`):
    * six domain/range/null checks + composite-key uniqueness over
    * lineitem in ONE aggregate scan — the dbt-test / Great-Expectations
    * stage of a production pipeline, exact integer counts. */
  val q172_expectations: Q = Q(
    (s, d) => Profile.expectations(
      table(s, d, "lineitem"),
      ExpectationChecks,
      uniqueKey = Seq("l_orderkey", "l_linenumber")),
    Some {
      val vAggs = ExpectationChecks.zipWithIndex.map { case ((_, pred), i) =>
        s"CAST(SUM(CASE WHEN $pred THEN 0 ELSE 1 END) AS BIGINT) AS v$i" }
        .mkString(", ")
      val arms = (ExpectationChecks.zipWithIndex.map { case ((nm, _), i) =>
        s"SELECT '$nm' AS expectation, n AS n_rows, v$i AS n_violations, CASE WHEN v$i = 0 THEN 1 ELSE 0 END AS pass FROM a" } :+
        s"SELECT 'unique(l_orderkey,l_linenumber)' AS expectation, n AS n_rows, vu AS n_violations, CASE WHEN vu = 0 THEN 1 ELSE 0 END AS pass FROM a")
        .mkString(" UNION ALL ")
      s"""WITH a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, $vAggs,
        CAST(COUNT(*) - COUNT(DISTINCT l_orderkey * 10 + l_linenumber) AS BIGINT) AS vu
      FROM lineitem)
      SELECT * FROM ($arms) ORDER BY expectation"""
    })

  /** Shared check list — the SAME predicate strings evaluate in Spark
    * (`expr`) and DuckDB, so parity is by construction. */
  private lazy val ExpectationChecks: Seq[(String, String)] = Seq(
    "orderkey_not_null" -> "l_orderkey IS NOT NULL",
    "quantity_range" -> "l_quantity BETWEEN 1 AND 50",
    "discount_range" -> "l_discount BETWEEN 0.0 AND 0.1",
    "returnflag_domain" -> "l_returnflag IN ('A', 'N', 'R')",
    "price_positive" -> "l_extendedprice > 0",
    "tax_range" -> "l_tax BETWEEN 0.0 AND 0.08")

  /** Exact covariance matrix of the leading 8 embedding dims
    * (`Similarity.covarianceMatrix`): micro-quantized components, all
    * moments in DECIMAL(38,0)/HUGEINT, the unbiased numerator emitted as
    * an exact integer — one aggregate pass, 36 upper-triangle rows. */
  val q173_covariance: Q = Q(
    (s, d) => Similarity.covarianceMatrix(table(s, d, "embeddings")),
    Some {
      val k = 8
      val pairs = for { i <- 0 until k; j <- i until k } yield (i, j)
      val xs = (0 until k).map(i =>
        s"CAST(round(CAST(embedding[${i + 1}] AS DOUBLE) * 1000000) AS BIGINT) AS x$i")
        .mkString(", ")
      val sums = ((0 until k).map(i => s"CAST(SUM(CAST(x$i AS HUGEINT)) AS HUGEINT) AS s$i") ++
        pairs.map { case (i, j) =>
          s"CAST(SUM(CAST(x$i AS HUGEINT) * CAST(x$j AS HUGEINT)) AS HUGEINT) AS c${i}_$j" })
        .mkString(", ")
      def nm(i: Int, j: Int) = s"(n * c${i}_$j - s$i * s$j)"
      val arms = pairs.map { case (i, j) =>
        s"""SELECT $i AS dim_i, $j AS dim_j, n,
          CAST(${nm(i, j)} AS BIGINT) AS num,
          ROUND(CAST(${nm(i, j)} AS DOUBLE)
            / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE) * 1e12), 6) AS cov,
          CASE WHEN ${nm(i, i)} > 0 AND ${nm(j, j)} > 0 THEN
            ROUND(CAST(${nm(i, j)} AS DOUBLE)
              / (sqrt(CAST(${nm(i, i)} AS DOUBLE)) * sqrt(CAST(${nm(j, j)} AS DOUBLE))), 6)
          END AS corr
        FROM a""" }.mkString(" UNION ALL ")
      s"""WITH m AS (SELECT $xs FROM embeddings),
      a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, $sums FROM m)
      SELECT * FROM ($arms) ORDER BY dim_i, dim_j"""
    })

  /** KMV/Theta-sketch intersection (`Sketch.kmvIntersect`, K=64):
    * |purchasers ∩ viewers| estimated from two 64-hash sketches — the
    * set operation HLL can't answer — with exact counts joined for
    * calibration. Deterministic md5 order statistics; exact mode when
    * the merge holds the whole union. */
  val q174_kmv_intersect: Q = Q(
    (s, d) => Sketch.kmvIntersect(
      eventsNs(s, d), col("user_id"), "event_type", "purchase", "view"),
    Some {
      val numer = OracleSql.slit(63.0 * math.pow(2.0, 60.0))
      s"""WITH hsh AS (SELECT DISTINCT event_type AS g,
              CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
            FROM events WHERE event_type IN ('purchase', 'view')),
      kmv AS (SELECT g, h FROM (
              SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM hsh)
            WHERE rn <= 64),
      mg AS (SELECT h,
              CAST(MAX(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS in_a,
              CAST(MAX(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS in_b
            FROM kmv GROUP BY h ORDER BY h LIMIT 64),
      st AS (SELECT MAX(h) AS theta, CAST(COUNT(*) AS BIGINT) AS k_eff,
              CAST(SUM(in_a * in_b) AS BIGINT) AS j FROM mg),
      ue AS (SELECT DISTINCT event_type AS g, CAST(user_id AS VARCHAR) AS uk
            FROM events WHERE event_type IN ('purchase', 'view')),
      ex0 AS (SELECT uk,
              CAST(MAX(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS a,
              CAST(MAX(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS b
            FROM ue GROUP BY 1),
      ex AS (SELECT CAST(SUM(a) AS BIGINT) AS n_exact_a,
              CAST(SUM(b) AS BIGINT) AS n_exact_b,
              CAST(SUM(a * b) AS BIGINT) AS n_exact_inter FROM ex0),
      uest AS (SELECT st.*, ex.*,
              CASE WHEN k_eff < 64 THEN CAST(k_eff AS DOUBLE)
                ELSE ROUND($numer / CAST(theta AS DOUBLE), 6) END AS union_est,
              ROUND(CAST(j AS DOUBLE) / CAST(k_eff AS DOUBLE), 6) AS jaccard_est
            FROM st CROSS JOIN ex)
      SELECT n_exact_a, n_exact_b, n_exact_inter, theta, k_eff, j,
        union_est, jaccard_est, ROUND(union_est * jaccard_est, 6) AS inter_est
      FROM uest"""
    })

  /** Prefix-filtered exact set-similarity self-join
    * (`Dedup.prefixFilteredJaccard`, the SSJoin/PPJoin principle): every
    * pair with bigram-shingle Jaccard ≥ 2/5 — EXACTLY q25's MinHash
    * predicate, with no block keys and no false negatives: shingles are
    * globally ordered rarest-first by the (df, gram) tuple and
    * candidates only arise where (sz − ⌈2sz/5⌉ + 1)-prefixes share a
    * gram. Thresholds are integer ceil-div / cross-multiplication on
    * both engines; the oracle replays the prefix generation with list
    * lambdas and verifies with `list_intersect` (row-local allocator
    * discipline). */
  val q175_setsim_join: Q = Q(
    (s, d) => Dedup.prefixFilteredJaccard(docsRebalanced(s, d)).orderBy("d1", "d2"),
    Some(s"""WITH wx AS MATERIALIZED (
        SELECT doc_id, CAST('0x' || substr(md5(word), 1, 15) AS BIGINT) AS h
        FROM (SELECT doc_id, unnest(list_distinct(${duckGrams(2)})) AS word
          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))),
      dfq AS MATERIALIZED (SELECT h, CAST(COUNT(*) AS BIGINT) AS dfc FROM wx GROUP BY h),
      docr AS MATERIALIZED (
        SELECT wx.doc_id,
          list_transform(list_sort(list({'dfq': dfc, 'h': h})), t -> t.h) AS hs,
          CAST(COUNT(*) AS BIGINT) AS sz
        FROM wx JOIN dfq USING (h) GROUP BY wx.doc_id),
      pre AS (SELECT doc_id, sz,
          unnest(hs[1:CAST(sz - ((2 * sz + 4) // 5) + 1 AS BIGINT)]) AS h,
          unnest(range(1, CAST(sz - ((2 * sz + 4) // 5) + 2 AS BIGINT))) AS pos
        FROM docr),
      cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM pre a JOIN pre b ON a.h = b.h AND a.doc_id < b.doc_id
          AND least(a.sz, b.sz) * 5 >= greatest(a.sz, b.sz) * 2
          AND least(a.sz - a.pos, b.sz - b.pos) + 1 >= (2 * (a.sz + b.sz) + 6) // 7),
      v AS (SELECT c.d1, c.d2,
          CAST(len(list_intersect(w1.hs, w2.hs)) AS BIGINT) AS i,
          w1.sz AS n1, w2.sz AS n2
        FROM cand c JOIN docr w1 ON w1.doc_id = c.d1 JOIN docr w2 ON w2.doc_id = c.d2)
      SELECT d1, d2, CAST(i AS DOUBLE) / CAST(n1 + n2 - i AS DOUBLE) AS jaccard
      FROM v WHERE 5 * i >= 2 * (n1 + n2 - i)
      ORDER BY d1, d2"""))

  /** Exact dyadic EWMA per user (`Temporal.ewmaDyadic`, α = 1/2, window
    * 32): the weighted sum is an INTEGER (micro values × power-of-two
    * weights, oldest two share the residual), the divisor a power of two
    * (exact exponent shift) — the only rounding is BIGINT→double,
    * identical everywhere. One keyed window; the oracle's indexed
    * `list_transform` (1-based) mirrors Spark's `transform` (0-based). */
  val q176_ewma: Q = Q(
    (s, d) => Temporal.ewmaDyadic(eventsNs(s, d))
      .orderBy("user_id", "event_id"),
    Some("""WITH e AS (SELECT user_id, event_id, ts,
          CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v_micro
        FROM events),
      a AS (SELECT user_id, event_id, v_micro,
          list(v_micro) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN 31 PRECEDING AND CURRENT ROW) AS arr
        FROM e),
      b AS (SELECT user_id, event_id, v_micro,
          CAST(len(arr) AS BIGINT) AS n_window,
          CAST(list_sum(list_transform(arr,
            (x, i) -> x * (CAST(1 AS BIGINT) << greatest(i - 2, 0)))) AS BIGINT) AS num
        FROM a)
      SELECT user_id, event_id, v_micro, n_window, num,
        CAST(num AS DOUBLE)
          / CAST((CAST(1 AS BIGINT) << CAST(n_window - 1 AS INTEGER)) AS DOUBLE)
          / 1e6 AS ewma
      FROM b ORDER BY user_id, event_id"""))

  /** SCD2 dimension build (`Temporal.scd2Intervals`): per-user state
    * version intervals [valid_from, valid_to) in epoch-µs with collapsed
    * event counts and the is_current flag — the warehouse-load twin of
    * q154's point-in-time read. Gaps-and-islands, exact integers. */
  val q177_scd2: Q = Q(
    (s, d) => Temporal.scd2Intervals(
        eventsNs(s, d).select(col("user_id"), col("event_id"),
          expr("ts div 1000").as("tus"), col("event_type")),
        tsCol = "tus")
      .orderBy("user_id", "version"),
    Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus, event_type FROM events),
      c AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
              OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
      r AS (SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY tus, event_id
              ROWS UNBOUNDED PRECEDING) AS version FROM c),
      g AS (SELECT user_id, CAST(version AS BIGINT) AS version,
          MIN(event_type) AS state, MIN(tus) AS valid_from,
          CAST(COUNT(*) AS BIGINT) AS n_events
        FROM r GROUP BY 1, 2)
      SELECT user_id, version, state, valid_from,
        lead(valid_from) OVER w2 AS valid_to, n_events,
        CASE WHEN lead(valid_from) OVER w2 IS NULL THEN 1 ELSE 0 END AS is_current
      FROM g WINDOW w2 AS (PARTITION BY user_id ORDER BY version)
      ORDER BY user_id, version"""))

  /** 2-D skyline (`Selection.paretoFrontier2d`): orders Pareto-optimal
    * under (maximize o_totalprice, minimize o_orderdate) — "largest
    * earliest" orders. The engine prunes with broadcast bucket witnesses
    * before a frontier-sized exact window; the oracle states dominance
    * DIRECTLY as NOT EXISTS over the distinct point set — an independent
    * formulation of the same predicate. */
  val q178_skyline: Q = Q(
    (s, d) => Selection.paretoFrontier2d(
        table(s, d, "orders"), "o_totalprice", "o_orderdate", "o_orderkey",
        bucketWidth = 10000L)
      .select(col("maxv").cast("double").as("price"), col("minv").as("first_date"),
        col("n_rows"), col("first_id"))
      .orderBy(col("price").desc),
    Some("""WITH pts AS MATERIALIZED (
        SELECT o_totalprice AS p, o_orderdate AS dt,
          CAST(COUNT(*) AS BIGINT) AS n_rows, MIN(o_orderkey) AS first_id
        FROM orders GROUP BY 1, 2)
      SELECT CAST(p AS DOUBLE) AS price, dt AS first_date, n_rows, first_id
      FROM pts a
      WHERE NOT EXISTS (SELECT 1 FROM pts b
        WHERE b.p >= a.p AND b.dt <= a.dt AND (b.p > a.p OR b.dt < a.dt))
      ORDER BY price DESC"""))

  /** Hilbert vs Z-order vs row-major layout (`Layout.hilbertValue` +
    * the 3-way `layoutReport`): Hilbert's unit-step locality gives the
    * tightest file bboxes and the fewest files touched — the measured
    * argument for Hilbert-sorted writes over plain Morton. Pure integer
    * folds on both engines (Spark `aggregate` over bit levels, DuckDB
    * `list_reduce` with a seed-carrying struct). */
  val q179_hilbert_layout: Q = Q(
    (s, d) => Layout.layoutReport(
      swath(s, d).select("ix", "iy").distinct(),
      "ix", "iy", bits = 7, nFiles = 64, box = (10, 19, 20, 29),
      layouts = Seq("rowmajor", "zorder", "hilbert")),
    Some {
      val zTerms = (0 until 7).map(i =>
        s"((x >> $i) & 1) * ${1L << (2 * i)} + ((y >> $i) & 1) * ${1L << (2 * i + 1)}")
        .mkString(" + ")
      def side(layout: String, ordCol: String): String =
        s"""(SELECT '$layout' AS layout, CAST(COUNT(*) AS BIGINT) AS n_files,
          CAST(SUM((x1 - x0 + 1) * (y1 - y0 + 1)) AS BIGINT) AS sum_bbox_area,
          CAST(SUM(CASE WHEN x0 <= 19 AND x1 >= 10 AND y0 <= 29 AND y1 >= 20
            THEN 1 ELSE 0 END) AS BIGINT) AS files_touched
        FROM (SELECT file_id, MIN(x) AS x0, MAX(x) AS x1, MIN(y) AS y0, MAX(y) AS y1
              FROM (SELECT x, y, ntile(64) OVER (ORDER BY $ordCol, y, x) AS file_id FROM k)
              GROUP BY file_id))"""
      s"""WITH $swathSql,
      c AS (SELECT DISTINCT CAST(ix AS BIGINT) AS x, CAST(iy AS BIGINT) AS y FROM swath),
      k AS (SELECT x, y, y * 128 + x AS ord_rowmajor, ($zTerms) AS ord_zorder,
            ${duckHilbertSql("x", "y", 7)} AS ord_hilbert FROM c)
      SELECT * FROM (${side("hilbert", "ord_hilbert")}
        UNION ALL ${side("rowmajor", "ord_rowmajor")}
        UNION ALL ${side("zorder", "ord_zorder")}) ORDER BY layout"""
    })

  /** Exact phrase search (`Retrieval.phraseSearch`): docs containing the
    * literal token sequence "big order scan", with the 1-based first
    * position and ALL starting positions counted (overlaps included) —
    * k−1 positional-index equi-joins on single-term posting lists. The
    * oracle is an INDEPENDENT row-local scan: `list_filter` over every
    * starting offset — not LIKE/replace, which is blind to overlaps. */
  val q180_phrase_search: Q = Q(
    (s, d) => Retrieval.phraseSearch(table(s, d, "documents"), "big order scan")
      .orderBy("doc_id"),
    Some {
      val ws = "big order scan".split(" ")
      val conds = ws.zipWithIndex
        .map { case (w, i) => s"w[i + $i] = '$w'" }.mkString(" AND ")
      s"""WITH m AS (SELECT doc_id,
          list_filter(range(1, len(w) - ${ws.length - 2}), i -> $conds) AS ps
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
      SELECT doc_id, CAST(ps[1] AS BIGINT) AS first_pos, CAST(len(ps) AS BIGINT) AS n_matches
      FROM m WHERE len(ps) > 0 ORDER BY doc_id"""
    })

  /** Bitmap-index audience overlap (`Bitmap.segmentOverlap`): exact
    * |A|, |B|, |A∩B|, Jaccard for every event-type segment pair via
    * word-sharded `bit_or` membership bitmaps and `bit_count` word-join
    * intersections — |users|/32 bitmap rows per segment instead of a
    * row-per-member join. The oracle counts the SAME sets independently
    * from distinct (segment, user) rows — no bitmaps anywhere. */
  val q181_bitmap_overlap: Q = Q(
    (s, d) => Bitmap.segmentOverlap(eventsNs(s, d)).orderBy("seg_a", "seg_b"),
    Some("""WITH su AS (SELECT DISTINCT event_type AS seg, user_id FROM events),
      sz AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS n FROM su GROUP BY seg),
      iv AS (SELECT a.seg AS seg_a, b.seg AS seg_b, CAST(COUNT(*) AS BIGINT) AS ni
             FROM su a JOIN su b ON a.user_id = b.user_id AND a.seg < b.seg
             GROUP BY 1, 2)
      SELECT sa.seg AS seg_a, sb.seg AS seg_b, sa.n AS n_a, sb.n AS n_b,
        COALESCE(iv.ni, 0) AS n_inter,
        CAST(COALESCE(iv.ni, 0) AS DOUBLE)
          / CAST(sa.n + sb.n - COALESCE(iv.ni, 0) AS DOUBLE) AS jaccard
      FROM sz sa JOIN sz sb ON sa.seg < sb.seg
      LEFT JOIN iv ON iv.seg_a = sa.seg AND iv.seg_b = sb.seg
      ORDER BY seg_a, seg_b"""))

  /** Overlapping-interval merge (`Temporal.mergeIntervals`): each event
    * spans [ts, ts + value·1s) in µs; per user the sweep collapses
    * overlapping/touching spans into islands with exact coverage spans
    * and collapse counts — the calendar-coverage/downtime-union
    * primitive. Integer µs end-to-end. */
  val q182_interval_merge: Q = Q(
    (s, d) => Temporal.mergeIntervals(
        eventsNs(s, d).select(col("user_id"), col("event_id"),
          expr("ts div 1000").as("s"),
          (expr("ts div 1000") +
            (col("value").cast(DecimalType(18, 6)) * 1000000).cast("long")).as("e")))
      .orderBy("user_id", "island"),
    Some("""WITH iv AS (SELECT user_id, event_id, epoch_us(ts) AS s,
          epoch_us(ts) + CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS e
        FROM events),
      x AS (SELECT *, MAX(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM iv),
      y AS (SELECT *, SUM(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY s, e, event_id
                ROWS UNBOUNDED PRECEDING) AS island FROM x)
      SELECT user_id, CAST(island AS BIGINT) AS island, MIN(s) AS start,
        MAX(e) AS "end", MAX(e) - MIN(s) AS span,
        CAST(COUNT(*) AS BIGINT) AS n_merged
      FROM y GROUP BY 1, 2 ORDER BY user_id, island"""))

  /** Star-schema revenue rollup: lineitem ⋈ orders ⋈ customer ⋈ nation ⋈
    * region with a pushed-down order-date range — the canonical OLAP
    * star join. Dimension sides broadcast (region/nation pinned, the
    * rest to AQE), the fact table is scanned ONCE with the date filter
    * reaching the orders scan as PushedFilters; revenue follows q21's
    * exact-decimal discipline. StarPlanSpec asserts the plan shape. */
  val q183_star_revenue: Q = Q(
    (s, d) => {
      val one = lit(BigDecimal("1.00")).cast(DecimalType(3, 2))
      table(s, d, "lineitem")
        .join(table(s, d, "orders")
          .filter(expr("o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'")),
          col("l_orderkey") === col("o_orderkey"))
        .join(table(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(table(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(table(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
          sum(col("l_extendedprice").cast(dec) * (one - col("l_discount").cast(DecimalType(4, 2))))
            .cast("double").as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("r_name", "n_name")
    },
    Some("""SELECT r_name, n_name,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
          * (CAST(1.00 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** HLL cardinality CUBE (`Sketch.hllCube`): distinct users for every
    * grouping set of (event_type, day) — finest registers built once,
    * coarser sets by register MERGE (max per bucket), estimates
    * bit-exact like q159, exact calibration from one distinct
    * reduction. The oracle replays all four arms over MATERIALIZED
    * register/distinct CTEs (the CTE-inlining rule). */
  val q184_hll_cube: Q = Q(
    (s, d) => Sketch.hllCube(
        eventsNs(s, d).select(col("event_type"),
          expr("(ts div 1000) div 86400000000").as("day"), col("user_id")),
        col("user_id"), "event_type", "day")
      .orderBy("grouping", "event_type", "day"),
    Some {
      val alpha = OracleSql.slit(graft.operators.Sketch.hllAlphaNum(8))
      def arm(gid: Int, dims: Seq[String]): String = {
        val dsel = dims.mkString(", ")
        val dcols = if (dims.isEmpty) "" else dsel + ", "
        val gb = if (dims.isEmpty) "" else s"GROUP BY $dsel"
        val aOut = if (dims.contains("event_type")) "event_type" else "CAST(NULL AS VARCHAR) AS event_type"
        val bOut = if (dims.contains("day")) "day" else "CAST(NULL AS BIGINT) AS day"
        val joinCond =
          if (dims.isEmpty) "ON TRUE"
          else "USING (" + dsel + ")"
        s"""SELECT $gid AS grouping, $aOut, $bOut, n_exact, v_empty, s_int,
          round(CASE WHEN raw_e <= 640.0 AND v_empty > 0
            THEN 256.0 * ln(256.0 / v_empty) ELSE raw_e END, 6) AS hll_est
        FROM (SELECT ${dcols}v_empty, s_int,
            CAST($alpha AS DOUBLE) / CAST(s_int AS DOUBLE) AS raw_e
          FROM (SELECT ${dcols}CAST(256 - observed AS BIGINT) AS v_empty,
              s_obs + (256 - observed) * (CAST(1 AS BIGINT) << 53) AS s_int
            FROM (SELECT ${dcols}CAST(COUNT(*) AS BIGINT) AS observed,
                CAST(SUM(CAST(1 AS BIGINT) << (53 - m_reg)) AS BIGINT) AS s_obs
              FROM (SELECT ${dcols}bucket, MAX(m_reg) AS m_reg FROM regs
                    GROUP BY ${dcols}bucket) $gb)))
        JOIN (SELECT ${dcols}CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
              FROM dk $gb) $joinCond"""
      }
      s"""WITH h AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day, user_id,
            CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS hv
          FROM events),
      rr AS (SELECT event_type, day, hv % 256 AS bucket,
              CASE WHEN hv // 256 = 0 THEN 53 ELSE 53 - length(bin(hv // 256)) END AS rho
            FROM h),
      regs AS MATERIALIZED (SELECT event_type, day, bucket, MAX(rho) AS m_reg
            FROM rr GROUP BY 1, 2, 3),
      dk AS MATERIALIZED (SELECT DISTINCT event_type, day, user_id FROM h)
      SELECT * FROM (${arm(0, Seq("event_type", "day"))}
        UNION ALL ${arm(1, Seq("event_type"))}
        UNION ALL ${arm(2, Seq("day"))}
        UNION ALL ${arm(3, Nil)})
      ORDER BY grouping, event_type NULLS FIRST, day NULLS FIRST"""
    })

  /** Funnel abandonment (`Temporal.abandonment`): views with no purchase
    * by the same user within the next hour — the temporal anti-join as
    * ONE value-framed RANGE window, no join, no second scan. The oracle
    * is the independent correlated NOT EXISTS / MIN-subquery form. */
  val q185_abandonment: Q = Q(
    (s, d) => Temporal.abandonment(
        eventsNs(s, d).select(col("user_id"), col("event_id"), col("event_type"),
          expr("ts div 1000").as("tus")),
        fromType = "view", toType = "purchase", windowUs = 3600000000L)
      .orderBy("user_id", "event_id"),
    Some("""WITH e AS MATERIALIZED (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events)
      SELECT v.user_id, v.event_id, v.tus,
        (SELECT MIN(p.tus) FROM e p WHERE p.user_id = v.user_id
           AND p.event_type = 'purchase'
           AND p.tus > v.tus AND p.tus <= v.tus + 3600000000) AS next_conv_us,
        CASE WHEN EXISTS (SELECT 1 FROM e p WHERE p.user_id = v.user_id
           AND p.event_type = 'purchase'
           AND p.tus > v.tus AND p.tus <= v.tus + 3600000000)
          THEN 0 ELSE 1 END AS abandoned
      FROM e v WHERE v.event_type = 'view'
      ORDER BY v.user_id, v.event_id"""))

  /** Leading supplier per part — TPC-H Q20-flavoured supply-share
    * analytics without a partsupp table: for every part with ≥ 5
    * suppliers, the top supplier by shipped quantity (arg-max as a
    * DECLARATIVE `max(struct(sq, −suppkey))`, ties to the smallest
    * suppkey — the q129 min_by/max_by discipline, no window rank) with
    * its exact share of the part total. One lineitem scan, one grouped
    * aggregate per level, names broadcast-joined at the end. The
    * oracle selects the same row with a rank window — an independent
    * formulation of the same arg-max. */
  val q186_dominant_supplier: Q = Q(
    (s, d) => {
      val sq = table(s, d, "lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum(col("l_quantity").cast(dec)).as("sq"))
      sq.groupBy("l_partkey")
        .agg(
          max(struct(col("sq"), (-col("l_suppkey")).as("_ns"))).as("_top"),
          sum("sq").as("pt"),
          count(lit(1)).as("n_suppliers"))
        .filter(col("n_suppliers") >= 5)
        .select(col("l_partkey").as("partkey"),
          (-col("_top._ns")).as("suppkey"),
          col("_top.sq").as("sq"), col("pt"), col("n_suppliers"))
        .join(broadcast(table(s, d, "supplier").select("s_suppkey", "s_name")),
          col("suppkey") === col("s_suppkey"))
        .select(col("partkey"), col("suppkey"), col("s_name"), col("n_suppliers"),
          col("sq").cast("double").as("supp_qty"),
          col("pt").cast("double").as("part_qty"),
          (col("sq").cast("double") / col("pt").cast("double")).as("share"))
        .orderBy("partkey")
    },
    Some("""WITH sq AS (SELECT l_partkey, l_suppkey,
          SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq
        FROM lineitem GROUP BY 1, 2),
      t AS (SELECT *, SUM(sq) OVER (PARTITION BY l_partkey) AS pt,
          CAST(COUNT(*) OVER (PARTITION BY l_partkey) AS BIGINT) AS n_suppliers,
          row_number() OVER (PARTITION BY l_partkey ORDER BY sq DESC, l_suppkey ASC) AS rn
        FROM sq)
      SELECT l_partkey AS partkey, l_suppkey AS suppkey, s_name, n_suppliers,
        CAST(sq AS DOUBLE) AS supp_qty, CAST(pt AS DOUBLE) AS part_qty,
        CAST(sq AS DOUBLE) / CAST(pt AS DOUBLE) AS share
      FROM t JOIN supplier ON l_suppkey = s_suppkey
      WHERE rn = 1 AND n_suppliers >= 5
      ORDER BY partkey"""))

  /** Incremental view maintenance (`Snapshot.incrementalAggregate`):
    * the per-nation balance view refreshed from q144's OLD→NEW deltas
    * (retract at old group, assert at new group) and PROVEN equal to a
    * direct recompute in the same result (`match_inc` = 1 everywhere)
    * — exact decimals, so equality is bitwise, not approximate. The
    * oracle rebuilds the delta independently with LEFT-JOIN
    * change-detection predicates instead of row hashes. */
  val q187_ivm: Q = Q(
    (s, d) => {
      val cust = table(s, d, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
      def prep(df: DataFrame): DataFrame =
        df.withColumn("bal", col("c_acctbal").cast(DecimalType(18, 2))).drop("c_acctbal")
      val newDf = cust.filter(col("c_custkey") % 17 =!= 0)
        .withColumn("c_acctbal",
          when(col("c_custkey") % 10 === 0, col("c_acctbal") + 10.0)
            .otherwise(col("c_acctbal")))
        .unionByName(cust.filter(col("c_custkey") % 23 === 0)
          .withColumn("c_custkey", col("c_custkey") + 1000000L))
      // each snapshot has two consumers of different shapes (row-hash
      // project + grouped view); without a persist the customer scan
      // runs ~9x (q171 corollary — verified with Explain)
      Snapshot.incrementalAggregate(prep(cust).persist(), prep(newDf).persist(),
          "c_custkey", "c_nationkey", "bal")
        .select(col("c_nationkey"),
          col("old_sum").cast("double").as("old_sum"), col("old_n"),
          col("delta_sum").cast("double").as("delta_sum"), col("delta_n"),
          col("inc_sum").cast("double").as("inc_sum"), col("inc_n"),
          col("direct_sum").cast("double").as("direct_sum"), col("direct_n"),
          col("match_inc"))
        .orderBy("c_nationkey")
    },
    Some("""WITH c AS (SELECT c_custkey, c_nationkey,
              CAST(c_acctbal AS DECIMAL(18,2)) AS bal FROM customer),
      nw AS (SELECT c_custkey, c_nationkey,
              CASE WHEN c_custkey % 10 = 0 THEN CAST(c_acctbal + 10.0 AS DECIMAL(18,2))
                ELSE CAST(c_acctbal AS DECIMAL(18,2)) END AS bal
            FROM customer WHERE c_custkey % 17 <> 0
            UNION ALL
            SELECT c_custkey + 1000000, c_nationkey, CAST(c_acctbal AS DECIMAL(18,2))
            FROM customer WHERE c_custkey % 23 = 0),
      d0 AS (SELECT o.c_nationkey AS g, -o.bal AS dv, CAST(-1 AS BIGINT) AS dn
            FROM c o LEFT JOIN nw n ON o.c_custkey = n.c_custkey
            WHERE n.c_custkey IS NULL OR o.c_nationkey <> n.c_nationkey OR o.bal <> n.bal
            UNION ALL
            SELECT n.c_nationkey, n.bal, CAST(1 AS BIGINT)
            FROM nw n LEFT JOIN c o ON o.c_custkey = n.c_custkey
            WHERE o.c_custkey IS NULL OR o.c_nationkey <> n.c_nationkey OR o.bal <> n.bal),
      dl AS (SELECT g AS c_nationkey, SUM(dv) AS delta_sum,
              CAST(SUM(dn) AS BIGINT) AS delta_n FROM d0 GROUP BY 1),
      ov AS (SELECT c_nationkey, SUM(bal) AS old_sum,
              CAST(COUNT(*) AS BIGINT) AS old_n FROM c GROUP BY 1),
      dr AS (SELECT c_nationkey, SUM(bal) AS direct_sum,
              CAST(COUNT(*) AS BIGINT) AS direct_n FROM nw GROUP BY 1),
      m AS (SELECT c_nationkey,
              COALESCE(old_sum, 0) AS old_sum, COALESCE(old_n, 0) AS old_n,
              COALESCE(delta_sum, 0) AS delta_sum, COALESCE(delta_n, 0) AS delta_n
            FROM ov FULL OUTER JOIN dl USING (c_nationkey))
      SELECT c_nationkey, CAST(old_sum AS DOUBLE) AS old_sum, old_n,
        CAST(delta_sum AS DOUBLE) AS delta_sum, delta_n,
        CAST(old_sum + delta_sum AS DOUBLE) AS inc_sum,
        old_n + delta_n AS inc_n,
        CAST(direct_sum AS DOUBLE) AS direct_sum, direct_n,
        CASE WHEN old_sum + delta_sum IS NOT DISTINCT FROM direct_sum
              AND old_n + delta_n IS NOT DISTINCT FROM direct_n
          THEN 1 ELSE 0 END AS match_inc
      FROM m FULL OUTER JOIN dr USING (c_nationkey)
      WHERE NOT (old_n + delta_n = 0 AND direct_n IS NULL)
      ORDER BY c_nationkey"""))

  /** FIFO lot allocation (`Temporal.fifoMatch`): odd lineitem lines are
    * receipts, even lines are issues, both in ship-date order per part;
    * each issue is allocated to receipts first-in-first-out via the
    * cumulative-interval overlap closed form — output is linear in the
    * line count by construction. Exact integer quantities. */
  val q188_fifo_match: Q = Q(
    (s, d) => {
      val li = table(s, d, "lineitem").select(
        col("l_partkey").as("key"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("id"),
        expr("unix_micros(cast(l_shipdate as timestamp))").as("ord"),
        col("l_quantity").cast("long").as("qty"),
        col("l_linenumber"))
      Temporal.fifoMatch(
          li.filter(col("l_linenumber") % 2 === 1).drop("l_linenumber"),
          li.filter(col("l_linenumber") % 2 === 0).drop("l_linenumber"))
        .orderBy("key", "rcpt_id", "issue_id")
    },
    Some("""WITH li AS (SELECT l_partkey AS key,
          l_orderkey * 10 + l_linenumber AS id,
          epoch_us(l_shipdate) AS ord,
          CAST(l_quantity AS BIGINT) AS qty, l_linenumber
        FROM lineitem),
      r AS (SELECT key, id AS rcpt_id,
          SUM(qty) OVER w - qty AS rcpt_lo, SUM(qty) OVER w AS rcpt_hi
        FROM li WHERE l_linenumber % 2 = 1
        WINDOW w AS (PARTITION BY key ORDER BY ord, id ROWS UNBOUNDED PRECEDING)),
      i AS (SELECT key, id AS issue_id,
          SUM(qty) OVER w - qty AS issue_lo, SUM(qty) OVER w AS issue_hi
        FROM li WHERE l_linenumber % 2 = 0
        WINDOW w AS (PARTITION BY key ORDER BY ord, id ROWS UNBOUNDED PRECEDING))
      SELECT r.key AS key, rcpt_id, issue_id,
        CAST(least(rcpt_hi, issue_hi) - greatest(rcpt_lo, issue_lo) AS BIGINT) AS matched_qty
      FROM r JOIN i ON r.key = i.key
        AND rcpt_lo < issue_hi AND issue_lo < rcpt_hi
      ORDER BY r.key, rcpt_id, issue_id"""))

  /** Bounded Bellman-Ford over the near-dup graph (`Graph.weightedHops`):
    * cheapest dissimilarity cost (integer micro weights,
    * w = 1000001 − ⌊jaccard·1e6⌋ — floor of the IDENTICAL double on both
    * engines) from the q167 seed set within 3 relaxations. Per-round MIN
    * keeps every intermediate node-bounded; the oracle unrolls the same
    * three rounds as a MATERIALIZED CTE chain (a walk-enumeration
    * recursion would blow up on near-distinct costs). */
  val q189_weighted_hops: Q = Q(
    (s, d) => {
      val docs = table(s, d, "documents")
      val pairs = Dedup.ngramJaccard(docs, Seq("lang", "n_chars"),
        maxBlockSize = Dedup.Uncapped)
      val edges = pairs.select(col("d1"), col("d2"),
        (lit(1000001L) - floor(col("jaccard") * 1e6).cast("long")).as("w"))
      Graph.weightedHops(edges,
        docs.filter(col("doc_id") % 97 === 0).select(col("doc_id").as("id")))
    },
    Some {
      def round(prev: String, cur: String): String =
        s"""$cur AS MATERIALIZED (SELECT id, MIN(dist) AS dist FROM (
            SELECT id, dist FROM $prev
            UNION ALL
            SELECT e.v AS id, $prev.dist + e.w AS dist
            FROM $prev JOIN e ON e.u = $prev.id) GROUP BY id)"""
      s"""WITH $blockedJaccardPairsSql,
      p AS (SELECT d1, d2,
          1000001 - CAST(floor((CAST(i AS DOUBLE) / CAST(sz1 + sz2 - i AS DOUBLE))
            * 1000000) AS BIGINT) AS w
        FROM v WHERE CAST(i AS DOUBLE) / CAST(sz1 + sz2 - i AS DOUBLE) >= 0.3),
      e AS MATERIALIZED (SELECT d1 AS u, d2 AS v, w FROM p
        UNION SELECT d2, d1, w FROM p),
      r0 AS (SELECT doc_id AS id, CAST(0 AS BIGINT) AS dist
        FROM documents WHERE doc_id % 97 = 0),
      ${round("r0", "r1")}, ${round("r1", "r2")}, ${round("r2", "r3")}
      SELECT id, dist FROM r3 ORDER BY id"""
    })

  /** A/B sample-ratio-mismatch audit (`Selection.srmCheck`): stable
    * md5-hash arm assignment, per-day distinct-active split, 2-cell
    * chi-square vs the intended 50/50 with the α=0.05 flag — the
    * experimentation-platform health check. Integer counts, one
    * division. */
  val q190_srm_check: Q = Q(
    (s, d) => Selection.srmCheck(
      eventsNs(s, d).select(col("user_id"),
        expr("(ts div 1000) div 86400000000").as("day"))),
    Some("""WITH du AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id
          FROM events),
      a AS (SELECT day, user_id,
          CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)
            % 100 < 50 THEN 1 ELSE 0 END AS arm FROM du),
      g AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(arm) AS BIGINT) AS n_a FROM a GROUP BY day)
      SELECT day, n, n_a, n - n_a AS n_b,
        CAST((n_a - (n - n_a)) * (n_a - (n - n_a)) AS DOUBLE) / CAST(n AS DOUBLE) AS chi2,
        CASE WHEN CAST((n_a - (n - n_a)) * (n_a - (n - n_a)) AS DOUBLE) / CAST(n AS DOUBLE)
          > 3.841459 THEN 1 ELSE 0 END AS srm
      FROM g ORDER BY day"""))

  /** Mix/rate revenue decomposition — the metric-tree "why did revenue
    * move" analysis: per region, the 1996→1997 order-revenue change
    * split into volume effect Δn·rate₀, rate effect n₀·Δrate, and the
    * interaction Δn·Δrate. ONE scan (conditional decimal sums in a
    * single groupBy); rates are single divisions of exact-decimal
    * operands, effects are single products, everything transcendental-
    * free and rounded at 6 per the wide-cast rule. */
  val q191_mix_rate: Q = Q(
    (s, d) => {
      val o = table(s, d, "orders")
        .filter(expr("o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'"))
        .withColumn("yr1", (col("o_orderdate") >= lit("1997-01-01").cast("timestamp")).cast("long"))
      val g = o
        .join(table(s, d, "customer").select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(table(s, d, "nation").select("n_nationkey", "n_regionkey")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(table(s, d, "region").select("r_regionkey", "r_name")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(
          sum(when(col("yr1") === 0, lit(1L)).otherwise(0L)).as("n0"),
          sum(when(col("yr1") === 1, lit(1L)).otherwise(0L)).as("n1"),
          sum(when(col("yr1") === 0, col("o_totalprice").cast(dec)).otherwise(lit(0).cast(dec))).as("s0"),
          sum(when(col("yr1") === 1, col("o_totalprice").cast(dec)).otherwise(lit(0).cast(dec))).as("s1"))
      g.withColumn("rate0", col("s0").cast("double") / col("n0").cast("double"))
        .withColumn("rate1", col("s1").cast("double") / col("n1").cast("double"))
        .withColumn("delta_total", (col("s1") - col("s0")).cast("double"))
        .withColumn("volume_effect",
          round((col("n1") - col("n0")).cast("double") * col("rate0"), 6))
        .withColumn("rate_effect",
          round(col("n0").cast("double") * (col("rate1") - col("rate0")), 6))
        .withColumn("interaction",
          round((col("n1") - col("n0")).cast("double") * (col("rate1") - col("rate0")), 6))
        .select("r_name", "n0", "n1", "delta_total",
          "volume_effect", "rate_effect", "interaction")
        .orderBy("r_name")
    },
    Some("""WITH o AS (SELECT o_custkey, o_totalprice,
          CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' THEN 1 ELSE 0 END AS yr1
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
      g AS (SELECT r_name,
          CAST(SUM(CASE WHEN yr1 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
          CAST(SUM(CASE WHEN yr1 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
          SUM(CASE WHEN yr1 = 0 THEN CAST(o_totalprice AS DECIMAL(18,2))
            ELSE CAST(0 AS DECIMAL(18,2)) END) AS s0,
          SUM(CASE WHEN yr1 = 1 THEN CAST(o_totalprice AS DECIMAL(18,2))
            ELSE CAST(0 AS DECIMAL(18,2)) END) AS s1
        FROM o
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name),
      r AS (SELECT *, CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS rate0,
          CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS rate1 FROM g)
      SELECT r_name, n0, n1, CAST(s1 - s0 AS DOUBLE) AS delta_total,
        ROUND(CAST(n1 - n0 AS DOUBLE) * rate0, 6) AS volume_effect,
        ROUND(CAST(n0 AS DOUBLE) * (rate1 - rate0), 6) AS rate_effect,
        ROUND(CAST(n1 - n0 AS DOUBLE) * (rate1 - rate0), 6) AS interaction
      FROM r ORDER BY r_name"""))

  /** DDSketch error report — the quantile analogue of AnnRecallSpec's
    * "measure the approximation, don't just promise it", IN the data
    * plane: per event type, the exact nearest-rank p50/p95/p99 joined
    * against the γ=1.02 sketch estimates, with the measured relative
    * error and the published (γ−1)/(γ+1) guarantee as a per-row flag
    * (within_bound — 1 everywhere, self-checking). The flag's bound is
    * (γ−1)/(γ+1) + 2e-4: the implementation quantizes ln to integer
    * MICRO units (lnG = round(ln γ·1e6) = 19803 vs 19802.63…), which
    * drifts bucket boundaries by ≈ b·3.7e-7 relative — ≤ 1.2e-4 at the
    * b≈314 of the largest event values — on top of the estimates' own
    * round-6; the ideal-sketch bound alone is exceeded by ~2e-5 on one
    * row, which is the quantization, not a sketch bug. */
  val q192_sketch_error: Q = Q(
    (s, d) => {
      // value > 0 matches the sketch's own domain (ddsketchBuckets
      // filters internally) so both arms rank the SAME population
      val ev = eventsNs(s, d).select(col("event_type"), col("value"))
        .filter(col("value") > 0)
      val exact = Selection.quantilesByGroup(ev, "event_type", "value",
        Seq("p50" -> 500000L, "p95" -> 950000L, "p99" -> 990000L))
      val est = Sketch.ddsketchQuantiles(ev, "event_type", "value")
        .selectExpr("event_type",
          "stack(3, 'p50', p50_est, 'p95', p95_est, 'p99', p99_est) AS (tag, est_q)")
      val bound = 0.02 / 2.02 + 2e-4
      exact.join(est, Seq("event_type", "tag"))
        .withColumn("rel_err",
          round(abs(col("est_q") - col("quantile")) / col("quantile"), 6))
        .withColumn("within_bound",
          (col("rel_err") <= lit(bound)).cast("int"))
        .select("event_type", "tag", "n", "quantile", "est_q", "rel_err", "within_bound")
        .orderBy("event_type", "tag")
    },
    Some {
      val lnG = math.round(math.log(1.02) * 1e6)
      val bound = OracleSql.slit(0.02 / 2.02 + 2e-4)
      def rank(q: Long) = s"($q * n + 999999) // 1000000"
      val bCols = Seq(500000L -> "b_p50", 950000L -> "b_p95", 990000L -> "b_p99")
        .map { case (q, nm) => s"MIN(CASE WHEN cum >= ${rank(q)} THEN bucket END) AS $nm" }
        .mkString(", ")
      val exArms = Seq("p50" -> 500000L, "p95" -> 950000L, "p99" -> 990000L)
        .map { case (t, q) =>
          s"""SELECT event_type, '$t' AS tag, n, CAST(value AS DOUBLE) AS quantile
            FROM r WHERE rn = ${rank(q)}""" }
        .mkString(" UNION ALL ")
      val estArms = Seq("p50", "p95", "p99")
        .map(p => s"""SELECT event_type, '$p' AS tag,
          ROUND(2.0 * POW(1.02, b_$p) / 2.02, 6) AS est_q FROM g""")
        .mkString(" UNION ALL ")
      s"""WITH e AS (SELECT event_type, value FROM events WHERE value > 0),
      r AS (SELECT event_type, value,
              ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value ASC) AS rn,
              CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n FROM e),
      bu AS (SELECT event_type,
              (lnu // $lnG) + (CASE WHEN lnu % $lnG > 0 THEN 1 ELSE 0 END) AS bucket
            FROM (SELECT event_type,
                    CAST(round(ln(value) * 1000000) AS BIGINT) AS lnu FROM e)),
      sk AS (SELECT event_type, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM bu GROUP BY 1, 2),
      cm AS (SELECT event_type, bucket, cnt,
              SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket
                ROWS UNBOUNDED PRECEDING) AS cum,
              SUM(cnt) OVER (PARTITION BY event_type) AS n FROM sk),
      g AS (SELECT event_type, CAST(MAX(n) AS BIGINT) AS n, $bCols FROM cm GROUP BY 1),
      ex AS ($exArms), es AS ($estArms)
      SELECT ex.event_type, ex.tag, ex.n, ex.quantile, es.est_q,
        ROUND(abs(es.est_q - ex.quantile) / ex.quantile, 6) AS rel_err,
        CASE WHEN ROUND(abs(es.est_q - ex.quantile) / ex.quantile, 6) <= $bound
          THEN 1 ELSE 0 END AS within_bound
      FROM ex JOIN es ON ex.event_type = es.event_type AND ex.tag = es.tag
      ORDER BY ex.event_type, ex.tag"""
    })

  /** Hierarchical percent-of-parent rollup: each nation's revenue share of
    * its region and each region's share of the total — two window levels
    * over ONE grouped aggregate (never a rescan), exact decimal sums,
    * single divisions rounded at 6. The drill-down table every BI layer
    * renders. */
  val q193_share_rollup: Q = Q(
    (s, d) => {
      val g = table(s, d, "orders")
        .join(table(s, d, "customer").select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(table(s, d, "nation").select("n_nationkey", "n_name", "n_regionkey")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(table(s, d, "region").select("r_regionkey", "r_name")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(sum(col("o_totalprice").cast(dec)).as("rev"), count(lit(1)).as("n_orders"))
      g.withColumn("region_rev", sum("rev").over(Window.partitionBy("r_name")))
        .withColumn("total_rev", sum("rev").over(Window.partitionBy()))
        .select(col("r_name"), col("n_name"), col("n_orders"),
          col("rev").cast("double").as("rev"),
          round(col("rev").cast("double") / col("region_rev").cast("double"), 6)
            .as("share_of_region"),
          round(col("region_rev").cast("double") / col("total_rev").cast("double"), 6)
            .as("region_share_of_total"))
        .orderBy("r_name", "n_name")
    },
    Some("""WITH g AS (SELECT r_name, n_name,
          SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
          CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1, 2),
      w AS (SELECT *, SUM(rev) OVER (PARTITION BY r_name) AS region_rev,
          SUM(rev) OVER () AS total_rev FROM g)
      SELECT r_name, n_name, n_orders, CAST(rev AS DOUBLE) AS rev,
        ROUND(CAST(rev AS DOUBLE) / CAST(region_rev AS DOUBLE), 6) AS share_of_region,
        ROUND(CAST(region_rev AS DOUBLE) / CAST(total_rev AS DOUBLE), 6) AS region_share_of_total
      FROM w ORDER BY r_name, n_name"""))

  /** Multivariate anomaly detection (`Similarity.mahalanobisTopK`): the
    * 50 most improbable embeddings under the offline-trained Mahalanobis
    * model ([[TrainedMahalanobis]] — baked round-6 mean + precision
    * matrix) — the JOINT outlier detector per-column z-scores can't
    * express. The k² score terms are one fixed-order literal chain, so
    * both engines compute the identical double; zero shuffles to score,
    * TakeOrderedAndProject for the top-k. */
  val q194_mahalanobis: Q = Q(
    (s, d) => Similarity.mahalanobisTopK(table(s, d, "embeddings"),
      TrainedMahalanobis.mu, TrainedMahalanobis.prec),
    Some {
      val score = Similarity.mahalanobisExpr(
        TrainedMahalanobis.mu, TrainedMahalanobis.prec,
        i => s"CAST(embedding[${i + 1}] AS DOUBLE)")
      s"""SELECT vec_id, $score AS score FROM embeddings
      ORDER BY score DESC, vec_id LIMIT 50"""
    })

  /** Fact-to-SCD2 temporal enrichment — the warehouse join q177 builds
    * the dimension FOR: every purchase attributed to the user's state
    * version (from non-purchase activity) active at purchase time, then
    * revenue by state. The engine composes `Temporal.scd2Intervals` with
    * the union+fill-forward `asOfJoin` (one keyed window, NO range
    * join); the oracle attaches the dimension row independently via a
    * correlated MAX(valid_from ≤ tus) + equality join, deduped to one
    * row per (user_id, valid_from) by max version — mirroring asOfJoin's
    * one-survivor tie-break when two state versions share a timestamp.
    * Purchases before any state event land in 'none'. */
  val q195_scd2_enrich: Q = Q(
    (s, d) => {
      val e = eventsNs(s, d).select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("tus"), col("event_type"), col("value"))
      val dim = Temporal.scd2Intervals(
          e.filter(col("event_type") =!= "purchase"), tsCol = "tus")
        .select(col("user_id"), col("valid_from").as("tus"),
          col("version"), col("state"))
      val facts = e.filter(col("event_type") === "purchase")
      Temporal.asOfJoin(facts,
          dim.withColumn("ver_state", struct(col("version"), col("state"))),
          "user_id", "tus", "ver_state", "version",
          leftCols = Seq("user_id", "event_id", "tus", "value"))
        .select(coalesce(col("r_ver_state.state"), lit("none")).as("state"),
          col("value"))
        .groupBy("state")
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_v"))
        .orderBy("state")
    },
    Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus,
          event_type, value FROM events),
      c AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
              OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
        FROM e WHERE event_type <> 'purchase'
        WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
      r AS (SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY tus, event_id
              ROWS UNBOUNDED PRECEDING) AS version FROM c),
      dim0 AS MATERIALIZED (SELECT user_id, version, MIN(event_type) AS state,
          MIN(tus) AS valid_from
        FROM r GROUP BY user_id, version),
      dim AS (SELECT user_id, valid_from, state FROM dim0
        QUALIFY row_number() OVER (PARTITION BY user_id, valid_from
          ORDER BY version DESC) = 1),
      f AS (SELECT user_id, event_id, tus, value FROM e
        WHERE event_type = 'purchase'),
      sel AS (SELECT f.*, (SELECT MAX(valid_from) FROM dim d
          WHERE d.user_id = f.user_id AND d.valid_from <= f.tus) AS vf
        FROM f),
      j AS (SELECT sel.value, COALESCE(d.state, 'none') AS state
        FROM sel LEFT JOIN dim d
          ON d.user_id = sel.user_id AND d.valid_from = sel.vf)
      SELECT state, CAST(COUNT(*) AS BIGINT) AS n_purchases,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_v
      FROM j GROUP BY state ORDER BY state"""))

  /** DuckDB twin of `Layout.hilbertValue`: the same per-level integer
    * fold as a `list_reduce` whose FIRST element seeds the state and
    * whose remaining elements carry the bit levels.
    *
    * The state is PACKED into one BIGINT, (hd·2^bits + hx)·2^bits + hy:
    * DuckDB 1.0's list_reduce evaluates a struct accumulator's fields
    * sequentially IN PLACE — a later field reading `a.hx` sees the new
    * value (the (6,0) cell came back 61 instead of 60) — so the lambda
    * must read the accumulator exactly once. Packing makes every read
    * a pure projection of the single `a`, immune to field ordering. */
  private def duckHilbertSql(x: String, y: String, bits: Int): String = {
    val p = 1L << bits // coordinate modulus
    val n1 = p - 1
    val s = "(CAST(1 AS BIGINT) << CAST(i AS INTEGER))"
    val hx = s"((a // $p) % $p)"
    val hy = s"(a % $p)"
    val hd = s"(a // ${p * p})"
    val rx = s"(CASE WHEN ($hx & $s) > 0 THEN 1 ELSE 0 END)"
    val ry = s"(CASE WHEN ($hy & $s) > 0 THEN 1 ELSE 0 END)"
    s"""(list_reduce(
      [CAST($x AS BIGINT) * $p + CAST($y AS BIGINT)] || range(${bits - 1}, -1, -1),
      (a, i) ->
        (($hd + $s * $s * (CASE WHEN $rx = 1 THEN 3 - $ry ELSE $ry END)) * $p +
          (CASE WHEN $ry = 0
            THEN (CASE WHEN $rx = 1 THEN $n1 - $hy ELSE $hy END)
            ELSE $hx END)) * $p +
        (CASE WHEN $ry = 0
          THEN (CASE WHEN $rx = 1 THEN $n1 - $hx ELSE $hx END)
          ELSE $hy END)
    )) // ${p * p}"""
  }

  /** IVF-composed margin mining (`Similarity.marginMineWith`): q100's
    * ratio-margin bitext miner with the exact cross join replaced by the
    * [[TrainedCentroids]] cell equi-join — the 100 TB regime where the
    * query side is itself corpus-sized and |Q|x|C| stops being runnable.
    * Same margin algebra over the retrieved pairs (MiningSpec proves
    * full-probe == exact bit-for-bit); the oracle replays assignment +
    * cell join + margin windows from the same centroid literals. */
  val q196_margin_ivf: Q = Q(
    (s, d) => {
      val emb = table(s, d, "embeddings")
      Similarity.marginMineWith(
          emb.filter(col("label") % 2 === 0).select(col("vec_id").as("qid"), col("embedding")),
          emb.filter(col("label") % 2 === 1).select(col("vec_id").as("cid"), col("embedding")),
          TrainedCentroids.sf001k8, k = 4, threshold = 1.02, nProbe = 2)
        .orderBy("qid")
    },
    Some(s"""WITH ctr(centroid_id, cemb) AS (VALUES
      ${TrainedCentroids.sf001k8Sql}),
      ca AS (SELECT e.vec_id AS cid, e.embedding, t.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), t.cemb), 6) DESC,
                 t.centroid_id ASC) AS crk
             FROM embeddings e CROSS JOIN ctr t WHERE e.label % 2 = 1),
      cass AS MATERIALIZED (SELECT cid, embedding, centroid_id FROM ca WHERE crk = 1),
      qa AS (SELECT e.vec_id AS qid, e.embedding, t.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), t.cemb), 6) DESC,
                 t.centroid_id ASC) AS crk
             FROM embeddings e CROSS JOIN ctr t WHERE e.label % 2 = 0),
      qass AS MATERIALIZED (SELECT qid, embedding, centroid_id FROM qa WHERE crk <= 2),
      p AS (SELECT q.qid, c.cid,
              CAST(ROUND(ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                CAST(c.embedding AS DOUBLE[])), 6) * 1000000) AS BIGINT) AS sm
            FROM qass q JOIN cass c ON c.centroid_id = q.centroid_id),
      r AS (SELECT qid, cid, sm,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sm DESC, cid ASC) AS rq,
              ROW_NUMBER() OVER (PARTITION BY cid ORDER BY sm DESC, qid ASC) AS rc
            FROM p),
      s AS (SELECT qid, cid, sm,
              CAST(SUM(CASE WHEN rq <= 4 THEN sm ELSE 0 END)
                OVER (PARTITION BY qid) AS BIGINT) AS sq,
              CAST(SUM(CASE WHEN rc <= 4 THEN sm ELSE 0 END)
                OVER (PARTITION BY cid) AS BIGINT) AS sc
            FROM r),
      m AS (SELECT qid, cid, sm, CAST(sm * 8 AS DOUBLE) / (sq + sc) AS margin FROM s),
      b AS (SELECT qid, cid, sm, margin,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY margin DESC, cid ASC) AS rk
            FROM m)
      SELECT qid, cid, ROUND(margin, 6) AS margin, CAST(sm AS DOUBLE) / 1000000 AS sim
      FROM b WHERE rk = 1 AND margin > 1.02 ORDER BY qid"""))

  /** Multimodal resize planning (`Multimodal.resizePlan`): portable-meta
    * fake dimensions -> integer-exact max-224 target dims (aspect kept,
    * round-half-up, no upscale). The oracle replays the identical md5
    * arithmetic and integer ceil/round formulas. */
  val q197_media_resize: Q = Q(
    (s, d) => Multimodal.resizePlan(
        Multimodal.withPortableMeta(
          table(s, d, "documents").withColumn("payload", encode(col("text"), "UTF-8"))),
        maxDim = 48)
      .select("doc_id", "width", "height", "out_w", "out_h")
      .orderBy("doc_id"),
    Some("""WITH m AS (SELECT doc_id,
        CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS h FROM documents),
      wh AS (SELECT doc_id,
        CAST(16 + h % 64 AS INTEGER) AS width,
        CAST(16 + (h // 64) % 64 AS INTEGER) AS height FROM m),
      r AS (SELECT doc_id, width, height,
        CAST(GREATEST(width, height) AS BIGINT) AS mx FROM wh)
      SELECT doc_id, width, height,
        CAST(CASE WHEN mx <= 48 THEN width
          ELSE GREATEST(1, (2 * width * 48 + mx) // (2 * mx)) END AS INTEGER) AS out_w,
        CAST(CASE WHEN mx <= 48 THEN height
          ELSE GREATEST(1, (2 * height * 48 + mx) // (2 * mx)) END AS INTEGER) AS out_h
      FROM r ORDER BY doc_id"""))

  /** Multimodal feature extraction (`Multimodal.payloadEmbedding`): the
    * deterministic md5-arithmetic payload->vector stub, flattened to
    * engine-comparable columns plus the L2 norm. The embed pass is a
    * pure map stage — the shape a 100 TB encoder run needs; downstream
    * ANN/SemDeDup compose on the array column unchanged
    * (MultimodalPipelineSpec drives it through bruteForceTopK). */
  val q198_payload_embed: Q = Q(
    (s, d) => {
      val emb = Multimodal.payloadEmbedding(
        table(s, d, "documents").withColumn("payload", encode(col("text"), "UTF-8")),
        dim = 8)
      val flat = (0 until 8).map(j => round(col("embedding")(j), 6).as(s"e$j"))
      emb.select(col("doc_id") +: flat :+
          round(sqrt(graft.functions.VectorExpr.dot(col("embedding"), col("embedding"))), 6).as("l2"): _*)
        .orderBy("doc_id")
    },
    Some {
      val comps = (0 until 8).map(j =>
        s"ROUND(CAST(CAST('0x' || substr(md5(text || '#$j'), 1, 15) AS BIGINT) % 2001 - 1000 AS DOUBLE) / 1000.0, 6) AS e$j")
        .mkString(",\n        ")
      val sq = (0 until 8).map(j =>
        s"(CAST(CAST('0x' || substr(md5(text || '#$j'), 1, 15) AS BIGINT) % 2001 - 1000 AS DOUBLE) / 1000.0)")
        .map(x => s"$x * $x").mkString(" + ")
      s"""SELECT doc_id,
        $comps,
        ROUND(SQRT($sq), 6) AS l2
      FROM documents ORDER BY doc_id"""
    })

  // ===================== r9 projection kernels: tmerc/UTM, sinu, aea, ortho

  /** WGS84 / UTM zone 33N over southern Scandinavia, 2 km pixels. */
  def utmArea(w: Int = 200, h: Int = 200): AreaDef =
    AreaDef("utm33n",
      Crs.fromProj4("+proj=utm +zone=33 +a=6378137 +rf=298.257223563"),
      w, h, 300000.0, 6100000.0, 700000.0, 6500000.0)

  /** MODIS-style sinusoidal window (tile h18v04 footprint), sphere. */
  def sinuArea(w: Int = 200, h: Int = 200): AreaDef =
    AreaDef("sinu_h18v04",
      Crs.fromProj4("+proj=sinu +lon_0=0 +a=6371007.181"),
      w, h, 0.0, 4447802.0786666664, 1111950.5196666666, 5559752.598333333)

  /** CONUS Albers (the classic USGS parameter set), WGS84, 20 km pixels. */
  def aeaArea(w: Int = 225, h: Int = 135): AreaDef =
    AreaDef("conus_aea",
      Crs.fromProj4("+proj=aea +lat_0=23 +lon_0=-96 +lat_1=29.5 +lat_2=45.5 +a=6378137 +rf=298.257223563"),
      w, h, -2000000.0, 500000.0, 2500000.0, 3200000.0)

  /** Disk-centred orthographic over Europe, sphere, 20 km pixels. */
  def orthoArea(w: Int = 200, h: Int = 200): AreaDef =
    AreaDef("ortho_eu",
      Crs.fromProj4("+proj=ortho +lat_0=45 +lon_0=10 +a=6371000"),
      w, h, -2000000.0, -2000000.0, 2000000.0, 2000000.0)

  private def bucketAvgSql(area: AreaDef, fwdCtes: (String, String, Seq[String]) => String): String =
    s"""WITH $swathSql,
      leg AS (SELECT lon, lat, value FROM swath
              WHERE ${OracleSql.reducePredSql(area, 0.0)}
                AND lon >= -180.0 AND lon <= 180.0 AND lat >= -90.0 AND lat <= 90.0),
      ${fwdCtes("prj", "leg", Seq("value"))},
      cc AS (SELECT value, ${OracleSql.fracColSql(area, "proj_x")} AS c,
                    ${OracleSql.fracRowSql(area, "proj_y")} AS r FROM prj),
      cells AS (SELECT r * ${area.width} + c AS cell, value FROM cc
                WHERE c >= 0 AND c < ${area.width} AND r >= 0 AND r < ${area.height})
      SELECT cell, SUM(value) / COUNT(value) AS avg FROM cells GROUP BY cell ORDER BY cell"""

  /** Bucket average on a real UTM grid — the ellipsoidal transverse
    * Mercator forward (Krüger n^6 series) replayed in DuckDB with
    * EXP/LN-composed hyperbolics (OracleSql.TmercSql); 2 km cells dwarf
    * the ~1e-6 m libm drift. The projection every UTM-georeferenced
    * raster needs (`utils/rasterio.py:77`). */
  val q199_bucket_utm: Q = Q(
    (s, d) => {
      val area = utmArea()
      BucketResampler(area).average(
        DataReduce.reduceToArea(swath(s, d), area, 0.0), "value").orderBy("cell")
    },
    Some(bucketAvgSql(utmArea(), OracleSql.TmercSql(utmArea()).fwdCtes(_, _, _))))

  /** Bucket average on a MODIS sinusoidal tile window — spherical sinu
    * forward transcribed op-for-op (`utils/cf.py:31` sinusoidal). */
  val q200_bucket_sinu: Q = Q(
    (s, d) => {
      val area = sinuArea()
      BucketResampler(area).average(
        DataReduce.reduceToArea(swath(s, d), area, 0.0), "value").orderBy("cell")
    },
    Some(bucketAvgSql(sinuArea(), OracleSql.SinuSql(sinuArea()).fwdCtes(_, _, _))))

  /** Bucket average on the CONUS Albers grid — ellipsoidal equal-area
    * q/rho algebra replayed exactly (`utils/cf.py:31`
    * albers_conical_equal_area). */
  val q201_bucket_aea: Q = Q(
    (s, d) => {
      val area = aeaArea()
      BucketResampler(area).average(
        DataReduce.reduceToArea(swath(s, d), area, 0.0), "value").orderBy("cell")
    },
    Some(bucketAvgSql(aeaArea(), OracleSql.AeaSql(aeaArea()).fwdCtes(_, _, _))))

  /** Bucket average on an orthographic disk — spherical ortho forward;
    * the area reduction keeps every source point on the near side, so
    * the far-side NaN branch never fires on either engine. */
  val q202_bucket_ortho: Q = Q(
    (s, d) => {
      val area = orthoArea()
      BucketResampler(area).average(
        DataReduce.reduceToArea(swath(s, d), area, 0.0), "value").orderBy("cell")
    },
    Some(bucketAvgSql(orthoArea(), OracleSql.OrthoSql(orthoArea()).fwdCtes(_, _, _))))

  /** Real media-header parsing in the data plane (r9): build spec-exact
    * PNG/JPEG/GIF header bytes from part keys (unhex of the format's
    * magic + the key-derived dimensions), then recover (format, width,
    * height) with the codegen header parser
    * (`graft.functions.MediaMetaExpr` / `operators/MediaCodec.scala`).
    * The oracle replays the dimension arithmetic directly — the query
    * passes iff the parser inverts the encoding bit-exactly on every
    * row. Map-stage only; the parse reads ~30 bytes/row (the 100 TB
    * metadata-pass shape). */
  val q203_media_headers: Q = Q(
    (s, d) => {
      val df = table(s, d, "part")
        .withColumn("w", expr("CAST(1 + p_partkey % 3000 AS INT)"))
        .withColumn("h", expr("CAST(1 + (p_partkey * 7) % 2000 AS INT)"))
        .withColumn("payload", expr(
          """unhex(CASE CAST(p_partkey % 3 AS INT)
            |  WHEN 0 THEN concat('89504E470D0A1A0A0000000D49484452',
            |    lpad(hex(w), 8, '0'), lpad(hex(h), 8, '0'), '0802000000')
            |  WHEN 1 THEN concat('FFD8FFC0001108',
            |    lpad(hex(h), 4, '0'), lpad(hex(w), 4, '0'), '03')
            |  ELSE concat('474946383961',
            |    substring(lpad(hex(w), 4, '0'), 3, 2), substring(lpad(hex(w), 4, '0'), 1, 2),
            |    substring(lpad(hex(h), 4, '0'), 3, 2), substring(lpad(hex(h), 4, '0'), 1, 2),
            |    '0000') END)""".stripMargin))
      df.withColumn("media_meta", graft.functions.MediaMetaExpr.column(col("payload")))
        .select(col("p_partkey"),
          col("media_meta.format").as("format"),
          col("media_meta.width").as("width"),
          col("media_meta.height").as("height"),
          col("media_meta.n_bytes").as("n_bytes"))
        .orderBy("p_partkey")
    },
    Some("""SELECT p_partkey,
        CASE CAST(p_partkey % 3 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END AS format,
        CAST(1 + p_partkey % 3000 AS INTEGER) AS width,
        CAST(1 + (p_partkey * 7) % 2000 AS INTEGER) AS height,
        CAST(CASE CAST(p_partkey % 3 AS INT) WHEN 0 THEN 29 ELSE 12 END AS BIGINT) AS n_bytes
      FROM part ORDER BY p_partkey"""))

  /** Product-quantization ADC top-k (`Similarity.pqTopK`): candidates
    * encode to 8 sub-codes against sampled codebooks (donors vec_id<16),
    * per-query LUT scores the code table (a 32x-slimmer scan than raw
    * floats), exact round-6 cosine reranks the survivors. The oracle
    * replays the whole thing relationally — encode argmin as
    * list_position over j-ordered distance lists, the ADC sum as a
    * fixed-order 8-term chain — so the query passes only if codes,
    * survivor sets, and rerank all match bit-exactly. */
  val q204_pq_adc: Q = Q(
    (s, d) => {
      val emb = table(s, d, "embeddings")
      val c = emb.select(col("vec_id").as("cid"), col("embedding"))
      val q = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding"))
      val books = Similarity.pqCodebooks(c, m = 8, ksub = 16)
      Similarity.pqTopK(q, c, books, k = 10, rerankFactor = 3).orderBy("qid", "rank")
    },
    Some {
      val m = 8; val d = 8
      def sq(mi: Int) = (0 until d).map { di =>
        val i = mi * d + di + 1
        s"(c.v[$i] - dn.v[$i]) * (c.v[$i] - dn.v[$i])"
      }.mkString(" + ")
      def dot(mi: Int) = (0 until d).map { di =>
        val i = mi * d + di + 1
        s"q.v[$i] * dn.v[$i]"
      }.mkString(" + ")
      val dCols = (0 until m).map(mi => s"ROUND(${sq(mi)}, 6) AS d$mi").mkString(",\n          ")
      val tCols = (0 until m).map(mi => s"ROUND(${dot(mi)}, 6) AS t$mi").mkString(",\n          ")
      val dLists = (0 until m).map(mi => s"list(d$mi ORDER BY j) AS dl$mi").mkString(", ")
      val tLists = (0 until m).map(mi => s"list(t$mi ORDER BY j) AS tl$mi").mkString(", ")
      val codeCols = (0 until m).map(mi =>
        s"CAST(list_position(dl$mi, list_min(dl$mi)) AS INT) AS c$mi").mkString(", ")
      val adcSum = (0 until m).map(mi => s"l.tl$mi[k.c$mi]").mkString(" + ")
      s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        dn AS (SELECT vec_id AS j, v FROM emb WHERE vec_id < 16),
        encd AS (SELECT c.vec_id AS cid, dn.j,
          $dCols
          FROM emb c CROSS JOIN dn),
        codel AS (SELECT cid, $dLists FROM encd GROUP BY cid),
        code AS (SELECT cid, $codeCols FROM codel),
        lutd AS (SELECT q.vec_id AS qid, dn.j,
          $tCols
          FROM emb q CROSS JOIN dn WHERE q.vec_id % 50 = 0),
        lutl AS (SELECT qid, $tLists FROM lutd GROUP BY qid),
        sc AS (SELECT l.qid, k.cid, $adcSum AS adc FROM lutl l CROSS JOIN code k),
        s1 AS (SELECT qid, cid, adc,
                 ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc DESC, cid ASC) AS r1 FROM sc),
        surv AS (SELECT qid, cid, adc FROM s1 WHERE r1 <= 30),
        rr AS (SELECT s.qid, s.cid, s.adc,
                 ROUND(list_cosine_similarity(q.v, c.v), 6) AS sim_r
               FROM surv s JOIN emb q ON q.vec_id = s.qid JOIN emb c ON c.vec_id = s.cid),
        rk AS (SELECT qid, cid, adc, sim_r,
                 CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim_r DESC, cid ASC) AS INTEGER) AS rank FROM rr)
        SELECT qid, cid, rank, sim_r AS sim, adc FROM rk WHERE rank <= 10 ORDER BY qid, rank"""
    })

  /** IVF-PQ (`Similarity.ivfPqTopK`): the trained k=8 Lloyd centroids
    * ([[TrainedCentroids]]) give the inverted lists, PQ codes give the
    * 32x-slimmer stage-1 scan, ADC scores only the probed cells, exact
    * round-6 cosine reranks — the full production ANN index, oracle-
    * replayed end to end (assignment CTEs from q57's discipline, code/
    * LUT CTEs from q204's). */
  val q205_ivfpq: Q = Q(
    (s, d) => {
      val emb = table(s, d, "embeddings")
      val c = emb.select(col("vec_id").as("cid"), col("embedding"))
      val q = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding"))
      val books = Similarity.pqCodebooks(c, m = 8, ksub = 16)
      Similarity.ivfPqTopK(q, c, TrainedCentroids.sf001k8, books,
        k = 10, nProbe = 2, rerankFactor = 3).orderBy("qid", "rank")
    },
    Some {
      val m = 8; val d = 8
      def sq(mi: Int) = (0 until d).map { di =>
        val i = mi * d + di + 1
        s"(c.v[$i] - dn.v[$i]) * (c.v[$i] - dn.v[$i])"
      }.mkString(" + ")
      def dot(mi: Int) = (0 until d).map { di =>
        val i = mi * d + di + 1
        s"q.v[$i] * dn.v[$i]"
      }.mkString(" + ")
      val dCols = (0 until m).map(mi => s"ROUND(${sq(mi)}, 6) AS d$mi").mkString(",\n          ")
      val tCols = (0 until m).map(mi => s"ROUND(${dot(mi)}, 6) AS t$mi").mkString(",\n          ")
      val dLists = (0 until m).map(mi => s"list(d$mi ORDER BY j) AS dl$mi").mkString(", ")
      val tLists = (0 until m).map(mi => s"list(t$mi ORDER BY j) AS tl$mi").mkString(", ")
      val codeCols = (0 until m).map(mi =>
        s"CAST(list_position(dl$mi, list_min(dl$mi)) AS INT) AS c$mi").mkString(", ")
      val adcSum = (0 until m).map(mi => s"l.tl$mi[k.c$mi]").mkString(" + ")
      s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        dn AS (SELECT vec_id AS j, v FROM emb WHERE vec_id < 16),
        ctr(centroid_id, cemb) AS (VALUES
        ${TrainedCentroids.sf001k8Sql}),
        ca AS (SELECT e.vec_id AS cid, t.centroid_id,
                 ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                   ROUND(list_cosine_similarity(e.v, t.cemb), 6) DESC,
                   t.centroid_id ASC) AS crk
               FROM emb e CROSS JOIN ctr t),
        cass AS (SELECT cid, centroid_id FROM ca WHERE crk = 1),
        qa AS (SELECT e.vec_id AS qid, t.centroid_id,
                 ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                   ROUND(list_cosine_similarity(e.v, t.cemb), 6) DESC,
                   t.centroid_id ASC) AS crk
               FROM emb e CROSS JOIN ctr t WHERE e.vec_id % 50 = 0),
        qass AS (SELECT qid, centroid_id FROM qa WHERE crk <= 2),
        encd AS (SELECT c.vec_id AS cid, dn.j,
          $dCols
          FROM emb c CROSS JOIN dn),
        codel AS (SELECT cid, $dLists FROM encd GROUP BY cid),
        code AS (SELECT cid, $codeCols FROM codel),
        codec AS (SELECT k.*, a.centroid_id FROM code k JOIN cass a ON a.cid = k.cid),
        lutd AS (SELECT q.vec_id AS qid, dn.j,
          $tCols
          FROM emb q CROSS JOIN dn WHERE q.vec_id % 50 = 0),
        lutl AS (SELECT qid, $tLists FROM lutd GROUP BY qid),
        sc AS (SELECT qs.qid, k.cid, $adcSum AS adc
               FROM qass qs JOIN codec k ON k.centroid_id = qs.centroid_id
               JOIN lutl l ON l.qid = qs.qid),
        s1 AS (SELECT qid, cid, adc,
                 ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc DESC, cid ASC) AS r1 FROM sc),
        surv AS (SELECT qid, cid, adc FROM s1 WHERE r1 <= 30),
        rr AS (SELECT s.qid, s.cid, s.adc,
                 ROUND(list_cosine_similarity(q.v, c.v), 6) AS sim_r
               FROM surv s JOIN emb q ON q.vec_id = s.qid JOIN emb c ON c.vec_id = s.cid),
        rk AS (SELECT qid, cid, adc, sim_r,
                 CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim_r DESC, cid ASC) AS INTEGER) AS rank FROM rr)
        SELECT qid, cid, rank, sim_r AS sim, adc FROM rk WHERE rank <= 10 ORDER BY qid, rank"""
    })

  /** Faithful concat-and-split packing (`TextAnalysis.packSlices`): q62's
    * per-(lang, shard) token streams cut into 64-token training sequences
    * WITH boundary straddles — each doc explodes into the sequences it
    * overlaps, `[tok_start, tok_end)` giving the in-doc token slice per
    * sequence. Integer window arithmetic end-to-end; the explode fan-out
    * is `ceil(len/budget)+1` per doc, so the only shuffle stays q62's
    * cumsum window. */
  val q206_pack_slices: Q = Q(
    (s, d) => TextAnalysis.packSlices(table(s, d, "documents"), budget = 64L)
      .orderBy("lang", "shard", "doc_id", "chunk_id"),
    Some("""WITH t AS (SELECT doc_id, lang,
          CAST(((doc_id % 4) + 4) % 4 AS INTEGER) AS shard,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents),
      c AS (SELECT doc_id, lang, shard, n_tokens,
          CAST(SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS pack_offset
        FROM t),
      e AS (SELECT doc_id, lang, shard, n_tokens, pack_offset,
          unnest(generate_series(pack_offset // 64, (pack_offset + n_tokens - 1) // 64)) AS chunk_id
        FROM c WHERE n_tokens > 0)
      SELECT doc_id, lang, shard, n_tokens,
        CAST(pack_offset AS BIGINT) AS pack_offset,
        CAST(chunk_id AS BIGINT) AS chunk_id,
        CAST(GREATEST(0, chunk_id * 64 - pack_offset) AS BIGINT) AS tok_start,
        CAST(LEAST(n_tokens, (chunk_id + 1) * 64 - pack_offset) AS BIGINT) AS tok_end
      FROM e ORDER BY lang, shard, doc_id, chunk_id"""))

  /** Character-level exact duplicate-substring removal
    * (`Dedup.exactSubstrDedup`, Lee et al. 2022's ExactSubstr in
    * relational form): every 30-char window occurring more than once in
    * the corpus is excised from all but its globally-first occurrence,
    * overlapping windows merge, and the doc is reassembled in order —
    * md5 of the rewritten text makes the span union + sorted fold
    * bit-checkable. The oracle is an independent formulation: per-CHAR
    * keep/drop via an anti-join against the covered spans and a
    * char-by-char ordered string_agg, vs the engine's merged-interval
    * fold. */
  val q207_substr_dedup: Q = Q(
    (s, d) => Dedup.exactSubstrDedup(docsRebalanced(s, d), minLen = 30)
      .select(col("doc_id"), col("n_chars"), col("n_removed"),
        md5(col("clean_text")).as("clean_md5"))
      .orderBy("doc_id"),
    Some("""WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
      p AS (SELECT doc_id, unnest(generate_series(1, n - 29)) AS pos FROM d WHERE n >= 30),
      g AS (SELECT p.doc_id, p.pos, md5(substr(d.text, CAST(p.pos AS INTEGER), 30)) AS g
            FROM p JOIN d USING (doc_id)),
      f AS (SELECT doc_id, pos,
              COUNT(*) OVER (PARTITION BY g) AS c,
              MIN(doc_id * 1000000000 + pos) OVER (PARTITION BY g) AS m
            FROM g),
      cov AS (SELECT doc_id, pos AS s, pos + 30 AS e FROM f
              WHERE c > 1 AND doc_id * 1000000000 + pos <> m),
      ch AS (SELECT doc_id, unnest(generate_series(1, n)) AS i FROM d),
      keep AS (SELECT ch.doc_id, ch.i FROM ch
               WHERE NOT EXISTS (SELECT 1 FROM cov v
                 WHERE v.doc_id = ch.doc_id AND ch.i >= v.s AND ch.i < v.e)),
      cl AS (SELECT k.doc_id,
               string_agg(substr(d.text, CAST(k.i AS INTEGER), 1), '' ORDER BY k.i) AS ct
             FROM keep k JOIN d USING (doc_id) GROUP BY k.doc_id)
      SELECT d.doc_id, CAST(d.n AS BIGINT) AS n_chars,
        CAST(d.n - COALESCE(length(cl.ct), 0) AS BIGINT) AS n_removed,
        md5(COALESCE(cl.ct, '')) AS clean_md5
      FROM d LEFT JOIN cl USING (doc_id) ORDER BY d.doc_id"""))

  /** IVF-PQ served from the PERSISTED index (`Similarity.writeIvfPqIndex`
    * + `ivfPqTopKIndexed`): codes live in a parquet layout partitioned by
    * `centroid_id`, built once per sf dir (the build-once/query-many
    * serving shape — at 100 TB a probe READS only the probed cells'
    * files via dynamic partition pruning, PqSpec-pinned). Same model and
    * algebra as q205, so the oracle is q205's SQL verbatim — the
    * materialization must be semantically invisible. */
  val q210_ivfpq_indexed: Q = Q(
    (s, d) => {
      val emb = table(s, d, "embeddings")
      val c = emb.select(col("vec_id").as("cid"), col("embedding"))
      val q = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding"))
      val books = Similarity.pqCodebooks(c, m = 8, ksub = 16)
      val idx = s"target/tmp/ivfpq_index_${new java.io.File(d).getName}_" +
        srcContentSig(d, "embeddings.parquet")
      if (!new java.io.File(s"$idx/_SUCCESS").exists())
        Similarity.writeIvfPqIndex(c, TrainedCentroids.sf001k8, books, idx)
      Similarity.ivfPqTopKIndexed(q, idx, c, TrainedCentroids.sf001k8, books,
        k = 10, nProbe = 2, rerankFactor = 3).orderBy("qid", "rank")
    },
    q205_ivfpq.sql)

  /** CORDEX-EUR-style rotated-pole grid (pole lon -162, lat 39.25),
    * 0.5-degree rotated pixels over Europe — the r10 kernel's data-plane
    * query (CF `rotated_latitude_longitude`; every COSMO/HIRLAM/RACMO
    * regional climate file). */
  def rotatedArea(w: Int = 80, h: Int = 60): AreaDef =
    AreaDef("cordex_eur_like",
      Crs.fromProj4("+proj=ob_tran +o_proj=longlat +o_lat_p=39.25 +o_lon_p=0 +lon_0=18 +a=6371000"),
      w, h, -20.0, -15.0, 20.0, 15.0)

  /** Bucket average on the rotated-pole grid — the spherical pole
    * rotation replayed in DuckDB trig (OracleSql.ObTranSql); 0.5-degree
    * cells dwarf the ~1-ulp libm drift in atan2/asin (the q199-q202
    * discipline). Closes r9 verdict gap #1: rotated-pole CF files now
    * construct AND resample. */
  val q208_bucket_rotated: Q = Q(
    (s, d) => {
      val area = rotatedArea()
      BucketResampler(area).average(
        DataReduce.reduceToArea(swath(s, d), area, 0.0), "value").orderBy("cell")
    },
    Some(bucketAvgSql(rotatedArea(), OracleSql.ObTranSql(rotatedArea()).fwdCtes(_, _, _))))

  /** Bucket average on a cylindrical equal-area grid (30N standard
    * parallel, WGS84 ellipsoid, ~100 km cells over the Mediterranean) —
    * the Snyder §10 q-algebra replayed exactly (`utils/cf.py:31`
    * lambert_cylindrical_equal_area). Closes r9 verdict gap #2. */
  def ceaArea(w: Int = 60, h: Int = 40): AreaDef =
    AreaDef("med_cea",
      Crs.fromProj4("+proj=cea +lat_ts=30 +lon_0=15 +a=6378137 +rf=298.257223563"),
      w, h, -3000000.0, 2800000.0, 3000000.0, 6800000.0)

  val q209_bucket_cea: Q = Q(
    (s, d) => {
      val area = ceaArea()
      BucketResampler(area).average(
        DataReduce.reduceToArea(swath(s, d), area, 0.0), "value").orderBy("cell")
    },
    Some(bucketAvgSql(ceaArea(), OracleSql.CeaSql(ceaArea()).fwdCtes(_, _, _))))

  /** Web-corpus ingest (`TextAnalysis.stripHtml` + `canonicalizeUrl`):
    * spec-exact HTML wrappers and messy URLs are synthesized from doc
    * keys (the q203 discipline), then the engine extracts text (script/
    * comment blocks dropped, tags → spaces, entities decoded, whitespace
    * collapsed), canonicalizes the URL (case/port/www/tracking-param/
    * fragment/trailing-slash normalization), and keeps the minimum
    * doc_id per canonical URL. The oracle never runs a regex: it
    * REBUILDS the expected clean text and canonical URL directly from
    * the generator, so the Spark-side regexp chain is checked against
    * ground truth. All per-row codegen + one tiny group-min — the 100 TB
    * ingest-front-door shape. */
  val q211_web_ingest: Q = Q(
    (s, d) => {
      val docs = table(s, d, "documents")
      val html = concat(
        lit("<html><head><title>T</title><script type=\"text/js\">var x = 1 < 2;</script>" +
          "</head><body><h1>A&amp;B &lt;ok&gt;</h1><!-- hidden --><p>"),
        col("text"),
        lit("</p>&nbsp;<div class=\"f\">end&#39;s &quot;q&quot;</div></body></html>"))
      // params deliberately out of order (z before id before a) so the
      // canonical form must SORT them, not just strip tracking params
      val url = concat(
        lit("HTTPS://WWW.Example"), (col("doc_id") % 7).cast("string"),
        lit(".COM:443/Path/"), (col("doc_id") % 50).cast("string"),
        lit("/?z=9&utm_source=feed&id="), (col("doc_id") % 5).cast("string"),
        lit("&a=1&fbclid=xyz#frag"))
      val cleaned = docs
        .withColumn("clean_text", TextAnalysis.stripHtml(html))
        .withColumn("canonical_url", TextAnalysis.canonicalizeUrl(url))
      val w = Window.partitionBy("canonical_url")
      cleaned
        .withColumn("keep", col("doc_id") === min("doc_id").over(w))
        .select(col("doc_id"), col("canonical_url"), col("keep"),
          length(col("clean_text")).cast("long").as("n_clean_chars"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
        'https://example' || CAST(doc_id % 7 AS VARCHAR) || '.com/Path/' ||
          CAST(doc_id % 50 AS VARCHAR) || '/?a=1&id=' || CAST(doc_id % 5 AS VARCHAR) ||
          '&z=9' AS canonical_url,
        doc_id = MIN(doc_id) OVER (PARTITION BY doc_id % 7, doc_id % 50, doc_id % 5) AS keep,
        CAST(length('T A&B <ok> ' || text || ' end''s "q"') AS BIGINT) AS n_clean_chars,
        md5('T A&B <ok> ' || text || ' end''s "q"') AS clean_md5
      FROM documents ORDER BY doc_id"""))

  /** Perceptual image dedup with a REAL decode (`Multimodal.imageNearDup`
    * / `MediaCodec.aHash63`): spec-exact 8×8 24-bit BMPs are synthesized
    * from doc keys (bottom-up rows, BGR, no padding — byte-for-byte the
    * BITMAPINFOHEADER layout q203's parser reads), ImageIO decodes them
    * back to the known pixels, the 63-bit average-hash bands into the
    * 5×13-bit equi-join (exact recall at maxDist 4 by pigeonhole — r11),
    * and exact Hamming (bit_count∘xor) keeps pairs ≤ 4.
    * Five brightness variants share each base image (doc_id % 100), so
    * true near-dups exist by construction. The oracle never decodes: it
    * recomputes the hash from the SAME pixel arithmetic (bit_or of
    * above-mean bits, bit 63 clear for BIGINT portability) and replays
    * the banding + Hamming relationally — the query passes only if
    * decode, luminance, mean, banding, and distance all match. */
  /** q212/q221/q222's shared image fixture: spec-exact 8×8 24-bit BMPs
    * synthesized from doc keys (bottom-up rows, BGR, no padding —
    * byte-for-byte the BITMAPINFOHEADER layout q203's parser reads).
    * Five brightness variants share each base (doc_id % 100), so the
    * corpus has both identical-aHash classes (variants whose +3·v pixel
    * nudge flips no bit) and near-dup pairs by construction. */
  private def bmpFixture(docs: DataFrame): DataFrame = {
    // 54-byte BITMAPINFOHEADER for 8x8 24bpp (bfSize 246, offBits 54)
    val header = "424DF6000000000000003600000028000000080000000800000001001800" +
      "00000000C000000000000000000000000000000000000000"
    def grayCol(x: Int, y: Int): Column = {
      val base = (col("doc_id") % 100) * 37 + lit(x * 17 + y * 29)
      val g0 = base % 199
      // variant capped mod 5: gray stays <= 210 < 256 at EVERY sf
      // (an uncapped doc_id DIV 100 would overflow the pixel byte at
      // sf0.1's 5000 docs and lpad would truncate silently)
      if (x == 0 && y == 0) g0 + (expr("doc_id DIV 100") % 5) * 3 else g0
    }
    // rows stored bottom-up (biHeight > 0): image row 7 first
    val pixelCols: Seq[Column] =
      for { ys <- 7 to 0 by -1; x <- 0 to 7 } yield {
        val hx = lpad(hex(grayCol(x, ys)), 2, "0")
        concat(hx, hx, hx) // B = G = R = gray
      }
    docs.withColumn("payload", unhex(concat((lit(header) +: pixelCols): _*)))
  }

  /** The px/tot/h CTE prefix every bmpFixture oracle shares: per-doc
    * pixel grid → total → 63-bit average hash (bit_or of above-mean
    * bits, bit 63 clear for BIGINT portability). */
  private val bmpAhashCtes: String =
    """px AS (SELECT doc_id, x, y,
          ((doc_id % 100) * 37 + x * 17 + y * 29) % 199 +
            CASE WHEN x = 0 AND y = 0 THEN ((doc_id // 100) % 5) * 3 ELSE 0 END AS gv
        FROM documents, range(0, 8) tx(x), range(0, 8) ty(y)),
      tot AS (SELECT doc_id, SUM(gv) AS total FROM px GROUP BY doc_id),
      h AS MATERIALIZED (SELECT px.doc_id,
          bit_or(CASE WHEN y * 8 + x < 63 AND 64 * gv > total
                 THEN 1::BIGINT << CAST(y * 8 + x AS INTEGER) ELSE 0::BIGINT END) AS ahash
        FROM px JOIN tot USING (doc_id) GROUP BY px.doc_id)"""

  val q212_image_neardup: Q = Q(
    (s, d) => {
      val withPayload = bmpFixture(table(s, d, "documents"))
      Multimodal.imageNearDup(withPayload, maxDist = 4,
        maxBandSize = Dedup.Uncapped, maxClassSize = Dedup.Uncapped).orderBy("d1", "d2")
    },
    Some(s"""WITH $bmpAhashCtes,
      bands AS (SELECT doc_id, ahash, b, (ahash >> (13 * b)) & 8191 AS band
                FROM h, range(0, 5) tb(b)),
      cand AS (SELECT DISTINCT a.doc_id AS d1, a.ahash AS h1, b.doc_id AS d2, b.ahash AS h2
               FROM bands a JOIN bands b
                 ON a.b = b.b AND a.band = b.band AND a.doc_id < b.doc_id)
      SELECT d1, d2, CAST(bit_count(xor(h1, h2)) AS INTEGER) AS dist
      FROM cand WHERE bit_count(xor(h1, h2)) <= 4 ORDER BY d1, d2"""))

  /** OPQ-style rotated product quantization (Ge et al. 2013, "Optimized
    * Product Quantization" — the rotate-then-PQ composition; here the
    * rotation is the offline-trained PCA basis of q94): embeddings are
    * projected through the baked [[TrainedProjection]] literals (per-row
    * codegen dots, round-6 — zero shuffles), and the ENTIRE PQ pipeline
    * (codebooks, encode, ADC, rerank) runs in the 8-dim rotated space
    * with m=4 two-dim subspaces. Demonstrates that the PQ plane composes
    * with any upstream linear map at no extra shuffle cost — the encode
    * fuses rotation + argmin into one map stage. Oracle: q94's projection
    * CTE (MATERIALIZED — the 64-term inner products must not inline into
    * the PQ cross joins, the q45 allocator lesson) feeding q204's PQ
    * chain at m=4, d=2. */
  val q213_opq_adc: Q = Q(
    (s, d) => {
      val emb = table(s, d, "embeddings")
      def rot(df: org.apache.spark.sql.DataFrame, outId: String) = {
        val p = Similarity.projectEmbeddings(
          df, TrainedProjection.comps, TrainedProjection.offsets)
        p.select(col("vec_id").as(outId),
          array((0 until TrainedProjection.comps.size).map(j => col(s"p$j")): _*)
            .as("embedding"))
      }
      val c = rot(emb, "cid")
      val q = rot(emb.filter(col("vec_id") % 50 === 0), "qid")
      val books = Similarity.pqCodebooks(c, m = 4, ksub = 16)
      Similarity.pqTopK(q, c, books, k = 10, rerankFactor = 3).orderBy("qid", "rank")
    },
    Some {
      val m = 4; val d = 2
      val pCols = TrainedProjection.comps.zip(TrainedProjection.offsets).zipWithIndex
        .map { case ((v, c), j) =>
          s"ROUND(list_inner_product(v0, [${v.mkString(", ")}]) - ($c), 6)"
        }.mkString(", ")
      def sq(mi: Int) = (0 until d).map { di =>
        val i = mi * d + di + 1
        s"(c.v[$i] - dn.v[$i]) * (c.v[$i] - dn.v[$i])"
      }.mkString(" + ")
      def dot(mi: Int) = (0 until d).map { di =>
        val i = mi * d + di + 1
        s"q.v[$i] * dn.v[$i]"
      }.mkString(" + ")
      val dCols = (0 until m).map(mi => s"ROUND(${sq(mi)}, 6) AS d$mi").mkString(",\n          ")
      val tCols = (0 until m).map(mi => s"ROUND(${dot(mi)}, 6) AS t$mi").mkString(",\n          ")
      val dLists = (0 until m).map(mi => s"list(d$mi ORDER BY j) AS dl$mi").mkString(", ")
      val tLists = (0 until m).map(mi => s"list(t$mi ORDER BY j) AS tl$mi").mkString(", ")
      val codeCols = (0 until m).map(mi =>
        s"CAST(list_position(dl$mi, list_min(dl$mi)) AS INT) AS c$mi").mkString(", ")
      val adcSum = (0 until m).map(mi => s"l.tl$mi[k.c$mi]").mkString(" + ")
      s"""WITH emb0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0 FROM embeddings),
        emb AS MATERIALIZED (SELECT vec_id, [$pCols] AS v FROM emb0),
        dn AS (SELECT vec_id AS j, v FROM emb WHERE vec_id < 16),
        encd AS (SELECT c.vec_id AS cid, dn.j,
          $dCols
          FROM emb c CROSS JOIN dn),
        codel AS (SELECT cid, $dLists FROM encd GROUP BY cid),
        code AS (SELECT cid, $codeCols FROM codel),
        lutd AS (SELECT q.vec_id AS qid, dn.j,
          $tCols
          FROM emb q CROSS JOIN dn WHERE q.vec_id % 50 = 0),
        lutl AS (SELECT qid, $tLists FROM lutd GROUP BY qid),
        sc AS (SELECT l.qid, k.cid, $adcSum AS adc FROM lutl l CROSS JOIN code k),
        s1 AS (SELECT qid, cid, adc,
                 ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc DESC, cid ASC) AS r1 FROM sc),
        surv AS (SELECT qid, cid, adc FROM s1 WHERE r1 <= 30),
        rr AS (SELECT s.qid, s.cid, s.adc,
                 ROUND(list_cosine_similarity(q.v, c.v), 6) AS sim_r
               FROM surv s JOIN emb q ON q.vec_id = s.qid JOIN emb c ON c.vec_id = s.cid),
        rk AS (SELECT qid, cid, adc, sim_r,
                 CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim_r DESC, cid ASC) AS INTEGER) AS rank FROM rr)
        SELECT qid, cid, rank, sim_r AS sim, adc FROM rk WHERE rank <= 10 ORDER BY qid, rank"""
    })

  /** Perceptual AUDIO dedup with a REAL decode (`Multimodal.audioNearDup`
    * / `MediaCodec.audioFp63`): spec-exact 16-bit PCM mono WAVs (44-byte
    * canonical RIFF header + 256 little-endian int16 frames) are
    * synthesized from doc keys, the engine decodes them back to the
    * known samples (RIFF chunk walk, sign-extended LE16), fingerprints
    * via 64-window energy sign bits (Haitsma–Kalker family), and bands
    * into the 5×13-bit Hamming join — the q212 discipline on the audio
    * modality. Five amplitude variants share each base signal
    * (doc_id % 100), perturbing samples 0 and 128 (windows 0 and 32), so
    * true near-dups exist by construction and the two perturbed windows
    * flip ≤ 4 of the 63 bits. The oracle never decodes: it recomputes
    * window energies from the SAME integer sample arithmetic and replays
    * the banding + Hamming relationally. */
  val q214_audio_neardup: Q = Q(
    (s, d) => {
      val docs = table(s, d, "documents")
      // ONE higher-order transform over sequence(0,255) instead of 256
      // per-sample expression columns: the column-per-sample form was a
      // ~2,000-node projection that fell out of whole-stage codegen
      // (7.5 s at sf0.1); the lambda loop keeps the fixture build
      // codegen'd. The 556-byte payload (canonical RIFF(548) WAVE
      // fmt(PCM,1ch,8kHz,16bit) data(512) header + 256 LE int16 frames)
      // is then assembled by ONE native encode call (r18): the previous
      // hex-string chain (hex → lpad → substring×2 → concat →
      // array_join → unhex) evaluated the sample expression twice per
      // sample and built ~1 KB of intermediate string per doc —
      // PcmWavSpec pins byte-for-byte parity with that chain.
      val sample =
        """((doc_id % 100) * 31 + i * 17) % 2048 - 1024 +
          |  CASE WHEN i = 0   THEN (doc_id DIV 100) % 5 * 5
          |       WHEN i = 128 THEN (doc_id DIV 100) % 5 * 7
          |       ELSE 0 END""".stripMargin
      val payload = graft.functions.PcmWavExpr.column(
        expr(s"transform(sequence(0, 255), i -> $sample)"))
      Multimodal.audioNearDup(docs.withColumn("payload", payload), maxDist = 4,
          maxBandSize = Dedup.Uncapped, maxClassSize = Dedup.Uncapped)
        .orderBy("d1", "d2")
    },
    Some("""WITH sm AS (SELECT doc_id, i,
          ((doc_id % 100) * 31 + i * 17) % 2048 - 1024 +
            CASE WHEN i = 0 THEN ((doc_id // 100) % 5) * 5
                 WHEN i = 128 THEN ((doc_id // 100) % 5) * 7 ELSE 0 END AS s
        FROM documents, range(0, 256) t(i)),
      en AS (SELECT doc_id, i // 4 AS w, SUM(s * s) AS e FROM sm GROUP BY doc_id, i // 4),
      h AS (SELECT a.doc_id,
          bit_or(CASE WHEN a.e > b.e THEN 1::BIGINT << CAST(a.w AS INTEGER) ELSE 0::BIGINT END) AS fp
        FROM en a JOIN en b ON b.doc_id = a.doc_id AND b.w = a.w + 1
        GROUP BY a.doc_id),
      bands AS (SELECT doc_id, fp, b, (fp >> (13 * b)) & 8191 AS band
                FROM h, range(0, 5) tb(b)),
      cand AS (SELECT DISTINCT a.doc_id AS d1, a.fp AS h1, b.doc_id AS d2, b.fp AS h2
               FROM bands a JOIN bands b
                 ON a.b = b.b AND a.band = b.band AND a.doc_id < b.doc_id)
      SELECT d1, d2, CAST(bit_count(xor(h1, h2)) AS INTEGER) AS dist
      FROM cand WHERE bit_count(xor(h1, h2)) <= 4 ORDER BY d1, d2"""))

  /** Incremental dedup against the PERSISTED MinHash index
    * (`Dedup.writeMinhashIndex` + `dedupAgainstMinhashIndex`): the even
    * half of the corpus becomes the reference index (banded signature
    * rows, built once per sf dir — the q210 build-once discipline), the
    * odd half is the "ingest batch" deduplicated against it by the
    * signature-estimate decision (matches ≥ 4 of 8 ⟺ est ≥ 0.5) — the
    * reference TEXT is never read at probe time. The oracle replays the
    * whole lifecycle relationally: same md5 hash family, same 4×2
    * banding, same integer match count and keep rule. */
  val q215_minhash_index: Q = Q(
    (s, d) => {
      val docs = table(s, d, "documents")
      val idx = s"target/tmp/minhash_index_${new java.io.File(d).getName}_" +
        srcContentSig(d, "documents.parquet")
      if (!new java.io.File(s"$idx/_SUCCESS").exists())
        Dedup.writeMinhashIndex(docs.filter(col("doc_id") % 2 === 0), idx)
      Dedup.dedupAgainstMinhashIndex(docs.filter(col("doc_id") % 2 === 1), idx)
        .select(col("doc_id"), col("keep"), col("dup_of"), col("n_ref_dups"))
        .orderBy("doc_id")
    },
    Some {
      val sigs = (1 to 8)
        .map(i => "list_min(list_transform(bgs, x -> " +
          s"CAST('0x' || substr(md5(x || '#$i'), 1, 15) AS BIGINT))) AS h$i")
        .mkString(", ")
      val matches = (1 to 8)
        .map(i => s"(CASE WHEN s1.h$i = s2.h$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH bg AS (SELECT doc_id, list_distinct(${duckGrams(2)}) AS bgs
          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        sig AS MATERIALIZED (SELECT doc_id, $sigs FROM bg),
        bands AS (
          SELECT doc_id, 0 AS band_idx, CAST(h1 AS VARCHAR) || '_' || CAST(h2 AS VARCHAR) AS band FROM sig
          UNION ALL SELECT doc_id, 1 AS band_idx, CAST(h3 AS VARCHAR) || '_' || CAST(h4 AS VARCHAR) AS band FROM sig
          UNION ALL SELECT doc_id, 2 AS band_idx, CAST(h5 AS VARCHAR) || '_' || CAST(h6 AS VARCHAR) AS band FROM sig
          UNION ALL SELECT doc_id, 3 AS band_idx, CAST(h7 AS VARCHAR) || '_' || CAST(h8 AS VARCHAR) AS band FROM sig),
        cand AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS ref_id
                 FROM bands a JOIN bands b
                   ON a.band_idx = b.band_idx AND a.band = b.band
                 WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0),
        m AS (SELECT c.new_id, c.ref_id, $matches AS matches
              FROM cand c JOIN sig s1 ON s1.doc_id = c.new_id
                          JOIN sig s2 ON s2.doc_id = c.ref_id),
        mm AS (SELECT new_id, MIN(ref_id) AS dup_of,
                 CAST(COUNT(DISTINCT ref_id) AS BIGINT) AS n_ref_dups
               FROM m WHERE matches >= 4 GROUP BY new_id)
        SELECT d.doc_id, mm.new_id IS NULL AS keep, mm.dup_of,
          COALESCE(mm.n_ref_dups, 0) AS n_ref_dups
        FROM documents d LEFT JOIN mm ON mm.new_id = d.doc_id
        WHERE d.doc_id % 2 = 1 ORDER BY d.doc_id"""
    })

  /** Cluster-aware leakage-safe split (`Selection.splitByCluster`):
    * q102's content-hash split closes the exact-duplicate leakage hole;
    * this closes the NEAR-duplicate one — q64's Jaccard components give
    * the clusters, the train/valid/test draw hashes the CLUSTER label,
    * so no near-dup pair can straddle train/eval. Oracle: q64's
    * recursive-CTE components feeding q102's mantissa-exact uniform,
    * keyed on the cluster id instead of the content hash. */
  val q216_cluster_split: Q = Q(
    (s, d) => {
      val docs = table(s, d, "documents")
      Selection.splitClusterLabels(
          Dedup.ngramClusterLabels(docs, Seq("lang", "n_chars"),
            maxBlockSize = Dedup.Uncapped))
        .select("doc_id", "cluster_id", "split")
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE $blockedJaccardPairsSql,
      pairs AS MATERIALIZED (SELECT d1, d2 FROM v
                WHERE CAST(i AS DOUBLE) / CAST(sz1 + sz2 - i AS DOUBLE) >= 0.3),
      verts(id) AS (SELECT d1 FROM pairs UNION SELECT d2 FROM pairs),
      edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
                UNION ALL SELECT d2 AS src, d1 AS dst FROM pairs),
      walk(id, label) AS (
        SELECT id, id FROM verts
        UNION
        SELECT e.src, w.label FROM edges e JOIN walk w ON w.id = e.dst),
      lab AS (SELECT id, MIN(label) AS cluster_id FROM walk GROUP BY id),
      cl AS (SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
             FROM documents d LEFT JOIN lab l ON l.id = d.doc_id),
      sp AS (SELECT doc_id, cluster_id,
          CAST((CAST('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15) AS BIGINT)
            % 4503599627370496 + 1) AS DOUBLE) / 4503599627370497 AS u
        FROM cl)
      SELECT doc_id, cluster_id,
        CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'valid'
             ELSE 'test' END AS split
      FROM sp ORDER BY doc_id"""))

  /** IVF range (radius) search (`Similarity.ivfRangeSearch`): all pairs
    * with round-6 cosine ≥ 0.3 among the query's 2 probed cells — the
    * range twin of q205's top-k, same trained centroids, no per-query
    * state. Oracle replays assignment (q205's CTEs) then joins and
    * filters exactly. */
  val q217_ivf_range: Q = Q(
    (s, d) => {
      val emb = table(s, d, "embeddings")
      val c = emb.select(col("vec_id").as("cid"), col("embedding"))
      val q = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding"))
      Similarity.ivfRangeSearch(q, c, TrainedCentroids.sf001k8,
        minSim = 0.3, nProbe = 2).orderBy("qid", "cid")
    },
    Some(s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      ctr(centroid_id, cemb) AS (VALUES
      ${TrainedCentroids.sf001k8Sql}),
      ca AS (SELECT e.vec_id AS cid, t.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 ROUND(list_cosine_similarity(e.v, t.cemb), 6) DESC,
                 t.centroid_id ASC) AS crk
             FROM emb e CROSS JOIN ctr t),
      cass AS (SELECT cid, centroid_id FROM ca WHERE crk = 1),
      qa AS (SELECT e.vec_id AS qid, t.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 ROUND(list_cosine_similarity(e.v, t.cemb), 6) DESC,
                 t.centroid_id ASC) AS crk
             FROM emb e CROSS JOIN ctr t WHERE e.vec_id % 50 = 0),
      qass AS (SELECT qid, centroid_id FROM qa WHERE crk <= 2),
      sc AS (SELECT qs.qid, a.cid,
               ROUND(list_cosine_similarity(q.v, c.v), 6) AS sim
             FROM qass qs JOIN cass a ON a.centroid_id = qs.centroid_id
             JOIN emb q ON q.vec_id = qs.qid JOIN emb c ON c.vec_id = a.cid)
      SELECT qid, cid, sim FROM sc WHERE sim >= 0.3 AND NOT isnan(sim)
      ORDER BY qid, cid"""))

  /** The curation pipeline END TO END in one declarative plan: quality
    * gate (q28's scorer) → exact-content dedup canonical (q22's
    * fingerprint, min-id keep) → leakage-safe split (q102's content
    * hash) → per-(split, lang) corpus report. The point is COMPOSITION:
    * four stages, one Catalyst plan, no materialization between stages —
    * the gate's semi-join feeds the fingerprint groupBy feeds the
    * zero-shuffle split draw feeds one final aggregate. Oracle chains
    * the same four stages' existing bit-exact idioms. */
  val q218_pipeline_report: Q = Q(
    (s, d) => {
      val docs = table(s, d, "documents")
      val gate = TextAnalysis.quality(docs)
        .filter(col("n_words") >= 8 && col("stop_ratio") >= 0.1)
        .select("doc_id")
      val kept = Dedup.dropFingerprintDuplicates(
        docs.join(gate, Seq("doc_id"), "left_semi"))
      Selection.splitByContent(kept)
        .select(col("split"), col("lang"), col("fp"),
          size(split(col("text"), " ")).cast("long").as("_nw"))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"), countDistinct("fp").as("n_fp"),
          sum("_nw").as("n_tokens"))
        .orderBy("split", "lang")
    },
    Some(s"""WITH w AS (SELECT doc_id, lang, text, string_split(text, ' ') AS w FROM documents),
      q AS (SELECT doc_id, lang, text, w, CAST(len(w) AS BIGINT) AS n_words,
              CAST($duckStopHits AS BIGINT) AS stop_hits FROM w),
      g AS (SELECT doc_id, lang, text, w, n_words FROM q
            WHERE n_words >= 8 AND CAST(stop_hits AS DOUBLE) / n_words >= 0.1),
      f AS (SELECT g.*, md5(array_to_string(list_sort(list_distinct(w)), ' ')) AS fset FROM g),
      k AS (SELECT doc_id, lang, text, n_words FROM f
            QUALIFY ROW_NUMBER() OVER (PARTITION BY fset ORDER BY doc_id ASC) = 1),
      sp AS (SELECT lang, n_words,
               CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS fp,
               CAST((CAST('0x' || substr(md5(text), 1, 15) AS BIGINT)
                 % 4503599627370496 + 1) AS DOUBLE) / 4503599627370497 AS u
             FROM k)
      SELECT CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'valid'
               ELSE 'test' END AS split,
        lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_fp,
        CAST(SUM(n_words) AS BIGINT) AS n_tokens
      FROM sp GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** MinHash-LSH with the hot-bucket cap (`maxBandSize = 5`): bands
    * shared by more than 5 docs are pruned before the candidate
    * self-join — the guard that keeps ONE degenerate bucket (empty or
    * templated content) from turning the candidate join quadratic at
    * corpus scale. The verify threshold is deliberately 0.05 so the cap
    * is OUTPUT-visible at this sf: the sf0.01 band histogram has
    * buckets of 11 and 6 whose collision pairs reach jaccard 0.073 —
    * uncapped they would pass this verify, so a no-op cap
    * implementation cannot hash-match the oracle. */
  val q219_lsh_bandcap: Q = Q(
    (s, d) => Dedup.minhashLsh(docsRebalanced(s, d), threshold = 0.05, maxBandSize = 5)
      .orderBy("d1", "d2"),
    Some(s"""WITH ${minhashPairCtes(Some(5))}
      SELECT d1, d2, CAST(i AS DOUBLE) / CAST(sz1 + sz2 - i AS DOUBLE) AS jaccard
      FROM v WHERE CAST(i AS DOUBLE) / CAST(sz1 + sz2 - i AS DOUBLE) >= 0.05
      ORDER BY d1, d2"""))

  /** Index DELETE lifecycle (`Dedup.deleteFromMinhashIndex`): q215's
    * incremental dedup with every `doc_id % 10 == 0` reference
    * tombstoned after the build — probes must behave as if those docs
    * never entered the index (dup_of moves or the doc flips to keep).
    * The oracle simply excludes the deleted ids from the reference
    * side; any tombstone leak (a decision still citing a deleted ref)
    * hash-mismatches. */
  val q220_index_delete: Q = Q(
    (s, d) => {
      val docs = table(s, d, "documents")
      val idx = s"target/tmp/minhash_index_del_${new java.io.File(d).getName}_" +
        srcContentSig(d, "documents.parquet")
      if (!new java.io.File(s"$idx/_SUCCESS").exists())
        Dedup.writeMinhashIndex(docs.filter(col("doc_id") % 2 === 0), idx)
      // _SUCCESS-guarded like the build (r12): tombstone() appends one
      // parquet file per call, so an unconditional delete grew the
      // cached per-sf index dir by a file per verify/bench run
      // (decisions stayed correct via distinct; only the file count
      // grew). The guard keeps the delete idempotent AND bounded; a
      // crash between the set's parquet commit and _SUCCESS re-runs it.
      if (!new java.io.File(s"$idx/_graft_tombstones/_SUCCESS").exists())
        Dedup.deleteFromMinhashIndex(s, idx,
          docs.filter(col("doc_id") % 10 === 0).select("doc_id"))
      Dedup.dedupAgainstMinhashIndex(docs.filter(col("doc_id") % 2 === 1), idx)
        .select(col("doc_id"), col("keep"), col("dup_of"), col("n_ref_dups"))
        .orderBy("doc_id")
    },
    Some {
      val sigs = (1 to 8)
        .map(i => "list_min(list_transform(bgs, x -> " +
          s"CAST('0x' || substr(md5(x || '#$i'), 1, 15) AS BIGINT))) AS h$i")
        .mkString(", ")
      val matches = (1 to 8)
        .map(i => s"(CASE WHEN s1.h$i = s2.h$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH bg AS (SELECT doc_id, list_distinct(${duckGrams(2)}) AS bgs
          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        sig AS MATERIALIZED (SELECT doc_id, $sigs FROM bg),
        bands AS (
          SELECT doc_id, 0 AS band_idx, CAST(h1 AS VARCHAR) || '_' || CAST(h2 AS VARCHAR) AS band FROM sig
          UNION ALL SELECT doc_id, 1 AS band_idx, CAST(h3 AS VARCHAR) || '_' || CAST(h4 AS VARCHAR) AS band FROM sig
          UNION ALL SELECT doc_id, 2 AS band_idx, CAST(h5 AS VARCHAR) || '_' || CAST(h6 AS VARCHAR) AS band FROM sig
          UNION ALL SELECT doc_id, 3 AS band_idx, CAST(h7 AS VARCHAR) || '_' || CAST(h8 AS VARCHAR) AS band FROM sig),
        cand AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS ref_id
                 FROM bands a JOIN bands b
                   ON a.band_idx = b.band_idx AND a.band = b.band
                 WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0 AND b.doc_id % 10 <> 0),
        m AS (SELECT c.new_id, c.ref_id, $matches AS matches
              FROM cand c JOIN sig s1 ON s1.doc_id = c.new_id
                          JOIN sig s2 ON s2.doc_id = c.ref_id),
        mm AS (SELECT new_id, MIN(ref_id) AS dup_of,
                 CAST(COUNT(DISTINCT ref_id) AS BIGINT) AS n_ref_dups
               FROM m WHERE matches >= 4 GROUP BY new_id)
        SELECT d.doc_id, mm.new_id IS NULL AS keep, mm.dup_of,
          COALESCE(mm.n_ref_dups, 0) AS n_ref_dups
        FROM documents d LEFT JOIN mm ON mm.new_id = d.doc_id
        WHERE d.doc_id % 2 = 1 ORDER BY d.doc_id"""
    })

  /** Identical-fingerprint CLASSES as first-class output
    * (`Multimodal.imageDupClusters`, r12): one row per distinct aHash
    * with population and min-id representative — the scale
    * representation of exact perceptual duplicates (a constant-payload
    * class of millions is ONE row here vs n²/2 enumerated pairs). The
    * oracle recomputes the hash from the pixel arithmetic and groups. */
  val q221_image_dup_classes: Q = Q(
    (s, d) => Multimodal.imageDupClusters(bmpFixture(table(s, d, "documents")))
      .orderBy("rep_id"),
    Some(s"""WITH $bmpAhashCtes
      SELECT ahash AS fp, CAST(COUNT(*) AS BIGINT) AS n_members,
        MIN(doc_id) AS rep_id
      FROM h GROUP BY 1 ORDER BY rep_id"""))

  /** The r12 hot-bucket guards on the banded Hamming near-dup engine,
    * OUTPUT-VISIBLE at this sf (the q219 discipline): `maxClassSize = 8`
    * excludes identical-aHash classes larger than 8 (the fixture has
    * classes up to 15 — 33 of 61 pruned at sf0.01) and `maxBandSize = 3`
    * drops band buckets holding more than 3 DISTINCT fingerprints (the
    * fixture's occupancy reaches 5). A no-op cap implementation cannot
    * hash-match: the uncapped output is 8,869 rows here vs 685 capped.
    * The oracle replays class gate → distinct-fp banding → occupancy
    * filter → verified expansion relationally. */
  val q222_fp_capped: Q = Q(
    (s, d) => Multimodal.imageNearDup(bmpFixture(table(s, d, "documents")),
        maxDist = 4, maxBandSize = 3, maxClassSize = 8)
      .orderBy("d1", "d2"),
    Some(s"""WITH $bmpAhashCtes,
      cls AS MATERIALIZED (SELECT ahash, COUNT(*) AS n FROM h GROUP BY ahash),
      keptfp AS (SELECT ahash FROM cls WHERE n <= 8),
      kh AS MATERIALIZED (SELECT h.doc_id, h.ahash FROM h JOIN keptfp USING (ahash)),
      same AS (SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(0 AS INTEGER) AS dist
               FROM kh a JOIN kh b ON a.ahash = b.ahash AND a.doc_id < b.doc_id),
      bands AS (SELECT ahash, b, (ahash >> (13 * b)) & 8191 AS band
                FROM keptfp, range(0, 5) tb(b)),
      occ AS (SELECT b, band FROM bands GROUP BY b, band HAVING COUNT(*) <= 3),
      kb AS (SELECT bands.* FROM bands JOIN occ USING (b, band)),
      fpd AS (SELECT f1, f2, CAST(bit_count(xor(f1, f2)) AS INTEGER) AS dist
              FROM (SELECT DISTINCT a.ahash AS f1, b.ahash AS f2
                    FROM kb a JOIN kb b
                      ON a.b = b.b AND a.band = b.band AND a.ahash < b.ahash)
              WHERE bit_count(xor(f1, f2)) BETWEEN 1 AND 4),
      near AS (SELECT LEAST(x.doc_id, y.doc_id) AS d1,
                 GREATEST(x.doc_id, y.doc_id) AS d2, dist
               FROM fpd JOIN kh x ON x.ahash = fpd.f1 JOIN kh y ON y.ahash = fpd.f2)
      SELECT d1, d2, dist FROM same
      UNION ALL SELECT d1, d2, dist FROM near ORDER BY d1, d2"""))

  /** q217's range search SERVED from the persisted IVF-PQ index
    * (`Similarity.ivfRangeSearchIndexed`, r12): corpus-side assignment
    * read from the stored (cid, centroid_id) rows (never re-assigned per
    * batch), probed cells statically pruned, exact rerank against the
    * full-precision store. Bit-identical to q217, so it shares q217's
    * oracle — a probe/assignment drift between the persisted and
    * in-memory paths hash-mismatches. Reuses q210's cached index. */
  val q223_ivf_range_indexed: Q = Q(
    (s, d) => {
      val emb = table(s, d, "embeddings")
      val c = emb.select(col("vec_id").as("cid"), col("embedding"))
      val q = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding"))
      val books = Similarity.pqCodebooks(c, m = 8, ksub = 16)
      val idx = s"target/tmp/ivfpq_index_${new java.io.File(d).getName}_" +
        srcContentSig(d, "embeddings.parquet")
      if (!new java.io.File(s"$idx/_SUCCESS").exists())
        Similarity.writeIvfPqIndex(c, TrainedCentroids.sf001k8, books, idx)
      Similarity.ivfRangeSearchIndexed(q, idx, c, TrainedCentroids.sf001k8, books,
        minSim = 0.3, nProbe = 2).orderBy("qid", "cid")
    },
    q217_ivf_range.sql)

  /** The persisted FINGERPRINT index lifecycle on the multimodal plane
    * (r12, `Multimodal.writeImageFpIndex` / `deleteFromFpIndex` /
    * `dedupAgainstImageFpIndex`): even doc_ids' BMPs build the banded
    * aHash index ONCE (cached, _SUCCESS-guarded), every `% 10 == 0`
    * reference is tombstoned (the q220 discipline — guarded so repeat
    * runs don't grow the cached dir), and the odd half probes: decode
    * once on the batch side, band-join the stored fingerprints, exact
    * Hamming from STORED fps (reference media never re-read). The
    * oracle recomputes the hash from the pixel arithmetic and replays
    * banding + Hamming + the delete exclusion relationally — a
    * tombstone leak or a banding drift hash-mismatches. */
  val q224_fp_index: Q = Q(
    (s, d) => {
      val docs = bmpFixture(table(s, d, "documents"))
      val idx = s"target/tmp/imagefp_index_${new java.io.File(d).getName}_" +
        srcContentSig(d, "documents.parquet")
      if (!new java.io.File(s"$idx/_SUCCESS").exists())
        Multimodal.writeImageFpIndex(docs.filter(col("doc_id") % 2 === 0), idx)
      if (!new java.io.File(s"$idx/_graft_tombstones/_SUCCESS").exists())
        Multimodal.deleteFromFpIndex(s, idx,
          docs.filter(col("doc_id") % 10 === 0).select("doc_id"))
      Multimodal.dedupAgainstImageFpIndex(docs.filter(col("doc_id") % 2 === 1), idx)
        .select(col("doc_id"), col("keep"), col("dup_of"), col("n_ref_dups"))
        .orderBy("doc_id")
    },
    Some(s"""WITH $bmpAhashCtes,
      bands AS (SELECT doc_id, ahash, b, (ahash >> (13 * b)) & 8191 AS band
                FROM h, range(0, 5) tb(b)),
      m AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS ref_id
            FROM bands a JOIN bands b ON a.b = b.b AND a.band = b.band
            WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0 AND b.doc_id % 10 <> 0
              AND bit_count(xor(a.ahash, b.ahash)) <= 4),
      mm AS (SELECT new_id, MIN(ref_id) AS dup_of,
               CAST(COUNT(DISTINCT ref_id) AS BIGINT) AS n_ref_dups
             FROM m GROUP BY new_id)
      SELECT d.doc_id, mm.new_id IS NULL AS keep, mm.dup_of,
        COALESCE(mm.n_ref_dups, 0) AS n_ref_dups
      FROM documents d LEFT JOIN mm ON mm.new_id = d.doc_id
      WHERE d.doc_id % 2 = 1 ORDER BY d.doc_id"""))

  /** The r12 hot-bucket cap on the embedding LSH near-dup join
    * (`cosineNearDup(maxBandSize = 5)`): an 8-bit band has only 256
    * values, so buckets are structurally hot at corpus scale; buckets
    * above the cap are dropped before the self-join — OUTPUT-VISIBLE at
    * this sf (the band occupancy histogram reaches 9; cap 5 prunes 15
    * buckets, and some of their pairs pass the 0.2 verify, so a no-op
    * cap cannot hash-match). Oracle = q52's baked-hyperplane replay
    * plus the occupancy filter. */
  val q225_cosine_bandcap: Q = Q(
    (s, d) =>
      Similarity.cosineNearDup(table(s, d, "embeddings"), dim = 64,
          threshold = 0.2, maxBandSize = 5)
        .orderBy("d1", "d2"),
    Some {
      val planes = Similarity.hyperplanes(nBits = 16, dim = 64, seed = 42L)
      val sig = planes.zipWithIndex.map { case (p, i) =>
        val lst = p.map(OracleSql.slit).mkString("[", ", ", "]")
        s"CASE WHEN list_inner_product(CAST(embedding AS DOUBLE[]), $lst) >= 0 THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
      }.mkString(" + ")
      s"""WITH sigs AS (SELECT vec_id, $sig AS sig FROM embeddings),
      bands AS (SELECT vec_id, bi.i AS band_idx, (sig // (CASE bi.i WHEN 0 THEN 1 ELSE 256 END)) % 256 AS band
                FROM sigs CROSS JOIN (VALUES (0), (1)) bi(i)),
      keptb AS (SELECT band_idx, band FROM bands GROUP BY 1, 2 HAVING COUNT(*) <= 5),
      kb AS (SELECT bands.* FROM bands JOIN keptb USING (band_idx, band)),
      cand AS (SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
               FROM kb a JOIN kb b
                 ON a.band_idx = b.band_idx AND a.band = b.band AND a.vec_id < b.vec_id),
      vv AS (SELECT c.d1, c.d2,
               ROUND(list_cosine_similarity(CAST(e1.embedding AS DOUBLE[]), CAST(e2.embedding AS DOUBLE[])), 6) AS sim
             FROM cand c JOIN embeddings e1 ON e1.vec_id = c.d1 JOIN embeddings e2 ON e2.vec_id = c.d2)
      SELECT d1, d2, sim FROM vv WHERE sim >= 0.2 ORDER BY d1, d2"""
    })

  /** Transitive near-dup clustering on the MINHASH plane
    * (`Dedup.minhashNearDupClusters`, r13): q64's component semantics
    * with q25's banded-LSH pair generator, computed via the exact-class
    * collapse (`minhashClusterLabels` — reps by shingle-set digest,
    * components over reps, membership expanded back). The oracle replays
    * the UNCOLLAPSED form — q25's row-local minhash pair CTEs feeding
    * q64's recursive-CTE closure — which the collapse must reproduce
    * bit-for-bit (NgramCollapseSpec pins the same equivalence on crafted
    * corpora). */
  val q226_minhash_clusters: Q = Q(
    (s, d) => Dedup.minhashClusterLabels(docsRebalanced(s, d),
        threshold = 0.4, maxBandSize = Dedup.Uncapped)
      .withColumn("keep", col("cluster_id") === col("doc_id"))
      .select("doc_id", "cluster_id", "keep")
      .orderBy("doc_id"),
    Some(s"""WITH RECURSIVE $minhashPairCtes,
      pairs AS MATERIALIZED (SELECT d1, d2 FROM v
                WHERE CAST(i AS DOUBLE) / CAST(sz1 + sz2 - i AS DOUBLE) >= 0.4),
      verts(id) AS (SELECT d1 FROM pairs UNION SELECT d2 FROM pairs),
      edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
                UNION ALL SELECT d2 AS src, d1 AS dst FROM pairs),
      walk(id, label) AS (
        SELECT id, id FROM verts
        UNION
        SELECT e.src, w.label FROM edges e JOIN walk w ON w.id = e.dst),
      lab AS (SELECT id, MIN(label) AS cluster_id FROM walk GROUP BY id)
      SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
        (COALESCE(l.cluster_id, d.doc_id) = d.doc_id) AS keep
      FROM documents d LEFT JOIN lab l ON l.id = d.doc_id
      ORDER BY d.doc_id"""))

  /** Incremental cluster maintenance (`Dedup.updateClusterLabels`, r13):
    * "yesterday's corpus" (doc_id % 3 ≠ 0) is clustered first; "today's
    * ingest" (doc_id % 3 = 0) arrives as the pairs touching any new doc,
    * and the update merges them into the old label table via star-edge
    * propagation — WITHOUT re-generating or re-propagating the old
    * corpus's pairs. The oracle is q64's full-closure SQL verbatim: the
    * incremental result must be indistinguishable from clustering the
    * whole corpus from scratch. */
  val q227_incremental_clusters: Q = Q(
    (s, d) => {
      val docs = table(s, d, "documents")
      // ONE pair-generation pass, checkpointed, split into "yesterday"
      // (both ends old) and "today's ingest" (touching a new doc) — the
      // corpus is never re-paired for the update
      val pairs = Dedup.ngramJaccard(docs, Seq("lang", "n_chars"),
          maxBlockSize = Dedup.Uncapped)
        .select("d1", "d2").barrier()
      val oldLabels = Dedup.nearDupClusters(
          docs.filter(col("doc_id") % 3 =!= 0).select("doc_id"),
          pairs.filter(col("d1") % 3 =!= 0 && col("d2") % 3 =!= 0))
        .select(col("doc_id").as("id"), col("cluster_id"))
      val newPairs = pairs.filter(col("d1") % 3 === 0 || col("d2") % 3 === 0)
      docs
        .join(Dedup.updateClusterLabels(oldLabels, newPairs)
          .withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
        .withColumn("keep", col("cluster_id") === col("doc_id"))
        .select("doc_id", "cluster_id", "keep")
        .orderBy("doc_id")
    },
    q64_neardup_clusters.sql)

  /** Delta-generation cluster maintenance (r14): q227's incremental
    * scenario driven THROUGH the persisted label plane in DELTA mode —
    * "yesterday" lands as a full base generation, "today's ingest"
    * merges in two delta batches (`mergeClusterLabels(delta = true,
    * maxChain = 2)`: one O(touched) delta write, then the second merge
    * auto-folds the chain into a fresh full base), and the final chain
    * read must STILL be byte-indistinguishable from clustering the whole
    * corpus from scratch (q64's full-closure oracle, verbatim). The
    * label dir is rebuilt fresh per run — chain shape is part of what
    * this query exercises. */
  val q228_delta_clusters: Q = Q(
    (s, d) => {
      val docs = table(s, d, "documents")
      // "yesterday's" state — pair table + old labels — is the INPUT to
      // the lifecycle under test, cached once per sf like q220's index
      // build (content-sig keyed, _SUCCESS-guarded); the measured work
      // is the persisted-plane maintenance itself
      val fix = s"target/tmp/labels_delta_fix_${new java.io.File(d).getName}_" +
        srcContentSig(d, "documents.parquet")
      if (!new java.io.File(s"$fix/old_labels.parquet/_SUCCESS").exists()) {
        val p = Dedup.ngramJaccard(docs, Seq("lang", "n_chars"),
            maxBlockSize = Dedup.Uncapped)
          .select("d1", "d2").barrier()
        p.write.mode("overwrite").parquet(s"$fix/pairs.parquet")
        Dedup.nearDupClusters(
            docs.filter(col("doc_id") % 3 =!= 0).select("doc_id"),
            p.filter(col("d1") % 3 =!= 0 && col("d2") % 3 =!= 0))
          .select(col("doc_id").as("id"), col("cluster_id"))
          .write.mode("overwrite").parquet(s"$fix/old_labels.parquet")
      }
      val pairs = s.read.parquet(s"$fix/pairs.parquet")
      val oldLabels = s.read.parquet(s"$fix/old_labels.parquet")
      val dir = s"target/tmp/labels_delta_${new java.io.File(d).getName}"
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(dir))
      Dedup.writeClusterLabels(oldLabels, dir)
      val newPairs = pairs.filter(col("d1") % 3 === 0 || col("d2") % 3 === 0)
      // each ingest pair lands in exactly one of two batches
      for (b <- 0 until 2)
        Dedup.mergeClusterLabels(s, dir,
          newPairs.filter(pmod(col("d1") + col("d2"), lit(2)) === b),
          delta = true, maxChain = 2)
      docs
        .join(Dedup.readClusterLabels(s, dir)
          .withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
        .withColumn("keep", col("cluster_id") === col("doc_id"))
        .select("doc_id", "cluster_id", "keep")
        .orderBy("doc_id")
    },
    q64_neardup_clusters.sql)

  /** Chain-STATE read (r15): q228's lifecycle with `maxChain` high
    * enough that the two delta merges never fold — the final read is
    * the live-chain shape a serving-side consumer sees between folds
    * (base + two touched-rows deltas overlaid via ONE broadcast left
    * join; the corpus-sized base never shuffles — ClusterMaintainSpec
    * pins the plan, MaintScale measured 0.0 MB exchange at K=64 and
    * 50× corpus). Must still be byte-indistinguishable from clustering
    * the whole corpus from scratch (q64's full-closure oracle,
    * verbatim). Shares q228's cached "yesterday" fixture. */
  val q229_chain_read: Q = Q(
    (s, d) => {
      val docs = table(s, d, "documents")
      val fix = s"target/tmp/labels_delta_fix_${new java.io.File(d).getName}_" +
        srcContentSig(d, "documents.parquet")
      if (!new java.io.File(s"$fix/old_labels.parquet/_SUCCESS").exists()) {
        val p = Dedup.ngramJaccard(docs, Seq("lang", "n_chars"),
            maxBlockSize = Dedup.Uncapped)
          .select("d1", "d2").barrier()
        p.write.mode("overwrite").parquet(s"$fix/pairs.parquet")
        Dedup.nearDupClusters(
            docs.filter(col("doc_id") % 3 =!= 0).select("doc_id"),
            p.filter(col("d1") % 3 =!= 0 && col("d2") % 3 =!= 0))
          .select(col("doc_id").as("id"), col("cluster_id"))
          .write.mode("overwrite").parquet(s"$fix/old_labels.parquet")
      }
      val pairs = s.read.parquet(s"$fix/pairs.parquet")
      val oldLabels = s.read.parquet(s"$fix/old_labels.parquet")
      val dir = s"target/tmp/labels_chain_${new java.io.File(d).getName}"
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(dir))
      Dedup.writeClusterLabels(oldLabels, dir)
      val newPairs = pairs.filter(col("d1") % 3 === 0 || col("d2") % 3 === 0)
      for (b <- 0 until 2)
        Dedup.mergeClusterLabels(s, dir,
          newPairs.filter(pmod(col("d1") + col("d2"), lit(2)) === b),
          delta = true, maxChain = 16) // never folds: the read IS the chain
      docs
        .join(Dedup.readClusterLabels(s, dir)
          .withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
        .withColumn("keep", col("cluster_id") === col("doc_id"))
        .select("doc_id", "cluster_id", "keep")
        .orderBy("doc_id")
    },
    q64_neardup_clusters.sql)

  // -------------------------------------------------------------- registry

  val all: Seq[(String, Q)] = Seq(
    "q01_bucket_count" -> q01_bucket_count,
    "q02_bucket_sum" -> q02_bucket_sum,
    "q03_bucket_sum_noskip" -> q03_bucket_sum_noskip,
    "q04_bucket_avg" -> q04_bucket_avg,
    "q05_bucket_minmax" -> q05_bucket_minmax,
    "q06_bucket_absmax" -> q06_bucket_absmax,
    "q07_bucket_fractions" -> q07_bucket_fractions,
    "q08_reduce_bbox" -> q08_reduce_bbox,
    "q09_wrap_lon" -> q09_wrap_lon,
    "q10_union_concat" -> q10_union_concat,
    "q11_grid_filter" -> q11_grid_filter,
    "q12_linesample" -> q12_linesample,
    "q13_area_grid" -> q13_area_grid,
    "q14_knn_nearest" -> q14_knn_nearest,
    "q15_knn_custom" -> q15_knn_custom,
    "q16_knn_gauss" -> q16_knn_gauss,
    "q17_knn_uncertainty" -> q17_knn_uncertainty,
    "q18_haversine" -> q18_haversine,
    "q19_lonlat2xyz" -> q19_lonlat2xyz,
    "q20_swath_aggregate" -> q20_swath_aggregate,
    "q21_pricing_agg" -> q21_pricing_agg,
    "q22_top_revenue" -> q22_top_revenue,
    "q23_dedup_exact" -> q23_dedup_exact,
    "q24_fingerprint" -> q24_fingerprint,
    "q25_minhash_lsh" -> q25_minhash_lsh,
    "q26_ngram_jaccard" -> q26_ngram_jaccard,
    "q27_token_stats" -> q27_token_stats,
    "q28_quality" -> q28_quality,
    "q29_langid" -> q29_langid,
    "q30_cosine_sim" -> q30_cosine_sim,
    "q31_ann_topk" -> q31_ann_topk,
    "q32_gradient_bilinear" -> q32_gradient_bilinear,
    "q33_ewa" -> q33_ewa,
    "q35_freeze" -> q35_freeze,
    "q36_multimodal" -> q36_multimodal,
    "q37_events_window" -> q37_events_window,
    "q38_events_json" -> q38_events_json,
    "q39_georadius" -> q39_georadius,
    "q40_nearest_stere" -> q40_nearest_stere,
    "q41_bucket_stere" -> q41_bucket_stere,
    "q42_gauss_stere" -> q42_gauss_stere,
    "q43_simhash_neardup" -> q43_simhash_neardup,
    "q44_lsh_topk" -> q44_lsh_topk,
    "q45_bilinear_stere" -> q45_bilinear_stere,
    "q46_ewa_stere" -> q46_ewa_stere,
    "q47_optimal_bb" -> q47_optimal_bb,
    "q48_omerc_fit" -> q48_omerc_fit,
    "q49_swath_slice" -> q49_swath_slice,
    "q50_multi_uncertainty" -> q50_multi_uncertainty,
    "q51_ivf_topk" -> q51_ivf_topk,
    "q52_cosine_neardup" -> q52_cosine_neardup,
    "q53_tiled_dpp" -> q53_tiled_dpp,
    "q54_score_docs" -> q54_score_docs,
    "q55_repetition" -> q55_repetition,
    "q56_repeated_ngrams" -> q56_repeated_ngrams,
    "q57_ivf_trained" -> q57_ivf_trained,
    "q58_clean_corpus" -> q58_clean_corpus,
    "q59_cluster_assign" -> q59_cluster_assign,
    "q60_sessionize" -> q60_sessionize,
    "q61_stratified_sample" -> q61_stratified_sample,
    "q62_pack_sequences" -> q62_pack_sequences,
    "q63_decontaminate" -> q63_decontaminate,
    "q64_neardup_clusters" -> q64_neardup_clusters,
    "q65_redact_pii" -> q65_redact_pii,
    "q66_remove_boilerplate" -> q66_remove_boilerplate,
    "q67_semantic_dedup" -> q67_semantic_dedup,
    "q68_temperature_mix" -> q68_temperature_mix,
    "q69_quantized_topk" -> q69_quantized_topk,
    "q70_tfidf_terms" -> q70_tfidf_terms,
    "q71_dedup_incremental" -> q71_dedup_incremental,
    "q72_chunk_docs" -> q72_chunk_docs,
    "q73_contamination_report" -> q73_contamination_report,
    "q74_lm_perplexity" -> q74_lm_perplexity,
    "q75_bm25" -> q75_bm25,
    "q76_dsir_weights" -> q76_dsir_weights,
    "q77_classifier" -> q77_classifier,
    "q78_shard_manifest" -> q78_shard_manifest,
    "q79_dsir_resample" -> q79_dsir_resample,
    "q80_curated_shards" -> q80_curated_shards,
    "q81_bm25_batch" -> q81_bm25_batch,
    "q82_dedup_segments" -> q82_dedup_segments,
    "q83_winnow_overlap" -> q83_winnow_overlap,
    "q84_asof_join" -> q84_asof_join,
    "q85_corpus_report" -> q85_corpus_report,
    "q86_attribution" -> q86_attribution,
    "q87_top_fraction" -> q87_top_fraction,
    "q88_domain_cap" -> q88_domain_cap,
    "q89_group_sample" -> q89_group_sample,
    "q90_hybrid_rrf" -> q90_hybrid_rrf,
    "q91_vocab_coverage" -> q91_vocab_coverage,
    "q92_weighted_sample" -> q92_weighted_sample,
    "q93_normalize" -> q93_normalize,
    "q94_pca_project" -> q94_pca_project,
    "q95_group_quantile" -> q95_group_quantile,
    "q96_tokenize" -> q96_tokenize,
    "q97_bigram_lm" -> q97_bigram_lm,
    "q98_hard_negatives" -> q98_hard_negatives,
    "q99_source_drift" -> q99_source_drift,
    "q100_margin_mine" -> q100_margin_mine,
    "q101_collocations" -> q101_collocations,
    "q102_content_split" -> q102_content_split,
    "q103_signal_corr" -> q103_signal_corr,
    "q104_zipf_fit" -> q104_zipf_fit,
    "q105_bpe_tokenize" -> q105_bpe_tokenize,
    "q106_source_overlap" -> q106_source_overlap,
    "q107_decay_features" -> q107_decay_features,
    "q108_semantic_decontaminate" -> q108_semantic_decontaminate,
    "q109_containment" -> q109_containment,
    "q110_zscore" -> q110_zscore,
    "q111_spearman" -> q111_spearman,
    "q112_winsorized" -> q112_winsorized,
    "q113_minhash_accuracy" -> q113_minhash_accuracy,
    "q114_canonical_cluster" -> q114_canonical_cluster,
    "q115_ann_recall" -> q115_ann_recall,
    "q116_resample_fill" -> q116_resample_fill,
    "q117_gate_report" -> q117_gate_report,
    "q118_cluster_report" -> q118_cluster_report,
    "q119_embedding_qc" -> q119_embedding_qc,
    "q120_skew_report" -> q120_skew_report,
    "q121_funnel" -> q121_funnel,
    "q122_retention" -> q122_retention,
    "q123_basket_pairs" -> q123_basket_pairs,
    "q124_association_rules" -> q124_association_rules,
    "q125_mad" -> q125_mad,
    "q126_fk_audit" -> q126_fk_audit,
    "q127_dedup_eval" -> q127_dedup_eval,
    "q128_deciles" -> q128_deciles,
    "q129_ohlc" -> q129_ohlc,
    "q130_twap" -> q130_twap,
    "q131_rolling_median" -> q131_rolling_median,
    "q132_transitions" -> q132_transitions,
    "q133_pagerank" -> q133_pagerank,
    "q134_novelty" -> q134_novelty,
    "q135_bootstrap" -> q135_bootstrap,
    "q136_triangles" -> q136_triangles,
    "q137_fuzzy" -> q137_fuzzy,
    "q138_rolling_active" -> q138_rolling_active,
    "q139_char_entropy" -> q139_char_entropy,
    "q140_assortativity" -> q140_assortativity,
    "q141_interarrival" -> q141_interarrival,
    "q142_kcore" -> q142_kcore,
    "q143_rollup" -> q143_rollup,
    "q144_snapshot_diff" -> q144_snapshot_diff,
    "q145_profile" -> q145_profile,
    "q146_trend" -> q146_trend,
    "q147_patchify" -> q147_patchify,
    "q148_chi2" -> q148_chi2,
    "q149_ks" -> q149_ks,
    "q150_attribution_linear" -> q150_attribution_linear,
    "q151_top_paths" -> q151_top_paths,
    "q152_daily_bands" -> q152_daily_bands,
    "q153_lang_confusion" -> q153_lang_confusion,
    "q154_state_at" -> q154_state_at,
    "q155_cdf_ppm" -> q155_cdf_ppm,
    "q156_histogram" -> q156_histogram,
    "q157_char_classes" -> q157_char_classes,
    "q158_benford" -> q158_benford,
    "q159_hll_distinct" -> q159_hll_distinct,
    "q160_cms_heavy" -> q160_cms_heavy,
    "q161_bloom_prefilter" -> q161_bloom_prefilter,
    "q162_cusum" -> q162_cusum,
    "q163_streaks" -> q163_streaks,
    "q164_zorder_layout" -> q164_zorder_layout,
    "q165_acf" -> q165_acf,
    "q166_calibration" -> q166_calibration,
    "q167_bfs_hops" -> q167_bfs_hops,
    "q168_ddsketch" -> q168_ddsketch,
    "q169_hll_union" -> q169_hll_union,
    "q170_rolling_corr" -> q170_rolling_corr,
    "q171_rolling_distinct" -> q171_rolling_distinct,
    "q172_expectations" -> q172_expectations,
    "q173_covariance" -> q173_covariance,
    "q174_kmv_intersect" -> q174_kmv_intersect,
    "q175_setsim_join" -> q175_setsim_join,
    "q176_ewma" -> q176_ewma,
    "q177_scd2" -> q177_scd2,
    "q178_skyline" -> q178_skyline,
    "q179_hilbert_layout" -> q179_hilbert_layout,
    "q180_phrase_search" -> q180_phrase_search,
    "q181_bitmap_overlap" -> q181_bitmap_overlap,
    "q182_interval_merge" -> q182_interval_merge,
    "q183_star_revenue" -> q183_star_revenue,
    "q184_hll_cube" -> q184_hll_cube,
    "q185_abandonment" -> q185_abandonment,
    "q186_dominant_supplier" -> q186_dominant_supplier,
    "q187_ivm" -> q187_ivm,
    "q188_fifo_match" -> q188_fifo_match,
    "q189_weighted_hops" -> q189_weighted_hops,
    "q190_srm_check" -> q190_srm_check,
    "q191_mix_rate" -> q191_mix_rate,
    "q192_sketch_error" -> q192_sketch_error,
    "q193_share_rollup" -> q193_share_rollup,
    "q194_mahalanobis" -> q194_mahalanobis,
    "q195_scd2_enrich" -> q195_scd2_enrich,
    "q196_margin_ivf" -> q196_margin_ivf,
    "q197_media_resize" -> q197_media_resize,
    "q198_payload_embed" -> q198_payload_embed,
    "q199_bucket_utm" -> q199_bucket_utm,
    "q200_bucket_sinu" -> q200_bucket_sinu,
    "q201_bucket_aea" -> q201_bucket_aea,
    "q202_bucket_ortho" -> q202_bucket_ortho,
    "q203_media_headers" -> q203_media_headers,
    "q204_pq_adc" -> q204_pq_adc,
    "q205_ivfpq" -> q205_ivfpq,
    "q206_pack_slices" -> q206_pack_slices,
    "q207_substr_dedup" -> q207_substr_dedup,
    "q208_bucket_rotated" -> q208_bucket_rotated,
    "q209_bucket_cea" -> q209_bucket_cea,
    "q210_ivfpq_indexed" -> q210_ivfpq_indexed,
    "q211_web_ingest" -> q211_web_ingest,
    "q212_image_neardup" -> q212_image_neardup,
    "q213_opq_adc" -> q213_opq_adc,
    "q214_audio_neardup" -> q214_audio_neardup,
    "q215_minhash_index" -> q215_minhash_index,
    "q216_cluster_split" -> q216_cluster_split,
    "q217_ivf_range" -> q217_ivf_range,
    "q218_pipeline_report" -> q218_pipeline_report,
    "q219_lsh_bandcap" -> q219_lsh_bandcap,
    "q220_index_delete" -> q220_index_delete,
    "q221_image_dup_classes" -> q221_image_dup_classes,
    "q222_fp_capped" -> q222_fp_capped,
    "q223_ivf_range_indexed" -> q223_ivf_range_indexed,
    "q224_fp_index" -> q224_fp_index,
    "q225_cosine_bandcap" -> q225_cosine_bandcap,
    "q226_minhash_clusters" -> q226_minhash_clusters,
    "q227_incremental_clusters" -> q227_incremental_clusters,
    "q228_delta_clusters" -> q228_delta_clusters,
    "q229_chain_read" -> q229_chain_read)
}
