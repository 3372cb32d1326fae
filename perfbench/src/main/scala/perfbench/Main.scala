package perfbench

import graft.functions.GraftExtensions
import org.apache.spark.sql.SparkSession

import java.lang.management.{ManagementFactory, MemoryType}
import scala.jdk.CollectionConverters._

/** One benchmark run: set up the session three times (session,
  * extensions, one tiny query; the median is `setup_s`), generate the
  * workload's inputs from the seed, run one untimed warm-up round and then
  * `--seconds / SecondsPerRound` timed rounds of operations (at least
  * one), check every operation's output, and write the metrics as JSON to
  * `--out`. The warm-up round takes JIT compilation, class loading and
  * Spark's code generation out of the timed rounds, which otherwise
  * follow the host's load more than the program.
  *
  * With `--trace 1` the same timed phase runs with spans and the Spark
  * listener on; the per-layer metrics come from it, and the kernel
  * micro-tier runs after it. */
object Main {
  /** Nominal length of one warm round on 4 cores: `--seconds` buys one
    * timed round per this many seconds. */
  val SecondsPerRound = 7.0

  def session(cores: Int, workDir: String): SparkSession =
    GraftExtensions.install(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.checkpoint.dir", s"$workDir/checkpoints"))
      .getOrCreate()

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val wlName = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val workDir = opts("work")
    val cores = Runtime.getRuntime.availableProcessors
    new java.io.File(workDir).mkdirs()

    val wl: Workload = wlName match {
      // sizes: one warm round takes about SecondsPerRound on 4 cores
      case "swath-resample" => new SwathWorkload(60, 80, 80, 80, workDir)
      case "curation-dedup" => new CurationWorkload(400, 20, 8, 2, workDir)
      case "query-mix" => new QueryMixWorkload(opts("pool").split(",").toSeq, opts("tables"), workDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val setupTimes = (0 until 3).map { i =>
      val t0 = System.nanoTime()
      val s = session(cores, workDir)
      s.sparkContext.setLogLevel("ERROR")
      s.range(1000).selectExpr("sum(id)").collect()
      val t = (System.nanoTime() - t0) / 1e9
      if (i < 2) { s.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
      t
    }
    val spark = SparkSession.active
    def timed(body: => Unit): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }
    val prepareS = timed(wl.prepare(spark, seed))
    val warm = new Ctx(spark)
    val warmS = timed(wl.round(warm))
    val ctx = new Ctx(spark)

    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    System.gc()
    heapPools.foreach(_.resetPeakUsage())
    ctx.tracer = new Tracer(trace, s"$wlName-$seed")
    ctx.meter = if (trace) Some(new SparkMeter(spark)) else None
    // a fixed amount of work for a given --seconds, whatever the speed, so
    // that two builds compare the same work
    val rounds = math.max(1, math.round(seconds / SecondsPerRound).toInt)
    val roundWalls = (0 until rounds).map(_ => timed(wl.round(ctx)))
    val wall = roundWalls.sum
    val peakHeapMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    ctx.meter.foreach(_.close())

    // the warm-up round's outputs are checked like the timed rounds'
    val t1 = System.nanoTime()
    val verdicts = Seq(warm, ctx).map { c =>
      val checked = c.checks.flatMap { case (i, check) =>
        (try check() catch { case e: Throwable => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") })
          .map(msg => i -> msg)
      }
      (c.ops.filter(!_.ok).map(_.error) ++ checked.map(_._2), c.ops.count(!_.ok) + checked.map(_._1).distinct.size)
    }
    val failures = verdicts.flatMap(_._1)
    val failedOps = verdicts.map(_._2).sum
    val checkS = (System.nanoTime() - t1) / 1e9

    val lat = ctx.ops.map(_.wallS).sorted
    val tailPct = if (lat.size >= 11) 1.0 - 10.0 / lat.size else Double.NaN
    val tail = if (lat.size >= 11) lat(math.ceil(tailPct * lat.size).toInt - 1) else Double.NaN
    val metrics = scala.collection.mutable.ArrayBuffer.empty[(String, Double, String)]
    if (!trace) {
      metrics += (("setup_s", Stats.median(setupTimes), "s"))
      // every round does the same work, so the median round rate
      val itemsPerRound = ctx.ops.map(_.items).sum.toDouble / rounds
      metrics += (("items_per_s", Stats.median(roundWalls.map(itemsPerRound / _)), "1/s"))
    } else {
      metrics ++= Layers.metrics(ctx, wl, wall, cores)
      metrics ++= Kernels.run(spark, seed)
      ctx.tracer.writeJsonl(s"$workDir/trace-$wlName-$seed.jsonl")
    }

    val detail = Seq(
      "workload" -> Json.str(wlName), "seed" -> seed.toString, "trace" -> trace.toString,
      "rounds" -> rounds.toString, "wall_s" -> Json.num(wall), "prepare_s" -> Json.num(prepareS),
      "warmup_s" -> Json.num(warmS), "check_s" -> Json.num(checkS), "op_p50_s" -> Json.num(Stats.median(lat.toSeq)),
      "setup_runs_s" -> setupTimes.map(Json.num).mkString("[", ", ", "]"),
      "op_tail_s" -> Json.num(tail), "op_tail_pct" -> Json.num(tailPct), "ops_timed" -> lat.size.toString,
      "item_unit" -> Json.str(wl.itemUnit), "peak_heap_mb" -> Json.num(peakHeapMb), "cores" -> cores.toString,
      "ops" -> ctx.ops.map(o => Json.obj(Seq("name" -> Json.str(o.name), "family" -> Json.str(o.family),
        "ok" -> o.ok.toString, "wall_s" -> Json.num(o.wallS))))
        .mkString("[", ",\n  ", "]"))
    val out = Json.obj(Seq(
      "attempted" -> (warm.ops.size + ctx.ops.size).toString,
      "failed" -> failedOps.toString,
      "failures" -> failures.map(Json.str).mkString("[", ", ", "]"),
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "detail" -> Json.obj(detail)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opts("out")), out)
    spark.stop()
  }
}
