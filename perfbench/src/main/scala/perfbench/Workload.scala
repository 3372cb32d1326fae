package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One timed operation of a run. `stats` is set only in traced runs. */
final case class OpRecord(
    name: String, family: String, wallS: Double, ok: Boolean, items: Long,
    stats: Option[OpStats], error: String)

/** What a workload's operations run against. */
final class Ctx(val spark: SparkSession) {
  var tracer: Tracer = new Tracer(false, "")
  var meter: Option[SparkMeter] = None
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  /** Output checks, run after the timed phase: op index -> check. */
  val checks = mutable.ArrayBuffer.empty[(Int, () => Option[String])]

  private val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** Add to a layer counter; counted in traced runs only. */
  def count(name: String, delta: Double): Unit = if (tracer.enabled) counters(name) += delta
  def counter(name: String): Double = counters(name)

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Run one operation cold: cached blocks of earlier operations are
    * dropped first, outside the timing. `items` is the work it completes
    * (swath points resampled, documents processed, queries answered). The
    * body returns the output check, which runs after the timed phase. */
  def op(name: String, family: String, items: Long)(body: => () => Option[String]): Unit = {
    // inputs live as parquet files in the work dir, so every cached block
    // belongs to an earlier operation
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val group = meter.map(_.beginOp(name))
    val t0 = System.nanoTime()
    val result = try Right(span(s"op.$name")(body)) catch { case e: Throwable => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val stats = for (m <- meter; g <- group) yield m.endOp(g)
    val idx = ops.length
    result match {
      case Right(check) =>
        ops += OpRecord(name, family, wall, ok = true, items, stats, "")
        checks += (idx -> check)
      case Left(e) =>
        ops += OpRecord(name, family, wall, ok = false, items, stats,
          s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    }
  }
}

trait Workload {
  def name: String
  /** Generate the inputs from the seed. Not timed. */
  def prepare(spark: SparkSession, seed: Long): Unit
  /** One round of operations; every round does the same work. */
  def round(ctx: Ctx): Unit
  /** Unit of the `items` the operations report. */
  def itemUnit: String
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object Inputs {
  /** Write a generated input once and hand back its parquet scan. */
  def parquet(spark: SparkSession, df: org.apache.spark.sql.DataFrame, path: String): org.apache.spark.sql.DataFrame = {
    df.write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }
}
