package graft

import org.apache.spark.sql.SparkSession

/** The one local session factory behind the engine's entry points
  * (`Bench`, `Verify`, `Explain` and the `tools/` mains that use the
  * engine's SQL functions). */
object GraftSession {

  /** `local[cpus]` with the engine's extensions installed (they carry
    * the ObjectHashAggregate fallback threshold that keeps top-k heap
    * aggregation on the hash path): shuffle partitions = `cpus`, AQE on,
    * UTC session time, UI off, and INT64 nanosecond parquet timestamps
    * (events.parquet) read as long nanos, which matches the oracle's
    * epoch_ns arithmetic. */
  def local(cpus: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    graft.functions.GraftExtensions.install(b).getOrCreate()
  }
}
