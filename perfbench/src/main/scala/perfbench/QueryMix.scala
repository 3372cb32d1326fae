package perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Suite queries on seeded sf0.01-shaped tables, each round running the
  * pool once in a seeded order. Each query's result is written to
  * `<outDir>/<query>`, next to `oracle_sql.json` in `graft.Verify`'s
  * layout, where run.py has `tools/check_oracle.py` compare it with DuckDB
  * on the same tables. */
final class QueryMixWorkload(pool: Seq[String], tablesDir: String, outDir: String)
    extends Workload {
  val name = "query-mix"
  val itemUnit = "queries"
  private var rounds = 0
  private var seed = 0L

  def prepare(spark: SparkSession, seed: Long): Unit = {
    this.seed = seed
    val missing = pool.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
    val json = pool.map(q => s"${Json.str(q)}: ${Json.str(SparkEntry.oracleSql(q))}").mkString("{", ",\n", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  def round(ctx: Ctx): Unit = {
    val order = new scala.util.Random(seed * 31 + rounds).shuffle(pool)
    order.foreach { q =>
      ctx.op(q, QueryMixWorkload.family(q), 1) {
        ctx.span("queries.run")(SparkEntry.queries(q)(ctx.spark, tablesDir)
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$q"))
        () => None
      }
    }
    rounds += 1
  }
}

object QueryMixWorkload {
  val Families: Seq[(String, Seq[String])] = Seq(
    "bucket" -> Seq("bucket"),
    "knn" -> Seq("nearest", "knn", "gauss", "idw", "neighbour"),
    "bilinear" -> Seq("bilinear"),
    "ewa" -> Seq("ewa"),
    "dedup" -> Seq("dedup", "minhash", "simhash", "neardup", "lsh", "fp_", "cluster"),
    "similarity" -> Seq("sim", "jaccard", "cosine", "ann", "ivf", "pq", "embedding"),
    "graph" -> Seq("pagerank", "triangle", "kcore", "bfs", "hops", "component", "assortativity"),
    "text" -> Seq("bm25", "text", "ngram", "phrase", "char", "token", "lang", "fuzzy", "bpe"))

  def family(q: String): String =
    Families.collectFirst { case (f, keys) if keys.exists(q.contains) => f }.getOrElse("other")
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
