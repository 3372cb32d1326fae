package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One recorded span: a call into a layer, made from the benchmark. */
final case class Span(id: Int, parent: Int, name: String, run: String, startNs: Long, endNs: Long) {
  def durS: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans nest by call order on the driver thread;
  * a span's self time is its duration minus what its children cover. When
  * disabled, `span` only runs its body, so untraced runs pay nothing. */
final class Tracer(val enabled: Boolean, run: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, run, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def selfTimes: Map[Int, Double] = {
    val childSum = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durS).sum }
    spans.map(s => s.id -> (s.durS - childSum.getOrElse(s.id, 0.0))).toMap
  }

  /** Total duration per span name. */
  def totalByName: Map[String, Double] =
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(_.durS).sum }

  def countByName: Map[String, Int] = spans.groupBy(_.name).map { case (n, ss) => n -> ss.size }

  def writeJsonl(path: String): Unit = {
    val self = selfTimes
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","run":"${s.run}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${self(s.id)}}""")
    } finally w.close()
  }
}

/** Spark-side counters of one operation. */
final class OpStats {
  var sqlExecutions = 0
  var planningS = 0.0
  var jobs = 0
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var executorCpuS = 0.0
  var taskS = 0.0
  var schedulerDelayS = 0.0
  var gcS = 0.0
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  /** numOutputRows of the join nodes in the operation's executed plans,
    * summed per join-key signature (the sorted key column names). */
  val joinRows = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Milliseconds of the union of this operation's job intervals. */
  def jobUnionS: Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1000.0
  }

  def add(o: OpStats): Unit = {
    sqlExecutions += o.sqlExecutions; planningS += o.planningS; jobs += o.jobs
    stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    executorCpuS += o.executorCpuS; taskS += o.taskS; schedulerDelayS += o.schedulerDelayS
    gcS += o.gcS; shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes
    o.joinRows.foreach { case (k, v) => joinRows(k) += v }
  }
}

/** Benchmark-owned Spark listener: attributes jobs, stages and tasks to
  * the operation whose job group launched them, and SQL executions (with
  * their planning phases and executed-plan join sizes) to the operation
  * running when they finish. `endOp` drains the listener bus first, so an
  * operation's counters are complete when it returns. */
final class SparkMeter(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val lock = new Object
  private val byGroup = mutable.Map.empty[String, OpStats]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobGroup = mutable.Map.empty[Int, (String, Long)]
  @volatile private var current: Option[String] = None
  private var seq = 0
  /** Driver time spent waiting for the listener bus: the tracing cost on
    * the operations' critical path. */
  var drainS = 0.0

  private def drain(): Unit = {
    val t0 = System.nanoTime()
    SparkMeter.drain(spark)
    drainS += (System.nanoTime() - t0) / 1e9
  }

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  private def stats(g: String): OpStats = byGroup.getOrElseUpdate(g, new OpStats)

  def beginOp(name: String): String = {
    seq += 1
    val g = s"perfbench-$seq-$name"
    drain()
    current = Some(g)
    spark.sparkContext.setJobGroup(g, name, interruptOnCancel = false)
    g
  }

  def endOp(g: String): OpStats = {
    drain()
    current = None
    spark.sparkContext.clearJobGroup()
    lock.synchronized(byGroup.remove(g).getOrElse(new OpStats))
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { grp =>
      lock.synchronized {
        jobGroup(e.jobId) = (grp, e.time)
        e.stageIds.foreach(stageGroup(_) = grp)
        stats(grp).jobs += 1
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobGroup.remove(e.jobId).foreach { case (g, t0) => stats(g).jobIntervals += ((t0, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(g => stats(g).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val s = stats(g)
      s.tasks += 1
      if (!e.taskInfo.successful) s.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.executorCpuS += m.executorCpuTime / 1e9
        s.taskS += m.executorRunTime / 1000.0
        s.gcS += m.jvmGCTime / 1000.0
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.spillBytes += m.diskBytesSpilled
        val overhead = m.executorDeserializeTime + m.executorRunTime + m.resultSerializationTime
        s.schedulerDelayS += math.max(0L, e.taskInfo.duration - overhead - e.taskInfo.gettingResultTime) / 1000.0
      }
    }
  }

  private def onQuery(qe: QueryExecution): Unit = current.foreach { g =>
    val planning = qe.tracker.phases.values.map(_.durationMs).sum / 1000.0
    val joins = SparkMeter.joinOutputRows(qe.executedPlan)
    lock.synchronized {
      val s = stats(g)
      s.sqlExecutions += 1
      s.planningS += planning
      joins.foreach { case (k, v) => s.joinRows(k) += v }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = onQuery(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = onQuery(qe)
}

object SparkMeter {
  def drain(spark: SparkSession): Unit =
    org.apache.spark.perfbench.BusAccess.drain(spark.sparkContext)

  /** Executed-plan walk: (join-key signature, numOutputRows) of every
    * join node, looking through adaptive plans, query stages and cached
    * relations. */
  def joinOutputRows(plan: SparkPlan): Seq[(String, Long)] = {
    def walk(p: SparkPlan): Seq[(String, Long)] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
      case j: BaseJoinExec =>
        val keys = (j.leftKeys ++ j.rightKeys).flatMap(_.references.map(_.name)).distinct.sorted
        j.metrics.get("numOutputRows").map(m => keys.mkString(",") -> m.value).toSeq ++
          j.children.flatMap(walk)
      case other => other.children.flatMap(walk) ++ other.subqueries.flatMap(walk)
    }
    walk(plan)
  }

  /** Bytes read through Hadoop FileSystems so far, summed over schemes
    * (the local file system counts no read operations, only bytes). */
  def fsReadBytes(): Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.map(_.getBytesRead).sum
  }
}
