package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds (Spark's own event
  * clock) as doubles; all spans of one op share `op`. */
final case class Span(op: String, name: String, parent: String,
                      start: Double, end: Double)

/** Per-op aggregates the listeners fill while the op is current. */
final class OpStats {
  val jobs = mutable.ArrayBuffer.empty[(Int, Double, Double)]
  val jobStages = mutable.Map.empty[Int, Seq[Int]]
  val stages = mutable.Map.empty[Int, StageAgg]
  val progress = mutable.ArrayBuffer.empty[
    org.apache.spark.sql.streaming.StreamingQueryProgress]
  /** SQL-metric seconds by layer, keyed by metric id: a plan node seen
    * twice (a reused exchange, a plan scanned in two executions) counts
    * once, at its latest value. */
  val plans = mutable.Map.empty[(Long, String), Double]
  def planSeconds(layer: String): Double =
    plans.collect { case ((_, l), v) if l == layer => v }.sum
}

final class StageAgg(val id: Int) {
  var submit = 0.0
  var complete = 0.0
  var tasks = 0
  var runMs = 0.0
  var maxRunMs = 0.0
  var cpuNs = 0.0
  var gcMs = 0.0
  var deserMs = 0.0
  var durationMs = 0.0
  var shuffleWriteBytes = 0.0
  var shuffleWriteNs = 0.0
  var fetchWaitMs = 0.0
  var spillBytes = 0.0
  var inputRecords = 0.0
}

/** Collects the traced run's events. Listener callbacks run on Spark's
  * listener bus; the harness drains the bus after every op, so every
  * event of an op arrives while that op is `current`. */
object Trace {
  @volatile var current: OpStats = null
  private val lock = new Object

  def withOp[T](f: OpStats => T): Unit = lock.synchronized {
    if (current != null) f(current)
  }

  object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = withOp { s =>
      s.jobStages(e.jobId) = e.stageIds
      s.jobs += ((e.jobId, e.time.toDouble, Double.NaN))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = withOp { s =>
      val i = s.jobs.indexWhere(_._1 == e.jobId)
      if (i >= 0) s.jobs(i) = s.jobs(i).copy(_3 = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      withOp { s =>
        val a = s.stages.getOrElseUpdate(e.stageInfo.stageId,
          new StageAgg(e.stageInfo.stageId))
        a.submit = e.stageInfo.submissionTime.getOrElse(0L).toDouble
        a.complete = e.stageInfo.completionTime.getOrElse(0L).toDouble
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = withOp { s =>
      val a = s.stages.getOrElseUpdate(e.stageId, new StageAgg(e.stageId))
      val m = e.taskMetrics
      a.tasks += 1
      a.durationMs += e.taskInfo.duration
      if (m != null) {
        a.runMs += m.executorRunTime
        a.maxRunMs = math.max(a.maxRunMs, m.executorRunTime.toDouble)
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.deserMs += m.executorDeserializeTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spillBytes += m.diskBytesSpilled
        a.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  def addProgress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit =
    withOp(_.progress += p)

  def addPlan(p: Seq[((Long, String), Double)]): Unit = withOp(_.plans ++= p)
}

/** Registered through `spark.sql.streaming.streamingQueryListeners`, so
  * the child sessions the streaming jobs run in report here as well. */
class StreamTrace extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    Trace.addProgress(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Registered through `spark.sql.queryExecutionListeners`: reads the
  * SQL metrics of every finished execution's final plan. */
class PlanTrace extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Trace.addPlan(PlanTrace.rollup(qe.executedPlan))
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object PlanTrace {
  private def seconds(m: SQLMetric): Double = m.metricType match {
    case "timing" => m.value / 1e3
    case "nsTiming" => m.value / 1e9
    case _ => 0.0
  }

  private def metric(p: SparkPlan, layer: String, names: String*)
      : Seq[((Long, String), Double)] =
    names.flatMap(p.metrics.get).map(m => (m.id, layer) -> seconds(m))

  /** Children across adaptive stages and into subqueries, and whether
    * the edge leaves the current task pipeline (an exchange, a query
    * stage, a subquery). */
  private def edges(p: SparkPlan): Seq[(SparkPlan, Boolean)] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan -> true)
    case q: QueryStageExec => Seq(q.plan -> true)
    case _: Exchange | _: ReusedExchangeExec => p.children.map(_ -> true)
    case _ => p.children.map(_ -> false) ++ p.subqueries.map(_ -> true)
  }

  private def isGraft(x: AnyRef): Boolean = x.getClass.getName.startsWith("graft.")

  /** True when the pipeline under `p` evaluates an expression or operator
    * of the engine's own kernel packages (`graft.*`: functions, dedup,
    * similarity, plans). */
  private def holdsKernel(p: SparkPlan): Boolean =
    isGraft(p) || p.expressions.exists(_.find(isGraft).isDefined) ||
      edges(p).exists { case (c, leaves) => !leaves && holdsKernel(c) }

  /** Seconds by layer from the SQL metrics of every node of a final plan
    * (adaptive stages and subqueries included). Codegen stages chained in
    * one task pipeline overlap in time, so only the outermost stage of a
    * pipeline counts, as a kernel stage when anything in it is one. */
  def rollup(plan: SparkPlan): Seq[((Long, String), Double)] = {
    def walk(p: SparkPlan, inPipeline: Boolean): Seq[((Long, String), Double)] = {
      val n = p.nodeName
      val own = p match {
        case w: WholeStageCodegenExec if !inPipeline =>
          metric(w, "codegen", "pipelineTime") ++
            (if (holdsKernel(w)) metric(w, "kernel", "pipelineTime") else Nil)
        case _ =>
          (if (n.contains("Scan")) metric(p, "scan", "scanTime", "metadataTime") else Nil) ++
            (if (n.contains("Aggregate")) metric(p, "agg", "aggTime") else Nil) ++
            (if (n.contains("Join") || n.contains("Broadcast"))
              metric(p, "join_build", "buildTime") else Nil) ++
            (if (n.contains("Sort")) metric(p, "sort", "sortTime") else Nil)
      }
      val nowIn = inPipeline || p.isInstanceOf[WholeStageCodegenExec]
      own ++ edges(p).flatMap { case (c, leaves) => walk(c, nowIn && !leaves) }
    }
    walk(plan, inPipeline = false)
  }
}
