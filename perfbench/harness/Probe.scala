package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, DataSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.SqlEventAccess
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.util.QueryExecutionListener

/** Work attributed to one key: a span part (its job group) or a whole
  * workflow execution (the `perfbench.exec` local property). */
final class Counts {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var planMs = 0.0
  var maxJoinRows = 0L
  var fileBytes = 0L
  /** [start, end] wall-clock ms of every finished job. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Union length (ms) of the job intervals: the time some job ran. */
  def jobCoveredMs: Long = {
    var covered = 0L
    var reach = Long.MinValue
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      val from = math.max(s, reach)
      if (e > from) covered += e - from
      reach = math.max(reach, e)
    }
    covered
  }
}

/** The benchmark's own SparkListener + QueryExecutionListener. Jobs,
  * tasks and bytes are attributed through the job group (set per span
  * by [[Tracer]]) and the `perfbench.exec` local property (set per
  * workflow execution by the harness); planning phases, scanned file
  * bytes and join output rows through the SQL execution id the jobs
  * carry, which the SQL execution-end event pairs with the query. Listener callbacks
  * arrive on the bus threads, so every access is synchronized. */
final class Probe extends SparkListener with QueryExecutionListener {
  val byGroup = mutable.HashMap.empty[String, Counts]
  val byExec = mutable.HashMap.empty[String, Counts]
  private val stageKeys = mutable.HashMap.empty[Int, (String, String)]
  private val jobKeys = mutable.HashMap.empty[Int, (String, String, Long)]
  private val sqlKeys = mutable.HashMap.empty[Long, (String, String)]
  private val queries = mutable.ArrayBuffer.empty[(QueryExecution, Double, Long, Long)]
  private val executionIds = new java.util.IdentityHashMap[QueryExecution, Long]()

  private def counts(m: mutable.HashMap[String, Counts], k: String): Option[Counts] =
    Option(k).map(m.getOrElseUpdate(_, new Counts))

  private def both(group: String, exec: String)(f: Counts => Unit): Unit = {
    counts(byGroup, group).foreach(f)
    counts(byExec, exec).foreach(f)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.map(_.getProperty(k)).orNull
    val (group, exec) = (prop("spark.jobGroup.id"), prop("perfbench.exec"))
    jobKeys(e.jobId) = (group, exec, e.time)
    e.stageIds.foreach(stageKeys(_) = (group, exec))
    Option(prop("spark.sql.execution.id")).foreach(id => sqlKeys(id.toLong) = (group, exec))
    both(group, exec)(_.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobKeys.remove(e.jobId).foreach { case (group, exec, start) =>
      both(group, exec)(_.jobIntervals += ((start, e.time)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageKeys.get(e.stageId).foreach { case (group, exec) =>
      both(group, exec) { c =>
        c.tasks += 1
        if (m != null) {
          c.taskMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.diskBytesSpilled
        }
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val planMs = qe.tracker.phases.values.map(_.durationMs.toDouble).sum
    val (joinRows, fileBytes) = Probe.planCounts(qe.executedPlan)
    synchronized { queries += ((qe, planMs, joinRows, fileBytes)) }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      SqlEventAccess.queryExecution(end).foreach(qe => synchronized {
        executionIds.put(qe, end.executionId)
      })
    case _ =>
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Fold the queued query records into their group/exec counts and
    * release the queries; call after the listener bus has drained. */
  def settleQueries(): Unit = synchronized {
    queries.foreach { case (qe, planMs, joinRows, fileBytes) =>
      Option(executionIds.get(qe)).flatMap(sqlKeys.get).foreach { case (group, exec) =>
        both(group, exec) { c =>
          c.planMs += planMs
          c.maxJoinRows = math.max(c.maxJoinRows, joinRows)
          c.fileBytes += fileBytes
        }
      }
    }
    queries.clear()
    executionIds.clear()
  }

  def group(k: String): Counts = synchronized { byGroup.getOrElse(k, new Counts) }
  def exec(k: String): Counts = synchronized { byExec.getOrElse(k, new Counts) }
}

object Probe {
  /** From a query's final (adaptive) plan: the largest output row count
    * of any join operator (the candidate pairs a pair-producing query
    * emitted before its verification filter), and the bytes of the
    * input files its scans read. */
  def planCounts(plan: SparkPlan): (Long, Long) = {
    var joinRows = 0L
    var fileBytes = 0L
    def visit(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
        case c: CommandResultExec => visit(c.commandPhysicalPlan)
        case q: QueryStageExec => visit(q.plan)
        case j: BaseJoinExec =>
          j.metrics.get("numOutputRows").foreach(m => joinRows = math.max(joinRows, m.value))
        case s: DataSourceScanExec =>
          s.metrics.get("filesSize").foreach(m => fileBytes += m.value)
        case _ =>
      }
      p.children.foreach(visit)
    }
    visit(plan)
    (joinRows, fileBytes)
  }
}
