package graft

import java.util.UUID
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.execution.exchange.{EnsureRequirements, Exchange}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.graftbridge.ListenerBusBridge
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent}

/** The one profiling listener: per-query counters for every layer a
  * declared query spends time in.
  *
  * Work runs under [[Profile.tagged]], a Spark job tag (the
  * `spark.job.tags` local property, which AQE's and a stream's threads
  * inherit), and is attributed off the events, never off the clock: jobs
  * and stages by their properties, tasks by their stage, SQL executions
  * by their start event's tags, stream triggers by the run id of the
  * query's start event. Plans come from the execution's end event, the
  * one place a plan meets its execution id: a `QueryExecutionListener`
  * sees neither it nor the tag, and `QueryExecution.id` is another
  * counter. Read [[stats]] after [[Profile.drain]].
  */
final class Profile private () extends SparkListener
    with AdaptiveSparkPlanHelper {
  import Profile._

  private val rows = mutable.Map.empty[String, Acc]
  private val byExecution = mutable.Map.empty[Long, (Acc, String)]
  private val byStage = mutable.Map.empty[Int, Acc]
  private val byRun = mutable.Map.empty[UUID, Acc]
  private val openJobs = mutable.Map.empty[Int, (Acc, Long, String)]

  private def acc(tags: Iterable[String]): Option[Acc] =
    tags.collectFirst { case t if t.startsWith(TagPrefix) =>
      rows.getOrElseUpdate(t.stripPrefix(TagPrefix), new Acc) }

  private def acc(p: java.util.Properties): Option[Acc] =
    Option(p).flatMap(x => Option(x.getProperty(JobTagsKey)))
      .flatMap(t => acc(t.split(",")))

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        acc(s.jobTags).foreach { a =>
          a.executions += 1
          byExecution(s.executionId) = (a, site(s.details, s.description))
        }
      case end: SparkListenerSQLExecutionEnd =>
        byExecution.remove(end.executionId).foreach { case (a, _) =>
          ListenerBusBridge.namedPlan(end).foreach { case (n, qe) => plan(a, n, qe) }
        }
      case s: QueryStartedEvent => acc(s.jobTags).foreach(byRun(s.runId) = _)
      case p: QueryProgressEvent =>
        byRun.get(p.progress.runId).foreach { a =>
          val d = p.progress.durationMs.asScala
          def ms(k: String) = d.get(k).map(_.longValue).getOrElse(0L)
          a.triggers += Trigger(ms("addBatch"), ms("walCommit"),
            ms("commitOffsets"), p.progress.stateOperators.map(_.commitTimeMs).sum)
        }
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    acc(e.properties).foreach { a =>
      a.jobs += 1
      val fromSql = Option(e.properties.getProperty(ExecutionIdKey))
        .flatMap(id => byExecution.get(id.toLong)).map(_._2)
      val last = e.stageInfos.sortBy(_.stageId).lastOption
      openJobs(e.jobId) = (a, e.time,
        fromSql.getOrElse(last.map(s => site(s.details, s.name)).getOrElse("?")))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach { case (a, start, s) =>
      a.jobList += Job(e.jobId, e.time - start, s)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      acc(e.properties).foreach { a =>
        a.stages += 1
        byStage(e.stageInfo.stageId) = a
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    byStage.get(e.stageId).foreach { a =>
      a.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private def plan(a: Acc, action: String, qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    a.planningMs += Seq("analysis", "optimization", "planning")
      .flatMap(ph.get).map(_.durationMs).sum
    if (action == "localCheckpoint" || action == "checkpoint") a.barriers += 1
    // a plan that failed to build has nothing more to count
    try {
      a.exchanges += collect(qe.executedPlan) { case x: Exchange => x }.size
      val nodes = planned(qe.executedPlan)
      a.plannedExchanges += nodes.count(_.isInstanceOf[Exchange])
      a.scans += nodes.count {
        case _: DataSourceScanExec | _: DataSourceV2ScanExecBase => true
        case _ => false
      }
      a.bareWindows += nodes.count {
        case w: WindowExec => w.partitionSpec.isEmpty
        case _ => false
      }
    } catch { case _: Exception => }
  }

  /** The nodes of `p` as planned before adaptive execution re-plans it at
    * run time, with the exchanges its stages start from. Re-planning
    * follows run-time statistics and ordering: two identical sf0.001
    * bench runs gave one exchange more or fewer on three declared queries
    * in their final plans. */
  private def planned(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planned(EnsureRequirements().apply(a.inputPlan))
    case _ => p +: p.children.flatMap(planned)
  }

  /** The counters of one tag; all zero if nothing ran under it. */
  def stats(key: String): Stats = synchronized {
    val a = rows.getOrElse(key, new Acc)
    val t = a.taskMs.result().sorted
    Stats(a.executions, a.jobs, a.stages, t.length, t.sum,
      t.lastOption.getOrElse(0L), if (t.isEmpty) 0L else t(t.length / 2),
      a.planningMs, a.exchanges, a.plannedExchanges, a.scans, a.shuffleRead,
      a.shuffleWrite, a.spill, a.barriers, a.bareWindows, a.triggers.toList,
      a.jobList.sortBy(_.id).toList)
  }
}

object Profile {
  private val TagPrefix = "graft.profile:"
  private val JobTagsKey = "spark.job.tags"
  private val ExecutionIdKey = "spark.sql.execution.id"

  final case class Trigger(addBatchMs: Long, walCommitMs: Long,
                           commitOffsetsMs: Long, stateCommitMs: Long)
  final case class Job(id: Int, ms: Long, site: String)

  /** One tag's row, over its named SQL actions. `exchanges` counts their
    * final (adaptive) plans: what ran. `plannedExchanges`, `scans` and
    * `bareWindows` (windows with no partition spec, which run in one task)
    * count the plans before adaptive re-planning, which repeat exactly
    * from run to run. `barriers` counts `localCheckpoint`/`checkpoint`.
    */
  final case class Stats(executions: Int, jobs: Int, stages: Int, tasks: Int,
                         taskBusyMs: Long, taskMaxMs: Long, taskMedianMs: Long,
                         planningMs: Long, exchanges: Int,
                         plannedExchanges: Int, scans: Int,
                         shuffleReadBytes: Long, shuffleWriteBytes: Long,
                         spillBytes: Long, barriers: Int, bareWindows: Int,
                         triggers: List[Trigger], jobList: List[Job]) {
    /** The fields as JSON members, without the enclosing braces. */
    def jsonFields: String = {
      def arr(xs: Seq[Any]) = xs.mkString("[", ",", "]")
      Seq("planning_ms" -> planningMs, "sql_executions" -> executions,
        "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
        "task_busy_ms" -> taskBusyMs, "task_max_ms" -> taskMaxMs,
        "task_median_ms" -> taskMedianMs, "exchanges" -> exchanges,
        "planned_exchanges" -> plannedExchanges, "scans" -> scans, "shuffle_read_bytes" -> shuffleReadBytes,
        "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
        "barriers" -> barriers, "unpartitioned_windows" -> bareWindows,
        "triggers" -> triggers.length,
        "add_batch_ms" -> arr(triggers.map(_.addBatchMs)),
        "wal_commit_ms" -> arr(triggers.map(_.walCommitMs)),
        "commit_offsets_ms" -> arr(triggers.map(_.commitOffsetsMs)),
        "state_commit_ms" -> arr(triggers.map(_.stateCommitMs)),
        "job_list" -> arr(jobList.map(j =>
          s"""{"id":${j.id},"ms":${j.ms},"site":${jsonString(j.site)}}"""))
      ).map { case (k, v) => s""""$k":$v""" }.mkString(",")
    }
  }

  private final class Acc {
    var executions, jobs, stages, exchanges, plannedExchanges, scans = 0
    var barriers, bareWindows = 0
    var planningMs, shuffleRead, shuffleWrite, spill = 0L
    val taskMs = mutable.ArrayBuilder.make[Long]
    val triggers = mutable.ArrayBuffer.empty[Trigger]
    val jobList = mutable.ArrayBuffer.empty[Job]
  }

  /** Register one profile on `spark`'s context. */
  def attach(spark: SparkSession): Profile = {
    val p = new Profile
    spark.sparkContext.addSparkListener(p)
    p
  }

  def detach(spark: SparkSession, p: Profile): Unit =
    spark.sparkContext.removeSparkListener(p)

  /** Run `body` with its Spark work attributed to `key` (no commas). */
  def tagged[T](spark: SparkSession, key: String)(body: => T): T = {
    val tag = TagPrefix + key
    spark.sparkContext.addJobTag(tag)
    try body finally spark.sparkContext.removeJobTag(tag)
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(spark: SparkSession): Unit =
    ListenerBusBridge.waitUntilEmpty(spark.sparkContext, 60000L)

  /** The program's own frames in a call-site trace, innermost first, so a
    * job names the operator line that ran it; else the short call site. */
  private def site(details: String, short: String): String = {
    val frames = Option(details).iterator.flatMap(_.split("\n")).map(_.trim)
      .filter(l => (l.startsWith("graft.") || l.startsWith("at graft.")) &&
        !l.contains("(Profile.scala:"))
      .map(_.stripPrefix("at ").replaceAll("^.*\\((.*)\\)$", "$1"))
      .toList.distinct.take(2)
    if (frames.nonEmpty) frames.mkString(" <- ") else Option(short).getOrElse("?")
  }

  /** A JSON string literal of `s`. Quotes, backslashes and all control and
    * non-ASCII bytes become spaces, or an exception message would break
    * the bench's one-line JSON contract. */
  def jsonString(s: String): String =
    "\"" + s.replaceAll("[\"\\\\]|[^\\x20-\\x7e]", " ") + "\""
}
