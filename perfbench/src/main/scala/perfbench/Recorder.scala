package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** In-memory spans: name, start, end, the span that caused it, and a few
  * counts. Written out once, when the benchmark ends.
  */
final case class Span(id: Int, parent: Int, name: String, startMs: Long,
                      var endMs: Long, attrs: mutable.LinkedHashMap[String, Any])

final class Spans {
  private val all = ArrayBuffer.empty[Span]

  def open(name: String, parent: Int): Span = synchronized {
    val s = Span(all.size + 1, parent, name, System.currentTimeMillis(), -1L,
                 mutable.LinkedHashMap.empty)
    all += s
    s
  }

  def close(s: Span, attrs: (String, Any)*): Unit = synchronized {
    s.endMs = System.currentTimeMillis()
    s.attrs ++= attrs
  }

  def close(id: Int): Unit = synchronized { close(all(id - 1)) }

  def add(name: String, parent: Int, startMs: Long, endMs: Long,
          attrs: (String, Any)*): Unit = synchronized {
    all += Span(all.size + 1, parent, name, startMs, endMs,
                mutable.LinkedHashMap(attrs: _*))
  }

  def toJava: java.util.List[java.util.Map[String, Any]] = synchronized {
    val out = new java.util.ArrayList[java.util.Map[String, Any]]()
    all.foreach { s =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("id", s.id); m.put("parent", s.parent); m.put("name", s.name)
      m.put("start_ms", s.startMs); m.put("end_ms", s.endMs)
      s.attrs.foreach { case (k, v) => m.put(k, v) }
      out.add(m)
    }
    out
  }
}

/** Cumulative counters of one [[Recorder]]; two snapshots bracket a cycle. */
final case class Snap(jobs: Long, stages: Long, tasks: Long, taskBusyMs: Long,
                      shuffleBytes: Long, spillBytes: Long, queries: Long,
                      analysisMs: Long, optimizeMs: Long, physicalMs: Long,
                      exchanges: Long)

/** Spark scheduling and planning, seen from outside the program: a
  * `SparkListener` counts jobs, stages, tasks, task time, shuffle and spill,
  * and records one span per job tagged with its call site; a
  * `QueryExecutionListener` adds each query's planning phase times and the
  * exchanges in its executed plan.
  */
final class Recorder(spans: Spans) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  private var jobs, stages, tasks, taskBusyMs, shuffleBytes, spillBytes = 0L
  private var queries, analysisMs, optimizeMs, physicalMs, exchanges = 0L
  private val jobStarts = mutable.Map.empty[Int, (Long, String, String)]
  private val jobIntervals = ArrayBuffer.empty[(Long, Long)]
  /** SQL execution id -> (call site, program frames) of its Dataset action;
    * adaptive execution runs a query's jobs from its own threads, so their
    * stages carry no useful call site of their own.
    */
  private val executions = mutable.Map.empty[Long, (String, String)]
  /** Span that job spans attach to; set around each measured call. */
  @volatile var parentSpan: Int = 0

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        executions(s.executionId) = (s.description, programFrames(s.details))
      case s: SparkListenerSQLExecutionEnd => executions.remove(s.executionId)
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val fromSql = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => executions.get(id.toLong))
    val last = e.stageInfos.sortBy(_.stageId).lastOption
    val (site, frames) = fromSql.getOrElse(
      (last.map(_.name).getOrElse("?"), last.map(s => programFrames(s.details)).getOrElse("")))
    jobStarts(e.jobId) = (e.time, site, frames)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += 1
    jobStarts.remove(e.jobId).foreach { case (start, site, frames) =>
      jobIntervals += ((start, e.time))
      spans.add("job", parentSpan, start, e.time, "job_id" -> e.jobId,
                "call_site" -> site, "program_frames" -> frames)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    taskBusyMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = synchronized {
    queries += 1
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    analysisMs += ms("analysis")
    optimizeMs += ms("optimization")
    physicalMs += ms("planning")
    exchanges += countExchanges(qe.executedPlan)
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  private def countExchanges(plan: SparkPlan): Long =
    collect(plan) { case e: Exchange => e }.size.toLong

  def snap(): Snap = synchronized {
    Snap(jobs, stages, tasks, taskBusyMs, shuffleBytes, spillBytes, queries,
         analysisMs, optimizeMs, physicalMs, exchanges)
  }

  /** Milliseconds of [fromMs, toMs] during which at least one job ran. */
  def jobCoveredMs(fromMs: Long, toMs: Long): Long = synchronized {
    val clipped = jobIntervals.iterator
      .map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** The program's own stack frames in a call-site trace, innermost first,
    * so a job attributes to the `SyncEngine`/`CopyExecutor`/`SyncOps` line
    * that ran it.
    */
  private def programFrames(details: String): String =
    details.split("\n").iterator.map(_.trim)
      .filter(l => l.startsWith("graft.") || l.startsWith("at graft."))
      .map(_.stripPrefix("at ").replaceAll("^.*\\((.*)\\)$", "$1"))
      .take(4).mkString(" <- ")
}
