package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-trigger duration breakdown of one declared STREAMING query: runs
  * it `reps` times under the Bench session config with a
  * StreamingQueryListener attached and prints every trigger's
  * durationMs map (triggerExecution / queryPlanning / walCommit /
  * getBatch / addBatch / commitOffsets ...) plus state-operator commit
  * times — the map from a streaming row's seconds to where the
  * micro-batch machinery spends them, which JobProfile cannot show
  * (most of it is driver-side, between jobs).
  * Usage: runMain graft.tools.StreamProfile <sfDir> <queryName> [reps]
  */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(
        "usage: runMain graft.tools.StreamProfile <sfDir> <queryName> [reps]")
      sys.exit(2)
    }
    val Array(sfDir, name) = args.take(2)
    if (!graft.SparkEntry.queries.contains(name)) {
      System.err.println(s"unknown query: $name (see SparkEntry.queries)")
      sys.exit(2)
    }
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = graft.Session.local()
    val progress =
      new java.util.concurrent.ConcurrentLinkedQueue[
        org.apache.spark.sql.streaming.StreamingQueryProgress]
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    for (r <- 1 to reps) {
      progress.clear()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      Thread.sleep(400)
      import scala.jdk.CollectionConverters._
      val rows = progress.asScala.toSeq.sortBy(_.batchId)
      val trigSum = rows.map(_.durationMs.asScala
        .get("triggerExecution").map(_.longValue).getOrElse(0L)).sum / 1000.0
      println(f"[streamprofile] $name rep$r: wall=$secs%.2fs " +
        f"triggers=${rows.size} triggerSum=$trigSum%.2fs")
      if (r == reps) rows.foreach { p =>
        val d = p.durationMs.asScala.toSeq.sortBy(-_._2)
          .map { case (k, v) => s"$k=$v" }.mkString(" ")
        println(f"  batch#${p.batchId}%-3d rows=${p.numInputRows}%-6d $d")
        p.stateOperators.foreach { so =>
          println(s"    state: commitMs=${so.commitTimeMs} " +
            s"rows=${so.numRowsTotal} mem=${so.memoryUsedBytes}")
        }
      }
    }
    spark.stop()
  }
}
