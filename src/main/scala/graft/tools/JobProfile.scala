package graft.tools

import org.apache.spark.scheduler._

/** Per-job wall breakdown of one declared query: runs it `reps` times
  * (noop sink, Bench session config) and prints every Spark job of the
  * LAST rep with its duration and call site — the map from a composed
  * pipeline's seconds to the stage that spends them (driver-side loops
  * and barriers surface here as separate jobs, which `explain` can't
  * show).
  * Usage: runMain graft.tools.JobProfile <sfDir> <queryName> [reps]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    // r19 ADVICE: usage on bad arity / unknown query, not a MatchError
    if (args.length < 2) {
      System.err.println(
        "usage: runMain graft.tools.JobProfile <sfDir> <queryName> [reps]")
      sys.exit(2)
    }
    val Array(sfDir, name) = args.take(2)
    if (!graft.SparkEntry.queries.contains(name)) {
      System.err.println(s"unknown query: $name (see SparkEntry.queries)")
      sys.exit(2)
    }
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = graft.Session.local()
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val p = Option(j.properties)
        val site = p.flatMap(x => Option(x.getProperty("callSite.short")))
          .orElse(p.flatMap(x => Option(x.getProperty("spark.job.description"))))
          .getOrElse("?")
        val nstg = j.stageInfos.size
        val ntask = j.stageInfos.map(_.numTasks).sum
        jobs.put(j.jobId, (j.time, s"stages=$nstg tasks=$ntask  $site"))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(jobs.remove(j.jobId)).foreach { case (t0, site) =>
          done.add((j.jobId, j.time - t0, site))
        }
      }
    })
    for (r <- 1 to reps) {
      done.clear()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      Thread.sleep(400)
      import scala.jdk.CollectionConverters._
      val rows = done.asScala.toSeq.sortBy(_._1)
      val tot = rows.map(_._2).sum / 1000.0
      println(f"[jobprofile] $name rep$r: wall=$secs%.2fs " +
        f"jobs=${rows.size} jobsum=$tot%.2fs")
      if (r == reps)
        rows.foreach { case (id, ms, site) =>
          println(f"  job#$id%-4d ${ms / 1000.0}%7.3fs  $site")
        }
      spark.sparkContext.getPersistentRDDs.values
        .foreach(graft.operators.Barriers.quietUnpersist)
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
