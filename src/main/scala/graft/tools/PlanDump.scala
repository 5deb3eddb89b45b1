package graft.tools

import java.nio.file.{Files, Paths}

/** Per-query plan dump for the optimization-round evidence trail
  * (plans/r19/<query>_<suffix>.txt): the AQE-final formatted physical
  * plan of each named query, preceded by the count of Spark jobs/stages
  * the query executed — iterative operators (connectedComponents, kmeans)
  * run driver-side loops whose cost is visible in the job count, not in
  * the final plan's shape.
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    // r19 ADVICE: usage on bad arity / unknown query, not a MatchError
    if (args.length < 4) {
      System.err.println("usage: runMain graft.tools.PlanDump " +
        "<sfDir> <outDir> <suffix> <q1,q2,...>")
      sys.exit(2)
    }
    val Array(sfDir, outDir, suffix, qlist) = args.take(4)
    val names = qlist.split(",").map(_.trim).filter(_.nonEmpty)
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(
        s"unknown queries: ${unknown.mkString(",")} (see SparkEntry.queries)")
      sys.exit(2)
    }
    val spark = graft.Session.local()
    Files.createDirectories(Paths.get(outDir))
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); stages.addAndGet(j.stageInfos.size)
        }
      })
    names.foreach { name =>
      jobs.set(0); stages.set(0)
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      // collect() runs THIS QueryExecution (a noop write would wrap the
      // plan in a new one), finalizing the AdaptiveSparkPlan in place
      df.collect()
      val secs = (System.nanoTime() - t0) / 1e9
      // listener events drain asynchronously; settle before reading
      Thread.sleep(300)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val hdr = f"== $name @ $sfDir (${spark.sparkContext.master}) ==%n" +
        f"jobs=${jobs.get} stages=${stages.get} wall=${secs}%.2fs%n%n"
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"),
        hdr + plan)
      println(f"[plandump] $name: jobs=${jobs.get} stages=${stages.get} " +
        f"wall=$secs%.2fs")
      // same cache hygiene as Bench between queries
      spark.sparkContext.getPersistentRDDs.values
        .foreach(graft.operators.Barriers.quietUnpersist)
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
