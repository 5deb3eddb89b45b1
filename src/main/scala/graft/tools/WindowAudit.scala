package graft.tools

import org.apache.spark.sql.execution.window.WindowExec

/** Plan audit: list every declared query whose physical plan contains a
  * Window with an EMPTY partition spec (the single-partition shape
  * WindowExec warns about). The legitimate cases here run over bounded
  * summary frames; anything else on this list is a scale bug.
  * Usage: runMain graft.tools.WindowAudit <sfDir>
  */
object WindowAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel(
      sys.env.getOrElse("SPARK_GRAFT_LOGLEVEL", "ERROR"))
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      println(s"[window-audit] planning $name")
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan
        val bare = plan.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        }
        if (bare.nonEmpty)
          println(s"[window-audit] $name: ${bare.size} unpartitioned Window(s)")
      } catch { case t: Throwable =>
        println(s"[window-audit] $name: plan failed: ${t.getClass.getSimpleName}")
      }
    }
    spark.stop()
  }
}
