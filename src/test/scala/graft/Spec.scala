package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites. */
object Spec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Drop cached blocks left behind by earlier suites. Suites run
    * sequentially in one forked JVM, so by the time the last suites run,
    * hundreds of dead pinned blocks are pure memory pressure. Wall-clock-
    * sensitive suites (the continuous-sync ticker's 30 s deadlines) call
    * this up front so they measure their own work, not 17 prior suites'.
    */
  def sweepCaches(): Unit = graft.operators.Barriers.purge(spark)
}
