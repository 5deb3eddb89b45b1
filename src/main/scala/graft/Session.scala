package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession every in-process entry point starts from
  * (`Bench`, `Verify` and the tools) — so every declared query plans under
  * the same config wherever it runs. `Main` keeps its own builder because
  * `spark-submit` supplies its master.
  *
  * `SPARK_GRAFT_CPUS` (default 4) sets both the local thread count and
  * `spark.sql.shuffle.partitions`.
  */
object Session {
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
