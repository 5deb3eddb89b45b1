package graft.tools

/** Rewrite a testdata SF directory with SPLITTABLE tables (r20, verdict
  * item 6): every driver testdata table is ONE parquet row group, so
  * every scan is one task and 8 cores ≈ 32 cores for map-heavy rows —
  * the bench cannot evidence scan parallelism at all. This tool rewrites
  * each `<table>.parquet` into a directory of `filesPerTable` part files
  * (deterministic round-robin repartition — Spark's sort-before-
  * repartition keeps the row→file assignment reproducible), preserving
  * rows and schema bit-for-bit. Point `SPARK_GRAFT_SF_DIR` at the output
  * to run the UNCHANGED bench contract against splittable input and
  * measure honest 8-vs-32-core scaling; the driver's own SF dirs are
  * never touched.
  * Usage: runMain graft.tools.SplitRowGroups <srcSfDir> <dstDir> [files]
  */
object SplitRowGroups {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(
        "usage: runMain graft.tools.SplitRowGroups <srcSfDir> <dstDir> [filesPerTable]")
      sys.exit(2)
    }
    val Array(src, dst) = args.take(2)
    val files = if (args.length > 2) args(2).toInt else 8
    val spark = graft.Session.local()
    val tables = new java.io.File(src).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).sorted
    tables.foreach { t =>
      val df = spark.read.parquet(s"$src/$t")
      val n = df.count()
      df.repartition(files).write.mode("overwrite").parquet(s"$dst/$t")
      val back = spark.read.parquet(s"$dst/$t").count()
      require(back == n, s"$t: rewrote $back rows, expected $n")
      println(s"[splitrowgroups] $t: $n rows -> $files files")
    }
    spark.stop()
  }
}
