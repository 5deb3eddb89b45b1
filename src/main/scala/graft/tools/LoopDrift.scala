package graft.tools

/** Root-cause driver for the iterative-loop bench drift (r15 verdict
  * item 2): `embedding_kmeans_assign` read 1.22× → 1.44× of its 1.01 s
  * standing row across the r14/r15 quiet cycles and
  * `dedup_clusters_cosine` 1.26× — both ride localCheckpoint-truncated
  * fixed-point loops, and two rounds of "watch" produced no mechanism.
  *
  * This probe runs both declared queries `reps` times in ONE JVM under
  * the Bench session config (graft.Session.local(), noop sink,
  * same between-query cache purge) with
  * [[graft.operators.LoopProbe]] enabled, and prints one JSON line per
  * rep: total seconds plus the per-round (phase, secs) breakdown from
  * inside the loops. What it separates:
  *
  *  - per-PHASE cost (checkpoint write vs convergence action vs the
  *    round's join+agg) — where a drifted second actually lives;
  *  - REP-index trend inside one JVM — a monotone climb means
  *    accumulating session state (block-manager pressure, codegen cache,
  *    AQE re-plans), a flat-but-noisy series means scheduling variance
  *    and the cycle drift is protocol noise, not a leak.
  *
  * Usage: runMain graft.tools.LoopDrift [sfDir] [reps]
  * (findings land in SCALE.md's "iterative-loop drift" section)
  */
object LoopDrift {
  /** Locale-pinned %.3f — the f-interpolator uses the default JVM locale,
    * so on comma-decimal locales the emitted JSON would be invalid. */
  private def f3(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", java.lang.Double.valueOf(d))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val reps = if (args.length > 1) args(1).toInt else 6
    val spark = graft.Session.local()
    graft.operators.LoopProbe.enable()
    // SPARK_GRAFT_LOOP_QUERIES overrides the audited pair — any declared
    // query that drives a LoopProbe'd fixed-point loop can be probed
    val queries = sys.env.get("SPARK_GRAFT_LOOP_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq("embedding_kmeans_assign", "dedup_clusters_cosine"))
    for (name <- queries; r <- 1 to reps) {
      val fn = graft.SparkEntry.queries(name)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val total = (System.nanoTime() - t0) / 1e9
      val rounds = graft.operators.LoopProbe.drain()
        .map(s => s""""${s.op}.${s.round}.${s.phase}":${f3(s.secs)}""")
        .mkString(",")
      println(s"""{"query":"$name","rep":$r,""" +
        s""""total":${f3(total)},"phases":{$rounds}}""")
      // Bench's between-query hygiene, so reps see the same block-manager
      // state a bench rep does
      spark.sparkContext.getPersistentRDDs.values
        .foreach(graft.operators.Barriers.quietUnpersist)
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
