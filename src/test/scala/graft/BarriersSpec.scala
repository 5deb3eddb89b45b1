package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Barriers

/** The pluggable materialization barrier: every strategy yields the same
  * frame; the unknown strategy fails fast (a typo must not silently fall
  * back to executor-local blocks on a cluster that needed durability).
  */
class BarriersSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Spec.spark

  test("persist and localCheckpoint strategies return identical frames") {
    import spark.implicits._
    val df = Seq(1, 2, 3).toDF("x")
    val viaDefault = Barriers.materialize(df).collect().map(_.getInt(0)).sorted
    spark.conf.set(Barriers.StrategyKey, "persist")
    try {
      val viaPersist =
        Barriers.materialize(df, eager = true).collect().map(_.getInt(0)).sorted
      assert(viaDefault.sameElements(Array(1, 2, 3)))
      assert(viaPersist.sameElements(Array(1, 2, 3)))
    } finally spark.conf.unset(Barriers.StrategyKey)
  }

  test("checkpoint strategy writes durable files and returns the frame") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    spark.conf.set(Barriers.StrategyKey, "checkpoint")
    try {
      val out = Barriers.materialize(Seq(1, 2, 3).toDF("x"), eager = true)
        .collect().map(_.getInt(0)).sorted
      assert(out.sameElements(Array(1, 2, 3)))
      // durable cluster-grade truncation = an rdd-* checkpoint directory
      // actually on checkpoint storage (setCheckpointDir itself mkdirs a
      // UUID subdir, so a bare non-empty check would pass vacuously)
      val walk = java.nio.file.Files.walk(dir)
      try assert(walk.anyMatch(p => p.getFileName.toString.startsWith("rdd-")))
      finally walk.close()
    } finally spark.conf.unset(Barriers.StrategyKey)
  }

  test("release drops persisted blocks so iterative loops don't pin copies") {
    import spark.implicits._
    import org.apache.spark.storage.StorageLevel
    spark.conf.set(Barriers.StrategyKey, "persist")
    try {
      val m = Barriers.materialize(Seq(1, 2).toDF("x"), eager = true)
      assert(m.storageLevel != StorageLevel.NONE)
      Barriers.release(m)
      assert(m.storageLevel == StorageLevel.NONE)
    } finally spark.conf.unset(Barriers.StrategyKey)
  }

  test("release frees localCheckpoint blocks, not just CacheManager entries") {
    import spark.implicits._
    import org.apache.spark.storage.StorageLevel
    // under the default localCheckpoint strategy the frame is a LogicalRDD,
    // which the CacheManager never saw — df.unpersist would be a silent
    // no-op and iterative loops would pin one copy per round (ADVICE r5)
    val m = Barriers.materialize(Seq(1, 2, 3).toDF("x"), eager = true)
    val rdd = m.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd
    assert(rdd.getStorageLevel != StorageLevel.NONE)
    Barriers.release(m)
    assert(rdd.getStorageLevel == StorageLevel.NONE)
  }

  test("minhash + cluster propagation run green under the checkpoint strategy") {
    // The cluster promise: `graft.barrier.strategy=checkpoint` is the
    // preemption-safe setting for the iterative pipelines. Run the REAL
    // pipelines through it — minhash banding (lazy barrier, two consumers)
    // and connected-components (eager barrier + release every round) —
    // and assert bit-identical results vs the default strategy.
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "the quick brown fox jumps over the lazy dog tonight"),
      (4L, "an entirely different document about spark and scala plans"),
      (5L, "an entirely different document about spark and scala plans"),
      (6L, "a singleton with no duplicate partner anywhere in sight")
    ).toDF("doc_id", "text")
    def run(): (Array[(Long, Long)], Array[(Long, Long, Boolean)]) = {
      val pairs = graft.operators.TextOps.minhashCandidates(docs)
        .as[(Long, Long)].collect().sorted
      val clusters = graft.operators.CorpusOps.dedupClusters(docs)
        .select("doc_id", "cluster_id", "is_canonical")
        .as[(Long, Long, Boolean)].collect().sortBy(_._1)
      (pairs, clusters)
    }
    val (pairsDefault, clustersDefault) = run()
    // sanity: the fixture must actually exercise multi-doc clusters
    assert(pairsDefault.nonEmpty)
    assert(clustersDefault.count(!_._3) >= 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-pipe")
    spark.sparkContext.setCheckpointDir(dir.toString)
    spark.conf.set(Barriers.StrategyKey, "checkpoint")
    try {
      val (pairsCkpt, clustersCkpt) = run()
      assert(pairsCkpt.sameElements(pairsDefault))
      assert(clustersCkpt.sameElements(clustersDefault))
    } finally spark.conf.unset(Barriers.StrategyKey)
  }

  test("unknown strategy fails fast") {
    import spark.implicits._
    spark.conf.set(Barriers.StrategyKey, "nope")
    try intercept[IllegalArgumentException] {
      Barriers.materialize(Seq(1).toDF("x"))
    } finally spark.conf.unset(Barriers.StrategyKey)
  }

  test("unpersist WARN suppression is message-scoped, not logger-wide") {
    // r13 advisory: the old form raised the RDD class's logger to ERROR
    // for the JVM's lifetime, silently swallowing every unrelated WARN
    // those classes emit. The filter form must (a) leave the logger's
    // level alone and (b) deny ONLY the lineage-truncation message.
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LoggerContext
    val rdd = spark.range(8).rdd.map(identity).persist()
    rdd.count()
    Barriers.purge(spark) // installs the filter for this RDD class
    val cls = rdd.getClass.getName
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val lc = ctx.getConfiguration.getLoggerConfig(cls)
    assert(lc.getName == cls, "a logger config must exist for the class")
    assert(lc.getLevel != Level.ERROR,
      s"logger level must stay untouched, got ${lc.getLevel}")
    // capture what actually reaches appenders through the config's filter
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new org.apache.logging.log4j.core.appender.AbstractAppender(
      "graft-test-capture", null, null, true,
      org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    lc.addAppender(app, Level.WARN, null)
    try {
      val logger = LogManager.getLogger(cls)
      logger.warn("RDD 42 is truncated and cannot be recomputed after unpersisting")
      logger.warn("unrelated warning that must still be delivered")
      val msgs = seen.toArray.map(_.toString)
      assert(msgs.exists(_.contains("unrelated warning")),
        s"unrelated WARNs must pass the filter, saw ${msgs.toSeq}")
      assert(!msgs.exists(_.contains("cannot be recomputed")),
        "the lineage-truncation message must be denied")
    } finally lc.removeAppender("graft-test-capture")
  }

  test("noise sentinel counts unpersist WARNs that leak past the filter") {
    // r14 advisory: the suppression filter is fail-open — if Spark's
    // warning text drifts, bench logs silently re-flood. The sentinel is
    // the detection: it counts unpersist-WARN events that actually reach
    // the appenders. A logger with NO filter installed (a class the mute
    // never touched) models exactly the drift scenario.
    import org.apache.logging.log4j.LogManager
    Barriers.armUnpersistNoiseSentinel()
    val before = Barriers.unpersistNoiseLeaks()
    val unmuted = LogManager.getLogger("org.apache.spark.rdd.DriftedRDD")
    unmuted.warn(
      "RDD 7 was truncated so it cannot be recomputed after unpersisting")
    unmuted.warn("some unpersist-adjacent but differently-worded warning")
    unmuted.warn("a warning about something else entirely")
    assert(Barriers.unpersistNoiseLeaks() >= before + 2,
      "sentinel must count both the exact phrase and the rdd.* unpersist WARN")
    // and a MUTED class's exact-phrase WARN is denied before the root
    // appenders — the sentinel stays quiet when the filter works
    val rdd = spark.range(4).rdd.map(identity).persist()
    rdd.count()
    Barriers.purge(spark) // installs the filter + really unpersists
    val mid = Barriers.unpersistNoiseLeaks()
    LogManager.getLogger(rdd.getClass.getName)
      .warn("RDD 9 is truncated and cannot be recomputed after unpersisting")
    assert(Barriers.unpersistNoiseLeaks() == mid,
      "a working filter must deny the line before the sentinel sees it")
  }
}
