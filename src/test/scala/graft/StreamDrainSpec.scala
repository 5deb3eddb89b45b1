package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Barriers, CorpusOps, EventOps}
import graft.sources.Tables
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{DeltaLog, ParquetFiles}

/** The one stream drain: each sink shape gives the batch result under
  * every barrier strategy and cleans its scratch up, and the file-backed
  * shapes restart from their checkpoint to the uninterrupted result.
  */
class StreamDrainSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Spec.spark

  private val dir = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def scratchDirs(): Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).list())
      .map(_.filter(_.startsWith("graft_")).toSet).getOrElse(Set.empty)

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  test("each drain shape equals the batch operator under every barrier strategy") {
    // (name, declared stream over the drain, batch operator, file-backed)
    val shapes = Seq[(String, () => DataFrame, () => DataFrame, Boolean)](
      ("complete memory", () => StreamingOps.windowCounts(spark, dir, "1 hour"),
        () => EventOps.tumblingCounts(Tables.events(spark, dir), "1 hour"),
        false),
      ("update delta log", () => StreamingOps.mixReportStreamUpdate(spark, dir),
        () => CorpusOps.mixReport(Tables.documents(spark, dir)), true),
      ("append file sink", () => StreamingOps.captionMatchStream(spark, dir),
        () => SparkEntry.queries("multimodal_caption_match")(spark, dir), true))
    val batch = shapes.map { case (name, _, op, _) => name -> rows(op()) }.toMap
    val default = shapes.map { case (name, stream, _, _) =>
      name -> rows(stream()) }.toMap
    shapes.foreach { case (name, _, _, _) =>
      assert(default(name) == batch(name) && batch(name).nonEmpty, name)
    }
    val ckpt = Files.createTempDirectory("graft-ckpt-drain")
    spark.sparkContext.setCheckpointDir(ckpt.toString)
    for (strategy <- Seq("localCheckpoint", "persist", "checkpoint")) {
      spark.conf.set(Barriers.StrategyKey, strategy)
      try shapes.foreach { case (name, stream, _, fileBacked) =>
        val before = scratchDirs()
        val out = stream()
        val left = scratchDirs() -- before
        val got = rows(out)
        assert(got == default(name), s"$name under $strategy")
        if (strategy == "persist" && fileBacked) {
          // the persisted rows keep their lineage to data/: the drain keeps
          // that dir (and only it), and the rows recompute from it once
          // their blocks are gone
          assert(left.size == 1, s"$name under persist left $left")
          val base = new java.io.File(System.getProperty("java.io.tmpdir"),
            left.head)
          assert(base.list().toSeq == Seq("data"), s"$name: ${base.list().toSeq}")
          Barriers.purge(spark)
          assert(rows(out) == default(name), s"$name recomputed from data/")
          deleteRecursively(base)
        } else assert(left.isEmpty, s"$name under $strategy left $left")
      } finally spark.conf.unset(Barriers.StrategyKey)
    }
    Spec.sweepCaches()
    deleteRecursively(ckpt.toFile)
  }

  /** A landing dir fed one single-row parquet file at a time, so a drain
    * sees the first k files and a restart the rest.
    */
  private class Landing(base: Path) {
    val in: Path = Files.createDirectories(base.resolve("in"))
    private var n = 0
    def add(texts: Seq[String]): Unit = texts.foreach { text =>
      import spark.implicits._
      val tmp = base.resolve(s"tmp$n").toString
      Seq((n.toLong, text)).toDF("doc_id", "text")
        .coalesce(1).write.parquet(tmp)
      val part = Files.list(java.nio.file.Paths.get(tmp))
        .filter(_.toString.endsWith(".parquet")).findFirst.get
      Files.copy(part, in.resolve(s"f$n.parquet"))
      n += 1
    }
    def stream(): DataFrame =
      spark.readStream.schema(spark.read.parquet(in.toString).schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(in.toString)
  }

  private val texts = Seq("a a b", "b c", "d", "a e", "c c f", "b f g")
  private val k = 3

  private def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))

  private def tokenCounts(docs: DataFrame): DataFrame =
    tokens(docs).groupBy("token").agg(count(lit(1)).as("freq"))

  /** Drain `plan` over the first k texts into a caller-owned base, add the
    * rest, drain again from the same checkpoint; returns the second
    * drain's result, the uninterrupted drain's and the batch plan's.
    */
  private def restarted(sink: StreamingOps.Sink, plan: DataFrame => DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val root = Files.createTempDirectory("graft-restart-")
    try {
      val cut = new Landing(root.resolve("cut"))
      val scratch = root.resolve("scratch")
      cut.add(texts.take(k))
      StreamingOps.drainAt(spark, plan(cut.stream()), sink, scratch)
      cut.add(texts.drop(k))
      val merged =
        StreamingOps.drainAt(spark, plan(cut.stream()), sink, scratch)
      assert(Files.isDirectory(scratch.resolve("ckpt")),
        "a caller-owned base stays in place")
      val whole = new Landing(root.resolve("whole"))
      whole.add(texts)
      val straight = StreamingOps.drain(spark, plan(whole.stream()), sink)
      val batch = plan(spark.read.parquet(whole.in.toString))
      // the drains pinned their rows; pin the batch's before its input goes
      (merged, straight, Barriers.materialize(batch, eager = true))
    } finally deleteRecursively(root.toFile)
  }

  test("an Update delta log restarted from its checkpoint equals the " +
       "uninterrupted drain and the batch aggregate") {
    val (merged, straight, batch) = restarted(DeltaLog, tokenCounts)
    // the restart resumed the batch ids: one trigger per file, no replay
    // of the first k files
    assert(merged.select("batch_id").distinct().count() == texts.size)
    assert(merged.agg(max("batch_id")).head.getLong(0) == texts.size - 1)
    val reduced = rows(StreamingOps.latestPerKey(merged, Seq("token")))
    assert(reduced == rows(StreamingOps.latestPerKey(straight, Seq("token"))))
    assert(reduced == rows(batch) && reduced.nonEmpty)
  }

  test("an Append file sink restarted from its checkpoint gives each row " +
       "exactly once") {
    val (merged, straight, batch) = restarted(ParquetFiles, tokens)
    def sorted(df: DataFrame): Seq[Row] =
      df.orderBy("doc_id", "token").collect().toSeq
    // sequences, not sets: a row the restart replayed would show twice
    assert(sorted(merged) == sorted(straight))
    assert(sorted(merged) == sorted(batch))
    assert(merged.count() == texts.map(_.split(" ").length).sum)
  }
}
