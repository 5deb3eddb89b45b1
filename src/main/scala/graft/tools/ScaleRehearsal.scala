package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1-class scale rehearsal for the headline dedup/similarity family.
  *
  * The driver testdata tops out at sf0.1 (5k docs / 2k embeddings), which
  * verifies correctness but cannot show SCALING — whether the banded
  * minhash join, the iterative cosine clustering, the IVF probe and the
  * span machinery grow like their SCALE.md predictions or hide a
  * super-linear term. This tool synthesizes ×N corpora from sf0.1 and
  * times the DECLARED queries (same SparkEntry entries the oracle checks)
  * across scales.
  *
  * Scaling construction — growth must not change the dup STRUCTURE:
  *  - documents: replica r prefixes every token with `r<r>x`, so replicas
  *    are disjoint in shingle space — each replica reproduces the
  *    original's internal near-dup clusters and the dup FRACTION stays
  *    constant while the corpus grows ×N (naive row replication would
  *    instead make every doc a 10-way near-dup — a pathological, not
  *    scaled, corpus). Replica 0 is the original.
  *  - embeddings: replica r rotates each vector by r positions —
  *    norm-preserving and similarity-preserving WITHIN a replica, so
  *    cluster structure replicates instead of collapsing onto itself.
  *  - ids offset by r × 100M — disjoint, and md5-derived salts/draws
  *    (signatures, sampling) decorrelate across replicas.
  *
  * Streaming rows rehearse too (r12): the scaled tables are written as
  * single parquet FILES (the streaming staged sources copy/split
  * `<dir>/<table>.parquet` as a file, exactly like the driver testdata),
  * and events replicate by OFFSETTING event/user ids — disjoint users, so
  * per-user state (sessions, as-of buffers, interval joins) replicates
  * structurally while per-trigger row volume scales ×N against a CONSTANT
  * trigger count (split nFiles is fixed). That isolates the claim under
  * test: state-commit fixed cost (stores × partitions × triggers) must
  * stay flat while only the data term grows.
  *
  * Usage: runMain graft.tools.ScaleRehearsal [queries...]
  *   SPARK_GRAFT_SRC (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_SCALES (default "1,2,4,10")
  *   SPARK_GRAFT_REPS (default 2; per-scale median)
  * Scaled corpora are staged under /tmp/graft-scale/v2-x<N> once.
  */
object ScaleRehearsal {
  val DefaultQueries = Seq("dedup_near_minhash", "dedup_clusters_cosine",
    "similarity_topk_ivf_auto", "dedup_exact_spans")

  /** The 5 heaviest streaming rows (BENCH_r11 medians) — the set VERDICT
    * r11 asked to rehearse: stream-stream interval join, banded media
    * near-dup, capped minhash, as-of join, sessionization.
    */
  val StreamQueries = Seq("events_stream_range_join",
    "multimodal_stream_frame_near_dedup", "docs_stream_near_minhash_capped",
    "events_stream_asof_join", "events_stream_sessionize")

  /** PINNED-bench rehearsal forms (r14 verdict item 1): the declared
    * `decontaminate_semantic*` queries split bench out of the corpus by
    * `vec_id % 23`, so a naive ×N rehearsal grows the BENCH side with the
    * corpus and reads quadratic by construction — the same caveat
    * SCALE.md records for `decontaminate`. These variants pin the bench
    * slice to the ×1 source and scale only the training side, isolating
    * the claims under test: Θ(n·|bench|) map-side work for the exact
    * broadcast screen, and ∝n banded candidates for the escalation.
    * Signature: (spark, scaledDir, pinnedSrcDir) → frame.
    */
  val PinnedBench: Map[String, (SparkSession, String, String) => org.apache.spark.sql.DataFrame] = Map(
    "decontaminate_semantic_pinned" -> ((sp, dir, src) =>
      graft.operators.VectorOps.decontaminateSemantic(
        sp.read.parquet(s"$dir/embeddings.parquet")
          .filter(col("vec_id") % 23 =!= 0),
        sp.read.parquet(s"$src/embeddings.parquet")
          .filter(col("vec_id") % 23 === 0),
        threshold = 0.4)),
    "decontaminate_semantic_banded_pinned" -> ((sp, dir, src) =>
      graft.operators.VectorOps.decontaminateSemanticBanded(
        sp.read.parquet(s"$dir/embeddings.parquet")
          .filter(col("vec_id") % 23 =!= 0),
        sp.read.parquet(s"$src/embeddings.parquet")
          .filter(col("vec_id") % 23 === 0),
        threshold = 0.35, dim = 64)))

  def scaledDocuments(src: DataFrame, n: Int): DataFrame =
    (0 until n).map { r =>
      if (r == 0) src
      else src
        .withColumn("doc_id", col("doc_id") + lit(r * 100000000L))
        .withColumn("text", array_join(
          transform(split(col("text"), " "),
            t => concat(lit(s"r${r}x"), t)), " "))
        .withColumn("n_chars", length(col("text")))
    }.reduce(_ unionByName _)

  def scaledEmbeddings(src: DataFrame, n: Int): DataFrame =
    (0 until n).map { r =>
      if (r == 0) src
      else src
        .withColumn("vec_id", col("vec_id") + lit(r * 100000000L))
        .withColumn("embedding",
          concat(slice(col("embedding"), r + 1, 100000),
                 slice(col("embedding"), 1, r)))
    }.reduce(_ unionByName _)

  /** Events scale by id OFFSET only: replica r's users are disjoint from
    * replica 0's, so sessions / as-of chains / interval-join neighborhoods
    * replicate instead of interleaving (naive row duplication would fuse
    * every replica into one user's history — denser state per key, not
    * more keys, the wrong scaled shape). Time span unchanged: scale grows
    * keys and rows per trigger, not the window count.
    */
  def scaledEvents(src: DataFrame, n: Int): DataFrame =
    (0 until n).map { r =>
      if (r == 0) src
      else src
        .withColumn("event_id", col("event_id") + lit(r * 100000000L))
        .withColumn("user_id", col("user_id") + lit(r * 100000000L))
    }.reduce(_ unionByName _)

  /** Single-FILE parquet write (tmp dir + part-file move): the streaming
    * staged sources treat `<dir>/<table>.parquet` as a file to copy/split,
    * exactly the driver testdata layout — a directory there breaks the
    * stream staging (Files.copy of a directory copies the empty entry).
    */
  private def writeSingleFile(df: DataFrame, outFile: String): Unit = {
    val tmp = new java.io.File(outFile + ".tmpdir")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file under $tmp"))
    val dst = new java.io.File(outFile)
    if (dst.exists()) dst.delete()
    java.nio.file.Files.move(part.toPath, dst.toPath)
    tmp.listFiles().foreach(_.delete()); tmp.delete()
  }

  private def stage(spark: SparkSession, srcDir: String, n: Int): String = {
    val out = s"/tmp/graft-scale/v2-x$n"
    val done = new java.io.File(s"$out/.staged")
    if (!done.exists()) {
      new java.io.File(out).mkdirs()
      writeSingleFile(
        scaledDocuments(spark.read.parquet(s"$srcDir/documents.parquet"), n),
        s"$out/documents.parquet")
      writeSingleFile(
        scaledEmbeddings(spark.read.parquet(s"$srcDir/embeddings.parquet"), n),
        s"$out/embeddings.parquet")
      writeSingleFile(
        scaledEvents(spark.read.parquet(s"$srcDir/events.parquet"), n),
        s"$out/events.parquet")
      done.createNewFile()
    }
    out
  }

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SRC", "/root/testdata/sf0.1")
    val scales = sys.env.getOrElse("SPARK_GRAFT_SCALES", "1,2,4,10")
      .split(",").map(_.trim.toInt).toSeq
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    // "streams" expands to the heavy-streaming set; other args pass through
    val queries =
      if (args.nonEmpty)
        args.toSeq.flatMap(a => if (a == "streams") StreamQueries else Seq(a))
      else DefaultQueries
    val spark = graft.Session.local()
    // results append to a file as they land — a crashed or piped run keeps
    // everything measured so far (the r11 first run lost its timings to a
    // tail pipe AND a query abort; never again)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_REHEARSAL_OUT",
      "rehearsal_results.jsonl")
    val out = new java.io.PrintWriter(
      new java.io.FileWriter(outPath, /* append = */ true))
    for (n <- scales) {
      val dir = if (n == 1) srcDir else stage(spark, srcDir, n)
      for (q <- queries) {
        val res =
          try {
            val times = (1 to reps).map { _ =>
              val t0 = System.nanoTime()
              PinnedBench.get(q)
                .map(f => f(spark, dir, srcDir))
                .getOrElse(graft.SparkEntry.queries(q)(spark, dir))
                .write.format("noop").mode("overwrite").save()
              val dt = (System.nanoTime() - t0) / 1e9
              graft.operators.Barriers.purge(spark)
              dt
            }.sorted
            f"""{"scale":$n,"query":"$q","median_s":${times(times.length / 2)}%.3f,"runs":[${times.map(t => f"$t%.3f").mkString(",")}]}"""
          } catch { case t: Throwable =>
            s"""{"scale":$n,"query":"$q","err":"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("").replaceAll("[\"\\n]", " ").take(120)}"}"""
          }
        out.println(res); out.flush()
        println(s"[scale] $res")
      }
    }
    out.close()
    spark.stop()
  }
}
