package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Multimodal

/** Measured recall of `multimodal_caption_match`'s banded FOREIGN screen
  * against the exact cross screen — the accuracy contract the ANN family
  * already carries (tools.Recall), extended to the cross-modal operator.
  * The OWN half (matched / n_own_hits) is an exact media-keyed equi-join
  * since r16 and carries NO recall caveat, so only the foreign
  * (mislabeled-pair review queue) side is measured:
  *
  *  - foreign PAIR recall: of all cross-media (caption, frame) pairs
  *    with exact cosine ≥ τ, the share the banded+capped candidates
  *    surface;
  *  - review-queue MEDIA recall: of all media with ≥1 exact foreign hit,
  *    the share the declared operator reports with n_foreign_hits > 0.
  *
  * Ground truth is the O(|captions|·|frames|) cross join — TOOL-side
  * only, never in a declared query.
  *
  * `--topk` instead measures the RETRIEVAL rung
  * (`similarity_topk_crossmodal`, Multimodal.crossModalTopk): recall@k of
  * the declared IVF parameters against the exact cross-scan top-k over
  * the same md5-sampled caption queries — the ANN contract row for the
  * cross-modal ladder rung (SCALE.md ANN table).
  *
  * Usage: runMain graft.tools.CaptionRecall <sfDir>[,<sfDir>...] [tau]
  *        runMain graft.tools.CaptionRecall --topk <sfDir>[,...] [k]
  */
object CaptionRecall {

  def topkMain(sfDirs: Seq[String], k: Int, spark: SparkSession): Unit = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.ArrayMath.{dot_product, l2_norm}
    import graft.operators.VectorOps
    println(s"cross-modal retrieval recall@$k vs exact cross scan " +
      "(declared IVF params: nProbe=4, centroidEvery=50, maxQueries=100, " +
      "maxLists=128)")
    println("| sfDir | recall@k | exact rows | queries |")
    println("|---|---|---|---|")
    sfDirs.foreach { dir =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val got = Multimodal.crossModalTopk(docs, k = k)
        .select("caption_id", "media_id", "frame_idx")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val frames = Multimodal.frameFeatures(
        Multimodal.frameSample(Multimodal.mediaFromDocuments(docs), 64, 2))
      val caps = Multimodal.captionVectors(docs)
        .select(col("media_id").as("vec_id"), col("cv").as("embedding"))
      val qs = VectorOps.md5SampleQueries(caps, 100)
        .select(col("vec_id").as("caption_id"), col("embedding").as("qv"))
      val w = Window.partitionBy("caption_id")
        .orderBy(col("sim").desc, col("vec_id"))
      val sh = Multimodal.FrameIdShift
      val exact = qs.crossJoin(
          frames.select(col("vec_id"), col("embedding").as("fv")))
        .withColumn("sim", round(
          dot_product(col("qv"), col("fv")) /
            (l2_norm(col("qv")) * l2_norm(col("fv"))), 6))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("caption_id"), expr(s"vec_id div ${sh}L"),
                pmod(col("vec_id"), lit(sh)))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val nq = exact.map(_._1).size
      val recall =
        if (exact.isEmpty) Double.NaN
        else (got & exact).size.toDouble / exact.size
      println(f"| $dir | $recall%.3f | ${exact.size} | $nq |")
    }
  }

  def main(args: Array[String]): Unit = {
    val topk = args.headOption.contains("--topk")
    val rest = if (topk) args.drop(1) else args
    val sfDirs = rest(0).split(',').toSeq
    val tau = if (rest.length > 1) rest(1).toDouble else 0.9
    val spark = graft.Session.local()
    import graft.functions.ArrayMath.{dot_product, l2_norm}

    if (topk) {
      val k = if (rest.length > 1) rest(1).toInt else 5
      topkMain(sfDirs, k, spark)
      spark.stop()
      return
    }

    println(s"caption-match FOREIGN-screen recall vs exact cross, tau=$tau")
    println("| sfDir | foreign pair recall | review-queue media recall | exact foreign pairs |")
    println("|---|---|---|---|")
    sfDirs.foreach { dir =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val caps = Multimodal.captionVectors(docs)
        .withColumn("nc", l2_norm(col("cv")))
      val feats = Multimodal.frameFeatures(
          Multimodal.frameSample(Multimodal.mediaFromDocuments(docs), 64, 2))
        .withColumn("nf", l2_norm(col("embedding")))
      val exact = caps.crossJoin(feats)
        .filter(expr(s"vec_id div ${Multimodal.FrameIdShift}L")
          =!= col("media_id"))
        .withColumn("sim", round(
          dot_product(col("cv"), col("embedding")) /
            (col("nc") * col("nf")), 6))
        .filter(col("sim") >= tau)
        .select("media_id", "vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val approx = Multimodal.captionFrameHits(docs, tau)
        .filter(!col("own"))
        .select("media_id", "vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      def ratio(hit: Int, tot: Int) =
        if (tot == 0) Double.NaN else hit.toDouble / tot
      val pr = ratio((approx & exact).size, exact.size)
      val exactMedia = exact.map(_._1)
      val approxMedia = approx.map(_._1)
      val mr = ratio((approxMedia & exactMedia).size, exactMedia.size)
      println(f"| $dir | $pr%.3f | $mr%.3f | ${exact.size} |")
    }
    spark.stop()
  }
}
