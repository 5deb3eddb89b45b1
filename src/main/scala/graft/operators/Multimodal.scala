package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing ([EXT]): image/audio/video payloads ride as
  * opaque BINARY columns with typed metadata; decode / feature-extract /
  * resize / frame-sample run as per-partition transforms over the binary
  * payload.
  *
  * The media codecs themselves are STUBBED with a deterministic fake
  * (this container ships no image/audio libraries — see the builder
  * contract); everything Spark-side is real and tested: schema, binary
  * column handling, partitioning, batch shape of the per-partition decode,
  * and the join topology. Swapping `StubCodec` for a real JNI/javacv codec
  * changes no plan shape.
  */
object Multimodal {

  /** Typed metadata + payload schema for media objects. */
  case class MediaObject(media_id: Long, kind: String, content_type: String,
                         payload: Array[Byte])
  case class DecodedMedia(media_id: Long, kind: String, byte_len: Long,
                          width: Int, height: Int, n_frames: Int,
                          features: Array[Float])

  /** Deterministic fake codec: "decodes" a payload into dimensions, frame
    * count and a feature vector derived from the bytes. STUB — stands in
    * for image/audio decode (cv2/PIL/ffmpeg equivalents absent here).
    *
    * The decode seed is the first 32 bits of md5(payload) — portable, so
    * the DuckDB oracle (OracleExt.multimodalDecodeStub) reproduces
    * dimensions and frame counts exactly (a JVM-only `Arrays.hashCode`
    * would make the decode un-oracle-able).
    */
  object StubCodec {
    def decode(kind: String, payload: Array[Byte]): (Int, Int, Int) = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(payload).take(4).map("%02x".format(_)).mkString
      val h = java.lang.Long.parseLong(hex, 16)  // in [0, 2^32): no abs needed
      val w = (64 + h % 1024).toInt
      val ht = (64 + (h / 1024) % 1024).toInt
      val frames = kind match {
        case "video" => (1 + h % 240).toInt
        case "audio" => (1 + h % 16000).toInt
        case _       => 1
      }
      (w, ht, frames)
    }

    /** 8-dim byte-statistics "embedding" — deterministic, codec-free. */
    def features(payload: Array[Byte], dim: Int = 8): Array[Float] = {
      val out = new Array[Float](dim)
      var i = 0
      while (i < payload.length) {
        out(i % dim) += (payload(i) & 0xff) / 255.0f
        i += 1
      }
      if (payload.length > 0) {
        val scale = dim.toFloat / payload.length
        var j = 0
        while (j < dim) { out(j) *= scale; j += 1 }
      }
      out
    }
  }

  /** The one media-kind rule (id mod 3 → image/audio/video), shared by
    * [[mediaFromDocuments]] and the caption gate's per-kind report so the
    * two cannot disagree on what kind a media id is.
    */
  private[graft] def kindCol(id: Column): Column =
    element_at(array(lit("image"), lit("audio"), lit("video")),
               (id % 3 + 1).cast("int"))

  /** Synthesize a media table from the documents corpus: payload = UTF-8
    * bytes, kind cycles image/audio/video. Deterministic, so tests and the
    * rows-only driver check are stable.
    */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      kindCol(col("doc_id")).as("kind"),
      element_at(array(lit("image/png"), lit("audio/wav"), lit("video/mp4")),
                 (col("doc_id") % 3 + 1).cast("int")).as("content_type"),
      encode(col("text"), "UTF-8").as("payload"))

  /** Distributed decode: one pass per partition over the binary payloads —
    * the Scala analog of `mapInPandas` batch decode. Binary columns are
    * never collected to the driver; column pruning drops `payload` for
    * consumers that only read metadata.
    */
  def decodeAll(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select("media_id", "kind", "content_type", "payload")
      .as[MediaObject]
      .mapPartitions { it =>
        it.map { m =>
          val (w, h, frames) = StubCodec.decode(m.kind, m.payload)
          DecodedMedia(m.media_id, m.kind, m.payload.length.toLong,
                       w, h, frames, StubCodec.features(m.payload))
        }
      }
      .toDF()
  }

  /** Frame sampling: every `stride`-th fixed-size chunk of the payload —
    * the plan shape of video frame extraction (binary in, array of binary
    * out, exploded downstream). `frame_idx` is the sample ordinal (the
    * i-th sampled frame), so downstream frame-level ids are stable.
    */
  def frameSample(media: DataFrame, frameBytes: Int, stride: Int): DataFrame = {
    val nFrames = floor(octet_length(col("payload")).cast("long") / frameBytes)
    media.select(
      col("media_id"),
      posexplode(transform(
        sequence(lit(0L), greatest(ceil(nFrames / stride) - 1, lit(0L))),
        i => substring(col("payload"), (i * stride * frameBytes + 1).cast("int"),
                       lit(frameBytes)))))
      .select(col("media_id"), col("pos").cast("long").as("frame_idx"),
              col("col").as("frame"))
      .withColumn("frame_len", octet_length(col("frame")))
  }

  /** Composite frame id = media_id·2^20 + frame_idx (the para_id trick,
    * TextOps.ParaIdShift): one long key per sampled frame for the pair
    * machinery. Valid while payloads stay under 2^20 sampled frames
    * (= 128 MB at the 64-byte/stride-2 default) and media_id < 2^43.
    */
  val FrameIdShift: Long = 1L << 20

  /** Per-frame feature vector for NEAR-dup detection: `dim` mean-centered
    * integer sums of byte values by position mod `dim` —
    * `v[j] = dim·Σ(bytes at positions ≡ j) − Σ(all bytes)`. Same
    * DIRECTION as [[StubCodec.features]] up to a positive scalar (that
    * one scales by dim/len/255 and this one mean-centers — cosine is
    * scale-invariant, centering only removes the all-ones component every
    * text frame shares), but computed in exact INTEGER arithmetic, so the
    * DuckDB oracle reproduces it bit-for-bit where float accumulation
    * order would diverge. Zero-length frames and zero-norm (constant-
    * byte) frames are dropped: their cosine is 0/0, and NaN orders
    * ABOVE any threshold in Spark but below it in DuckDB.
    *
    * Output: (vec_id, embedding) — the contract of
    * [[graft.operators.VectorOps.nearDupCosine]].
    */
  def frameFeatures(frames: DataFrame, dim: Int = 8,
                    streamSafe: Boolean = false): DataFrame = {
    // Native one-pass codegen expression (functions/FrameMath.scala):
    // exact Long arithmetic identical to the original HOF formulation
    // (hex parse + dim aggregate sums), which needed an eager barrier
    // (batch) or a repartition (stream) to stop CollapseProject from
    // re-inlining the parse into every consumer. A single O(len)
    // primitive pass needs neither — `streamSafe` is retained for source
    // compatibility and because streaming callers may not place eager
    // barriers, but both modes now produce the same barrier-free plan.
    val _ = streamSafe
    frames
      .filter(col("frame_len") > 0)
      .select(
        (col("media_id") * FrameIdShift + col("frame_idx")).as("vec_id"),
        graft.functions.FrameMath.frame_byte_features(col("frame"), dim)
          .as("embedding"))
      .filter(graft.functions.ArrayMath
        .dot_product(col("embedding"), col("embedding")) > 0)
  }

  /** Caption-side byte-feature vector: [[graft.functions.FrameMath]]'s
    * mean-centered integer byte-statistics features over the caption's
    * WHOLE UTF-8 payload — the same direction and exact-integer
    * arithmetic as the per-frame vectors ([[frameFeatures]]), so a
    * caption↔frame cosine is well-defined and the DuckDB oracle
    * reproduces it bit-for-bit. Zero-norm (empty/constant-byte) captions
    * are dropped for the same NaN-ordering reason frameFeatures documents.
    */
  def captionVectors(docs: DataFrame, dim: Int = 8): DataFrame =
    docs.select(col("doc_id").as("media_id"),
        graft.functions.FrameMath
          .frame_byte_features(encode(col("text"), "UTF-8"), dim)
          .as("cv"))
      .filter(graft.functions.ArrayMath
        .dot_product(col("cv"), col("cv")) > 0)

  /** Cross-modal caption↔frame agreement — the CLIP-score shape over the
    * stub features, in two halves with different machinery because they
    * have different geometry:
    *
    *  - the OWN half (does this caption agree with its own media's
    *    frames — the keep signal of a caption-quality gate) is an
    *    EQUI-JOIN on media_id: caption vs its own ~frames/media rows,
    *    exact cosine, Θ(n·frames_per_media), keyed, linear. `matched`
    *    and `n_own_hits` are therefore EXACT — no banding, no recall
    *    caveat, because none is needed for a keyed question;
    *  - the FOREIGN half (does some OTHER media's frame agree better —
    *    the mislabeled-pair review queue) is genuinely corpus×corpus,
    *    so it rides the banded screen: both modalities band under the
    *    shared hyperplane layout (VectorOps.bandKeyCols — the
    *    decontaminateSemanticBanded geometry across the modality
    *    boundary, 4×16-bit bands, 0.25% candidate rate measured at
    *    sf0.01), exact cosine re-verifies candidates, threshold before
    *    the groupBy. Approximate like nearDupCosine — recall measured
    *    (tools.CaptionRecall, SCALE.md), rises with similarity, oracle
    *    restates the planes so the hash verifies parity.
    *
    * Output: one row per media with a caption vector and ≥1 frame
    * vector — n_own_hits / own_best_sim / matched (exact) plus
    * n_foreign_hits / best_foreign_sim (banded; 0/null when no foreign
    * candidate crossed τ).
    *
    * Hub-bucket bound (`maxBucket` — the maxDf discipline in band
    * space, FOREIGN side only): per-bucket candidate volume is
    * captions×frames WITHIN the bucket, so when both sides grow, a
    * bucket the correlated features keep hot grows its pair count
    * quadratically (the r16 ×10 rehearsal hit exactly this — multi-GB
    * join pages). Frame-side buckets holding more than `maxBucket`
    * frames are boilerplate-frame buckets and are dropped whole,
    * bounding any bucket's fan-out; non-binding at the declared corpora
    * (max occupancy 26 at sf0.01 / 224 at sf0.1, measured), restated by
    * the oracle. The exact own half is untouched by the cap. Swapping
    * the stub byte-features for real CLIP towers changes no plan shape.
    */
  def captionFrameMatch(docs: DataFrame, threshold: Double,
                        frameBytes: Int = 64, stride: Int = 2,
                        dim: Int = 8, bands: Int = 4,
                        rowsPerBand: Int = 16,
                        maxBucket: Int = 1024): DataFrame = {
    val (caps, feats) = capFeatFrames(docs, frameBytes, stride, dim)
    matchFromHits(caps, feats, captionFrameHitsFrom(caps, feats, threshold,
      dim, bands, rowsPerBand, maxBucket), threshold)
  }

  /** The caption/frame vector frames of one query invocation,
    * MATERIALIZED (r19 optimization): the byte-statistics feature
    * derivation is the family's dominant map-side cost and every caption
    * query used to re-derive it once per consumer — the match report's
    * own half, the banded foreign screen, and the review queue's best-hit
    * pass each paid the full frame-sample + feature projection (measured:
    * four ~1.3 s single-task jobs inside one review-queue execution).
    * One barrier each and every consumer reads the cached blocks.
    */
  private def capFeatFrames(docs: DataFrame, frameBytes: Int, stride: Int,
                            dim: Int): (DataFrame, DataFrame) =
    (Barriers.materialize(captionVectors(docs, dim)),
     Barriers.materialize(frameFeatures(
       frameSample(mediaFromDocuments(docs), frameBytes, stride), dim)))

  /** [[captionFrameMatch]]'s report from ALREADY-DERIVED inputs: the
    * exact own half from (caps, feats), the foreign half aggregated from
    * the banded hit rows — split out so the review queue shares one hit
    * pass across the verdict and the best-frame payload.
    */
  private def matchFromHits(caps: DataFrame, feats: DataFrame,
                            hits: DataFrame, threshold: Double): DataFrame = {
    import graft.functions.ArrayMath.{dot_product, l2_norm}
    val f = feats
      .withColumn("fmedia", expr(s"vec_id div ${FrameIdShift}L"))
      .withColumn("nf", l2_norm(col("embedding")))
    val c = caps.withColumn("nc", l2_norm(col("cv")))
    val own = c.join(f, col("media_id") === col("fmedia"))
      .withColumn("sim", round(
        dot_product(col("cv"), col("embedding")) /
          (col("nc") * col("nf")), 6))
      .groupBy("media_id")
      .agg(sum(when(col("sim") >= threshold, 1L).otherwise(0L))
             .as("n_own_hits"),
           max(col("sim")).as("own_best_sim"))
      .withColumn("matched", col("n_own_hits") > 0)
    val foreign = hits
      .filter(!col("own"))
      .groupBy("media_id")
      .agg(count(lit(1)).as("n_foreign_hits"),
           max(col("sim")).as("best_foreign_sim"))
    own.join(foreign, Seq("media_id"), "left")
      .na.fill(0L, Seq("n_foreign_hits"))
      .select("media_id", "n_own_hits", "own_best_sim", "matched",
              "n_foreign_hits", "best_foreign_sim")
  }

  /** The pre-aggregation hit rows of [[captionFrameMatch]]:
    * one (media_id, vec_id, sim, own) row per banded candidate at/above
    * `threshold` — split out so the recall tool
    * (graft.tools.CaptionRecall) can measure the banding against the
    * exact cross screen at PAIR granularity.
    */
  private[graft] def captionFrameHits(
      docs: DataFrame, threshold: Double,
      frameBytes: Int = 64, stride: Int = 2,
      dim: Int = 8, bands: Int = 4,
      rowsPerBand: Int = 16, maxBucket: Int = 1024): DataFrame =
    captionFrameHitsFrom(
      captionVectors(docs, dim),
      frameFeatures(frameSample(mediaFromDocuments(docs),
                                frameBytes, stride), dim),
      threshold, dim, bands, rowsPerBand, maxBucket)

  /** The foreign screen's GEOMETRY over arbitrary caption/frame vector
    * frames — split out of [[captionFrameHits]] so every caller that
    * brings its own caption/frame frames screens with the exact declared
    * plan instead of a re-implementation.
    * `caps` = (media_id, cv); `feats` = (vec_id, embedding).
    */
  private[graft] def captionFrameHitsFrom(
      caps: DataFrame, feats: DataFrame, threshold: Double,
      dim: Int, bands: Int, rowsPerBand: Int,
      maxBucket: Int): DataFrame = {
    import graft.functions.ArrayMath.{dot_product, l2_norm}
    // both the occupancy count and the candidate join read the frame
    // bands — materialize so the 64 plane projections run once
    val fBands = Barriers.materialize(feats.select(col("vec_id"),
      explode(array(VectorOps.bandKeyCols(col("embedding"), dim,
                                          bands, rowsPerBand): _*)).as("band")))
    val okBuckets = fBands.groupBy("band")
      .agg(count(lit(1)).as("bc"))
      .filter(col("bc") <= maxBucket)
      .select("band")
    val cBands = caps.select(col("media_id"),
      explode(array(VectorOps.bandKeyCols(col("cv"), dim,
                                          bands, rowsPerBand): _*)).as("band"))
    val cand = cBands.join(okBuckets, Seq("band"))
      .join(fBands, Seq("band"))
      .select("media_id", "vec_id").distinct()
    val c = caps.withColumn("nc", l2_norm(col("cv")))
    val f = feats.select(col("vec_id"), col("embedding").as("fv"))
      .withColumn("nf", l2_norm(col("fv")))
    cand.join(c, Seq("media_id")).join(f, Seq("vec_id"))
      // round(…, 6) before compare/max — the nearDupCosine parity rule
      .withColumn("sim", round(
        dot_product(col("cv"), col("fv")) / (col("nc") * col("nf")), 6))
      .filter(col("sim") >= threshold)
      .withColumn("own",
        expr(s"vec_id div ${FrameIdShift}L") === col("media_id"))
      .select("media_id", "vec_id", "sim", "own")
  }

  /** APPLY the caption-match verdict — the gate a pipeline actually runs
    * over [[captionFrameMatch]]'s per-media report (the audit→apply arc
    * every dedup family ends in: pairs → verdict → drop list → savings):
    *
    *  - `keep`  — the caption agrees with its own frames (`matched`,
    *    which is EXACT: the own half is a keyed equi-join);
    *  - `review` — unmatched but some OTHER media's frame cleared τ
    *    (`n_foreign_hits > 0 AND NOT matched`): the mislabeled-pair
    *    queue, quarantined for human/model review rather than silently
    *    deleted;
    *  - `drop`  — unmatched with no foreign signal: the caption carries
    *    no supported pairing. Media absent from the match report (zero-
    *    norm caption or no frame vectors — nothing to agree WITH) land
    *    here via the left join's fills.
    *
    * `dropped` (= NOT matched, review included — both leave the training
    * set) is the column [[captionSavings]] feeds to the one shared
    * savings aggregation. One left join of the per-media report (≪ frame
    * count) against the media ids + a per-row projection — adds no
    * unkeyed stage to the match plan.
    */
  def captionDropList(docs: DataFrame, threshold: Double,
                      frameBytes: Int = 64, stride: Int = 2,
                      dim: Int = 8, bands: Int = 4,
                      rowsPerBand: Int = 16,
                      maxBucket: Int = 1024): DataFrame =
    dropListFrom(docs,
      captionFrameMatch(docs, threshold, frameBytes, stride, dim,
        bands, rowsPerBand, maxBucket))

  /** The verdict from an already-computed match report — shared by
    * [[captionDropList]] and [[captionReviewQueue]] so the queue's
    * membership is the drop list's `review` set over the SAME single
    * screen pass.
    */
  private def dropListFrom(docs: DataFrame,
                           matchReport: DataFrame): DataFrame =
    docs.select(col("doc_id").as("media_id"),
                kindCol(col("doc_id")).as("kind"))
      .join(matchReport
          .select("media_id", "matched", "n_foreign_hits"),
        Seq("media_id"), "left")
      .na.fill(false, Seq("matched"))
      .na.fill(0L, Seq("n_foreign_hits"))
      .withColumn("action",
        when(col("matched"), lit("keep"))
          .when(col("n_foreign_hits") > 0, lit("review"))
          .otherwise(lit("drop")))
      .withColumn("dropped", !col("matched"))
      .select("media_id", "kind", "matched", "n_foreign_hits", "action",
              "dropped")

  /** What the caption gate SAVES, per media kind: document/token counts
    * before and after [[captionDropList]], through the ONE shared savings
    * aggregation ([[CorpusOps.savingsFromVerdict]]) every dedup family
    * reports with — grouped by media `kind` instead of corpus `source`,
    * so the image/audio/video gates read off one table. Same integer
    * arithmetic, same report shape; the verdict is the policy.
    */
  def captionSavings(docs: DataFrame, threshold: Double,
                     frameBytes: Int = 64, stride: Int = 2,
                     dim: Int = 8, bands: Int = 4,
                     rowsPerBand: Int = 16,
                     maxBucket: Int = 1024): DataFrame =
    CorpusOps.savingsFromVerdict(
      docs.withColumn("kind", kindCol(col("doc_id"))),
      captionDropList(docs, threshold, frameBytes, stride, dim, bands,
          rowsPerBand, maxBucket)
        .select(col("media_id").as("doc_id"), col("dropped")),
      groupCol = "kind")

  /** The review queue's PAYLOAD — what a reviewer actually opens: for
    * each media [[captionDropList]] flags `review` (foreign hit, no own
    * agreement — the mislabeled-pair candidates), the single strongest
    * foreign frame (max sim; ties lowest composite frame id), decomposed
    * to (foreign_media, foreign_frame) so the reviewer lands on the
    * exact frame that beat the caption's own media. Membership is the
    * drop list's `review` set VERBATIM (one shared verdict), and
    * `best_sim` is by construction the match report's
    * `best_foreign_sim` (same banded hit rows, same rounding).
    *
    * Scale shape: the drop-list verdict + one max-struct partial agg
    * over the banded hit rows + a keyed join of the (small) review set —
    * a pipeline materializing the caption gate would share the one
    * screen pass across verdict and queue; declared standalone for the
    * oracle.
    */
  def captionReviewQueue(docs: DataFrame, threshold: Double,
                         frameBytes: Int = 64, stride: Int = 2,
                         dim: Int = 8, bands: Int = 4,
                         rowsPerBand: Int = 16,
                         maxBucket: Int = 1024): DataFrame = {
    // one screen pass for the whole queue (r19 optimization): the banded
    // hit rows are materialized once and feed BOTH the verdict (via the
    // match report) and the best-foreign-frame payload; caps/feats ride
    // their own shared barriers (capFeatFrames).
    // Intentional pin (r19 ADVICE item 3): these barriers cannot be
    // released inside this function — the returned frame is lazy, so the
    // caller materializes AFTER we return and the blocks must survive
    // until then. The harness's between-query cache purge reclaims them;
    // a long-lived session composing several caption queries should purge
    // (or run each query's action before composing the next) — recorded
    // here as the documented leak inventory entry.
    val (caps, feats) = capFeatFrames(docs, frameBytes, stride, dim)
    val hits = Barriers.materialize(captionFrameHitsFrom(caps, feats,
      threshold, dim, bands, rowsPerBand, maxBucket))
    val review = dropListFrom(docs,
        matchFromHits(caps, feats, hits, threshold))
      .filter(col("action") === "review")
      .select("media_id", "kind")
    val best = hits
      .filter(!col("own"))
      .groupBy("media_id")
      .agg(max(struct(col("sim"), (-col("vec_id")).as("nv"),
        col("vec_id"))).as("m"))
      .select(col("media_id"), col("m.sim").as("best_sim"),
              col("m.vec_id").as("v"))
    review.join(best, Seq("media_id"))
      .select(col("media_id"), col("kind"),
              expr(s"v div ${FrameIdShift}L").as("foreign_media"),
              pmod(col("v"), lit(FrameIdShift)).as("foreign_frame"),
              col("best_sim"))
  }

  /** Cross-modal RETRIEVAL — the other half of the CLIP-score shape:
    * [[captionFrameMatch]] answers "does this (caption, media) pair
    * agree"; this answers "which frames, anywhere in the corpus, best
    * match this caption" — top-k frames per caption through the ANN
    * ladder's IVF rung pointed across the modality boundary (caption
    * vectors as the QUERY side, frame vectors as the CORPUS side, both
    * from the one shared byte-statistics feature space so the cosine is
    * well-defined — [[captionVectors]]/[[frameFeatures]] scaladoc).
    *
    * Geometry is [[VectorOps.topkCosineIvf]] verbatim with every scale
    * bound it already carries: capped codebook (seed stride widens past
    * centroidEvery·maxLists, assignment stays Θ(n·nlist)), bounded
    * deterministic md5 query sample (Θ(probe·maxQueries) search), fixed
    * nProbe. `excludeSelf = false`: the self-pair exclusion is an
    * IDENTITY rule for same-space search, and caption ids (media ids)
    * share no identity with composite frame ids — a numeric collision
    * (media 7's caption vs frame 7 of media 0) is a legitimate
    * cross-modal result, not a self-pair. Approximate like the ladder's
    * other rungs — recall measured against the brute-force cross scan
    * (tools.CaptionRecall --topk, SCALE.md ANN table); deterministic, so
    * the DuckDB restatement hash-verifies the result.
    *
    * Output: (caption_id, media_id, frame_idx, sim, rank) — the frame's
    * composite id decomposed so the consumer reads "caption c's best
    * frames are media m frame f" directly.
    */
  def crossModalTopk(docs: DataFrame, k: Int, nProbe: Int = 4,
                     centroidEvery: Int = 50, maxQueries: Int = 100,
                     maxLists: Int = 128,
                     frameBytes: Int = 64, stride: Int = 2,
                     dim: Int = 8): DataFrame = {
    val frames = frameFeatures(
      frameSample(mediaFromDocuments(docs), frameBytes, stride), dim)
    val caps = captionVectors(docs, dim)
      .select(col("media_id").as("vec_id"), col("cv").as("embedding"))
    VectorOps.topkCosineIvf(frames, k, nProbe, centroidEvery,
        queries = Some(VectorOps.md5SampleQueries(caps, maxQueries)),
        maxLists = maxLists, excludeSelf = false)
      .select(col("query_id").as("caption_id"),
              expr(s"neighbor_id div ${FrameIdShift}L").as("media_id"),
              pmod(col("neighbor_id"), lit(FrameIdShift)).as("frame_idx"),
              col("sim"), col("rank"))
  }

  /** Metadata-only projection over media + decoded features + documents —
    * the "one frame with text, vector and binary-derived columns" shape.
    */
  def mediaSummary(spark: SparkSession, docs: DataFrame): DataFrame = {
    val media = mediaFromDocuments(docs)
    val decoded = decodeAll(spark, media)
    decoded
      .groupBy("kind")
      .agg(
        count(lit(1)).as("n"),
        sum(col("byte_len")).as("total_bytes"),
        max(col("n_frames")).cast("long").as("max_frames"))
  }
}
