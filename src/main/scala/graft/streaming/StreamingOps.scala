package graft.streaming

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over the events table: watermarked
  * windowed aggregation and custom-state sessionization
  * (flatMapGroupsWithState) — the streaming generalization of the
  * reference's ticker micro-batch (SURVEY.md §2.10).
  *
  * Each entry runs the stream synchronously to completion over the parquet
  * input (memory sink + processAllAvailable) and returns the result as a
  * static DataFrame, so the same driver harness that checks batch queries
  * can check streaming ones; results match the batch operators exactly,
  * which is what the shared DuckDB oracles assert.
  */
object StreamingOps {

  private val counter = new AtomicLong(0)

  /** Returns true when `marker` already records the current (size, mtime)
    * of `src` — i.e. the staged copy under it is up to date. Otherwise
    * (missing, stale, or source changed) returns false; callers re-stage
    * and then [[writeStageMarker]]. Staging is landing-dir setup, not query
    * work: without the marker every benchmark invocation re-copied (or
    * re-wrote) the parquet input INSIDE the timed query, which dominates
    * the cost of the small streaming-state queries under machine
    * contention.
    */
  private def stageIsFresh(src: java.nio.file.Path,
                           marker: java.nio.file.Path): Boolean = {
    val want = stageStamp(src)
    java.nio.file.Files.exists(marker) &&
      new String(java.nio.file.Files.readAllBytes(marker), "UTF-8") == want
  }

  private def stageStamp(src: java.nio.file.Path): String =
    s"${java.nio.file.Files.size(src)}:" +
      s"${java.nio.file.Files.getLastModifiedTime(src).toMillis}"

  private def writeStageMarker(src: java.nio.file.Path,
                               marker: java.nio.file.Path): Unit =
    java.nio.file.Files.write(marker, stageStamp(src).getBytes("UTF-8"))

  /** The streaming file source wants a directory; stage the single parquet
    * file into one (the real deployment reads a landing dir). Staged at
    * most once per source state: a marker records the source's
    * (size, mtime) and matching markers skip the copy, across queries AND
    * across JVMs.
    */
  private def stagedStream(spark: SparkSession, dir: String,
                           table: String): DataFrame = synchronized {
    val src = java.nio.file.Paths.get(s"$dir/$table.parquet")
    val stage = java.nio.file.Paths.get(s"/tmp/graft-io/$table-stream",
      Integer.toHexString(dir.hashCode))
    java.nio.file.Files.createDirectories(stage)
    val marker = stage.resolve(".staged")
    if (!stageIsFresh(src, marker)) {
      java.nio.file.Files.copy(src, stage.resolve(s"$table.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      writeStageMarker(src, marker)
    }
    val schema = spark.read.parquet(src.toString).schema
    spark.readStream.schema(schema)
      .option("pathGlobFilter", "*.parquet")
      .parquet(stage.toString)
  }

  /** Like [[stagedStream]] but splits the table into `nFiles` parquet files
    * and admits one file per trigger, so the query genuinely runs across
    * several micro-batches — the arrival pattern a landing directory
    * produces — instead of draining in one. Stateful operators exercised
    * through this source carry state BETWEEN batches, which a single-batch
    * drain never tests. Same staging discipline as [[stagedStream]]: the
    * split rewrite runs once per source state, not once per invocation.
    */
  private def stagedStreamSplit(spark: SparkSession, dir: String,
                                table: String, nFiles: Int): DataFrame =
    synchronized {
    val src = java.nio.file.Paths.get(s"$dir/$table.parquet")
    val stage = s"/tmp/graft-io/$table-stream-split$nFiles/" +
      Integer.toHexString(dir.hashCode)
    val marker = java.nio.file.Paths.get(stage, ".staged")
    val batch = spark.read.parquet(src.toString)
    if (!stageIsFresh(src, marker)) {
      batch.repartition(nFiles).write.mode("overwrite").parquet(stage)
      writeStageMarker(src, marker)
    }
    spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(stage)
  }

  /** Stage an expensive deterministic DERIVED frame (e.g. the benchmark
    * shingle set of the decontamination streams) as parquet, keyed by the
    * (size, mtime) of its source table — computed once per source state,
    * across invocations AND JVMs, same discipline as [[stagedStream]].
    * Replaces a per-invocation `Barriers.materialize`: that rebuilt the
    * frame on every bench rep (3× per invocation) and left localCheckpoint
    * blocks pinned for the JVM's lifetime; a staged parquet pays one tiny
    * re-read per consumer instead.
    */
  private def stagedDerived(spark: SparkSession, dir: String, table: String,
                            key: String)(build: => DataFrame): DataFrame =
    synchronized {
      val src = java.nio.file.Paths.get(s"$dir/$table.parquet")
      val stage = java.nio.file.Paths.get(s"/tmp/graft-io/derived-$key",
        Integer.toHexString(dir.hashCode))
      java.nio.file.Files.createDirectories(stage)
      val marker = stage.resolve(".staged")
      if (!stageIsFresh(src, marker)) {
        build.write.mode("overwrite").parquet(stage.toString)
        writeStageMarker(src, marker)
      }
      spark.read.parquet(stage.toString)
    }

  // Delegate to the single shared normalizer so batch and stream readers
  // can never disagree on the ts encoding (long nanos / TIMESTAMP_NTZ /
  // TimestampType — see Tables.normalizeEventTs).
  private def normalizeEventTs(raw: DataFrame): DataFrame =
    graft.sources.Tables.normalizeEventTs(raw)

  private def eventsStream(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTs(stagedStream(spark, dir, "events"))

  private def eventsStreamSplit(spark: SparkSession, dir: String,
                                nFiles: Int): DataFrame =
    normalizeEventTs(stagedStreamSplit(spark, dir, "events", nFiles))

  /** Shuffle-partition count for STREAMING queries, settable via
    * `graft.stream.shufflePartitions` (default 8, capped by the session
    * value). Streaming state lives in one state store per (operator,
    * shuffle partition) and EVERY store commits EVERY trigger whether or
    * not it saw rows — so the per-trigger fixed cost scales with
    * partitions × stores × triggers, not with data volume. At harness
    * scale (sf0.1, 2-4 triggers) 32 partitions is pure overhead; 8 cuts
    * the stateful streams' fixed cost with bit-identical drained results
    * (partition count never changes aggregation / flatMapGroupsWithState
    * / stream-join semantics, only key placement — the shared oracles
    * re-verify it). On a real cluster size it to state volume ÷ target
    * store size instead (SCALE.md RocksDB sizing table); the session
    * value stays untouched for batch queries.
    */
  private def streamShufflePartitions(spark: SparkSession): String = {
    val session = spark.conf.get("spark.sql.shuffle.partitions").toInt
    spark.conf.getOption("graft.stream.shufflePartitions")
      .getOrElse(math.min(8, session).toString)
  }

  private val StateProviderKey =
    "spark.sql.streaming.stateStore.providerClass"
  private val RocksDBProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run the stream to a memory sink and return the drained table.
    *
    * `largeState = true` additionally backs the query's state stores with
    * RocksDB instead of the default in-heap HDFS-backed provider. The
    * crossover is state VOLUME per store: the in-heap provider re-writes
    * each store's delta and periodically snapshots its whole map, so
    * commit cost grows with resident state — for the two queries that
    * buffer a table-sized state (the stream-stream range join holds both
    * sides for the full disorder window; the declared as-of join holds
    * every view/purchase), RocksDB measured 0.55×/0.78× of the in-heap
    * time at sf0.1 (r11). Small-state streams (windowed counts, content
    * hashes, interval lists) stay in-heap — RocksDB's JNI round-trips
    * measured slightly slower there. At deployment scale RocksDB is the
    * default recommendation regardless (SCALE.md sizing table) because
    * heap-resident state is the thing that falls over first.
    */
  private def runToTable(spark: SparkSession, df: DataFrame,
                         mode: OutputMode,
                         largeState: Boolean = false): DataFrame = {
    val name = s"graft_stream_${counter.incrementAndGet()}"
    // Conf values are captured when the query's first batch plans (and
    // pinned in its checkpoint thereafter); restore the session values
    // only after the drain so the settings cannot leak into batch queries
    // while staying race-free for this stream. Queries run sequentially in
    // this harness (Verify/Bench), so the temporary session mutation has
    // no concurrent observer.
    val overrides =
      Map("spark.sql.shuffle.partitions" -> streamShufflePartitions(spark)) ++
        (if (largeState) Map(
          StateProviderKey -> RocksDBProvider,
          // changelog checkpointing commits only the trigger's delta to
          // the checkpoint instead of snapshotting each store's full
          // SST set per commit — the commit path for frequent triggers
          // over table-sized state at any scale (A/B'd at sf0.1 in r19:
          // see OPTIMIZATION_r19.md; decided in r20)
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
            "true")
        else Map.empty)
    val saved = overrides.keys
      .map(k => k -> spark.conf.getOption(k)).toMap
    def restore(): Unit = saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    val q =
      try df.writeStream.outputMode(mode).format("memory")
        .queryName(name).start()
      catch { case t: Throwable => restore(); throw t }
    try q.processAllAvailable()
    finally { try q.stop() finally restore() }
    // copy out of the memory sink so the result survives the query stop
    val out = spark.table(name).localCheckpoint(eager = true)
    spark.catalog.dropTempView(name)
    out
  }

  /** Watermarked tumbling-window counts; complete mode so the finite input
    * emits every window (append would hold the tail back behind the
    * watermark). Matches EventOps.tumblingCounts — same oracle.
    */
  def windowCounts(spark: SparkSession, dir: String,
                   duration: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), duration).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast("decimal(25,4)")).cast("double").as("sum_value"))
    runToTable(spark, agg, OutputMode.Complete())
      .select(col("w.start").as("window_start"), col("event_type"),
              col("n"), col("sum_value"))
  }

  private def docsStream(spark: SparkSession, dir: String): DataFrame =
    stagedStream(spark, dir, "documents")

  private def embeddingsStream(spark: SparkSession, dir: String): DataFrame =
    stagedStream(spark, dir, "embeddings")

  /** Streaming hashed-n-gram quality gate — the ingest-time twin of
    * [[graft.operators.TextOps.qualityClassifier]], applied to the stream
    * VERBATIM: the classifier is a stateless per-row projection
    * (`transform`/`aggregate` over the native bigram array — no explode,
    * no groupBy, no join), so the batch operator itself runs under
    * Append mode with ZERO state — nothing to watermark, nothing to
    * drain, the strongest possible cannot-drift guarantee (one function,
    * two run modes). This is the deployment shape: every arriving
    * document gets its absolute quality verdict as it lands, the
    * docs_stream_importance discipline with the learned-gate policy.
    * Shares the batch oracle.
    */
  def qualityClassifierStream(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark,
      graft.operators.TextOps.qualityClassifier(docsStream(spark, dir)),
      OutputMode.Append())

  /** Streaming semantic decontamination: the ingest-time twin of
    * `VectorOps.decontaminateSemantic` — each arriving training vector is
    * screened against the STATIC benchmark embedding set (broadcast on a
    * constant key; the stream-static hash join is stateless) and its
    * threshold-crossing sims aggregate per vector.
    *
    * State honesty, and the one deliberate difference from the batch
    * form: only CONTAMINATED vectors enter the aggregation (the
    * `sim >= threshold` filter runs BEFORE the groupBy), so state is one
    * row per LEAKED vector, not per corpus vector — the
    * exactContaminationStream discipline. The outputs still agree with
    * the batch screen on the rows both emit: a vector with any sim ≥ τ
    * has its global max ≥ τ too, so max over the filtered pairs IS the
    * global max, and the hit count only ever counted threshold-crossers.
    * The oracle is the batch SQL restricted to contaminated rows.
    */
  def decontaminateSemanticStream(spark: SparkSession, dir: String,
                                  threshold: Double): DataFrame = {
    import graft.functions.ArrayMath.{dot_product, l2_norm}
    val bench = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") % 23 === 0)
      .select(col("vec_id").as("bench_id"), col("embedding").as("bv"))
      .withColumn("nb", l2_norm(col("bv")))
      .withColumn("one", lit(1))
    val train = embeddingsStream(spark, dir)
      .filter(col("vec_id") % 23 =!= 0)
      .select(col("vec_id"), col("embedding"))
      .withColumn("nt", l2_norm(col("embedding")))
      .withColumn("one", lit(1))
    val agg = train.join(broadcast(bench), Seq("one"))
      .withColumn("sim", round(
        dot_product(col("embedding"), col("bv")) / (col("nt") * col("nb")), 6))
      .filter(col("sim") >= threshold)
      .groupBy("vec_id")
      .agg(max(col("sim")).as("max_bench_sim"),
           count(lit(1)).as("n_bench_hits"))
    runToTable(spark, agg, OutputMode.Complete())
  }

  /** Streaming DSIR scoring — the ingest-time twin of
    * `CorpusOps.dsirWeights`: every arriving document gets its
    * reference-corpus importance weight as it lands. The model (the
    * per-bucket log-ratio table) is fitted OFFLINE from the static
    * corpus — exactly the deployment shape: DSIR refits its reference
    * distributions out-of-band, the ingest path only scores.
    *
    * State honesty — the strongest row in the streaming family: state is
    * ZERO. The fitted delta table is `buckets` rows, collected once on
    * the driver (the kmeans-centroid bounded-collect discipline) and
    * folded into a map LITERAL, so scoring is a stateless per-row
    * projection — `transform`/`aggregate` higher-order functions over
    * the gram array, whole-stage codegen, Append mode, no groupBy, no
    * state store, nothing to watermark. A doc's weight needs only its
    * own grams, so this is the form a 100 TB ingest actually wants (the
    * batch twin's per-doc groupBy exists to share the staged histogram,
    * not because the computation needs state). Shares the batch oracle.
    */
  def importanceStream(spark: SparkSession, dir: String,
                       buckets: Int = 64): DataFrame = {
    import graft.operators.{CorpusOps, TextOps}
    val static = spark.read.parquet(s"$dir/documents.parquet")
    val target = static.filter(col("lang") === "en" && col("doc_id") % 7 === 0)
    val q = CorpusOps.gramBuckets(static, buckets)
      .groupBy("b").agg(count(lit(1)).as("cq"))
    // bounded driver collect: exactly `buckets` rows (64), the model
    val fitted = CorpusOps.dsirDelta(q, target, buckets)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // per-gram scoring is the native one-pass expression (r20, guide
    // §4.1 stay in codegen): the previous
    // aggregate(transform(element_at(mapLit, md5-slice))) chain stayed
    // INTERPRETED per row — StreamProfile measured it as the trigger's
    // dominant addBatch cost; DsirGramWeightSpec pins bit-parity
    val scored = docsStream(spark, dir)
      .withColumn("toks", TextOps.tokens(col("text")))
      .withColumn("grams",
        concat(col("toks"), TextOps.shingles(col("toks"), 2)))
      .filter(size(col("grams")) > 0) // the batch explode drops these too
      .select(col("doc_id"),
        size(col("grams")).cast("long").as("n_grams"),
        graft.functions.DsirGramWeight
          .dsir_gram_weight(col("grams"), fitted, buckets)
          .as("weight_fp"))
      .withColumn("w_per_gram_fp", expr("weight_fp div n_grams"))
      .withColumn("target_like", col("weight_fp") > 0)
    runToTable(spark, scored, OutputMode.Append())
  }

  /** Sliding (overlapping) watermarked windows — the only structural
    * difference from [[windowCounts]] is that each event lands in
    * duration/slide windows, which Spark's `window()` expands BEFORE the
    * aggregation, so state rows scale with window overlap × distinct
    * (window, type) groups. NOTE on the mode: this harness runs Complete
    * so the finite replay emits every window, and Complete retains ALL
    * groups ever seen — state here spans the stream's full time range.
    * The watermark only evicts state under an Append/Update deployment,
    * where the same query's state is bounded by overlap × ACTIVE windows;
    * that is the deployment-mode claim, not a property of this run.
    */
  def slidingWindowCounts(spark: SparkSession, dir: String,
                          duration: String, slide: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), duration, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast("decimal(25,4)")).cast("double")
             .as("sum_value"))
    runToTable(spark, agg, OutputMode.Complete())
      .select(col("w.start").as("window_start"), col("event_type"),
              col("n"), col("sum_value"))
  }

  /** Streaming JSON-property rollup: one schema-known `from_json` parse
    * per arriving row (stateless projection), then per-type complete-mode
    * aggregation — state is one row per event type. Shares the batch
    * oracle.
    */
  def jsonPropsAggStream(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, jsonPropsAgg(eventsStream(spark, dir)),
      OutputMode.Complete())

  /** Per-type JSON rollup aggregate — one definition for the complete-mode
    * monitor and its Update-mode twin (the pair must never drift).
    */
  private def jsonPropsAgg(src: DataFrame): DataFrame = {
    val propsSchema = org.apache.spark.sql.types.StructType(
      Seq(org.apache.spark.sql.types.StructField(
        "k", org.apache.spark.sql.types.LongType)))
    src
      .withColumn("k", from_json(col("props"), propsSchema).getField("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
           sum(col("k")).as("sum_k"),
           max(col("k")).as("max_k"))
  }

  /** Streaming hot-key X-ray: per-key counts maintained live (complete
    * mode, one state row per distinct key); total, ppm shares and the
    * top-K cut are post-drain projections over |keys| rows. Shares the
    * batch oracle.
    */
  def keySkewStream(spark: SparkSession, dir: String, keyCol: String,
                    topK: Int, nFiles: Int = 4): DataFrame =
    keySkewTop(runToTable(spark,
      keySkewAgg(eventsStreamSplit(spark, dir, nFiles), keyCol),
      OutputMode.Complete()), topK)

  /** Per-key count aggregate + post-drain total/ppm/top-K projection —
    * shared by the complete-mode monitor and its Update-mode twin.
    */
  private def keySkewAgg(src: DataFrame, keyCol: String): DataFrame =
    src.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("n_events"))

  private def keySkewTop(drained: DataFrame, topK: Int): DataFrame = {
    val tot = drained.agg(sum(col("n_events")).as("t"))
    drained.crossJoin(broadcast(tot))
      .withColumn("share_ppm", expr("n_events * 1000000 div t"))
      .orderBy(col("n_events").desc, col("key"))
      .limit(topK)
      .select("key", "n_events", "share_ppm")
  }

  /** Streaming exact dedup: state = content hash → (min doc_id, count),
    * complete mode. The streaming generalization of TextOps.dedupExact —
    * a continuously-ingesting corpus deduplicates as it lands, instead of
    * re-scanning the accumulated corpus per batch. Same result as the
    * batch operator, so the same DuckDB oracle asserts it.
    *
    * Scale note: state is keyed by the 32-byte hash and partitioned by the
    * shuffle, so state volume is bounded by distinct content, not stream
    * length; at production scale run it under the RocksDB state store
    * (`spark.sql.streaming.stateStore.providerClass`, disk-backed state —
    * exercised in StreamingOpsSpec) + watermarked
    * dropDuplicatesWithinWatermark when exact global state is too large.
    */
  def dedupExactStream(spark: SparkSession, dir: String): DataFrame = {
    val agg = docsStream(spark, dir)
      .withColumn("content_hash", md5(col("text")))
      .groupBy("content_hash")
      .agg(min(col("doc_id")).as("keeper_doc_id"),
           count(lit(1)).as("n_copies"))
    runToTable(spark, agg, OutputMode.Complete())
  }

  /** Streaming frame-level media dedup: the multimodal landing-dir shape —
    * media files arrive, frames are sampled from the binary payload and
    * deduplicated AS THEY LAND (repeated intro/outro/black frames are the
    * media analog of boilerplate paragraphs). Same frame hashing as the
    * batch `multimodal_frame_dedup` (md5 over hex(frame)), same keeper
    * aggregation, so the batch DuckDB oracle asserts the drained result.
    * State is keyed by frame hash — bounded by distinct frame content,
    * not stream length, same discipline as [[dedupExactStream]].
    */
  def frameDedupStream(spark: SparkSession, dir: String,
                       frameBytes: Int = 64, stride: Int = 2): DataFrame = {
    import graft.operators.Multimodal
    val media = Multimodal.mediaFromDocuments(docsStream(spark, dir))
    val frames = Multimodal.frameSample(media, frameBytes, stride)
    val agg = frames
      .select(col("media_id"), md5(hex(col("frame"))).as("frame_hash"))
      .groupBy("frame_hash")
      .agg(min(col("media_id")).as("keeper_media_id"),
           count(lit(1)).as("n_copies"))
    runToTable(spark, agg, OutputMode.Complete())
  }

  /** Streaming dedup with BOUNDED state: `dropDuplicatesWithinWatermark`
    * keeps a key's state only until the watermark passes its event time
    * plus the delay, so state volume is bounded by the duplicate-arrival
    * window, not by all distinct content ever seen — the variant the
    * exact-state dedup's scale note prescribes for unbounded streams.
    *
    * The corpus has no event time, so one is synthesized deterministically
    * from doc_id; duplicates carried past the dedup are only columns
    * functionally dependent on the dedup key (char count of the text), so
    * which physical row survives a key's race is unobservable and the
    * result equals batch `SELECT DISTINCT md5(text), length(text)` — the
    * DuckDB oracle for the declared query.
    *
    * DISTINCT-parity assumption: event_time is doc_id micros, so the
    * 1-hour delay means a content hash's FIRST occurrence must arrive
    * within 3.6e9 doc_id units of the running batch maximum — a first
    * occurrence further below the watermark would be dropped as late and
    * its key lost entirely. Holds trivially here (ids are dense and a
    * single batch drains the corpus); on a real stream, set the delay to
    * the actual duplicate-arrival window of the TRUE event time instead
    * of deriving one from an id.
    */
  def dedupWithinWatermarkStream(spark: SparkSession, dir: String): DataFrame = {
    // offset past the epoch: Spark's event-time watermark initializes to 0,
    // and a row AT the watermark is late — doc_id=0 landing exactly on the
    // epoch would be silently dropped
    val st = docsStream(spark, dir)
      .withColumn("event_time",
        timestamp_micros(col("doc_id") + 86400L * 1000000L))
      .withWatermark("event_time", "1 hour")
      .withColumn("content_hash", md5(col("text")))
      .withColumn("n_chars_text", length(col("text")).cast("long"))
      .dropDuplicatesWithinWatermark("content_hash")
      .select("content_hash", "n_chars_text")
    runToTable(spark, st, OutputMode.Append())
  }

  /** Streaming decontamination: eval-leakage checked as documents LAND —
    * each arriving training doc's distinct shingles join the static
    * benchmark shingle set (broadcast, stream-static join is stateless)
    * and pairs sharing ≥ minShared shingles surface immediately, instead
    * of a scheduled batch re-scan of the accumulated corpus.
    *
    * Differences from the batch `TextOps.contamination`, both forced by
    * streaming semantics and reflected in this query's own oracle:
    * per-row `array_distinct` replaces the corpus-wide (doc, shingle)
    * DISTINCT (same result — a shingle repeats only within a doc), and
    * there is NO corpus df-cap (the cap needs full-corpus document
    * frequencies, a second stateful pass).
    *
    * State honesty: aggregation state holds one count per (doc, bench)
    * pair sharing ANY shingle — sub-threshold pairs are filtered at
    * OUTPUT, not from state. A corpus-common shingle that reaches the
    * benchmark therefore grows state by one row per matching corpus doc,
    * the exact fan-out the batch df-cap bounds and the stream cannot.
    * `benchMaxDf` is the lever that IS computable here: the benchmark is
    * static, so shingles present in more than `benchMaxDf` benchmark
    * docs (benchmark boilerplate — the other fan-out axis) can be
    * dropped up front. Default uncapped, keeping the declared query on
    * its oracle.
    */
  def contaminationStream(spark: SparkSession, dir: String,
                          minShared: Int,
                          benchMaxDf: Int = Int.MaxValue): DataFrame = {
    import graft.operators.TextOps.{shingles, tokens}
    // staged once per source state: the stream-static join re-evaluates the
    // static side per micro-batch — unstaged, every trigger (and every
    // bench rep) would re-read, re-shingle and re-distinct the benchmark
    val benchSh = stagedDerived(spark, dir, "documents",
      s"bench-sh3-df$benchMaxDf") {
      val benchAll = spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("bench_doc_id"),
                explode(shingles(tokens(col("text")), 3)).as("sh"))
        .distinct()
      if (benchMaxDf == Int.MaxValue) benchAll
      else {
        val keep = benchAll.groupBy("sh").agg(count(lit(1)).as("df"))
          .filter(col("df") <= benchMaxDf).select("sh")
        benchAll.join(keep, Seq("sh"))
      }
    }
    val corpusSh = docsStream(spark, dir)
      .filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"),
        explode(array_distinct(shingles(tokens(col("text")), 3))).as("sh"))
    val agg = corpusSh.join(broadcast(benchSh), Seq("sh"))
      .groupBy("doc_id", "bench_doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    runToTable(spark, agg, OutputMode.Complete())
  }

  /** Streaming exact-substring decontamination: the verbatim-13-token-
    * window gate (`TextOps.exactSubstringContamination`) run as docs land.
    * Benchmark window hashes are a static broadcast side staged once per
    * source state (same discipline as [[contaminationStream]]); the stream pays one
    * broadcast join + a complete-mode count per doc. State is bounded by
    * CONTAMINATED docs only — clean docs never enter the aggregation.
    */
  def exactContaminationStream(spark: SparkSession, dir: String,
                               n: Int = 13): DataFrame = {
    import graft.operators.TextOps.{shingles, tokens}
    val benchWh = stagedDerived(spark, dir, "documents", s"bench-wh$n") {
      spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 11 === 0)
        .select(explode(array_distinct(shingles(tokens(col("text")), n)))
          .as("w"))
        .select(md5(col("w")).as("wh")).distinct()
    }
    val corpusW = docsStream(spark, dir)
      .filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"),
        explode(array_distinct(shingles(tokens(col("text")), n))).as("w"))
      .select(col("doc_id"), md5(col("w")).as("wh"))
    val agg = corpusW.join(broadcast(benchWh), Seq("wh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matched_windows"))
    runToTable(spark, agg, OutputMode.Complete())
  }

  /** Streaming twin of the exact-leakage ATTRIBUTION report
    * ([[graft.operators.TextOps.exactContaminationReport]]), with ZERO
    * stream state: the plan inside the stream is a per-row explode +
    * stream-static broadcast join, so every (suite, source, doc_id) hit
    * row emits under Append the trigger its document lands in and drains
    * through the NATIVE parquet file sink ([[runAppendToFiles]] — the
    * driver holds nothing). The (suite × source) attribution, doc
    * distinct-count and ppm run POST-DRAIN via the batch operator's own
    * [[graft.operators.TextOps.attributeContamination]] — shared code,
    * same DuckDB oracle. Exactness needs no cross-trigger state because a
    * document's windows live wholly inside its trigger and a document
    * lands exactly once; per-source doc totals are the registrar's batch
    * aggregate over the same static table the benchmark side rides
    * (maintaining them live is [[mixReportStreamUpdate]]'s job — one
    * state row per source, deliberately not duplicated here).
    */
  def exactContaminationReportStream(spark: SparkSession, dir: String,
                                     n: Int = 13): DataFrame = {
    import graft.operators.TextOps.{shingles, tokens}
    val suiteExpr = "concat('suite_', CAST((doc_id div 11) % 3 AS STRING))"
    val benchWh = stagedDerived(spark, dir, "documents",
        s"bench-suite-wh$n") {
      spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 11 === 0)
        .withColumn("suite", expr(suiteExpr))
        .select(col("suite"),
          explode(array_distinct(shingles(tokens(col("text")), n))).as("w"))
        .select(col("suite"), md5(col("w")).as("wh")).distinct()
    }
    val hits = docsStream(spark, dir)
      .filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"), col("source"),
        explode(array_distinct(shingles(tokens(col("text")), n))).as("w"))
      .select(col("doc_id"), col("source"), md5(col("w")).as("wh"))
      .join(broadcast(benchWh), Seq("wh"))
      .select("suite", "source", "doc_id")
    val srcTot = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % 11 =!= 0)
      .groupBy("source").agg(count(lit(1)).as("src_docs"))
    graft.operators.TextOps.attributeContamination(
      runAppendToFiles(spark, hits), srcTot)
  }

  /** The release capstone's STATELESS prefix as one Append-mode ingest
    * plan (r18 verdict item 5) — the filter a 100 TB landing zone runs
    * before anything stateful touches a document: the language/quality
    * gate (`TextOps.cleanGate`, the capstone's stage 1), the learned
    * absolute quality verdict (`TextOps.withQualityClassifier` — the
    * batch operator's own scoring columns), and the exact-13-token-window
    * decontamination SCREEN as a bloom-bitset probe
    * ([[graft.operators.TextOps.bloomWindowHits]]). Every piece is a
    * per-row projection or filter, so the whole plan runs under Append
    * mode with ZERO state stores — nothing to watermark, nothing to
    * drain; per-doc verdicts emit the trigger their document lands in.
    *
    * The bloom screen is the one deliberate difference from the batch
    * decontaminate_exact: the exact form needs a join + per-doc groupBy
    * (state), while the bitset folds the static benchmark into a 128 KB
    * LITERAL (built offline, the DSIR fitted-model discipline — the
    * collect is bounded by the constant mBits/64, never by data). Bloom
    * positions are md5-derived so the DuckDB oracle restates the bitset
    * bit-for-bit (no exact confirmation join exists here to absorb hash
    * differences). `admit` semantics are conservative the safe way
    * round: `n_bloom_hits = 0` is CERTAIN-clean (no false negatives), a
    * nonzero count sends the doc to the stateful exact screen downstream
    * (false-positive rate = bloom load² ≈ 0.1% at the declared sizing).
    *
    * Corpus/benchmark split is the capstone's own (% 11), thresholds the
    * capstone's 0.3 — the oracle composes the SAME gate/classifier SQL
    * fragments the batch stages verify against.
    */
  def prepareGateStream(spark: SparkSession, dir: String,
                        minQuality: Double = 0.3, n: Int = 13,
                        mBits: Int = 1 << 20): DataFrame = {
    import graft.operators.TextOps
    // the bitset's word frame is staged once per source state (the
    // stream-static staging discipline), so bench reps re-collect 16 K
    // pre-aggregated rows instead of re-shingling the benchmark
    val words = TextOps.bloomWordsDense(
      stagedDerived(spark, dir, "documents", s"bench-bloom$n-m$mBits") {
        TextOps.bloomWordFrame(
          spark.read.parquet(s"$dir/documents.parquet")
            .filter(col("doc_id") % 11 === 0), n, mBits)
      }.collect(), mBits)
    val scored = TextOps.withQualityClassifier(
        docsStream(spark, dir)
          .filter(col("doc_id") % 11 =!= 0)
          .filter(TextOps.cleanGate(minQuality)))
      .withColumn("n_bloom_hits",
        TextOps.bloomWindowHits(col("text"), words, n, mBits))
      .withColumn("admit", col("keep") && col("n_bloom_hits") === 0L)
      .select("doc_id", "lang", "n_grams", "w_sum", "score_milli", "keep",
              "n_bloom_hits", "admit")
    runToTable(spark, scored, OutputMode.Append())
  }

  case class BandRow(doc_id: Long, band: String)
  case class CandPair(doc_a: Long, doc_b: Long)

  /** Streaming near-duplicate candidate detection: the banded-minhash
    * pairs of `TextOps.minhashCandidates`, emitted incrementally as
    * documents land instead of re-scanning the accumulated corpus.
    *
    * Band keys come from the projection-only
    * [[graft.operators.TextOps.withMinhashBandKeys]] (bit-identical to the
    * batch signatures); the single stateful operator is a
    * `flatMapGroupsWithState` keyed by band hash whose state is the doc
    * ids seen in that band — each arriving doc emits exactly its pairs
    * against earlier arrivals, so the union over the stream equals the
    * batch candidate set (the shared DuckDB oracle asserts it).
    *
    * Scale shape: state is one id list per OCCUPIED band (bounded by
    * corpus distinct-band volume, RocksDB-backed when large); a doc
    * appearing in a band shuffles one (band, id) row. A boilerplate-heavy
    * band accumulating m ids emits O(m) new pairs per arrival — the
    * streaming analog of the batch df-cap concern; `maxPerBand` caps the
    * retained state (drops only pairs WITHIN an already-oversized
    * near-dup group — its first `maxPerBand` members still pair, which is
    * all downstream clustering needs). The default is uncapped so the
    * declared query stays exactly the batch oracle's candidate set.
    */
  def minhashCandidatesStream(spark: SparkSession, dir: String,
                              k: Int = 8, bands: Int = 4,
                              maxPerBand: Int = Int.MaxValue): DataFrame =
    runToTable(spark,
      minhashCandidatePairs(spark, docsStream(spark, dir), k, bands,
        maxPerBand),
      OutputMode.Append())
      // a pair sharing several bands emits once per band; the batch
      // operator ends in .distinct() — same dedup on the drained result
      .distinct()

  /** The capped declared variant: same operator, but fed through the
    * split-file source (one file per trigger) so documents genuinely
    * arrive across micro-batches and the `maxPerBand` state cap engages
    * between them — in a single-batch drain every in-batch pair is
    * emitted before the cap can truncate state, so the cap would be
    * declared but never exercised. `maxPerBand` is chosen above the
    * corpus's densest band (≤16 members at sf0.1), so no pair is lost and
    * the batch candidate-set oracle still verifies the run bit-for-bit;
    * StreamingOpsSpec covers the binding case and asserts the loss is
    * exactly the dropped members' later pairs.
    */
  def minhashCandidatesStreamCapped(spark: SparkSession, dir: String,
                                    k: Int = 8, bands: Int = 4,
                                    maxPerBand: Int = 64,
                                    nFiles: Int = 4): DataFrame =
    runToTable(spark,
      minhashCandidatePairs(spark,
        stagedStreamSplit(spark, dir, "documents", nFiles), k, bands,
        maxPerBand),
      OutputMode.Append())
      .distinct()

  /** Streaming winnowing — the live pairing of `dedup_winnowed`:
    * fingerprint selection is per-document and STATELESS (the native
    * [[graft.operators.TextOps.winnowedFingerprintSet]] projection — an
    * ingest path selects MOSS fingerprints with no state at all, the
    * deployment shape), and pair detection rides the shared
    * [[bandedCandidatePairs]] state machine keyed by FINGERPRINT instead
    * of minhash band. Each arriving doc emits one pair per fingerprint
    * shared with an earlier arrival, so the drained per-pair emission
    * count IS the shared-fingerprint count: the post-drain groupBy
    * reproduces the batch `n_shared_fp` exactly and the query shares
    * `dedup_winnowed`'s oracle.
    *
    * State honesty: one id list per OCCUPIED fingerprint, `maxPerBand`
    * bounding it under the minhash cap's first-m-retained contract. The
    * BATCH operator instead df-caps hot fingerprints (drops them
    * entirely at df > maxDf = 128); the two agree wherever no
    * fingerprint exceeds min(cap, maxDf) — the declared corpora's
    * densest fingerprint sits at df 24 (sf0.1), far under both, which
    * is what lets the stream share the batch oracle bit-for-bit.
    */
  def winnowedPairsStream(spark: SparkSession, dir: String,
                          k: Int = 3, w: Int = 4, minShared: Int = 2,
                          nFiles: Int = 4,
                          maxPerBand: Int = 128): DataFrame = {
    import spark.implicits._
    val banded = stagedStreamSplit(spark, dir, "documents", nFiles)
      .select(col("doc_id"),
        explode(graft.operators.TextOps
          .winnowedFingerprintSet(col("text"), k, w)).as("band"))
      .as[BandRow]
    runToTable(spark, bandedCandidatePairs(spark, banded, maxPerBand),
        OutputMode.Append())
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared_fp"))
      .filter(col("n_shared_fp") >= minShared)
  }

  /** Core of the streaming near-dup detector: band keys → one
    * `flatMapGroupsWithState` keyed by band whose state is the doc ids
    * seen so far (first `maxPerBand` retained). Takes the document stream
    * as a parameter so the declared queries (file source) and the
    * cap-binding spec (MemoryStream with controlled batch boundaries)
    * drive the identical operator. Returns the un-started streaming frame;
    * callers run it and `.distinct()` the drained result.
    */
  def minhashCandidatePairs(spark: SparkSession, docs: DataFrame,
                            k: Int, bands: Int,
                            maxPerBand: Int): DataFrame = {
    import spark.implicits._
    val banded = graft.operators.TextOps
      .withMinhashBandKeys(docs, k, bands)
      .select(col("doc_id"), explode(col("bands")).as("band"))
      .as[BandRow]
    bandedCandidatePairs(spark, banded, maxPerBand)
  }

  /** The banded candidate-pair state machine, independent of how band keys
    * were produced (minhash shingle bands, cosine sign-bit bands, frame
    * feature bands): one `flatMapGroupsWithState` keyed by band whose
    * state is the ids seen so far (first `maxPerBand` retained); every
    * cross-arrival pair is emitted exactly once.
    */
  def bandedCandidatePairs(spark: SparkSession,
                           banded: org.apache.spark.sql.Dataset[BandRow],
                           maxPerBand: Int): DataFrame = {
    import spark.implicits._
    val pairs = banded
      .groupByKey(_.band)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (_: String, rows: Iterator[BandRow], state: GroupState[Array[Long]]) => {
          val seen = if (state.exists) state.get else Array.empty[Long]
          val fresh = rows.map(_.doc_id).toArray.distinct.sorted
          state.update((seen ++ fresh).take(maxPerBand))
          // LAZY emission from the two local immutable arrays (state is
          // already updated — safe, the iterator closes over locals only):
          // a dense band STREAMS its pairs instead of materializing an
          // O(m²) Vector inside the state function, which is what OOM'd
          // the ×4 rehearsal under correlated frame features (r12). The
          // emission contract is unchanged — all in-batch pairs plus
          // fresh×retained cross-batch pairs, each exactly once; the cap
          // bounds STATE (so cross-batch growth), while in-batch volume is
          // bounded by the trigger size the deployment already controls
          // (maxFilesPerTrigger / maxOffsetsPerTrigger).
          Iterator.tabulate(fresh.length) { i =>
            val d = fresh(i)
            // pairs vs prior arrivals, plus in-batch pairs vs smaller fresh
            // ids: every cross-arrival pair is emitted exactly once
            (seen.iterator ++ fresh.iterator.take(i))
              .map(o => CandPair(math.min(d, o), math.max(d, o)))
          }.flatten
        })
    pairs.toDF()
  }

  /** Streaming frame-granularity NEAR dedup: the live pairing of
    * `multimodal_frame_near_dedup` — frames are sampled from binary
    * payloads as media files land, banded on the SAME sign-bit cosine
    * bands as the batch operator (VectorOps.bandKeyCols over the integer
    * byte-statistics features), and candidate pairs emit incrementally
    * through the shared [[bandedCandidatePairs]] state machine. Exact-sim
    * verification is a post-drain projection: the drained candidate set
    * joins the statically recomputed feature vectors (|candidates| rows,
    * same discipline as [[rangeJoinStream]]'s zero-restoration), so the
    * drained result equals the batch operator and shares its oracle.
    *
    * In-stream cost note: frame features are a native one-pass codegen
    * expression (functions/FrameMath.scala), so no barrier is needed on
    * either side — the 64 plane projections of the band keys may inline
    * it, at O(frameBytes) primitive ops per reference. (Its first HOF
    * implementation needed repartition barriers here and still lost to
    * predicate re-inlining — see the expression's scaladoc.)
    *
    * `maxPerBand` bounds per-band state exactly as the minhash stream's
    * cap does — 8-dim byte-statistic features are far more CORRELATED
    * than shingle minhashes, so a frame band can go dense where a shingle
    * band cannot: the r12 ×4 rehearsal OOM'd the uncapped
    * (Int.MaxValue) form on exactly that shape. 2048 is an order of
    * magnitude above the declared corpora's densest frame band, so the
    * batch oracle still verifies the drained result bit-for-bit; at
    * deployment scale the cap is the state bound, with the same
    * loses-only-dropped-members'-later-pairs contract the minhash cap
    * documents (and its spec asserts).
    */
  def frameNearDupStream(spark: SparkSession, dir: String,
                         threshold: Double = 0.99,
                         frameBytes: Int = 64, stride: Int = 2,
                         dim: Int = 8, bands: Int = 4,
                         rowsPerBand: Int = 16,
                         nFiles: Int = 4,
                         maxPerBand: Int = 2048): DataFrame = {
    import graft.operators.{Barriers, Multimodal, VectorOps}
    import graft.functions.ArrayMath.{dot_product, l2_norm}
    import spark.implicits._
    def feats(docs: DataFrame, streamSafe: Boolean): DataFrame =
      Multimodal.frameFeatures(
        Multimodal.frameSample(Multimodal.mediaFromDocuments(docs),
                               frameBytes, stride),
        dim = dim, streamSafe = streamSafe)
    val banded = feats(stagedStreamSplit(spark, dir, "documents", nFiles),
                       streamSafe = true)
      .select(col("vec_id").as("doc_id"),
        explode(array(VectorOps.bandKeyCols(col("embedding"), dim,
                                            bands, rowsPerBand): _*))
          .as("band"))
      .as[BandRow]
    val cand = runToTable(spark,
      bandedCandidatePairs(spark, banded, maxPerBand),
      OutputMode.Append())
      .distinct()
      .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b"))
    // post-drain exact verification against statically recomputed features
    // (the pair machinery reads them twice — barrier as in the batch path)
    val fstat = Barriers.materialize(
      feats(graft.sources.Tables.documents(spark, dir), streamSafe = false))
    val va = fstat.select(col("vec_id").as("vec_a"), col("embedding").as("va"))
      .withColumn("na", l2_norm(col("va")))
    val vb = fstat.select(col("vec_id").as("vec_b"), col("embedding").as("vb"))
      .withColumn("nb", l2_norm(col("vb")))
    val sh = Multimodal.FrameIdShift
    cand.join(va, Seq("vec_a")).join(vb, Seq("vec_b"))
      .withColumn("sim", round(
        dot_product(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("sim") >= threshold)
      .select(
        expr(s"vec_a div ${sh}L").as("media_a"),
        pmod(col("vec_a"), lit(sh)).as("frame_a"),
        expr(s"vec_b div ${sh}L").as("media_b"),
        pmod(col("vec_b"), lit(sh)).as("frame_b"),
        col("sim"))
  }

  /** Streaming cross-modal caption match: `multimodal_caption_match`'s
    * per-media verdict maintained as captions LAND — each arriving
    * document's caption vector is scored against a STATIC frame index
    * (the already-ingested media corpus; a caption-quality gate at
    * ingestion scores new captions against the standing index, it does
    * not re-pair history). Both halves keep the batch operator's
    * geometry, and both are STATELESS stream-static equi-joins — no
    * streaming state at all, which is the honest state story here: the
    * own half is keyed by media_id (a caption meets only its own
    * media's frames), the foreign half is keyed by the shared sign-bit
    * band layout with the same hub-bucket cap, so per-trigger work is
    * frames-per-media + banded-candidate rows for just the captions in
    * that trigger. A CO-STREAMED frame side would instead ride the
    * [[bandedCandidatePairs]] band-state machine exactly as
    * [[frameNearDupStream]] does — that variant carries state
    * (maxPerBand-capped per band) and is a frame-index freshness
    * decision, not a plan-shape change.
    *
    * In-stream the query VERIFIES, not just screens: the stream-static
    * joins already carry the caption vector, so each candidate's exact
    * cosine is computed in the micro-batch and only per-pair SIM rows
    * drain — every own pair (the per-media verdict needs sub-threshold
    * sims for own_best_sim; ~frames/media rows per caption) plus the
    * foreign pairs that actually cleared τ (the review queue). The
    * first form drained the RAW banded candidate set and re-verified
    * post-drain; at ×4 that pushed the screen's full (saturated)
    * candidate volume through the memory sink — 161 s where the batch
    * operator reads 23 s. Verifying in-stream keeps the drain at
    * |own pairs| + |hits| (a pair colliding in k bands emits k
    * IDENTICAL verified rows — the post-drain distinct collapses them;
    * re-verifying a duplicate costs a dot product, draining a raw
    * candidate costs sink state). Only the per-media aggregation runs
    * post-drain, so the drained result equals the batch operator
    * row-for-row and SHARES its oracle.
    */
  def captionMatchStream(spark: SparkSession, dir: String,
                         threshold: Double = 0.9,
                         frameBytes: Int = 64, stride: Int = 2,
                         dim: Int = 8, bands: Int = 4,
                         rowsPerBand: Int = 16,
                         nFiles: Int = 4,
                         maxBucket: Int = 1024): DataFrame = {
    import graft.operators.{Barriers, Multimodal, VectorOps}
    import graft.functions.ArrayMath.{dot_product, l2_norm}
    val docsStatic = graft.sources.Tables.documents(spark, dir)
    // Static frame index, derived ONCE PER STREAM START (r20, verdict
    // item 7): a stream-static join re-executes its static SUBTREE every
    // micro-batch, so anything derived from the cached features — the
    // hub-cap groupBy + join, the norm projections, the own-half media
    // lookup — used to re-run per trigger (×nFiles) and, for the norms,
    // once per HALF. Everything a trigger touches is now a barriered
    // frame read directly from cached blocks; the intermediates (raw
    // features, un-capped bands) are released once their consumers are
    // materialized, so the stream pins exactly two static copies.
    val fstat = Barriers.materialize(Multimodal.frameFeatures(
      Multimodal.frameSample(Multimodal.mediaFromDocuments(docsStatic),
                             frameBytes, stride), dim))
    val fBands = Barriers.materialize(fstat.select(col("vec_id"),
      explode(array(VectorOps.bandKeyCols(col("embedding"), dim,
                                          bands, rowsPerBand): _*))
        .as("band")))
    val okBuckets = fBands.groupBy("band")
      .agg(count(lit(1)).as("bc"))
      .filter(col("bc") <= maxBucket)
      .select("band")
    val fIdx = Barriers.materialize(fBands.join(okBuckets, Seq("band")))
    // one static row per frame: media id for the own half, vector + norm
    // for both halves' exact cosine
    val fAll = Barriers.materialize(fstat
      .select(col("vec_id"),
        expr(s"vec_id div ${Multimodal.FrameIdShift}L").as("fmedia"),
        col("embedding").as("fv"))
      .withColumn("nf", l2_norm(col("fv"))))
    Barriers.release(fBands)
    Barriers.release(fstat)
    val fv = fAll.select("vec_id", "fv", "nf")
    // landing captions: vectors are a stateless per-row projection
    val capStream = Multimodal.captionVectors(
      stagedStreamSplit(spark, dir, "documents", nFiles), dim)
      .withColumn("nc", l2_norm(col("cv")))
    // round(…, 6) before compare/max — the nearDupCosine parity rule
    def withSim(df: DataFrame): DataFrame =
      df.join(fv, Seq("vec_id"))
        .withColumn("sim", round(
          dot_product(col("cv"), col("fv")) / (col("nc") * col("nf")), 6))
        .select("media_id", "vec_id", "sim")
    // own half: every (caption, own-frame) sim row — sub-threshold sims
    // feed own_best_sim, so no filter
    val ownRows = withSim(capStream
        .join(fAll.select("vec_id", "fmedia"),
          col("media_id") === col("fmedia"))
        .select("media_id", "vec_id", "cv", "nc"))
      .withColumn("src", lit("own"))
    // foreign half: banded candidates through the capped buckets, exact
    // cosine verified IN-stream, only τ-clearing cross-media hits drain
    val forRows = withSim(capStream
        .select(col("media_id"), col("cv"), col("nc"),
          explode(array(VectorOps.bandKeyCols(col("cv"), dim,
                                              bands, rowsPerBand): _*))
            .as("band"))
        .join(fIdx, Seq("band"))
        .select("media_id", "vec_id", "cv", "nc"))
      .filter(col("sim") >= threshold)
      .filter(expr(s"vec_id div ${Multimodal.FrameIdShift}L")
        =!= col("media_id"))
      .withColumn("src", lit("band"))
    // deployment sink (r17 verdict item 3): per-pair sim rows spill to
    // files as batches commit instead of accumulating in the driver's
    // memory sink — the one reason the ×10 stub-saturation rehearsal
    // needed 48 g of driver heap; the plan itself is stateless
    val drained = runAppendToFiles(spark, ownRows.union(forRows))
    // post-drain: only the batch operator's per-media aggregation shapes
    val own = drained.filter(col("src") === "own")
      .groupBy("media_id")
      .agg(sum(when(col("sim") >= threshold, 1L).otherwise(0L))
             .as("n_own_hits"),
           max(col("sim")).as("own_best_sim"))
      .withColumn("matched", col("n_own_hits") > 0)
    // distinct collapses a pair's k same-band duplicate emissions (the
    // sim rows are identical by construction)
    val foreign = drained.filter(col("src") === "band")
      .select("media_id", "vec_id", "sim").distinct()
      .groupBy("media_id")
      .agg(count(lit(1)).as("n_foreign_hits"),
           max(col("sim")).as("best_foreign_sim"))
    own.join(foreign, Seq("media_id"), "left")
      .na.fill(0L, Seq("n_foreign_hits"))
      .select("media_id", "n_own_hits", "own_best_sim", "matched",
              "n_foreign_hits", "best_foreign_sim")
  }

  /** Streaming windowed-dedup audit: the per-type (seen / kept / dropped)
    * repair report maintained live. The batch operator's "first per
    * (user, type, window)" winner needs an order — but the AUDIT only
    * counts keys, so the streaming state is the plain complete-mode count
    * per (user, type, bucket): one row per distinct key, exactly the
    * retry-collapse state a landing pipeline carries, watermark-evictable
    * in deployment because keys are event-time-bucketed and age out.
    * n_kept = #keys, n_events = Σcounts — equal to the batch audit by
    * construction, so the batch oracle verifies the drained result.
    */
  def dedupWindowStream(spark: SparkSession, dir: String,
                        windowMinutes: Int, nFiles: Int = 4): DataFrame = {
    val bucketUs = windowMinutes * 60L * 1000000L
    val agg = eventsStreamSplit(spark, dir, nFiles)
      // sign-safe FLOOR division, same expr as the batch operator
      .withColumn("bucket", expr(
        s"(unix_micros(ts) - pmod(unix_micros(ts), ${bucketUs}L)) " +
          s"div ${bucketUs}L"))
      .groupBy("user_id", "event_type", "bucket")
      .agg(count(lit(1)).as("n"))
    runToTable(spark, agg, OutputMode.Complete())
      .groupBy("event_type")
      .agg(sum(col("n")).as("n_events"),
           count(lit(1)).as("n_kept"))
      .withColumn("n_dropped", col("n_events") - col("n_kept"))
  }

  /** Streaming top-percent via the bounded histogram sketch: the live
    * pairing the exact-rank `events_top_percent` cannot have (its K moves
    * with every arrival and can flip arbitrarily old verdicts — SURVEY
    * §2.9's documented exclusion). The escape is semantic, not heuristic:
    * [[graft.operators.EventOps.topPercentHist]] DEFINES the cutoff over
    * unit-width integer value buckets, so the only live state is the
    * per-(type, bucket) count — bounded by the value domain, not the
    * event count — and the drain reuses the batch cutoff sweep verbatim
    * ([[graft.operators.EventOps.histCutoff]]). Deterministic bucketing
    * means the shared DuckDB oracle hash-gates both sides; a late event
    * only ever increments one bucket cell.
    */
  def topPercentHistStream(spark: SparkSession, dir: String, pct: Int,
                           nFiles: Int = 4): DataFrame = {
    val hist = eventsStreamSplit(spark, dir, nFiles)
      .groupBy(col("event_type"),
               floor(col("value")).cast("long").as("bucket"))
      .agg(count(lit(1)).as("c"))
    graft.operators.EventOps.histCutoff(
      runToTable(spark, hist, OutputMode.Complete()), pct)
  }

  /** The anomaly tripwire live: the exact median/MAD report is excluded
    * from pairing (global order statistics — SURVEY §2.9), so the live
    * variant is the deterministic bucket sketch: the same per-(type,
    * unit-bucket) complete-mode count state as [[topPercentHistStream]],
    * with the batch median/MAD/flag sweep (EventOps.madFromHist) over the
    * drained histogram. State = value domain, not event count; shares the
    * batch `events_anomaly_mad_hist` oracle.
    */
  def anomalyMadHistStream(spark: SparkSession, dir: String, kSigma: Int,
                           nFiles: Int = 4): DataFrame = {
    val hist = eventsStreamSplit(spark, dir, nFiles)
      .groupBy(col("event_type"),
               floor(col("value")).cast("long").as("bucket"))
      .agg(count(lit(1)).as("c"))
    graft.operators.EventOps.madFromHist(
      runToTable(spark, hist, OutputMode.Complete()), kSigma)
  }

  /** Streaming length-profile quantiles: the dataset-card p50/p90/p99
    * token lengths per source, maintained live. State is the per-(source,
    * token-length) count histogram (complete mode — bounded by distinct
    * lengths per source, not corpus size); the exact integer-rank pick is
    * a post-drain cumulative sweep: token_len at rank r is the first
    * length whose cumulative count reaches r, which equals the batch
    * row_number pick because the within-length doc_id tie-break cannot
    * change the length AT a rank. Shares the batch oracle.
    */
  def lengthQuantilesStream(spark: SparkSession, dir: String,
                            pcts: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    require(pcts.nonEmpty, "lengthQuantilesStream: pcts must be non-empty")
    lengthQuantilesFrom(runToTable(spark,
      lengthHistAgg(docsStream(spark, dir)), OutputMode.Complete()), pcts)
  }

  /** (source, token-length) histogram aggregate + post-drain exact
    * integer-rank quantile pick — shared by the complete-mode monitor and
    * its Update-mode twin.
    */
  private def lengthHistAgg(src: DataFrame): DataFrame = {
    src.withColumn("n_tokens", graft.operators.TextOps.tokenCount(col("text")))
      .groupBy("source", "n_tokens")
      .agg(count(lit(1)).as("cnt"))
  }

  private def lengthQuantilesFrom(drained: DataFrame,
                                  pcts: Seq[Int]): DataFrame = {
    val w = Window.partitionBy("source").orderBy("n_tokens")
    val cum = drained
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("prev", col("cum") - col("cnt"))
    val totals = drained.groupBy("source").agg(sum(col("cnt")).as("n"))
    val ranked = cum.join(broadcast(totals), Seq("source"))
    pcts.map { p =>
      ranked
        .withColumn("r", expr(s"cast(ceil(n * $p / 100.0) as bigint)"))
        .filter(col("prev") < col("r") && col("r") <= col("cum"))
        .select(col("source"), lit(p.toLong).as("pct"),
                col("n_tokens").as("token_len"))
    }.reduce(_ union _)
  }

  /** Streaming dataset-card monitor: the (lang, source) composition table
    * maintained AS THE CORPUS LANDS — complete-mode counts are the only
    * state (one row per cell); the ppm shares derive from the drained
    * counts at read time, because a second aggregation level (the corpus
    * totals) inside one streaming query is unsupported and unnecessary —
    * shares are a cheap projection over |cells| rows, not over the
    * corpus. Result equals the batch [[graft.operators.CorpusOps
    * .mixReport]], so the same oracle verifies it.
    */
  def mixReportStream(spark: SparkSession, dir: String): DataFrame =
    mixReportShares(runToTable(spark,
      mixReportAgg(docsStream(spark, dir)), OutputMode.Complete()))

  /** (lang, source) composition aggregate + post-drain ppm-share
    * projection — shared by the complete-mode monitor and its Update-mode
    * twin.
    */
  private def mixReportAgg(src: DataFrame): DataFrame = {
    src.withColumn("n_toks", graft.operators.TextOps.tokenCount(col("text")))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
  }

  private def mixReportShares(drained: DataFrame): DataFrame = {
    val tot = drained.agg(sum(col("n_docs")).as("t_docs"),
                          sum(col("n_tokens")).as("t_tokens"))
    drained.crossJoin(broadcast(tot))
      .withColumn("doc_share_ppm", expr("n_docs * 1000000 div t_docs"))
      .withColumn("token_share_ppm",
        expr("n_tokens * 1000000 div t_tokens"))
      .select("lang", "source", "n_docs", "n_tokens",
              "doc_share_ppm", "token_share_ppm")
  }

  /** Streaming vocabulary: per-token occurrence counts maintained AS THE
    * CORPUS LANDS (complete mode — state is one count per DISTINCT token,
    * i.e. vocabulary-bounded, the same reason the batch op scales), with
    * the deterministic top-N (freq desc, token asc) taken over the
    * drained counts. The live tokenizer-engineering view of
    * TextOps.vocabulary — same oracle.
    */
  def vocabularyStream(spark: SparkSession, dir: String,
                       topN: Int): DataFrame =
    vocabTopN(runToTable(spark, vocabAgg(docsStream(spark, dir)),
      OutputMode.Complete()), topN)

  /** Per-token count aggregate + deterministic top-N — shared by the
    * complete-mode monitor, the Zipf-fit monitor, and the Update-mode
    * twin.
    */
  private def vocabAgg(src: DataFrame): DataFrame = {
    import graft.operators.TextOps.tokens
    src.select(explode(tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("freq"))
  }

  private def vocabTopN(drained: DataFrame, topN: Int): DataFrame =
    drained.orderBy(col("freq").desc, col("token")).limit(topN)

  /** Streaming Zipf health fit: the same vocabulary-bounded complete-mode
    * token-count state as [[vocabularyStream]], with the batch operator's
    * fixed-point OLS (TextOps.zipfFitFromVocab) run over the drained
    * counts — the corpus-health dial maintained as documents land, tiny
    * post-drain arithmetic over ≤ topN rows. Equals the batch
    * `vocab_zipf_slope`, so the same oracle hash-gates it.
    */
  def zipfSlopeStream(spark: SparkSession, dir: String,
                      topN: Int): DataFrame = {
    graft.operators.TextOps.zipfFitFromVocab(
      runToTable(spark, vocabAgg(docsStream(spark, dir)),
        OutputMode.Complete()), topN)
  }

  // ---- Update-mode deployment variants ---------------------------------
  //
  // The complete-mode monitors above re-emit the FULL aggregate table
  // every trigger: state is bounded (value-domain / vocabulary keys), but
  // at 100 TB the re-emission, not the state, is the sink bottleneck —
  // every trigger ships |all keys| rows downstream whether or not they
  // changed. The deployment-grade form is OutputMode.Update: the sink
  // receives ONLY the keys whose aggregate changed in that trigger, so
  // per-trigger sink volume is O(changed keys). The final table is the
  // latest-wins reduction of the delta log — exactly how an upsert sink
  // (Kafka compacted topic, keyed KV store, Delta MERGE) consumes it.

  private[graft] def docsStreamSplit(spark: SparkSession, dir: String,
                                     nFiles: Int): DataFrame =
    stagedStreamSplit(spark, dir, "documents", nFiles)

  /** Drain an Update-mode aggregation through a foreachBatch DELTA sink:
    * each trigger appends only that trigger's updated rows, stamped with
    * the batch id, to a scratch parquet — the upsert-sink shape. Returns
    * the full delta log (caller reduces latest-wins per key via
    * [[latestPerKey]]); exposed private[graft] so specs can assert the
    * per-trigger sink volume really is O(changed keys).
    *
    * Same session-conf discipline as [[runToTable]] (stream shuffle
    * partitions overridden for the query, restored after the drain).
    */
  private[graft] def runUpdatesToDeltaLog(spark: SparkSession,
                                          df: DataFrame): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory(
      s"graft_updates_${counter.incrementAndGet()}_")
    val dataDir = base.resolve("data").toString
    val ckptDir = base.resolve("ckpt").toString
    val overrides =
      Map("spark.sql.shuffle.partitions" -> streamShufflePartitions(spark))
    val saved = overrides.keys.map(k => k -> spark.conf.getOption(k)).toMap
    def restore(): Unit = saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    val q =
      try df.writeStream.outputMode(OutputMode.Update())
        .option("checkpointLocation", ckptDir)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // append = the delta log; an empty trigger appends nothing
          batch.withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(dataDir)
        }.start()
      catch { case t: Throwable => restore(); throw t }
    try q.processAllAvailable()
    finally { try q.stop() finally restore() }
    // pin the log in block storage, then remove the scratch dirs — the
    // drain must not leak a delta log + checkpoint per invocation
    // (bench reps × queries would otherwise accumulate them for the
    // machine's lifetime). An EMPTY source fires no trigger at all, so
    // the data dir may never have been created — that is a legitimate
    // empty delta log (schema = aggregate schema + batch_id), not a
    // read error.
    val out =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(dataDir)))
        spark.read.parquet(dataDir).localCheckpoint(eager = true)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        df.schema.add("batch_id", org.apache.spark.sql.types.LongType))
    deleteRecursively(base.toFile)
    out
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Append-mode drain through Spark's NATIVE parquet file sink instead
    * of the harness memory sink — the deployment form (r17 verdict item
    * 3): candidate rows spill to executor-written files as micro-batches
    * commit, the driver holds nothing, and the post-drain aggregation
    * reads the spilled files. The memory sink collects every appended row
    * into driver memory — fine for |keys|-sized monitor tables, wrong for
    * per-PAIR row volumes (the stream caption gate's ×10 stub-saturation
    * rehearsal needed 48 g of driver heap for 11.8 M drained hit rows;
    * through this sink the same rehearsal runs in the default fork heap).
    * Exactly-once comes from the sink's _spark_metadata commit log — this
    * IS what a production job writes, not a harness stand-in.
    *
    * An empty source fires no trigger and writes no files — a legitimate
    * empty result (the declared schema), not a read error. Scratch dirs
    * are pinned to block storage then removed, the
    * [[runUpdatesToDeltaLog]] hygiene.
    */
  private[graft] def runAppendToFiles(spark: SparkSession,
                                      df: DataFrame): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory(
      s"graft_append_${counter.incrementAndGet()}_")
    val dataDir = base.resolve("data").toString
    val ckptDir = base.resolve("ckpt").toString
    val overrides =
      Map("spark.sql.shuffle.partitions" -> streamShufflePartitions(spark))
    val saved = overrides.keys.map(k => k -> spark.conf.getOption(k)).toMap
    def restore(): Unit = saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    val q =
      try df.writeStream.outputMode(OutputMode.Append())
        .format("parquet")
        .option("path", dataDir)
        .option("checkpointLocation", ckptDir)
        .start()
      catch { case t: Throwable => restore(); throw t }
    try q.processAllAvailable()
    finally { try q.stop() finally restore() }
    val hasData = {
      val d = new java.io.File(dataDir)
      d.exists && Option(d.listFiles()).exists(
        _.exists(f => f.isFile && f.getName.endsWith(".parquet")))
    }
    val out =
      if (hasData) spark.read.parquet(dataDir).localCheckpoint(eager = true)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], df.schema)
    deleteRecursively(base.toFile)
    out
  }

  /** Latest-wins reduction of an Update-mode delta log: the newest
    * batch_id's row per key IS the final aggregate (each update carries
    * the full new value, not an increment). Post-drain, over |emitted
    * deltas| rows — bounded by keys × triggers, both small here.
    */
  private[graft] def latestPerKey(log: DataFrame,
                                  keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("batch_id").desc)
    log.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "batch_id")
  }

  /** Update-mode twin of [[mixReportStream]]: per-(lang, source) counts
    * maintained live, but the sink sees only the cells a trigger changed.
    * Final table = latest-wins over the delta log; ppm shares derive
    * post-drain as in the complete form. Same result, same batch oracle.
    */
  def mixReportStreamUpdate(spark: SparkSession, dir: String,
                            nFiles: Int = 4): DataFrame =
    mixReportShares(latestPerKey(
      runUpdatesToDeltaLog(spark,
        mixReportAgg(docsStreamSplit(spark, dir, nFiles))),
      Seq("lang", "source")))

  /** Update-mode twin of the mix SOLVER ([[graft.operators.CorpusOps
    * .mixSolve]]): per-source token totals are the live aggregate (one
    * state row per source, delta sink — a trigger emits only the sources
    * its documents touched), and the epoch-capped waterfilling runs
    * POST-DRAIN over the |sources|-row latest-wins frame via the batch
    * operator's own [[graft.operators.CorpusOps.mixSolveFromTotals]] —
    * shared code, so the live mix plan equals the batch plan by
    * construction (same DuckDB oracle). This is the deployment form of
    * mix planning: the registrar keeps source totals current as the
    * corpus lands, and the plan re-derives from the tiny frame on demand
    * instead of re-scanning the corpus.
    */
  def mixSolveStreamUpdate(spark: SparkSession, dir: String,
                           budgetPct: Long, maxEpochsPct: Long,
                           nFiles: Int = 4): DataFrame = {
    val agg = docsStreamSplit(spark, dir, nFiles)
      .withColumn("n_toks",
        graft.operators.TextOps.tokenCount(col("text")))
      .groupBy("source").agg(sum(col("n_toks")).as("n_tokens"))
    graft.operators.CorpusOps.mixSolveFromTotals(
      latestPerKey(runUpdatesToDeltaLog(spark, agg), Seq("source")),
      budgetPct, maxEpochsPct)
  }

  /** Update-mode twin of [[keySkewStream]]: per-key counts, delta sink —
    * only keys that received events in a trigger reach the sink. Same
    * post-drain total/ppm/top-K projection, same batch oracle.
    */
  def keySkewStreamUpdate(spark: SparkSession, dir: String, keyCol: String,
                          topK: Int, nFiles: Int = 4): DataFrame =
    keySkewTop(latestPerKey(
      runUpdatesToDeltaLog(spark,
        keySkewAgg(eventsStreamSplit(spark, dir, nFiles), keyCol)),
      Seq("key")), topK)

  /** Update-mode twin of [[vocabularyStream]]: per-token counts, delta
    * sink — a trigger emits only the tokens its documents contained, not
    * the whole vocabulary. Deterministic top-N over the latest-wins
    * reduction; same batch oracle.
    */
  def vocabularyStreamUpdate(spark: SparkSession, dir: String,
                             topN: Int, nFiles: Int = 4): DataFrame =
    vocabTopN(latestPerKey(
      runUpdatesToDeltaLog(spark,
        vocabAgg(docsStreamSplit(spark, dir, nFiles))),
      Seq("token")), topN)

  /** Update-mode twin of [[jsonPropsAggStream]]: per-type JSON rollup,
    * delta sink — a trigger emits only the event types it carried. Same
    * batch oracle.
    */
  def jsonPropsAggStreamUpdate(spark: SparkSession, dir: String,
                               nFiles: Int = 4): DataFrame =
    latestPerKey(runUpdatesToDeltaLog(spark,
      jsonPropsAgg(eventsStreamSplit(spark, dir, nFiles))),
      Seq("event_type"))

  /** Update-mode twin of [[lengthQuantilesStream]]: the per-(source,
    * token-length) histogram cells flow as deltas; the exact integer-rank
    * quantile pick runs post-drain over the latest-wins cells. Same batch
    * oracle.
    */
  def lengthQuantilesStreamUpdate(spark: SparkSession, dir: String,
                                  pcts: Seq[Int] = Seq(50, 90, 99),
                                  nFiles: Int = 4): DataFrame = {
    require(pcts.nonEmpty, "lengthQuantilesStreamUpdate: pcts must be non-empty")
    lengthQuantilesFrom(latestPerKey(
      runUpdatesToDeltaLog(spark,
        lengthHistAgg(docsStreamSplit(spark, dir, nFiles))),
      Seq("source", "n_tokens")), pcts)
  }

  /** Update-mode twin of [[dedupWindowStream]] — the TIME-BUCKETED-key
    * case: state keys are (user, type, 5-minute bucket), so under a
    * watermark old buckets' state is EVICTABLE, not merely bounded — the
    * one Update-mode family where state genuinely drains in deployment.
    * The watermark is declared here (the split-file source scatters
    * arrival in arbitrary event-time order, so the delay is set beyond
    * the dataset's span exactly as [[rangeJoinStream]] documents — a real
    * deployment sets it to the ingest disorder bound and old buckets age
    * out). Per-trigger sink volume = buckets touched by that trigger's
    * events; the per-type audit rolls up post-drain. Same batch oracle.
    */
  def dedupWindowStreamUpdate(spark: SparkSession, dir: String,
                              windowMinutes: Int,
                              nFiles: Int = 4): DataFrame = {
    val bucketUs = windowMinutes * 60L * 1000000L
    val agg = eventsStreamSplit(spark, dir, nFiles)
      .withWatermark("ts", "3650 days")
      // the time key MUST be window(ts): eviction exists only when a
      // grouping expression carries the event-time watermark METADATA —
      // a bucket id derived via unix_micros(ts) is a plain long, the
      // planner installs no eviction predicate, and the "state drains"
      // contract silently becomes "state grows forever" (caught in the
      // r12 self-review). window() with the default epoch-aligned start
      // is the same partition of time the integer bucket id described.
      .groupBy(col("user_id"), col("event_type"),
        window(col("ts"), s"$windowMinutes minutes"))
      .agg(count(lit(1)).as("n"))
      // post-agg projection back to the integer bucket id the delta log,
      // oracle, and latestPerKey key on (exact: window.start is
      // epoch-aligned, so start µs div bucketUs is the id)
      .select(col("user_id"), col("event_type"),
        expr(s"unix_micros(window.start) div ${bucketUs}L").as("bucket"),
        col("n"))
    latestPerKey(runUpdatesToDeltaLog(spark, agg),
      Seq("user_id", "event_type", "bucket"))
      .groupBy("event_type")
      .agg(sum(col("n")).as("n_events"),
           count(lit(1)).as("n_kept"))
      .withColumn("n_dropped", col("n_events") - col("n_kept"))
  }

  /** Stream-stream interval join: incidents ("error" events) joined, AS
    * BOTH SIDES LAND, to the same user's events within ±`windowMinutes` —
    * the streaming twin of EventOps.nearbyEventCounts and the one
    * Structured-Streaming join shape the engine hadn't exercised: two
    * unbounded sides, equi-key (user_id) plus an event-time RANGE
    * condition, state on both sides. Spark buffers each side keyed by
    * user and evicts via the watermark + range bound; matches emit
    * incrementally (inner join — no result waits for stream end).
    *
    * Harness honesty: both sides run through the split-file source, so
    * buffering and cross-trigger matching genuinely happen (a pair can
    * arrive in two different triggers, in either order). The watermark
    * delay is set beyond the dataset's time span because the split
    * scatters arrival in ARBITRARY event-time order; a real deployment
    * sets it to the ingest disorder bound, which is what makes the
    * buffered state finite. Per-incident counts (and zero-neighbor
    * incidents) derive from the drained pairs against the static incident
    * list — the same post-drain projection discipline as the other
    * streaming queries — so the query shares the batch range join's
    * oracle.
    */
  def rangeJoinStream(spark: SparkSession, dir: String,
                      windowMinutes: Int, nFiles: Int = 4): DataFrame = {
    val wUs = windowMinutes * 60L * 1000000L
    def side(alias: String): DataFrame =
      eventsStreamSplit(spark, dir, nFiles)
        .withWatermark("ts", "3650 days").alias(alias)
    val inc = side("i").filter(col("event_type") === "error")
      .select(col("event_id").as("incident_id"),
              col("user_id").as("inc_user"), col("ts").as("inc_ts"))
    val ev = side("e")
      .select(col("event_id").as("ev_id"), col("user_id").as("ev_user"),
              col("ts").as("ev_ts"))
    val pairs = inc.join(ev,
      col("inc_user") === col("ev_user") &&
        col("ev_ts") >= col("inc_ts") - expr(s"INTERVAL $windowMinutes MINUTES") &&
        col("ev_ts") <= col("inc_ts") + expr(s"INTERVAL $windowMinutes MINUTES") &&
        col("ev_id") =!= col("incident_id"))
      .select("incident_id", "ev_id")
    // both sides buffer the full disorder window — table-sized state, the
    // RocksDB case (0.55× of in-heap at sf0.1, r11)
    val drained = runToTable(spark, pairs, OutputMode.Append(),
      largeState = true)
    val counts = drained.groupBy("incident_id")
      .agg(count(lit(1)).as("n_pairs"))
    // zero-neighbor incidents never emit a pair; restore them from the
    // static incident list (|incidents| rows, post-drain projection)
    graft.sources.Tables.events(spark, dir)
      .filter(col("event_type") === "error")
      .select(col("event_id").as("incident_id"))
      .join(counts, Seq("incident_id"), "left")
      .select(col("incident_id"),
              coalesce(col("n_pairs"), lit(0L)).as("n_nearby"))
  }

  case class Ev(user_id: Long, ts_us: Long)
  case class UserSessions(user_id: Long, n_sessions: Long, n_events: Long,
                          max_session_events: Long)

  /** Per-user session intervals carried across micro-batches: parallel
    * arrays of disjoint sessions sorted by start, every inter-session gap
    * strictly greater than the session gap. Boundaries plus a per-session
    * event count are a SUFFICIENT statistic for sessionization — an
    * arriving event only ever extends an interval's span, increments its
    * count, bridges two adjacent intervals into one, or opens a new one —
    * so state stays O(sessions per user) while remaining exactly
    * order-independent (a batch's events may precede state already seen).
    *
    * The three scalar counters summarize sessions already CLOSED by
    * watermark eviction ([[evictClosed]]): without them the interval
    * arrays grow monotonically — one entry per session a user ever had —
    * and at 100 TB the state store grows without bound. Closed sessions
    * contribute only these sufficient statistics to every emission, so
    * evicting them changes no output.
    */
  case class SessState(starts: Array[Long], ends: Array[Long],
                       counts: Array[Long],
                       nClosed: Long = 0L, closedEvents: Long = 0L,
                       maxClosedEvents: Long = 0L)

  /** Fold every interval that can no longer change into the closed-session
    * counters and drop it from the arrays. An interval is immutable once
    * `end < cutoffUs` where cutoffUs = watermark − gap: a surviving event
    * has ts ≥ watermark (the watermark filter drops the rest before the
    * stateful operator), so extending needs ts − end ≤ gap ⇒ end ≥
    * watermark − gap, and bridging two intervals needs the same of the
    * earlier one. Intervals are start-sorted and disjoint with gaps > gap,
    * so ends are increasing — the evictable set is a prefix. Steady-state
    * size: every interval but the last has end < lastStart − gap, and
    * lastStart ≤ max event time; once the watermark passes that, only the
    * most recent (still-open) session survives ⇒ ≤ 1 interval per user
    * plus three scalars.
    */
  private[graft] def evictClosed(st: SessState, cutoffUs: Long): SessState = {
    var k = 0
    while (k < st.ends.length && st.ends(k) < cutoffUs) k += 1
    if (k == 0) st
    else {
      var ce = st.closedEvents; var mx = st.maxClosedEvents; var i = 0
      while (i < k) {
        ce += st.counts(i)
        if (st.counts(i) > mx) mx = st.counts(i)
        i += 1
      }
      SessState(st.starts.drop(k), st.ends.drop(k), st.counts.drop(k),
                st.nClosed + k, ce, mx)
    }
  }

  /** Merge a batch of event timestamps (sorted) into the session intervals:
    * a single sweep over state intervals and new events in start order,
    * fusing any adjacent items whose gap is <= gapUs (strict > breaks a
    * session, matching EventOps.sessionize). Order-independent by
    * construction: the result depends only on the multiset of timestamps
    * absorbed so far, so arrival order across micro-batches cannot change
    * the answer — the property the batch oracle asserts through the
    * split-file source, whose repartition scatters a user's events across
    * triggers in neither time nor id order.
    */
  private def mergeSessions(old: SessState, newTs: Array[Long],
                            gapUs: Long): SessState = {
    val n = old.starts.length + newTs.length
    val starts = new Array[Long](n); val ends = new Array[Long](n)
    val counts = new Array[Long](n)
    var out = -1; var i = 0; var j = 0
    def push(s: Long, e: Long, c: Long): Unit =
      if (out >= 0 && s - ends(out) <= gapUs) {
        if (e > ends(out)) ends(out) = e
        counts(out) += c
      } else {
        out += 1; starts(out) = s; ends(out) = e; counts(out) = c
      }
    while (i < old.starts.length || j < newTs.length)
      if (j >= newTs.length ||
          (i < old.starts.length && old.starts(i) <= newTs(j))) {
        push(old.starts(i), old.ends(i), old.counts(i)); i += 1
      } else { push(newTs(j), newTs(j), 1L); j += 1 }
    SessState(starts.take(out + 1), ends.take(out + 1), counts.take(out + 1),
              old.nClosed, old.closedEvents, old.maxClosedEvents)
  }

  /** Core of the stateful sessionizer: groupByKey(user) →
    * flatMapGroupsWithState carrying [[SessState]], emitting each user's
    * CUMULATIVE (n_sessions, n_events, max_session_events) every trigger
    * the user has arrivals (Update discipline — the latest emission per
    * user is the answer; n_events strictly increases per emission, so
    * "latest" is recoverable from the drained sink as the max-n_events
    * row). Takes the event stream as a parameter so the declared query
    * (split-file source) and the spec (MemoryStream with controlled,
    * deliberately out-of-order batch boundaries) drive the identical
    * operator.
    */
  def sessionizeUpdates(spark: SparkSession,
                        events: org.apache.spark.sql.Dataset[Ev],
                        gapUs: Long,
                        watermarkEviction: Boolean = false): DataFrame = {
    import spark.implicits._
    val sessions = events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        (user: Long, arrivals: Iterator[Ev], state: GroupState[SessState]) => {
          // Eviction mode needs the watermark CONTRACT, not just the value:
          // flatMapGroupsWithState does NOT auto-drop late rows the way
          // aggregations do, so the late filter is applied here — an event
          // below the watermark could otherwise arrive after its session
          // was folded into the closed counters and be double-counted as a
          // "new" session. Requires a watermark on the input stream; the
          // declared no-watermark query keeps the full interval arrays
          // (its oracle counts every event regardless of arrival order).
          val wmUs =
            if (watermarkEviction) state.getCurrentWatermarkMs() * 1000L
            else Long.MinValue
          val ts = arrivals.map(_.ts_us).filter(_ >= wmUs).toArray
          java.util.Arrays.sort(ts)
          val merged = mergeSessions(
            if (state.exists) state.get
            else SessState(Array.empty, Array.empty, Array.empty),
            ts, gapUs)
          // sessions the watermark has passed can never change again —
          // fold them into the closed counters so state holds ≤ 1 open
          // interval per user, not the user's full session history
          val kept =
            if (watermarkEviction) evictClosed(merged, wmUs - gapUs)
            else merged
          state.update(kept)
          Iterator.single(UserSessions(user,
            kept.nClosed + kept.counts.length.toLong,
            kept.closedEvents + kept.counts.sum,
            math.max(kept.maxClosedEvents,
              if (kept.counts.isEmpty) 0L else kept.counts.max)))
        })
    sessions.toDF()
  }

  case class GapRow(user_id: Long, n_gaps: Long,
                    digits: Array[Long], counts: Array[Long])

  /** Per-user gap-histogram state: the user's absorbed event timestamps
    * (sorted multiset) plus 20 closed-bucket counters, one per decimal
    * digit count of a µs gap. The timestamp array is what exactness
    * requires — a late event INSERTS between two old ones and splits
    * their gap in two, so consecutive-gap counts are not incrementally
    * maintainable from counters alone. The closed buckets are what makes
    * the state bounded: once the watermark passes a pair of adjacent
    * timestamps, nothing can ever land between them (the watermark filter
    * drops later-than-that arrivals), so their gap is folded into its
    * bucket and the earlier timestamp dropped — steady-state is the
    * in-horizon suffix plus one boundary element plus 20 longs per user,
    * not the user's full event history.
    */
  case class GapState(tsSorted: Array[Long], closed: Array[Long])

  /** Decimal digit count of a non-negative µs gap — the batch operator's
    * `length(cast(gap_us as string))` bucket (EventOps.gapHistogram).
    */
  private def gapDigits(g: Long): Int = g.toString.length

  /** Fold every gap whose BOTH endpoints are below the watermark into the
    * closed buckets and drop the evictable prefix, keeping the last
    * below-watermark timestamp as the boundary: its gap to the first
    * retained event is still live (an arrival ≥ wm but < that event can
    * split it).
    */
  private[graft] def evictGaps(st: GapState, wmUs: Long): GapState = {
    var k = 0
    while (k < st.tsSorted.length && st.tsSorted(k) < wmUs) k += 1
    if (k <= 1) st
    else {
      val closed = st.closed.clone()
      var i = 1
      while (i < k) {
        closed(gapDigits(st.tsSorted(i) - st.tsSorted(i - 1)) - 1) += 1
        i += 1
      }
      GapState(st.tsSorted.drop(k - 1), closed)
    }
  }

  /** Stateful per-user gap histogram: groupByKey(user) →
    * flatMapGroupsWithState merging each trigger's arrivals into the
    * sorted timestamp multiset and emitting the user's CUMULATIVE
    * (n_gaps, digit buckets) — closed buckets plus a sweep over the live
    * suffix. Update discipline as [[sessionizeUpdates]]: n_gaps grows
    * with every absorbed event, so the drained sink's max-n_gaps row per
    * user is the answer. Order-independent by construction — the gap
    * multiset is the consecutive differences of a sorted multiset, which
    * depends only on WHAT arrived, never on when.
    */
  def gapHistUpdates(spark: SparkSession,
                     events: org.apache.spark.sql.Dataset[Ev],
                     watermarkEviction: Boolean = false): DataFrame = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        (user: Long, arrivals: Iterator[Ev], state: GroupState[GapState]) => {
          // same watermark CONTRACT as sessionizeUpdates: the late filter
          // must be explicit here — a below-watermark arrival after its
          // neighborhood was folded into the closed buckets would split a
          // gap that was already counted as final
          val wmUs =
            if (watermarkEviction) state.getCurrentWatermarkMs() * 1000L
            else Long.MinValue
          val ts = arrivals.map(_.ts_us).filter(_ >= wmUs).toArray
          java.util.Arrays.sort(ts)
          val old = if (state.exists) state.get
                    else GapState(Array.empty, new Array[Long](20))
          // merge two sorted runs (state is sorted; arrivals just sorted)
          val merged = new Array[Long](old.tsSorted.length + ts.length)
          var i = 0; var j = 0; var o = 0
          while (i < old.tsSorted.length || j < ts.length) {
            if (j >= ts.length ||
                (i < old.tsSorted.length && old.tsSorted(i) <= ts(j))) {
              merged(o) = old.tsSorted(i); i += 1
            } else { merged(o) = ts(j); j += 1 }
            o += 1
          }
          val kept =
            if (watermarkEviction) evictGaps(GapState(merged, old.closed), wmUs)
            else GapState(merged, old.closed)
          state.update(kept)
          val buckets = kept.closed.clone()
          var p = 1
          while (p < kept.tsSorted.length) {
            buckets(gapDigits(kept.tsSorted(p) - kept.tsSorted(p - 1)) - 1) += 1
            p += 1
          }
          val nz = buckets.zipWithIndex.filter(_._1 > 0)
          Iterator.single(GapRow(user, buckets.sum,
            nz.map(_._2 + 1L), nz.map(_._1)))
        })
      .toDF()
  }

  /** Streaming inter-event gap histogram: the live-ingest pairing of the
    * batch `events_gap_hist` view — per-user gap buckets maintained
    * across micro-batches by [[gapHistUpdates]], globally aggregated
    * after the drain (per-user decomposition is exact: every gap is
    * between two events of ONE user). Declared through the split-file
    * multi-trigger source so a user's events genuinely span triggers in
    * arbitrary time order; shares the batch operator's DuckDB oracle.
    */
  def gapHistStream(spark: SparkSession, dir: String,
                    nFiles: Int = 4): DataFrame = {
    import spark.implicits._
    val ev = eventsStreamSplit(spark, dir, nFiles)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us")).as[Ev]
    val drained = runToTable(spark, gapHistUpdates(spark, ev),
      OutputMode.Update())
    val perUser = drained
      .groupBy("user_id")
      .agg(max(struct(col("n_gaps"), col("digits"), col("counts"))).as("s"))
      .select(explode(arrays_zip(col("s.digits"), col("s.counts"))).as("z"))
      .select(col("z.digits").cast("long").as("gap_digits"),
              col("z.counts").cast("long").as("n"))
    val hist = perUser.groupBy("gap_digits")
      .agg(sum(col("n")).as("n_gaps"))
    val tot = hist.agg(sum(col("n_gaps")).as("t"))
    hist.crossJoin(broadcast(tot))
      .withColumn("ppm", expr("n_gaps * 1000000 div t"))
      .select("gap_digits", "n_gaps", "ppm")
  }

  case class EvT(user_id: Long, ts_us: Long, event_type: String)
  case class FunnelState(nSeen: Long, tStep: Array[Long])
  case class FunnelRow(user_id: Long, n_seen: Long, t_step: Array[Long])

  /** Stateful streaming funnel: per-user state is ONE Long per step — the
    * min event time of that step seen so far (Long.MaxValue sentinel until
    * seen). min is commutative and idempotent, so the fold is
    * order-independent with NO watermark contract at all: a late event can
    * only lower a step's min, never invalidate folded state — the
    * tightest state bound of any stateful operator here (O(#steps) per
    * user, nothing to evict). Emission is cumulative; the drain selector
    * is the absorbed-event count.
    */
  def funnelUpdates(spark: SparkSession,
                    events: org.apache.spark.sql.Dataset[EvT],
                    steps: Seq[String]): DataFrame = {
    import spark.implicits._
    val stepIx = steps.zipWithIndex.toMap
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        (user: Long, arrivals: Iterator[EvT],
         state: GroupState[FunnelState]) => {
          val old = if (state.exists) state.get
            else FunnelState(0L, Array.fill(steps.size)(Long.MaxValue))
          val t = old.tStep.clone()
          var n = old.nSeen
          arrivals.foreach { e =>
            n += 1
            stepIx.get(e.event_type).foreach { i =>
              if (e.ts_us < t(i)) t(i) = e.ts_us
            }
          }
          state.update(FunnelState(n, t))
          Iterator.single(FunnelRow(user, n, t))
        })
      .toDF()
  }

  /** Streaming funnel: the live-ingest pairing of batch
    * `EventOps.funnel` — per-user step minima maintained across
    * split-file triggers by [[funnelUpdates]]; the reached/ordered
    * classification is a post-drain projection over |users| rows. Shares
    * the batch DuckDB oracle.
    */
  def funnelStream(spark: SparkSession, dir: String, steps: Seq[String],
                   nFiles: Int = 4): DataFrame = {
    import spark.implicits._
    val ev = eventsStreamSplit(spark, dir, nFiles)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
              col("event_type")).as[EvT]
    val drained = runToTable(spark, funnelUpdates(spark, ev, steps),
      OutputMode.Update())
    val latest = drained
      .groupBy("user_id")
      .agg(max(struct(col("n_seen"), col("t_step"))).as("s"))
    val withCols = steps.zipWithIndex.foldLeft(
      latest.select(col("user_id"), col("s.t_step").as("t"))) {
      case (df, (step, i)) =>
        df.withColumn(s"t_$step",
          when(col("t").getItem(i) =!= Long.MaxValue,
               timestamp_micros(col("t").getItem(i))))
    }
    val reached = steps.map(s => col(s"t_$s").isNotNull).reduce(_ && _)
    val ordered = steps.sliding(2).map { pair =>
      col(s"t_${pair.head}") < col(s"t_${pair.last}")
    }.reduce(_ && _)
    withCols.drop("t").filter(reached).withColumn("completed", ordered)
  }

  case class EvD(user_id: Long, epoch_day: Int)
  case class RetState(days: Array[Int])
  case class RetRow(user_id: Long, n_days: Long, cohort_day: Int,
                    offsets: Array[Long])

  /** Stateful streaming retention: per-user state is the DISTINCT active
    * day set (epoch days, sorted) — bounded by the analysis horizon's day
    * count, not the event volume, and order-independent: a late earlier
    * day lowers the cohort minimum and every week offset is recomputed
    * from the full day set on emission, so cohort REASSIGNMENT under
    * late data is handled by construction (an incremental
    * offset-counter state could not move a user between cohorts).
    */
  def retentionUpdates(spark: SparkSession,
                       events: org.apache.spark.sql.Dataset[EvD]): DataFrame = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        (user: Long, arrivals: Iterator[EvD],
         state: GroupState[RetState]) => {
          val old = if (state.exists) state.get else RetState(Array.empty)
          val days = (old.days.toSet ++ arrivals.map(_.epoch_day)).toArray
          java.util.Arrays.sort(days)
          state.update(RetState(days))
          val cohort = days(0)
          Iterator.single(RetRow(user, days.length.toLong, cohort,
            days.map(d => ((d - cohort) / 7).toLong).distinct))
        })
      .toDF()
  }

  /** Streaming cohort retention: the live-ingest pairing of batch
    * `events_retention` — per-user day sets across split-file triggers,
    * the (cohort, offset) matrix a post-drain aggregation (exact:
    * after the per-user drain each (user, offset) appears once, so a
    * plain count equals the batch COUNT DISTINCT). Shares the batch
    * DuckDB oracle.
    */
  def retentionStream(spark: SparkSession, dir: String,
                      nFiles: Int = 4): DataFrame = {
    import spark.implicits._
    val ev = eventsStreamSplit(spark, dir, nFiles)
      .select(col("user_id"),
              unix_date(to_date(col("ts"))).as("epoch_day")).as[EvD]
    val drained = runToTable(spark, retentionUpdates(spark, ev),
      OutputMode.Update())
    drained
      .groupBy("user_id")
      .agg(max(struct(col("n_days"), col("cohort_day"),
                      col("offsets"))).as("s"))
      .select(col("user_id"),
              date_from_unix_date(col("s.cohort_day")).as("cohort_day"),
              explode(col("s.offsets")).as("week_offset"))
      .groupBy("cohort_day", "week_offset")
      .agg(count(lit(1)).as("n_users"))
  }

  case class SessHistRow(user_id: Long, n_total: Long,
                         sizes: Array[Long], counts: Array[Long])

  /** Per-user session-length-histogram state: the open session intervals
    * (same sufficient statistic as [[SessState]] — an arriving event can
    * only extend, bridge, or open an interval) plus a sparse
    * (size → count) histogram of sessions already CLOSED by watermark
    * eviction. Unlike [[SessState]]'s three scalars, the size DISTRIBUTION
    * must survive closing — that is the whole output — and it is bounded
    * by the number of DISTINCT session sizes (≤ max session length), not
    * by session count, so eviction still caps state at the open suffix
    * plus a small histogram per user.
    */
  case class SessHistState(starts: Array[Long], ends: Array[Long],
                           cnts: Array[Long],
                           histSizes: Array[Long], histCounts: Array[Long],
                           totalEvents: Long)

  /** Stateful per-user session-size histogram: interval merge identical to
    * [[sessionizeUpdates]] (shared [[mergeSessions]]), emission = closed
    * histogram + live interval sizes, cumulative per trigger. The drain
    * selector is totalEvents (strictly increasing per absorbed event) —
    * session COUNT can shrink when a late event bridges two intervals, so
    * it cannot order emissions.
    */
  def sessionLengthUpdates(spark: SparkSession,
                           events: org.apache.spark.sql.Dataset[Ev],
                           gapUs: Long,
                           watermarkEviction: Boolean = false): DataFrame = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        (user: Long, arrivals: Iterator[Ev],
         state: GroupState[SessHistState]) => {
          // same late-row contract as sessionizeUpdates: an event below the
          // watermark could attach to a session already folded into the
          // histogram, double-counting it as a new session
          val wmUs =
            if (watermarkEviction) state.getCurrentWatermarkMs() * 1000L
            else Long.MinValue
          val ts = arrivals.map(_.ts_us).filter(_ >= wmUs).toArray
          java.util.Arrays.sort(ts)
          val old = if (state.exists) state.get
            else SessHistState(Array.empty, Array.empty, Array.empty,
                               Array.empty, Array.empty, 0L)
          val merged = mergeSessions(
            SessState(old.starts, old.ends, old.cnts), ts, gapUs)
          var hs = old.histSizes; var hc = old.histCounts
          var starts = merged.starts; var ends = merged.ends
          var cnts = merged.counts
          if (watermarkEviction) {
            // an interval is immutable once end < watermark − gap (the
            // evictClosed proof); fold the evictable prefix into the
            // sparse histogram
            val cutoff = wmUs - gapUs
            var k = 0
            while (k < ends.length && ends(k) < cutoff) k += 1
            if (k > 0) {
              val m = scala.collection.mutable.LongMap.empty[Long]
              var i = 0
              while (i < hs.length) { m(hs(i)) = hc(i); i += 1 }
              i = 0
              while (i < k) {
                m(cnts(i)) = m.getOrElse(cnts(i), 0L) + 1L; i += 1
              }
              val sorted = m.toArray.sortBy(_._1)
              hs = sorted.map(_._1); hc = sorted.map(_._2)
              starts = starts.drop(k); ends = ends.drop(k)
              cnts = cnts.drop(k)
            }
          }
          val tot = old.totalEvents + ts.length
          state.update(SessHistState(starts, ends, cnts, hs, hc, tot))
          val m = scala.collection.mutable.LongMap.empty[Long]
          var i = 0
          while (i < hs.length) { m(hs(i)) = hc(i); i += 1 }
          i = 0
          while (i < cnts.length) {
            m(cnts(i)) = m.getOrElse(cnts(i), 0L) + 1L; i += 1
          }
          val sorted = m.toArray.sortBy(_._1)
          Iterator.single(SessHistRow(user, tot,
            sorted.map(_._1), sorted.map(_._2)))
        })
      .toDF()
  }

  /** Streaming session-length histogram: the live-ingest pairing of the
    * batch `events_session_length_hist` — per-user interval state across
    * split-file triggers, per-user size histograms globally summed after
    * the drain (exact: every session belongs to ONE user). Shares the
    * batch DuckDB oracle.
    */
  def sessionLengthHistStream(spark: SparkSession, dir: String,
                              gapMinutes: Int, nFiles: Int = 4): DataFrame = {
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    val ev = eventsStreamSplit(spark, dir, nFiles)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us")).as[Ev]
    val drained = runToTable(spark,
      sessionLengthUpdates(spark, ev, gapUs), OutputMode.Update())
    drained
      .groupBy("user_id")
      .agg(max(struct(col("n_total"), col("sizes"), col("counts"))).as("s"))
      .select(explode(arrays_zip(col("s.sizes"), col("s.counts"))).as("z"))
      .select(col("z.sizes").cast("long").as("n_events"),
              col("z.counts").cast("long").as("n"))
      .groupBy("n_events")
      .agg(sum(col("n")).as("n_sessions"))
  }

  /** Custom-state sessionization via flatMapGroupsWithState — the
    * KeyValueGroupedDataset stateful path (guide §Structured Streaming).
    * Gap semantics identical to EventOps.sessionize (strict > gap, µs) so
    * the batch oracle validates the streaming implementation. Declared
    * through the split-file multi-trigger source: a user's events genuinely
    * span micro-batches (in arbitrary time order), so the cross-batch
    * interval state is exercised, not just declared — the single-batch
    * drain that hid the earlier stateless version can't happen here.
    */
  def sessionizeStateful(spark: SparkSession, dir: String,
                         gapMinutes: Int, nFiles: Int = 4): DataFrame = {
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    val ev = eventsStreamSplit(spark, dir, nFiles)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us")).as[Ev]
    val drained = runToTable(spark, sessionizeUpdates(spark, ev, gapUs),
      OutputMode.Update())
    // Update-mode memory sink appends each trigger's emissions; the final
    // cumulative row per user is the one with the largest n_events (strictly
    // increasing per emission — struct max picks it without a shuffle-heavy
    // window)
    drained
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("n_sessions"),
        col("max_session_events"))).as("s"))
      .select(col("user_id"), col("s.n_sessions").as("n_sessions"),
        col("s.n_events").as("n_events"),
        col("s.max_session_events").as("max_session_events"))
  }

  // ---- streaming as-of join ------------------------------------------

  case class AsofEv(event_id: Long, user_id: Long, ts_us: Long,
                    value: Double, is_purchase: Boolean)
  case class AsofOut(event_id: Long, user_id: Long, value: Double,
                     last_view_value: Option[Double], seen: Long)

  /** Per-user as-of state. `viewTs`/`viewVal` is the view buffer: strictly
    * increasing timestamps with the MAX view value per timestamp (the
    * batch operator pre-aggregates views by (user, ts) with max — merging
    * same-ts arrivals with max here is the incremental equivalent).
    * `pIds`/`pTs`/`pVal` are the pending purchases; `mTs`/`mVal` the match
    * last emitted for each (mTs = Long.MinValue ⇒ emitted as unmatched,
    * NOT_EMITTED ⇒ never emitted), so a trigger re-emits exactly the
    * purchases whose answer changed. `seen` counts the user's absorbed
    * arrivals — strictly increasing per emission, which is what lets the
    * drained Update-mode sink recover "latest per purchase" with a plain
    * struct-max instead of a window.
    */
  case class AsofState(viewTs: Array[Long], viewVal: Array[Double],
                       pIds: Array[Long], pTs: Array[Long],
                       pVal: Array[Double],
                       mTs: Array[Long], mVal: Array[Double],
                       seen: Long)

  private val AsofNotEmitted = Long.MinValue + 1

  /** Greatest index i with ts(i) <= t, or -1. Plain binary search over the
    * strictly-increasing view buffer.
    */
  private def lastAtOrBefore(ts: Array[Long], t: Long): Int = {
    var lo = 0; var hi = ts.length - 1; var ans = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (ts(mid) <= t) { ans = mid; lo = mid + 1 } else hi = mid - 1
    }
    ans
  }

  /** Merge newly arrived (ts, value) view pairs (sorted by ts) into the
    * buffer: union of timestamps, max of values at a shared timestamp.
    */
  private def mergeViews(oldTs: Array[Long], oldVal: Array[Double],
                         addTs: Array[Long], addVal: Array[Double])
      : (Array[Long], Array[Double]) = {
    val ts = new Array[Long](oldTs.length + addTs.length)
    val v = new Array[Double](ts.length)
    var out = -1; var i = 0; var j = 0
    def push(t: Long, x: Double): Unit =
      if (out >= 0 && ts(out) == t) { if (x > v(out)) v(out) = x }
      else { out += 1; ts(out) = t; v(out) = x }
    while (i < oldTs.length || j < addTs.length)
      if (j >= addTs.length || (i < oldTs.length && oldTs(i) <= addTs(j))) {
        push(oldTs(i), oldVal(i)); i += 1
      } else { push(addTs(j), addVal(j)); j += 1 }
    (ts.take(out + 1), v.take(out + 1))
  }

  /** Core of the streaming as-of join: groupByKey(user) →
    * flatMapGroupsWithState carrying [[AsofState]]. Each purchase is
    * matched to the LATEST same-user view at-or-before its timestamp
    * (max view value on a timestamp tie — exactly the batch
    * [[graft.operators.EventOps.asofJoin]] over max-aggregated views, so
    * the shared oracle verifies the drained result). Out-of-order and
    * cross-trigger arrivals are handled by construction: a late view
    * re-matches every pending purchase it could affect and the changed
    * ones re-emit; the latest emission per purchase is the answer.
    *
    * State/scale shape: with `watermarkEviction` (the deployment mode —
    * requires a watermark on the input) a purchase below the watermark is
    * FINAL (any future view has ts ≥ wm > p.ts, so it can't match) and is
    * dropped after its last emission, and the view buffer is compacted to
    * a watermark FLOOR — only the latest below-wm view can ever match a
    * future purchase (p.ts ≥ wm), so the prefix before it is dropped.
    * Steady-state is O(in-horizon views + in-horizon purchases) per user.
    * The declared query runs exact/uncapped (full buffers) so it shares
    * the batch oracle verbatim; AsofStreamSpec drives the eviction mode
    * and asserts both batch-equality and the state bound.
    */
  def asofJoinUpdates(spark: SparkSession,
                      events: org.apache.spark.sql.Dataset[AsofEv],
                      watermarkEviction: Boolean = false): DataFrame = {
    import spark.implicits._
    val out = events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        (user: Long, arrivals: Iterator[AsofEv],
         state: GroupState[AsofState]) => {
          // flatMapGroupsWithState does not auto-drop late rows; in
          // eviction mode an arrival below the watermark could otherwise
          // land after the state it needs was compacted away — filter it
          // here, same contract as sessionizeUpdates.
          val wmUs =
            if (watermarkEviction) state.getCurrentWatermarkMs() * 1000L
            else Long.MinValue
          val batch = arrivals.filter(_.ts_us >= wmUs).toArray
          val st = if (state.exists) state.get
                   else AsofState(Array.empty, Array.empty, Array.empty,
                                  Array.empty, Array.empty, Array.empty,
                                  Array.empty, 0L)
          // absorb views (sorted, max per ts)
          val nv = batch.filter(!_.is_purchase)
            .map(e => (e.ts_us, e.value)).sortBy(identity)
          val (viewTs, viewVal) =
            mergeViews(st.viewTs, st.viewVal, nv.map(_._1), nv.map(_._2))
          // absorb purchases (never-emitted sentinel match)
          val np = batch.filter(_.is_purchase)
          val pIds = st.pIds ++ np.map(_.event_id)
          val pTs = st.pTs ++ np.map(_.ts_us)
          val pVal = st.pVal ++ np.map(_.value)
          val mTs = st.mTs ++ Array.fill(np.length)(AsofNotEmitted)
          val mVal = st.mVal ++ Array.fill(np.length)(0.0)
          val seen = st.seen + batch.length
          // re-match every pending purchase; emit the changed ones
          val emits = Vector.newBuilder[AsofOut]
          var i = 0
          while (i < pIds.length) {
            val k = lastAtOrBefore(viewTs, pTs(i))
            val (t, v) = if (k >= 0) (viewTs(k), viewVal(k))
                         else (Long.MinValue, 0.0)
            if (t != mTs(i) || (k >= 0 && v != mVal(i))) {
              emits += AsofOut(pIds(i), user, pVal(i),
                if (k >= 0) Some(viewVal(k)) else None, seen)
              mTs(i) = t; mVal(i) = v
            }
            i += 1
          }
          val kept =
            if (!watermarkEviction)
              AsofState(viewTs, viewVal, pIds, pTs, pVal, mTs, mVal, seen)
            else {
              // finalize below-watermark purchases (emitted above if they
              // changed; their match can never change again), then compact
              // the view buffer to the latest below-wm entry
              val keepP = (0 until pIds.length).filter(pTs(_) >= wmUs).toArray
              var floor = lastAtOrBefore(viewTs, wmUs - 1)
              if (floor < 0) floor = 0
              AsofState(viewTs.drop(floor), viewVal.drop(floor),
                keepP.map(pIds), keepP.map(pTs), keepP.map(pVal),
                keepP.map(mTs), keepP.map(mVal), seen)
            }
          state.update(kept)
          emits.result().iterator
        })
    out.toDF()
  }

  /** Declared streaming as-of join over the split-file landing source:
    * purchases matched live to the latest same-user view as both land out
    * of order across triggers. Post-drain the latest emission per purchase
    * (struct-max on the strictly-increasing `seen`) is the answer — equal
    * to the batch `events_asof_join`, whose DuckDB oracle this shares.
    */
  def asofJoinStream(spark: SparkSession, dir: String,
                     nFiles: Int = 4): DataFrame = {
    import spark.implicits._
    val ev = eventsStreamSplit(spark, dir, nFiles)
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"),
        (col("event_type") === "purchase").as("is_purchase"))
      .as[AsofEv]
    // declared exact mode buffers every view + pending purchase —
    // table-sized state, the RocksDB case (0.78× of in-heap at sf0.1, r11)
    val drained = runToTable(spark, asofJoinUpdates(spark, ev),
      OutputMode.Update(), largeState = true)
    drained
      .groupBy("event_id")
      .agg(max(struct(col("seen"), col("user_id"), col("value"),
        col("last_view_value"))).as("s"))
      .select(col("event_id"), col("s.user_id").as("user_id"),
        col("s.value").as("value"),
        col("s.last_view_value").as("last_view_value"))
  }
}
