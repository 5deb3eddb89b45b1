package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis and deduplication operators for large-scale training-data
  * pipelines ([EXT] in SURVEY.md §2.9): exact dedup, MinHash-banded near-dup,
  * SimHash, n-gram Jaccard, language-ID, quality scoring, token counting and
  * document fingerprinting — all over the `documents` table.
  *
  * Design rules:
  *  - Everything stays inside whole-stage codegen: built-in `functions._`
  *    plus higher-order array functions; no UDFs.
  *  - Hashing is md5-based so the DuckDB oracle can reproduce results
  *    bit-for-bit (Spark's murmur `hash()` is not portable).
  *  - Pairwise ops are blocked (LSH bands / hash buckets) before any join,
  *    so candidate generation is an equi-join, never a cross join — the
  *    property that survives a 100 TB corpus.
  */
object TextOps {

  /** Lowercased whitespace tokens. */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("\\S+"), lit(0))

  /** Null-safe whitespace token count as a long. `size` on a null array
    * returns -1 under `spark.sql.legacy.sizeOfNull=true` and NULL under
    * the ANSI default this build ships with (Spark 4.x) — while the
    * DuckDB oracles' `sum(len(toks))` skips NULLs, so a null `text`
    * would drift token sums either way. `greatest(·, 0)` normalizes BOTH
    * shapes (greatest ignores the NULL, clamps the -1), making null/empty
    * text contribute 0 tokens on both engines under either config.
    */
  def tokenCount(text: Column): Column =
    greatest(size(tokens(text)), lit(0)).cast("long")

  /** Word n-gram shingles (empty array when too short). Native expression —
    * the composable transform/sequence/element_at form costs ~27 µs per
    * shingle interpreted (see graft.functions.WordShingles).
    */
  def shingles(toks: Column, n: Int): Column =
    graft.functions.WordShingles.word_shingles(toks, n)

  /** Per-document winnowing fingerprint SET (Schleimer et al. 2003) as a
    * stateless projection: the distinct lexicographic minima of md5'd
    * k-gram hashes over every full window of `w` consecutive positions —
    * the same selection [[winnowedPairs]] indexes and the DuckDB oracle
    * restates. One native pass per row (no explode, no per-doc window —
    * see graft.functions.WinnowedFingerprints for why the composable
    * HOF form is O(n²)); documents with fewer than `w` k-gram positions
    * select nothing.
    */
  def winnowedFingerprintSet(text: Column, k: Int = 3, w: Int = 4): Column =
    graft.functions.WinnowedFingerprints
      .winnowed_fingerprints(shingles(tokens(text), k), w)

  /** BPE-ish subword count: letter runs, digit runs, single punctuation. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  // ---- per-document analysis ------------------------------------------

  val Stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "it", "on", "for")

  /** n-gram/marker-word language-ID heuristic. Scores each candidate
    * language by marker hits over the token multiset; highest score wins,
    * ties broken by profile order; no hits → "und".
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "a"),
    "de" -> Seq("der", "und", "die", "ist", "das"),
    "es" -> Seq("el", "la", "que", "los", "es"),
    "fr" -> Seq("le", "la", "et", "les", "est"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** Occurrence count of markers — native expression (the `size(filter(...))`
    * HOF form is interpreted per token; see graft.functions.MarkerCount).
    */
  private def markerHits(toks: Column, markers: Seq[String]): Column =
    graft.functions.MarkerCount.marker_count(toks, markers)

  def langId(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang").as("labeled_lang"),
                predictedLangExpr.as("predicted_lang"))

  /** The cleaning pipeline's combined language+quality filter —
    * `predictedLangExpr === "en" && qualityScoreExpr >= minQuality` as ONE
    * native single-pass predicate (see [[graft.functions.CleanGate]] for
    * why: the declarative chain re-tokenizes once per embedded marker set
    * because MarkerCount's CodegenFallback keeps the Filter out of
    * whole-stage codegen's subexpression sharing). TextOpsSpec asserts the
    * two forms keep identical row sets on the real documents table.
    */
  private[graft] def cleanGate(minQuality: Double,
                               targetLang: String = "en"): Column =
    graft.functions.CleanGate.clean_gate(col("text"), LangProfiles,
                                         Stopwords, targetLang, minQuality)

  /** The [[langId]] prediction as one self-contained column (the
    * [[qualityScoreExpr]] analog) so pipelines can FILTER on language
    * inline instead of joining a langId projection back on doc_id —
    * langId is a pure per-row function, and a doc_id self-join of the
    * corpus to evaluate it is a full shuffle at scale (r12 verdict
    * item 3). [[langId]] itself is built from this expression, so the
    * two can't drift. Catalyst's subexpression elimination shares the
    * repeated tokens/score subtrees inside whole-stage codegen.
    */
  private[graft] def predictedLangExpr: Column = {
    val toks = tokens(col("text"))
    val scores = LangProfiles.map { case (l, ms) => l -> markerHits(toks, ms) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    // first matching profile wins ties (when-chain short-circuits in order)
    scores.foldLeft(when(lit(false), lit("")): Column) {
      case (chain, (l, s)) => chain.when(s === best && best > 0, lit(l))
    }.otherwise(lit("und"))
  }

  /** Quality scoring: token count, mean word length, stopword ratio,
    * punctuation ratio, and a composite score in [0,1].
    */
  def qualityScore(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs
      .withColumn("token_cnt", size(toks))
      .withColumn("char_len", length(col("text")).cast("double"))
      .withColumn("avg_word_len",
        // Σ length(t) == length of the separator-less concatenation — a
        // codegen'd form of the interpreted `aggregate` fold (same value:
        // both count code points, and concat adds none)
        length(concat_ws("", toks)).cast("double") /
          greatest(size(toks), lit(1)).cast("double"))
      .withColumn("stopword_ratio",
        markerHits(toks, Stopwords).cast("double") /
          greatest(size(toks), lit(1)).cast("double"))
      .withColumn("punct_ratio",
        size(regexp_extract_all(lower(col("text")),
          lit("[^a-z0-9\\s]"), lit(0))).cast("double") /
          greatest(length(col("text")), lit(1)).cast("double"))
      .withColumn("quality_score", round(
        least(col("token_cnt").cast("double") / 100.0, lit(1.0)) * 0.4 +
          col("stopword_ratio") * 0.3 +
          (lit(1.0) - least(col("punct_ratio") * 10.0, lit(1.0))) * 0.3, 6))
      .select(col("doc_id"), col("token_cnt").cast("long").as("token_cnt"),
              col("avg_word_len"), col("stopword_ratio"),
              col("punct_ratio"), col("quality_score"))
  }

  /** The [[qualityScore]] composite as one self-contained column — must
    * mirror qualityScore's formula exactly (TextOpsSpec asserts the two
    * agree value-for-value), so gates can score WITHOUT dropping the
    * grouping columns qualityScore's projection discards.
    */
  private[graft] def qualityScoreExpr: Column = {
    val toks = tokens(col("text"))
    round(
      least(size(toks).cast("double") / 100.0, lit(1.0)) * 0.4 +
        (markerHits(toks, Stopwords).cast("double") /
          greatest(size(toks), lit(1)).cast("double")) * 0.3 +
        (lit(1.0) - least(
          size(regexp_extract_all(lower(col("text")),
            lit("[^a-z0-9\\s]"), lit(0))).cast("double") /
            greatest(length(col("text")), lit(1)).cast("double") * 10.0,
          lit(1.0))) * 0.3, 6)
  }

  /** Per-language exact-percentile quality gate — the CCNet-shaped "keep
    * the top `pct`% by quality WITHIN each language bucket" filter
    * (per-bucket thresholds stop one high-resource language's score
    * distribution from setting every other language's bar; a single
    * global cut would do exactly that). Reference scope: the reference
    * filters objects per-mapping with fixed predicates
    * (internal/sync/sync.go:101-164); this is the corpus-quality analog
    * with a data-derived per-group threshold.
    *
    * Threshold = the exact integer-rank cut over the fixed-point score
    * HISTOGRAM: scores are floor(quality_score·10⁶ + 0.5) longs
    * (quality_score is the round(·,6) double both engines already agree
    * on bit-for-bit, so the fixed point is portable), cells rank score
    * DESC, and the threshold cell is the one whose cumulative count first
    * reaches r = ⌈n·pct/100⌉. All ties AT the threshold keep, so
    * n_kept ≥ r — deterministic, documented, and exactly restatable in
    * SQL (no approximate-percentile sketch, same discipline as
    * [[lengthQuantiles]]).
    *
    * Scale shape: ONE corpus pass (per-row score → map-side-partial
    * (lang, score_fp) histogram, ≤ 10⁶+1 cells per language since scores
    * have 6 decimals in [0,1]); the window and the kept-count both run
    * over CELLS, not docs — n_kept is the threshold cell's own cumulative
    * count, so no second corpus scan exists to re-shuffle.
    */
  def qualityPercentileGate(docs: DataFrame, pct: Int): DataFrame = {
    require(pct >= 1 && pct <= 100, s"pct must be in [1,100], got $pct")
    val hist = docs
      .withColumn("q_fp", floor(qualityScoreExpr * 1e6 + lit(0.5)).cast("long"))
      .groupBy("lang", "q_fp").agg(count(lit(1)).as("cnt"))
    gateThresholdCells(hist, pct)
      .select(col("lang"), lit(pct.toLong).as("pct"),
              col("q_fp").as("threshold_fp"), col("n").as("n_docs"),
              col("cum").as("n_kept"))
  }

  /** The gate's exact-rank threshold cell per language, from a
    * (lang, q_fp, cnt) histogram — ONE definition shared by the report
    * ([[qualityPercentileGate]]) and the applied drop list
    * ([[qualityGateDropList]]), so the two cannot disagree on where the
    * bar sits.
    */
  private def gateThresholdCells(hist: DataFrame, pct: Int): DataFrame = {
    val desc = Window.partitionBy("lang").orderBy(col("q_fp").desc)
    val all = Window.partitionBy("lang")
    hist
      .withColumn("cum", sum(col("cnt")).over(desc))
      .withColumn("n", sum(col("cnt")).over(all))
      .withColumn("r", expr(s"cast(ceil(n * $pct / 100.0) as bigint)"))
      .filter(col("cum") - col("cnt") < col("r") && col("r") <= col("cum"))
  }

  /** The percentile gate APPLIED: the doc-level DROP LIST — every doc
    * strictly below its language's [[qualityPercentileGate]] threshold
    * (ties at the threshold keep, so they never appear here). This is the
    * actionable half of the gate: the report says where the bar sits, the
    * drop list is what a cleaning pipeline deletes.
    *
    * Scale shape: the data-derived threshold makes two passes inherent,
    * but the TEXT is scored exactly once — the narrow (doc_id, lang,
    * q_fp) projection is materialized (Barriers; ~24 B/row), the
    * histogram aggregates it to cells, and the drop filter re-reads the
    * same materialized frame through a broadcast |langs|-row threshold
    * join. Without the barrier both consumers would re-run the scoring
    * regexps over the full text (measured 2× the whole-query cost in the
    * r13 ×10 rehearsal). Thresholds come from [[gateThresholdCells]] —
    * the same cells the report emits, so gate and drop list cannot drift.
    */
  def qualityGateDropList(docs: DataFrame, pct: Int): DataFrame = {
    require(pct >= 1 && pct <= 100, s"pct must be in [1,100], got $pct")
    val scored = graft.operators.Barriers.materialize(
      docs.select(col("doc_id"), col("lang"),
        floor(qualityScoreExpr * 1e6 + lit(0.5)).cast("long").as("q_fp")))
    val hist = scored.groupBy("lang", "q_fp").agg(count(lit(1)).as("cnt"))
    val thresholds = gateThresholdCells(hist, pct)
      .select(col("lang"), col("q_fp").as("threshold_fp"))
    scored
      .join(broadcast(thresholds), Seq("lang"))
      .filter(col("q_fp") < col("threshold_fp"))
      .select(col("doc_id"), col("lang"), col("q_fp"))
  }

  /** Corpus stats per language (token counts via exact integer sums). */
  def textStats(docs: DataFrame): DataFrame =
    docs
      .withColumn("token_cnt", greatest(size(tokens(col("text"))), lit(0)))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("token_cnt").cast("long")).as("sum_tokens"),
        (sum(col("token_cnt").cast("long")).cast("double") /
          count(lit(1)).cast("double")).as("avg_tokens"))

  /** Tokenizer fertility per language — subword tokens emitted per
    * whitespace word, the standard tokenizer-health metric (a language
    * whose fertility balloons is being shredded into characters and pays
    * its training budget several times over; multilingual tokenizer
    * papers track exactly this ratio per language). BPE-ish subword
    * counts ride [[bpeTokenCount]]; the ratio is exact integer ppm
    * (never a cross-engine float), zero-word languages yield null rather
    * than a division error. One corpus pass, map-side partial sums,
    * |langs| rows out.
    */
  def tokenFertility(docs: DataFrame): DataFrame = {
    val ws = tokenCount(col("text"))
    docs
      .withColumn("n_bpe", bpeTokenCount(col("text")).cast("long"))
      .withColumn("n_words", ws)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_words")).as("sum_words"),
           sum(col("n_bpe")).as("sum_bpe"))
      .withColumn("fertility_ppm",
        expr("case when sum_words = 0 then cast(null as bigint) " +
             "else sum_bpe * 1000000 div sum_words end"))
  }

  /** Repetition signals per document — the Gopher-style quality gate that
    * drops degenerate/boilerplate text before training (Rae et al. 2021,
    * §A1.1 repetition filters): how much of a doc is the same 2-gram said
    * again. Emits exact integer signals so both engines agree bit-for-bit:
    * duplicate-2-gram fraction as parts-per-million via integer floor-div
    * (never a rounded double — the cross-engine HALF_UP trap), plus the
    * top 2-gram's count, and the keep/drop verdict at `dupPpmThreshold`.
    *
    * Scale shape: explode → two-level partial-agg'd groupBy ((doc, gram)
    * then doc) — the tfidf shape, no joins, no windows; a doc with fewer
    * than two tokens has no 2-grams and drops out (nothing to judge).
    */
  val DefaultDupPpmThreshold: Long = 200000L

  def repetitionSignals(docs: DataFrame,
                        dupPpmThreshold: Long = DefaultDupPpmThreshold): DataFrame =
    docs
      .select(col("doc_id"), explode(shingles(tokens(col("text")), 2)).as("g2"))
      .groupBy(col("doc_id"), col("g2")).agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_2grams"),
           count(lit(1)).as("n_distinct_2grams"),
           max(col("c")).as("top_2gram_count"))
      .withColumn("dup_ppm",
        expr("(n_2grams - n_distinct_2grams) * 1000000 div n_2grams"))
      .withColumn("keep", col("dup_ppm") < dupPpmThreshold)

  // ---- hashed-n-gram linear quality classifier --------------------------

  /** Hashed-bigram feature-space size of [[qualityClassifier]] — fastText's
    * hashing-trick bucket table, sized small here so the weight table is
    * auditable; production swaps 2M buckets without a shape change.
    */
  val QualityClassifierBuckets: Int = 64

  /** Per-language keep thresholds (milli-units of mean bigram weight).
    * fastText-style deployments calibrate one operating point per
    * language (CCNet trains one model per language for exactly this
    * reason); absent languages fall back to the default. Deployment swaps
    * calibrated values in — a literal-map edit, not a shape change.
    */
  val QualityClassifierThresholds: Seq[(String, Long)] =
    Seq("en" -> 0L, "und" -> -50L)
  val QualityClassifierDefaultThreshold: Long = -25L

  /** fastText-shaped linear quality classifier (Joulin et al. 2016; the
    * CCNet/GPT-3-style absolute quality gate): every bigram hashes into a
    * fixed bucket table, each bucket carries a fixed integer weight, and a
    * document's score is the mean bucket weight of its bigram MULTISET —
    * a linear model over hashed n-gram features. Complements DSIR
    * ([[graft.operators.CorpusOps.dsirWeights]]): DSIR scores RELATIVE
    * closeness to a target slice refit per release; this is the ABSOLUTE
    * learned gate whose weights ship with the pipeline. The weight table
    * here is a deterministic md5-derived placeholder spanning [-1000,
    * 1000] (the container has no trained model — same documented contract
    * as the multimodal codec stub); a real deployment overwrites the
    * bucket→weight literal, nothing else.
    *
    * Everything is exact integer fixed-point so both engines agree
    * bit-for-bit: bucket = first-6-hex-of-md5(bigram) mod `buckets` (the
    * DSIR idiom), weight(b) = (first-6-hex-of-md5("qw:"||b) mod 2001) −
    * 1000, score_milli = 1000·Σweights div n_bigrams (Spark `div` and
    * DuckDB `//` both truncate toward zero), keep = score_milli ≥ the
    * per-language threshold. Documents with no bigram carry nothing to
    * judge and drop out (the [[repetitionSignals]] rule).
    *
    * State honesty / scale shape: scoring is a STATELESS per-row
    * projection — `transform`/`aggregate` higher-order functions over the
    * native bigram array, whole-stage codegen, no explode, no groupBy, no
    * join. That is why the streaming twin
    * ([[graft.streaming.StreamingOps]] `qualityClassifierStream`) is free:
    * Append mode, zero state, shares this oracle. At 100 TB the gate
    * costs one linear pass over text already being read.
    */
  def qualityClassifier(docs: DataFrame,
                        buckets: Int = QualityClassifierBuckets): DataFrame =
    withQualityClassifier(docs, buckets)
      .select("doc_id", "lang", "n_grams", "w_sum", "score_milli", "keep")

  /** [[qualityClassifier]]'s scoring columns APPENDED to the input frame
    * (text and the rest kept) — the composition form
    * ([[graft.streaming.StreamingOps]] `prepareGateStream` needs the text
    * column alive for the decontamination screen downstream of the
    * verdict). The declared operator is exactly this plus the projection,
    * so the two cannot drift.
    */
  private[graft] def withQualityClassifier(
      docs: DataFrame,
      buckets: Int = QualityClassifierBuckets): DataFrame = {
    val thr = map(QualityClassifierThresholds
      .flatMap { case (l, t) => Seq(lit(l), lit(t)) }: _*)
    docs
      .withColumn("g2s", shingles(tokens(col("text")), 2))
      .filter(size(col("g2s")) > 0)
      .withColumn("w_sum", aggregate(
        transform(col("g2s"), g =>
          conv(substring(md5(concat(lit("qw:"),
              (conv(substring(md5(g), 1, 6), 16, 10).cast("long")
                % buckets).cast("string"))), 1, 6), 16, 10).cast("long")
            % 2001 - 1000),
        lit(0L), (acc, x) => acc + x))
      .withColumn("n_grams", size(col("g2s")).cast("long"))
      .withColumn("score_milli", expr("w_sum * 1000 div n_grams"))
      .withColumn("keep", col("score_milli") >=
        coalesce(element_at(thr, col("lang")),
                 lit(QualityClassifierDefaultThreshold)))
      .drop("g2s")
  }

  /** Content fingerprint: md5 of the full normalized text plus the minimum
    * shingle hash (a 1-sample winnowing sketch — stable under small edits).
    */
  def fingerprint(docs: DataFrame): DataFrame = {
    val minSh = docs
      .select(col("doc_id"), explode(shingles(tokens(col("text")), 3)).as("sh"))
      .groupBy("doc_id").agg(min(md5(col("sh"))).as("min_shingle_hash"))
    docs.select(
      col("doc_id"),
      md5(concat_ws(" ", tokens(col("text")))).as("content_hash"))
      .join(minSh, Seq("doc_id"), "left_outer")
  }

  /** Corpus vocabulary: the top-N tokens by frequency — the first pass of
    * any tokenizer build. One explode + hash aggregation, map-side
    * partial counts.
    */
  def vocabulary(docs: DataFrame, topN: Int): DataFrame =
    docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(topN)

  /** Vocabulary coverage / OOV rate — the tokenizer-engineering metric
    * behind [[vocabulary]]: what fraction of corpus token OCCURRENCES a
    * top-N vocab covers, in exact integer ppm. One corpus token explode,
    * a broadcast join against the (tiny, deterministic — freq desc, token
    * asc ties) vocab, one global partial-agg'd fold; corpus never sorts.
    */
  def vocabCoverage(docs: DataFrame, topN: Int): DataFrame = {
    val toks = docs.select(explode(tokens(col("text"))).as("token"))
    val vocab = vocabulary(docs, topN)
      .select(col("token")).withColumn("inv", lit(1L))
    toks.join(broadcast(vocab), Seq("token"), "left_outer")
      .agg(count(lit(1)).as("n_tokens"),
           sum(coalesce(col("inv"), lit(0L))).as("n_covered"))
      .withColumn("covered_ppm", expr("n_covered * 1000000 div n_tokens"))
      .withColumn("oov_ppm",
        expr("(n_tokens - n_covered) * 1000000 div n_tokens"))
  }

  /** Zipf-law fit of the token frequency distribution: OLS slope and
    * intercept of ln(freq) over ln(rank) across the deterministic top-N
    * vocabulary — the classic corpus health check (natural text fits a
    * slope near −1; scraped boilerplate, template spam, or a broken
    * tokenizer bend the curve and a single scalar flags it per corpus
    * snapshot or per source).
    *
    * Parity: ln values are fixed-pointed per RANK (floor(ln·1e6 + 0.5) on
    * a single double each — no accumulated float), so the OLS sums are
    * exact 64-bit integers in any accumulation order; the one closing
    * division runs on identical longs in both engines. `topN ≤ 128` keeps
    * `n·Σxy` under 2⁶³ even at ln(freq) of a 100 TB corpus (~e28: x ≤
    * 4.9e6, y ≤ 2.8e7 ⇒ n·Σxy ≤ 128²·4.9e6·2.8e7 ≈ 2.2e18).
    *
    * Scale shape: the corpus pass is [[vocabulary]]'s partial-agg'd count
    * + TakeOrdered top-N; ranking and regression run over ≤128 rows.
    */
  def zipfSlope(docs: DataFrame, topN: Int = 128): DataFrame =
    zipfFitFromVocab(vocabulary(docs, topN), topN)

  /** The fixed-point OLS half of [[zipfSlope]], over an already-built
    * (token, freq) vocabulary frame — shared with the streaming pairing,
    * whose vocabulary state drains from complete-mode counts instead of a
    * batch top-N.
    */
  def zipfFitFromVocab(vocab: DataFrame, topN: Int): DataFrame = {
    require(topN >= 2 && topN <= 128, s"topN must be in [2,128], got $topN")
    // partitionBy(freq % 1) = one constant key (the vocabGrowth idiom): the
    // ranked frame is ≤ topN ≤ 128 rows after the limit, so one partition
    // is the point — the non-foldable constant key only silences
    // WindowExec's no-partition warning, which would otherwise read as a
    // false scale signal in every bench log
    val ranked = vocab
      .orderBy(col("freq").desc, col("token")).limit(topN)
      .withColumn("rank",
        org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(pmod(col("freq"), lit(1)))
            .orderBy(col("freq").desc, col("token"))).cast("long"))
    // a degenerate vocabulary (a single distinct token ⇒ one rank) has no
    // fittable line: n·Σxx − (Σx)² = 0 and the OLS quotient is 0/0 → NaN.
    // Guard on the ACTUAL rank count, not just the topN parameter: n < 2
    // yields explicit nulls (and the oracle applies the same CASE), never a
    // NaN smuggled through the hash compare
    ranked
      .select(
        expr("cast(floor(ln(rank) * 1e6 + 0.5) as bigint)").as("x"),
        expr("cast(floor(ln(freq) * 1e6 + 0.5) as bigint)").as("y"))
      .agg(count(lit(1)).as("n"),
           sum(col("x")).as("sx"), sum(col("y")).as("sy"),
           sum(col("x") * col("y")).as("sxy"),
           sum(col("x") * col("x")).as("sxx"))
      .select(
        col("n").as("n_ranks"),
        expr("""case when n < 2 then cast(null as bigint)
                else cast(floor((cast(n*sxy - sx*sy as double)
                / cast(n*sxx - sx*sx as double)) * 1e6 + 0.5) as bigint) end""")
          .as("slope_fp"),
        expr("""case when n < 2 then cast(null as bigint)
                else cast(floor(((cast(sy as double)
                - (cast(n*sxy - sx*sy as double)
                   / cast(n*sxx - sx*sx as double)) * cast(sx as double))
                / n) * 1e6 + 0.5) as bigint) end""")
          .as("intercept_fp"))
  }

  /** Fixed-size token chunking with stride (the training-data shard shape:
    * overlapping windows of `chunkTokens`, step `stride`). Emits chunk
    * index, token count and a content hash per chunk — the full text stays
    * out of the result (at 100 TB the chunks are written, not collected).
    */
  def chunkDocuments(docs: DataFrame, chunkTokens: Int, stride: Int): DataFrame = {
    val toks = tokens(col("text"))
    val nChunks = greatest(
      ceil((size(toks).cast("double") - chunkTokens) / stride).cast("int") + 1,
      lit(1))
    docs
      .select(col("doc_id"), toks.as("toks"), nChunks.as("n_chunks"))
      .select(col("doc_id"),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk_idx"),
        col("toks"))
      .select(
        col("doc_id"), col("chunk_idx"),
        slice(col("toks"), col("chunk_idx") * stride + 1, lit(chunkTokens))
          .as("chunk"))
      .select(
        col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        size(col("chunk")).cast("long").as("chunk_tokens"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_hash"))
  }

  // ---- deduplication ---------------------------------------------------

  /** Exact dedup by content hash: keep the lowest doc_id per hash.
    * Scale path: hash-partitioned groupBy (one shuffle on a 32-byte key),
    * no sort of the full corpus.
    */
  def dedupExact(docs: DataFrame): DataFrame =
    docs
      .withColumn("content_hash", md5(col("text")))
      .groupBy("content_hash")
      .agg(min(col("doc_id")).as("keeper_doc_id"), count(lit(1)).as("n_copies"))

  /** MinHash signature columns sig0..sig{k-1} over 3-gram shingles.
    *
    * Shape: explode shingles once, then k codegen'd `min(...)` aggregates
    * in a single groupBy pass. The higher-order-function formulation
    * (`array_min(transform(...))` × k) stays interpreted and re-derives
    * the shingle array per signature — ~20× slower measured.
    *
    * Hash family: each md5 yields 128 bits = four independent 32-bit
    * (8-hex-char) slices, so k signatures need only ceil(k/4) md5 calls
    * per shingle instead of k — at 100 TB the md5s ARE the map-side cost
    * of near-dup candidate generation (a 4× cut, measured ~2 µs/call).
    * Lexicographic min over fixed-width hex equals numeric min over the
    * 32-bit value; 32-bit slices keep cross-doc min collisions negligible
    * in the regimes this engine targets: min of n uniform 32-bit values
    * collides across unrelated docs with prob ≈ n/2^32 per signature, so
    * slices are safe while individual documents stay under ~10^6 shingles
    * (web/training docs are 10^2-10^4). For corpora of multi-million-
    * shingle documents, widen `MinhashSliceHexChars` to 16 (64-bit slices) —
    * `MinhashSlicesPerMd5` is derived from it, so the substring windows stay
    * inside the 32-hex digest automatically.
    * Docs with fewer than 3 tokens have no shingles and drop out, which
    * matches the SQL oracle (NULL band concat → no candidate pairs).
    */
  val MinhashSliceHexChars = 8 // hex chars per slice (8 ⇒ 32-bit slices)
  val MinhashSlicesPerMd5  = 32 / MinhashSliceHexChars // md5 = 32 hex chars
  def withMinhashSignature(docs: DataFrame, k: Int = 8): DataFrame = {
    val nMd5 = (k + MinhashSlicesPerMd5 - 1) / MinhashSlicesPerMd5
    val hashed = docs
      .select(col("doc_id"), explode(shingles(tokens(col("text")), 3)).as("sh"))
      .select(col("doc_id") +: (0 until nMd5).map(h =>
        md5(if (h == 0) col("sh") else concat(lit(s"$h:"), col("sh")))
          .as(s"h$h")): _*)
    def slice(i: Int): Column =
      substring(col(s"h${i / MinhashSlicesPerMd5}"),
        (i % MinhashSlicesPerMd5) * MinhashSliceHexChars + 1,
        MinhashSliceHexChars)
    hashed.groupBy("doc_id").agg(
      min(slice(0)).as("sig0"),
      (1 until k).map(i => min(slice(i)).as(s"sig$i")): _*)
  }

  /** Per-row (projection-only) restatement of the banded minhash keys:
    * adds a `bands` array column of band hashes per document,
    * bit-identical to what [[withMinhashSignature]]+[[minhashCandidates]]
    * derive via explode+groupBy — same md5 family, same slices, same
    * band concat. Needed where signatures must come from a STATELESS
    * projection (the streaming near-dup path: an aggregation before
    * `flatMapGroupsWithState` would be a second stateful operator).
    *
    * The per-document pass is the native
    * [[graft.functions.MinhashBandKeys]] expression (r20 optimization):
    * the previous k × `array_min(transform(_h, substring))` HOF
    * formulation stayed INTERPRETED and materialized one md5 array per
    * hash family per row — r20 JobProfile showed that projection
    * dominating the near-minhash streams' per-trigger compute. The
    * expression is one plain JVM walk per document (n·ceil(k/4) digests +
    * running slice minima + band digests) and participates in whole-stage
    * codegen; TextOpsSpec pins bit-parity against the batch
    * explode+partial-agg path.
    *
    * `bands` is NULL for shingle-less docs (under 3 tokens) — callers
    * must filter, mirroring how such docs drop out of the batch explode.
    */
  def withMinhashBandKeys(docs: DataFrame, k: Int = 8,
                          bands: Int = 4): DataFrame =
    docs.withColumn("bands",
      graft.functions.MinhashBandKeys.minhash_band_keys(
        shingles(tokens(col("text")), 3), k, bands))

  /** Exploded (doc_id, band) LSH keys via the BATCH signature path
    * (explode + partial-agg [[withMinhashSignature]], then the band
    * concat) — bit-identical band values to [[withMinhashBandKeys]]'s
    * per-row projection, but codegen'd end to end. Shared by
    * [[minhashCandidates]] and [[incrementalDedupSurvivors]] so the batch
    * operators all take the corpus-scan-appropriate form.
    */
  private[operators] def bandedKeys(docs: DataFrame, k: Int,
                                    bands: Int): DataFrame = {
    val r = k / bands
    val sigs = withMinhashSignature(docs, k)
    val bandCols = (0 until bands).map { j =>
      md5(concat_ws("|",
        lit(j.toString) +: (0 until r).map(i => col(s"sig${j * r + i}")): _*))
    }
    sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("band"))
  }

  /** LSH banding: b bands of r=k/b signature rows each; docs sharing any
    * band hash are near-duplicate candidates. Candidate generation is a
    * self-equi-join on the band hash — shuffle on band, never O(n²).
    */
  def minhashCandidates(docs: DataFrame, k: Int = 8, bands: Int = 4): DataFrame = {
    val banded = bandedKeys(docs, k, bands)
      // both sides of the candidate self-join read this frame — without a
      // barrier the whole shingle→signature pipeline runs twice
      .transform(Barriers.materialize(_))
    val a = banded.select(col("band"), col("doc_id").as("doc_a"))
    val b = banded.select(col("band"), col("doc_id").as("doc_b"))
    a.join(b, Seq("band"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  val DefaultContaminationPpm: Long = 100000L

  /** Per-document contamination FRACTION — the drop-policy signal behind
    * [[contamination]]'s pair listing: what share of a training doc's
    * distinct shingles appear anywhere in the held-out benchmark. The pair
    * query answers "which (doc, bench) pairs overlap ≥ k"; release policy
    * usually wants "is ≥ X% of THIS doc benchmark text" — one number per
    * doc, threshold in exact integer ppm.
    *
    * Scale shape: the benchmark's distinct shingle SET broadcasts (no
    * bench_doc_id fan-out at all — strictly smaller state than the pair
    * query); the corpus streams through one broadcast left join + one
    * partial-agg'd groupBy. Docs too short to shingle have nothing to
    * judge and drop out, same as the pair operator.
    */
  def contaminationFraction(corpus: DataFrame, benchmark: DataFrame,
                            dirtyPpmThreshold: Long = DefaultContaminationPpm
                           ): DataFrame = {
    val corpusSh = corpus.select(col("doc_id"),
      explode(array_distinct(shingles(tokens(col("text")), 3))).as("sh"))
    val benchSh = benchmark
      .select(explode(shingles(tokens(col("text")), 3)).as("sh"))
      .distinct()
      .withColumn("hit", lit(1L))
    corpusSh.join(broadcast(benchSh), Seq("sh"), "left_outer")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
           sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
      .withColumn("contaminated_ppm",
        expr("n_contaminated * 1000000 div n_shingles"))
      .withColumn("is_dirty", col("contaminated_ppm") >= dirtyPpmThreshold)
  }

  /** Candidate pairs scored by estimated Jaccard — the rank-before-cluster
    * step of a near-dup pipeline: banding recalls candidates, but
    * clustering/removal policy wants them ORDERED by similarity, and the
    * signature agreement fraction (matching minhashes / k) is the unbiased
    * Jaccard estimate the signatures already paid for. Emitted as exact
    * integers (match count, ppm via integer floor-div) so both engines
    * agree bit-for-bit; any banded pair matches a whole band, so
    * `n_matching_sigs >= k/bands` by construction.
    *
    * Scale shape: the signature frame is materialized ONCE (barrier) and
    * feeds the band self-join and both sides of the score lookup; the
    * re-joins key on doc ids over the candidate set — pairs-sized, not
    * corpus-sized.
    */
  def minhashScoredPairs(docs: DataFrame, k: Int = 8,
                         bands: Int = 4): DataFrame = {
    val r = k / bands
    val sigs = Barriers.materialize(withMinhashSignature(docs, k))
    val bandCols = (0 until bands).map { j =>
      md5(concat_ws("|",
        lit(j.toString) +: (0 until r).map(i => col(s"sig${j * r + i}")): _*))
    }
    val banded = sigs
      .select(col("doc_id"), explode(array(bandCols: _*)).as("band"))
    val pairs = banded.select(col("band"), col("doc_id").as("doc_a"))
      .join(banded.select(col("band"), col("doc_id").as("doc_b")), Seq("band"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    val a = sigs.select(col("doc_id").as("doc_a") +:
      (0 until k).map(i => col(s"sig$i").as(s"a$i")): _*)
    val b = sigs.select(col("doc_id").as("doc_b") +:
      (0 until k).map(i => col(s"sig$i").as(s"b$i")): _*)
    val matches = (0 until k)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    pairs.join(a, Seq("doc_a")).join(b, Seq("doc_b"))
      .withColumn("n_matching_sigs", matches)
      .withColumn("est_jaccard_ppm",
        expr(s"n_matching_sigs * 1000000 div $k"))
      .select("doc_a", "doc_b", "n_matching_sigs", "est_jaccard_ppm")
  }

  /** Incremental ingest dedup — the production shape none of the
    * whole-corpus ops cover: a NEW batch arrives and must dedup against
    * the accumulated HISTORY without re-scanning it pairwise. A batch doc
    * survives iff (a) its content hash is unseen in history and it is the
    * first occurrence within the batch, (b) none of its minhash bands
    * collide with any history band, and (c) none collide with a
    * smaller-id batch doc (conservative keep-first — a dropped doc still
    * shadows its near-dups, so the policy needs no iteration and stays
    * SQL-expressible for the oracle).
    *
    * Scale shape: every step is a hash- or band-keyed anti-join — one
    * shuffle each on (hash) and (band); history contributes only its
    * DISTINCT hash/band sets, which is exactly the fingerprint index a
    * real ingest pipeline maintains between runs. Never O(n²), never a
    * history re-pairing.
    */
  def incrementalDedupSurvivors(history: DataFrame, batch: DataFrame,
                                k: Int = 8, bands: Int = 4): DataFrame = {
    val histHashes = history.select(md5(col("text")).as("content_hash"))
      .distinct()
    val firstInBatch = batch
      .withColumn("content_hash", md5(col("text")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("content_hash").orderBy("doc_id")))
      .filter(col("rk") === 1)
      .join(histHashes, Seq("content_hash"), "left_anti")
      .select("doc_id", "content_hash")
    // batch operator ⇒ batch band form (r19 optimization): the per-row
    // projection [[withMinhashBandKeys]] evaluates its transform/array_min
    // chain INTERPRETED — right for one-document streaming ingest, wrong
    // for a corpus scan (its own scaladoc) — while [[bandedKeys]] is the
    // codegen'd explode + partial-agg path with bit-identical band values.
    // batchBands feeds three consumers (shadow self-join sides + the
    // history screen), so it is barriered once.
    val histBands = bandedKeys(history, k, bands)
      .select("band").distinct()
    val batchBands = Barriers.materialize(bandedKeys(batch, k, bands))
    val shadowed = batchBands.as("a")
      .join(batchBands.as("b"),
        col("a.band") === col("b.band") && col("b.doc_id") < col("a.doc_id"))
      .select(col("a.doc_id").as("doc_id")).distinct()
    firstInBatch
      .join(batchBands.join(histBands, Seq("band"))
        .select("doc_id").distinct(), Seq("doc_id"), "left_anti")
      .join(shadowed, Seq("doc_id"), "left_anti")
      .select("doc_id", "content_hash")
  }

  /** SimHash (16-bit, md5-derived bits, ±1 votes per token). Returns
    * (doc_id, simhash). Near-dup clusters = equal simhash values.
    *
    * Shape: explode tokens, one md5 per token, then 16 codegen'd vote sums
    * in one aggregation pass (the per-bit higher-order `aggregate` would
    * hash every token 16× in interpreted eval). Tokenless docs get
    * simhash 0 via the left join, matching the oracle's NULL-vote CASE.
    */
  def withSimhash(docs: DataFrame): DataFrame = {
    val hexpos = "0123456789abcdef"
    // one md5 + 4 digit extractions per token; the 16 bit-votes then only
    // shift/mask (extracting the digit inside each of 16 aggregates would
    // redo substring+strpos 4x too often)
    val tok = docs.select(
      col("doc_id"), explode(tokens(col("text"))).as("t"))
      .select(col("doc_id"), md5(col("t")).as("h"))
      .select(col("doc_id") +: (0 until 4).map(d =>
        (instr(lit(hexpos), substring(col("h"), d + 1, 1)) - 1).as(s"d$d")): _*)
    def bit(b: Int): Column =
      shiftright(col(s"d${b / 4}"), b % 4).bitwiseAND(lit(1))
    val votes = tok.groupBy("doc_id").agg(
      sum(bit(0) * 2 - 1).as("v0"),
      (1 until 16).map(b => sum(bit(b) * 2 - 1).as(s"v$b")): _*)
    val simhash = (0 until 16)
      .map(b => when(col(s"v$b") > 0, lit(1 << b)).otherwise(lit(0)))
      .reduce(_ + _)
    docs.select(col("doc_id"))
      .join(votes, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(simhash, lit(0)).cast("int").as("simhash"))
  }

  def simhashClusters(docs: DataFrame): DataFrame =
    withSimhash(docs)
      .groupBy("simhash")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc_id"))
      .filter(col("n_docs") > 1)

  /** n-gram Jaccard near-dup: distinct 3-gram shingles per doc, candidate
    * pairs via shared-shingle equi-join, |∩|/|∪| ≥ threshold.
    *
    * Hot-shingle cap: a boilerplate shingle ("of the and") present in 1% of
    * a 10 B-doc corpus makes ONE join key with 10⁸ rows → 10¹⁶ candidate
    * pairs. Shingles whose document frequency exceeds `maxDf` are dropped
    * from BOTH the candidate join and the per-doc set sizes (Jaccard is
    * computed over the capped sets — such shingles carry no near-dup signal
    * anyway), which bounds per-key join cardinality at maxDf². The oracle
    * applies the identical cap.
    */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double,
                        maxDf: Int = 128): DataFrame = {
    // The shingle set feeds FIVE consumers (df counts, both sides of the
    // self-join, both size lookups); without a materialization barrier
    // Catalyst re-runs tokenize→shingle→md5→distinct for each (16 scans
    // observed). A lazy barrier computes it once and shares the blocks
    // (strategy is config — Barriers.StrategyKey).
    val shAll = Barriers.materialize(docs
      .select(col("doc_id"), explode(shingles(tokens(col("text")), 3)).as("sh"))
      .distinct())
    val rare = shAll.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("sh")
    val sh = Barriers.materialize(shAll.join(rare, Seq("sh")))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = sh.as("a")
      .join(sh.as("b"), col("a.sh") === col("b.sh") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
                 .withColumnRenamed("n_sh", "n_a"), Seq("doc_a"))
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
                 .withColumnRenamed("n_sh", "n_b"), Seq("doc_b"))
      .withColumn("jaccard", round(
        col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, "Winnowing:
    * Local Algorithms for Document Fingerprinting", SIGMOD 2003 — the
    * MOSS algorithm): in every window of `w` consecutive k-gram hashes,
    * keep the minimum — the selected hashes are the document's
    * fingerprint set. The guarantee MinHash doesn't give: any shared
    * substring of ≥ `w + k − 1` tokens between two documents is
    * CERTAIN to share at least one fingerprint (MinHash detects
    * whole-document set resemblance probabilistically; winnowing detects
    * local overlap deterministically, at ~2/(w+1) of the full k-gram
    * index's density). Pairs sharing ≥ `minShared` fingerprints are the
    * partial-overlap candidates a plagiarism/citation-contamination
    * pass re-verifies.
    *
    * Determinism: hashes are md5 hex strings and the window "min" is
    * their lexicographic minimum — both engines compare the same
    * strings, no numeric conversion anywhere.
    *
    * Scale shape: fingerprint selection is a per-row native projection
    * ([[winnowedFingerprintSet]] — no explode, no window, nothing
    * shuffles before the fingerprint index exists); the df-cap + the
    * self-equi-join on fingerprint mirror [[ngramJaccardPairs]]'s
    * blocked geometry, with the same `maxDf` hub-key bound. The
    * fingerprint index is ~2/(w+1) the size of the full shingle index —
    * winnowing exists precisely to make this join affordable.
    */
  def winnowedPairs(docs: DataFrame, k: Int = 3, w: Int = 4,
                    minShared: Int = 2, maxDf: Int = 128): DataFrame = {
    // fingerprint selection is ONE stateless native pass per document
    // (functions/WinnowedFingerprints.scala — md5 + O(n) deque window-min
    // + distinct), shared verbatim with the streaming twin
    // (StreamingOps.winnowedPairsStream) so the two cannot drift. The
    // original explode → per-doc-window → distinct formulation computed
    // the same set through a corpus-wide shuffle of every position; the
    // expression form shuffles nothing before the fingerprint index.
    val fp = Barriers.materialize(
      docs.select(col("doc_id"),
        explode(winnowedFingerprintSet(col("text"), k, w)).as("fp")))
    val rare = fp.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("fp")
    val kept = Barriers.materialize(fp.join(rare, Seq("fp")))
    kept.as("a")
      .join(kept.as("b"), col("a.fp") === col("b.fp") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_fp"))
      .filter(col("n_shared_fp") >= minShared)
  }

  /** Benchmark decontamination: corpus documents sharing at least
    * `minShared` distinct 3-gram shingles with any document in `benchmark`
    * — the standard eval-leakage check a training pipeline runs before a
    * data release. The benchmark side is small by definition, so its
    * shingle set broadcasts; the corpus pays ONE shuffle of its distinct
    * (doc, shingle) pairs (dedup + document-frequency counting — same cost
    * profile as [[ngramJaccardPairs]]), never a self-join. Shingles in
    * more than `maxDf` corpus documents are boilerplate, carry no leakage
    * signal, and would fan the join out by corpus-df × benchmark-df — the
    * cap drops them on both sides, bounding per-key join cardinality.
    */
  def contamination(corpus: DataFrame, benchmark: DataFrame,
                    minShared: Int, maxDf: Int = 128): DataFrame = {
    def shingleSet(d: DataFrame, idAs: String) = d
      .select(col("doc_id").as(idAs),
              explode(shingles(tokens(col("text")), 3)).as("sh"))
      .distinct()
    val corpusSh = Barriers.materialize(shingleSet(corpus, "doc_id"))
    val rare = corpusSh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("sh")
    corpusSh.join(rare, Seq("sh"))
      .join(broadcast(shingleSet(benchmark, "bench_doc_id")), Seq("sh"))
      .groupBy("doc_id", "bench_doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Winnowed decontamination — [[contamination]] with the MOSS
    * fingerprint index swapped in for raw 3-gram shingles, completing the
    * decontamination ladder's symmetry with the dedup families: corpus
    * documents sharing at least `minShared` winnowed fingerprints with any
    * benchmark document. What the winnowing selection buys over shingle
    * counting is its DETERMINISTIC local-overlap guarantee (Schleimer et
    * al. 2003): any run of ≥ w+k−1 tokens shared verbatim with an eval
    * document certainly shares a fingerprint — a leaked benchmark passage
    * cannot dodge the screen by being diluted inside a long training doc,
    * the failure mode a global shared-shingle-count threshold has. The
    * guarantee is per-fingerprint: a MINIMAL leaked run (exactly w+k−1
    * tokens) is certain to share only ONE fingerprint, so the
    * cannot-dodge property holds as stated only at `minShared = 1`
    * (TextOpsSpec pins it there); the default `minShared = 2` is the
    * operating point that trades that worst-case off against
    * single-fingerprint coincidence noise — longer leaked runs select
    * more fingerprint windows and pass the bar in practice, but only
    * minShared = 1 is a certainty (distinct windows may select the same
    * fingerprint VALUE, so no run length converts ≥2 windows into ≥2 set
    * entries deterministically). Screens wanting the strict
    * minimal-passage guarantee pass minShared = 1. And the
    * index is ~2/(w+1) the density of the full shingle index, so the
    * screen is CHEAPER than [[contamination]] per corpus token.
    *
    * Scale shape, identical to [[contamination]]: fingerprint selection is
    * the one stateless native pass per row
    * ([[graft.functions.WinnowedFingerprints]] — shared verbatim with the
    * dedup/stream twins so selections cannot drift); the benchmark side is
    * small by definition and broadcasts; the corpus pays one shuffle of
    * its fingerprint index (df-cap grouping), then a broadcast-hash probe
    * — never a self-join. Fingerprints in more than `maxDf` corpus docs
    * are boilerplate (license headers, navigation chrome), carry no
    * leakage signal, and would fan the probe out by corpus-df — the cap
    * bounds per-key cardinality exactly as in the dedup families.
    */
  def contaminationWinnowed(corpus: DataFrame, benchmark: DataFrame,
                            minShared: Int = 2, k: Int = 3, w: Int = 4,
                            maxDf: Int = 128): DataFrame = {
    def fpSet(d: DataFrame, idAs: String) = d
      .select(col("doc_id").as(idAs),
              explode(winnowedFingerprintSet(col("text"), k, w)).as("fp"))
    val corpusFp = Barriers.materialize(fpSet(corpus, "doc_id"))
    val rare = corpusFp.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("fp")
    corpusFp.join(rare, Seq("fp"))
      .join(broadcast(fpSet(benchmark, "bench_doc_id")), Seq("fp"))
      .groupBy("doc_id", "bench_doc_id")
      .agg(count(lit(1)).as("n_shared_fp"))
      .filter(col("n_shared_fp") >= minShared)
  }

  /** Inter-document duplicated-span fraction: for each document, the share
    * (integer ppm) of its distinct 3-gram shingles that also occur in at
    * least one OTHER document — the per-doc signal behind exact-substring
    * dedup policies (drop or trim documents whose text is mostly seen
    * elsewhere). Complements [[repetitionSignals]] (INTRA-doc repetition)
    * and the pairwise near-dup ops: this is corpus-wide and per-document,
    * with no pair enumeration at all.
    *
    * Scale shape: two keyed shuffles — distinct (doc, shingle) pairs
    * grouped by shingle for document frequencies (partial-agg'd counts, so
    * a boilerplate shingle costs one long per partition, never a row
    * fan-out), then the df verdict joined back and grouped by doc. A
    * shingle's df is capped at 2 before the join ("selfish or shared" is
    * the only bit needed), keeping the join payload one boolean regardless
    * of how hot the shingle is. Documents shorter than 3 tokens have no
    * spans and drop out (no 0/0 ppm row), mirroring the oracle.
    */
  def dupSpanFraction(docs: DataFrame): DataFrame = {
    val sh = Barriers.materialize(docs
      .select(col("doc_id"),
              explode(array_distinct(shingles(tokens(col("text")), 3)))
                .as("sh")))
    val shared = sh.groupBy("sh")
      .agg((count(lit(1)) >= 2).as("is_shared"))
    sh.join(shared, Seq("sh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
           sum(when(col("is_shared"), 1L).otherwise(0L)).as("n_dup_spans"))
      .withColumn("dup_ppm", expr("n_dup_spans * 1000000 div n_spans"))
  }

  /** Rarity-weighted document scoring: each distinct token contributes an
    * integer weight `1e6 div df` (df = number of documents containing it),
    * and a document's score is the integer mean of its distinct tokens'
    * weights — high for documents made of corpus-rare vocabulary, low for
    * boilerplate. The integer-division analog of an IDF-mean quality /
    * novelty gate (ranking cousin of [[tfidfTopTerms]], but per-document
    * and engine-exact: no log, no doubles, so the DuckDB oracle matches
    * bit-for-bit).
    *
    * Scale shape: identical to [[dupSpanFraction]] at token granularity —
    * distinct (doc, token) pairs, one partial-agg'd df count keyed by
    * token, weights joined back, one groupBy doc. The df table is bounded
    * by vocabulary size, not corpus size.
    */
  def rarityScore(docs: DataFrame): DataFrame = {
    val tok = Barriers.materialize(docs
      .select(col("doc_id"),
              explode(array_distinct(tokens(col("text")))).as("token")))
    val weights = tok.groupBy("token")
      .agg(expr("1000000 div count(*)").as("w"))
    tok.join(weights, Seq("token"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_distinct_tokens"),
           expr("sum(w) div count(*)").as("rarity_score"))
  }

  /** Source-relative length floor: drop each source's shortest `pct`% of
    * documents (by token count) — the universal minimum-quality filter,
    * but RELATIVE per source so a terse-by-nature source isn't wiped out
    * by a corpus-global threshold. Cutoff is the exact integer rank
    * K = n·pct div 100 (the same no-float-threshold discipline as
    * EventOps.topPercentByValue; ties by doc_id). Returns the per-source
    * audit (docs seen / dropped / the kept minimum length); the kept set
    * is the `rk > k` frame upstream.
    *
    * Scale shape: one broadcast per-source count + one window partitioned
    * by source — parallelism = source count; the same per-source
    * hash-histogram two-pass as sampleTokenBudget applies when sources
    * are few and huge.
    */
  def lengthFloor(docs: DataFrame, pct: Int): DataFrame = {
    require(pct >= 0 && pct < 100, s"pct must be in [0,100), got $pct")
    val w = Window.partitionBy("source")
      .orderBy(col("n_tokens"), col("doc_id"))
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n"))
      .withColumn("k", expr(s"n * $pct div 100"))
    docs
      .withColumn("n_tokens", tokenCount(col("text")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .join(broadcast(counts), Seq("source"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("rk") <= col("k"), 1L).otherwise(0L))
             .as("n_dropped"),
           min(when(col("rk") > col("k"), col("n_tokens")))
             .as("min_kept_tokens"))
  }

  // ---- sub-document (paragraph-level) dedup ----------------------------

  /** Explode documents into paragraphs: split on runs of blank lines
    * (`\n{2,}` by default), trim, drop empties. Real pipelines dedup at
    * paragraph granularity BEFORE document granularity — boilerplate
    * headers/footers/navigation survive doc-level MinHash because the rest
    * of the page differs, but repeat verbatim across a site at paragraph
    * level. Emits (doc_id, para_idx, para_text) with para_idx counting the
    * KEPT (non-empty) paragraphs in document order.
    */
  def explodeParagraphs(docs: DataFrame,
                        sepRegex: String = "\\n{2,}"): DataFrame =
    docs
      .select(col("doc_id"),
        posexplode(filter(transform(split(col("text"), sepRegex), trim(_)),
          p => length(p) > 0)))
      .select(col("doc_id"), col("pos").cast("long").as("para_idx"),
              col("col").as("para_text"))

  /** Paragraph frame for corpora WITHOUT separator structure (the driver's
    * synthetic docs are single-line): non-overlapping fixed-token windows
    * stand in for paragraphs. Same output shape as [[explodeParagraphs]],
    * plus a composite `para_id` = doc_id·2^20 + para_idx so the pair
    * machinery can treat a paragraph as one key (valid while documents
    * stay under 2^20 paragraphs ≈ 33M tokens at the default width, and
    * doc_id < 2^43 — both far above real corpora; the id arithmetic is
    * mirrored in the oracle).
    */
  val ParaIdShift: Long = 1L << 20
  /** Default paragraph window width — shared with the oracle SQL so a
    * retune cannot silently break parity. */
  val ParaChunkTokens: Int = 32
  def chunkParagraphs(docs: DataFrame,
                      chunkTokens: Int = ParaChunkTokens): DataFrame = {
    val toks = tokens(col("text"))
    docs
      .select(col("doc_id"), toks.as("toks"),
        greatest(ceil(size(toks).cast("double") / chunkTokens).cast("int"),
          lit(1)).as("n_paras"))
      .select(col("doc_id"),
        explode(sequence(lit(0), col("n_paras") - 1)).as("i"), col("toks"))
      .select(
        (col("doc_id") * ParaIdShift + col("i")).as("para_id"),
        col("doc_id"), col("i").cast("long").as("para_idx"),
        concat_ws(" ", slice(col("toks"), col("i") * chunkTokens + 1,
          lit(chunkTokens))).as("para_text"))
  }

  /** Paragraph-level near-duplicate pairs: the banded-MinHash candidate
    * join ([[minhashCandidates]], unchanged machinery) run over paragraphs
    * instead of documents, with the composite para_id decomposed back to
    * (doc, para) coordinates on the way out. Catches cross-document
    * boilerplate that document-level MinHash dilutes away. Input is any
    * frame shaped like [[chunkParagraphs]]/[[explodeParagraphs]]+id;
    * shingle-less paragraphs (<3 tokens) drop out exactly as short docs
    * do at document level.
    *
    * Scale shape: identical to doc-level — shuffle on band hash, never a
    * cross join; the only growth is row count (paragraphs ≫ documents),
    * which the band equi-join absorbs linearly.
    */
  def paragraphNearDupes(paras: DataFrame): DataFrame =
    minhashCandidates(
        paras.select(col("para_id").as("doc_id"), col("para_text").as("text")))
      .select(
        expr(s"doc_a div $ParaIdShift").as("doc_a"),
        expr(s"doc_a % $ParaIdShift").as("para_a"),
        expr(s"doc_b div $ParaIdShift").as("doc_b"),
        expr(s"doc_b % $ParaIdShift").as("para_b"))

  // ---- exact-substring decontamination ---------------------------------

  /** Exact n-token substring decontamination — the stricter canonical
    * check labs run ALONGSIDE shingle-overlap [[contamination]]: a
    * training doc is flagged iff some run of `n` consecutive tokens
    * appears verbatim anywhere in the held-out benchmark (n=13 is the
    * conventional window; GPT-3 appendix C / PaLM §7 use 13-gram overlap).
    * Emits one row per contaminated doc with the count of its DISTINCT
    * matching windows — the trim-vs-drop policy signal.
    *
    * Scale shape: the benchmark's distinct window-hash set broadcasts
    * (its size is the benchmark's token count — always driver-tiny next
    * to the corpus); the corpus streams through one broadcast semi-ish
    * join + one partial-agg'd groupBy. Windows are md5'd before the join
    * so the shuffle/broadcast payload is 32 bytes regardless of n, and
    * the oracle reproduces the hash bit-for-bit.
    */
  def exactSubstringContamination(corpus: DataFrame, benchmark: DataFrame,
                                  n: Int = 13): DataFrame = {
    def windows(d: DataFrame) = d
      .select(col("doc_id"),
        explode(array_distinct(shingles(tokens(col("text")), n))).as("w"))
      .select(col("doc_id"), md5(col("w")).as("wh"))
    val benchSet = windows(benchmark).select("wh").distinct()
    windows(corpus)
      .join(broadcast(benchSet), Seq("wh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matched_windows"))
  }

  /** Per-(benchmark-suite × corpus-source) exact-leakage ATTRIBUTION — the
    * breakdown a data lead reads after [[exactSubstringContamination]]
    * says "something leaked": WHICH eval suite leaked into WHICH ingest
    * source, how many docs and window hits (one hit per doc × per-doc
    * DISTINCT matched window — a window repeated inside one doc counts
    * once, the same window in two docs counts twice), and each
    * source's flagged fraction in integer ppm (the number that decides
    * whether a source is quarantined wholesale or spot-trimmed).
    * `benchmark` carries a `suite` column; a window shared by two suites
    * attributes to both (fan-out ≤ |suites|, and only on HIT rows).
    *
    * Scale shape: identical to the exact screen — the benchmark's distinct
    * (suite, window-hash) set broadcasts (benchmark-sized, driver-tiny
    * next to the corpus); the corpus pays ONE distinct-windows pass, the
    * broadcast join, and a partial-agg'd groupBy on (suite, source); the
    * per-source totals ride a second corpus aggregate whose result
    * (|sources| rows) broadcasts back onto the report.
    */
  def exactContaminationReport(corpus: DataFrame, benchmark: DataFrame,
                               n: Int = 13): DataFrame = {
    val corpusWins = corpus
      .select(col("doc_id"), col("source"),
        explode(array_distinct(shingles(tokens(col("text")), n))).as("w"))
      .select(col("doc_id"), col("source"), md5(col("w")).as("wh"))
    val benchWins = benchmark
      .select(col("suite"),
        explode(array_distinct(shingles(tokens(col("text")), n))).as("w"))
      .select(col("suite"), md5(col("w")).as("wh"))
      .distinct()
    val srcTot = corpus.groupBy("source").agg(count(lit(1)).as("src_docs"))
    attributeContamination(
      corpusWins.join(broadcast(benchWins), Seq("wh"))
        .select("suite", "source", "doc_id"),
      srcTot)
  }

  /** The (suite × source) attribution aggregate over raw hit rows
    * (suite, source, doc_id — one per matched window) — split out so the
    * streaming twin can drain its stateless hit stream through the file
    * sink and run the SAME aggregation post-drain: shared code, so the
    * live report and the batch report cannot disagree.
    */
  private[graft] def attributeContamination(hits: DataFrame,
                                            srcTot: DataFrame): DataFrame =
    hits
      .groupBy("suite", "source")
      .agg(countDistinct(col("doc_id")).as("n_docs_flagged"),
           count(lit(1)).as("n_window_hits"))
      .join(broadcast(srcTot), Seq("source"))
      .withColumn("flagged_ppm",
        expr("n_docs_flagged * 1000000 div src_docs"))
      .select("suite", "source", "n_docs_flagged", "n_window_hits",
              "src_docs", "flagged_ppm")

  /** Maximal duplicated token spans — the exact-substring dedup unit of
    * work (Lee et al. 2021, "Deduplicating Training Data Makes Language
    * Models Better": trim duplicated substrings, don't drop whole docs).
    * A length-`n` token window is DUPLICATED if its text occurs a second
    * time anywhere in the corpus (another doc or another position);
    * overlapping/adjacent duplicated windows in a doc fuse into one
    * maximal span (gaps-and-islands: window starts ≤ n apart share
    * overlapping token ranges). Emits (doc_id, span_start, span_end,
    * span_tokens, n_windows) in token coordinates — exactly what a
    * trimming pass deletes. The suffix-array formulation finds shorter
    * duplicates too; fixing the window at the policy's minimum match
    * length makes the scan one hash join and loses nothing the policy
    * would act on — any duplicated run ≥ n tokens contains a duplicated
    * n-window at every offset, so maximal spans come out identical.
    *
    * Scale shape: windows are md5'd (32-byte keys) → one partial-agg'd
    * count keyed by hash (a boilerplate window costs one long per
    * partition); the ≥2 verdict joins back on the same key; the island
    * merge windows BY DOC over positions — per-doc state, parallel across
    * the corpus, no global sort anywhere.
    */
  def duplicatedSpans(docs: DataFrame, n: Int = 13): DataFrame = {
    val wins = Barriers.materialize(docs
      .select(col("doc_id"), posexplode(shingles(tokens(col("text")), n)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
              md5(col("col")).as("wh")))
    val dup = wins.groupBy("wh").agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2).select("wh")
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    wins.join(dup, Seq("wh"))
      .withColumn("new_island",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) <= n, 0L)
          .otherwise(1L))
      .withColumn("island",
        sum(col("new_island")).over(byDoc.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "island")
      .agg(min(col("pos")).as("span_start"),
           (max(col("pos")) + (n - 1)).as("span_end"),
           count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
              (col("span_end") - col("span_start") + 1).as("span_tokens"),
              col("n_windows"))
  }

  /** The APPLY step of exact-substring dedup ([[duplicatedSpans]] is the
    * plan): remove every duplicated window occurrence EXCEPT the globally
    * first (by (doc_id, pos) — Lee et al. keep one copy, not zero), fuse
    * the removable windows per doc into maximal spans, and emit the
    * per-doc trim audit with an md5 witness of the trimmed text (the
    * trimmed corpus is written at scale, not collected; the hash is what
    * parity-checks). Span-granularity trimming is greedy: a first-
    * occurrence window overlapping a removed span loses those tokens —
    * the same behavior as the reference exact-substring implementations.
    *
    * Scale shape: adds one window function over the (wh)-partitioned
    * occurrence list (partitions are per-duplicate-text, tiny) on top of
    * [[duplicatedSpans]]'s joins; the final projection filters each doc's
    * token array against its own ≤O(spans) list — per-row work, no
    * shuffle.
    */
  def spanTrimmedDocs(docs: DataFrame, n: Int = 13): DataFrame = {
    val wins = Barriers.materialize(docs
      .select(col("doc_id"), posexplode(shingles(tokens(col("text")), n)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
              md5(col("col")).as("wh")))
    val byWh = Window.partitionBy("wh")
    val later = wins
      .withColumn("rk",
        row_number().over(byWh.orderBy(col("doc_id"), col("pos"))))
      .withColumn("occ", count(lit(1)).over(byWh))
      .filter(col("occ") >= 2 && col("rk") > 1)
      .select("doc_id", "pos")
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val spans = later
      .withColumn("new_island",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) <= n, 0L)
          .otherwise(1L))
      .withColumn("island",
        sum(col("new_island")).over(byDoc.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "island")
      .agg(min(col("pos")).as("s"), (max(col("pos")) + (n - 1)).as("e"))
    val perDoc = spans.groupBy("doc_id")
      .agg(collect_list(struct(col("s"), col("e"))).as("spans"),
           sum(col("e") - col("s") + 1).as("n_trimmed"))
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .join(perDoc, Seq("doc_id")) // inner: only docs with something to trim
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        col("n_trimmed"),
        md5(concat_ws(" ", filter(col("toks"), (_, i) =>
          !exists(col("spans"),
            sp => i >= sp("s") && i <= sp("e"))))).as("trimmed_hash"))
  }

  /** Distinct-3-gram growth curve (the Heaps-law view dedup policy sizing
    * reads): documents bucketed into `buckets` id-deciles; each distinct
    * shingle is credited to the first bucket containing it; emits new and
    * cumulative distinct counts per bucket. A flattening curve says the
    * corpus is saturating — more data is re-saying the same things.
    *
    * Scale shape: one explode + a min-agg keyed by shingle (partial-agg'd)
    * + a count over |buckets| rows; the cumulative window runs over ≤
    * `buckets` rows on one partition — deliberately, it is the summary.
    */
  def vocabGrowth(docs: DataFrame, buckets: Int = 10): DataFrame = {
    val mx = docs.agg(max(col("doc_id")).as("mx"))
    val sh = docs.crossJoin(broadcast(mx))
      .select(least(expr(s"doc_id * $buckets div (mx + 1)"),
                lit(buckets - 1)).cast("long").as("bucket"),
              explode(array_distinct(shingles(tokens(col("text")), 3)))
                .as("sh"))
    sh.groupBy("sh").agg(min(col("bucket")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_new_shingles"))
      // partitionBy(bucket % 1) = one constant key: the frame is ≤ `buckets`
      // summary rows, so a single partition is the point — the constant key
      // (non-foldable, so the optimizer can't strip it the way it strips a
      // bare literal) only silences WindowExec's no-partition warning,
      // which would otherwise read as a scale bug in every bench log
      .withColumn("cum_distinct",
        sum(col("n_new_shingles")).over(
          Window.partitionBy(pmod(col("bucket"), lit(1)))
          .orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Conditional next-token table — the n-gram LM statistic behind
    * perplexity-style quality filters and classic smoothing estimates:
    * for each 2-token context, the top-K next tokens with exact counts
    * and integer-ppm conditional probability. (CCNet-style pipelines
    * score documents against exactly this kind of corpus LM.)
    *
    * Scale shape: one shingle explode + one partial-agg'd groupBy on
    * (context, next); the per-context total and top-K window run over a
    * frame bounded by VOCABULARY² rows, not corpus size — corpus scale
    * only raises the counts.
    */
  def ngramLmCounts(docs: DataFrame, topK: Int = 3): DataFrame = {
    val parts = split(col("g"), " ")
    val cnt = docs
      .select(explode(shingles(tokens(col("text")), 3)).as("g"))
      .select(concat_ws(" ", slice(parts, 1, 2)).as("context"),
              element_at(parts, 3).as("next_token"))
      .groupBy("context", "next_token").agg(count(lit(1)).as("cnt"))
    val byCtx = Window.partitionBy("context")
    cnt
      .withColumn("ctx_total", sum(col("cnt")).over(byCtx))
      .withColumn("rank", row_number().over(
        byCtx.orderBy(col("cnt").desc, col("next_token"))).cast("long"))
      .filter(col("rank") <= topK)
      .withColumn("ppm", expr("cnt * 1000000 div ctx_total"))
      .select("context", "next_token", "cnt", "ctx_total", "rank", "ppm")
  }

  /** Exact token-length quantiles per source — the dataset-card length
    * profile, at the exact integer rank K = ⌈n·pct/100⌉ (same
    * no-float-threshold discipline as the rank cutoffs elsewhere; an
    * approximate-percentile sketch would not oracle and the exact rank is
    * one window away). Ties break by doc_id so ranks are total.
    *
    * Scale shape: one per-source window (parallelism = sources) + a
    * broadcast count; for few huge sources the same hash-histogram
    * two-pass escape as `sampleTokenBudget` applies.
    */
  def lengthQuantiles(docs: DataFrame,
                      pcts: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("source")
      .orderBy(col("n_tokens"), col("doc_id"))
    val ranked = docs
      .withColumn("n_tokens", tokenCount(col("text")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .join(broadcast(counts), Seq("source"))
    pcts.map { p =>
      ranked
        .filter(col("rk") === expr(s"cast(ceil(n * $p / 100.0) as bigint)"))
        .select(col("source"), lit(p.toLong).as("pct"),
                col("n_tokens").as("token_len"))
    }.reduce(_ unionAll _)
  }

  /** Candidate-graph degree histogram — the banding-health audit: how
    * many docs have 0, 1, 2… near-dup candidate partners. A heavy tail
    * here means a hot band (boilerplate shingles) is about to explode the
    * pair count downstream; the df-caps and `maxPerBand` knobs exist for
    * exactly what this table surfaces. Zero-degree docs are restored via
    * an anti-join-shaped left join so the histogram sums to the corpus.
    */
  def candidateDegreeHistogram(docs: DataFrame): DataFrame = {
    val pairs = minhashCandidates(docs)
    val deg = pairs.select(col("doc_a").as("doc_id"))
      .unionAll(pairs.select(col("doc_b").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("degree"))
    docs.select("doc_id")
      .join(deg, Seq("doc_id"), "left")
      .select(coalesce(col("degree"), lit(0L)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_docs"))
  }

  /** Cross-source duplication matrix: near-dup candidate pairs counted by
    * unordered source pair — the mirror-detection view (a heavy
    * off-diagonal cell means one source largely re-hosts another, and the
    * cheap fix is dropping a source, not clustering a million pairs).
    * Rides the one banded-minhash candidate set; two joins against the
    * (doc → source) projection; output is |sources|² cells at most.
    */
  def crossSourceDupMatrix(docs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    val pairs = minhashCandidates(docs)
      .join(src.withColumnRenamed("doc_id", "doc_a")
               .withColumnRenamed("source", "source_a"), Seq("doc_a"))
      .join(src.withColumnRenamed("doc_id", "doc_b")
               .withColumnRenamed("source", "source_b"), Seq("doc_b"))
    val tot = pairs.agg(count(lit(1)).as("t"))
    pairs
      .groupBy(least(col("source_a"), col("source_b")).as("source_x"),
               greatest(col("source_a"), col("source_b")).as("source_y"))
      .agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(tot))
      .withColumn("pair_share_ppm", expr("n_pairs * 1000000 div t"))
      .select("source_x", "source_y", "n_pairs", "pair_share_ppm")
  }

  // ---- cross-document boilerplate (C4-style line dedup, chunk-adapted) --

  /** Per-chunk corpus frequency — the shared frame behind the boilerplate
    * table and the scrub report. Chunks are the [[chunkParagraphs]]
    * windows (the corpus has no newline structure); `n_docs` counts
    * DISTINCT carrier documents, the C4 notion of a repeated line.
    */
  private def chunkFrequencies(docs: DataFrame): DataFrame =
    chunkParagraphs(docs)
      .select(col("doc_id"), md5(col("para_text")).as("chunk_hash"))
      .groupBy("chunk_hash")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
           count(lit(1)).as("n_occurrences"),
           min(col("doc_id")).as("example_doc_id"))

  /** Cross-document boilerplate chunks — the C4/RefinedWeb "line appears
    * in ≥K documents ⇒ it is template furniture, not content" rule,
    * adapted to the fixed-token chunk frame (the synthetic corpus is
    * single-line; real corpora would feed [[explodeParagraphs]] output).
    * Emits the boilerplate table itself: chunk hash, carrier-doc count,
    * occurrence count, lowest carrier as the inspectable example.
    *
    * Scale shape: one partial-agg'd groupBy on the chunk hash — the same
    * cardinality class as exact dedup; no windows, no joins, nothing
    * pairwise. The distinct-doc count rides the same shuffle (Spark
    * plans count(distinct) as a two-phase expand over the one key).
    */
  def boilerplateChunks(docs: DataFrame, minDocs: Int = 2): DataFrame =
    chunkFrequencies(docs).filter(col("n_docs") >= minDocs)

  /** Boilerplate scrub report: what a C4-style line-dedup pass would do
    * to each document — chunks inspected, chunks removed as boilerplate
    * (carried by ≥`minDocs` docs), and the token count that survives.
    * The kept-token sum is the post-scrub corpus size, the number that
    * decides whether the rule is too aggressive for a source.
    *
    * Scale shape: chunk frame → frequency agg → join back on the chunk
    * hash → per-doc groupBy. Both join sides arrive partitioned by
    * `chunk_hash` (the agg output already is), so the join adds no third
    * shuffle, and the boilerplate side is corpus-frequency-bounded —
    * AQE will broadcast it when small.
    */
  def boilerplateScrub(docs: DataFrame, minDocs: Int = 2): DataFrame = {
    val chunks = chunkParagraphs(docs).select(
      col("doc_id"),
      md5(col("para_text")).as("chunk_hash"),
      tokenCount(col("para_text")).as("chunk_tokens"))
    val boiler = chunkFrequencies(docs)
      .filter(col("n_docs") >= minDocs)
      .select(col("chunk_hash"), lit(1L).as("is_boiler"))
    chunks.join(boiler, Seq("chunk_hash"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
           sum(when(col("is_boiler").isNotNull, 1L).otherwise(0L))
             .as("n_boiler_chunks"),
           sum(when(col("is_boiler").isNotNull, 0L)
             .otherwise(col("chunk_tokens"))).as("tokens_kept"))
  }

  // ---- corpus language-model scoring -----------------------------------

  /** Per-document bigram-LM surprisal proxy — the classic cheap quality
    * signal (docs whose bigrams are corpus-typical score high; gibberish
    * and boilerplate-free noise score low). The model is the corpus's own
    * bigram MLE, P(w2|w1) = c(w1 w2)/c(w1), kept in integer fixed-point
    * (⌊1e9·c2/c1⌋ per bigram, floored average per doc) so Spark and the
    * oracle agree bit-for-bit — a float log-prob would be accumulation-
    * order-dependent (SURVEY §7.4 determinism rules).
    *
    * Scale shape: unigram and bigram count tables are vocabulary-bounded
    * (≪ corpus; ~10M rows even at web scale), broadcast onto the exploded
    * bigram stream; one partial-agg'd per-doc groupBy. Nothing here is
    * corpus × corpus.
    */
  def docLmScore(docs: DataFrame): DataFrame = {
    val toksDf = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    val bg = toksDf
      .select(col("doc_id"), explode(shingles(col("toks"), 2)).as("bg"))
      .withColumn("w1", element_at(split(col("bg"), " "), 1))
    val uni = toksDf.select(explode(col("toks")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val bi = bg.groupBy("bg").agg(count(lit(1)).as("c2"))
    bg.join(broadcast(bi), Seq("bg"))
      .join(broadcast(uni), Seq("w1"))
      .withColumn("s", expr("1000000000L * c2 div c1"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
           expr("sum(s) div count(1)").as("lm_score"))
  }

  // ---- bloom-prefiltered decontamination --------------------------------

  /** [[exactSubstringContamination]] with a Bloom prefilter — the plan a
    * 100 TB run wants. The benchmark's window-hash set can outgrow a
    * comfortable string-set broadcast (1e8 windows ≈ 3 GB of md5s); its
    * Bloom bitset is two orders smaller (`mBits`/8 bytes — 16 KB at the
    * default here, ~100 MB for a 1e8-window benchmark at the same false-
    * positive rate). Corpus windows probe the bitset first (k=2 seeded
    * xxhash64 bits, both set ⇒ candidate) and only survivors reach the
    * exact hash join, which then runs over a tiny fraction of the corpus
    * — and may shuffle rather than broadcast when the benchmark is truly
    * huge. False positives are removed by the exact join; false negatives
    * cannot occur (every true member set both its bits), so the output is
    * bit-identical to the exact operator and shares its oracle.
    *
    * Spark has an internal bloom_filter_agg but does not register it for
    * SQL/DataFrame use, so the bitset is built natively: positions →
    * 64-bit words via bit_or, probed through two broadcast hash joins
    * (codegen'd O(1) probes) + bit tests.
    */
  def exactContaminationBloom(corpus: DataFrame, benchmark: DataFrame,
                              n: Int = 13, mBits: Int = 1 << 17): DataFrame = {
    require((mBits & (mBits - 1)) == 0, s"mBits must be a power of two: $mBits")
    def windows(d: DataFrame) = d
      .select(col("doc_id"),
        explode(array_distinct(shingles(tokens(col("text")), n))).as("w"))
      .select(col("doc_id"), md5(col("w")).as("wh"))
    def pos(c: Column, seed: Int) =
      pmod(xxhash64(c, lit(seed)), lit(mBits.toLong))
    val benchSet = windows(benchmark).select("wh").distinct()
    val words = benchSet
      .select(explode(array(pos(col("wh"), 1), pos(col("wh"), 2))).as("p"))
      .select(expr("p div 64").as("widx"),
        expr("shiftleft(cast(1 as bigint), cast(p % 64 as int))").as("bit"))
      .groupBy("widx").agg(expr("bit_or(bit)").as("word"))
    val cand = windows(corpus)
      .withColumn("p1", pos(col("wh"), 1))
      .withColumn("p2", pos(col("wh"), 2))
      .join(broadcast(words.select(col("widx").as("widx1"),
        col("word").as("word1"))), expr("p1 div 64") === col("widx1"))
      .filter(expr(
        "(word1 & shiftleft(cast(1 as bigint), cast(p1 % 64 as int))) != 0"))
      .join(broadcast(words.select(col("widx").as("widx2"),
        col("word").as("word2"))), expr("p2 div 64") === col("widx2"))
      .filter(expr(
        "(word2 & shiftleft(cast(1 as bigint), cast(p2 % 64 as int))) != 0"))
    cand.join(broadcast(benchSet), Seq("wh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matched_windows"))
  }

  // ---- md5-portable bloom gate (the stream ingest form) -----------------

  /** Bloom bit position of a window hash — md5-derived (first 8 hex of
    * md5("b&lt;seed&gt;:" || wh) mod mBits), NOT xxhash64 like
    * [[exactContaminationBloom]]'s: the ingest GATE emits bloom verdicts
    * directly with no exact confirmation join to absorb hash differences,
    * so the DuckDB oracle must restate the bitset bit-for-bit, and md5 is
    * the one hash both engines share.
    */
  private[graft] def bloomPos(wh: Column, seed: Int, mBits: Int): Column =
    conv(substring(md5(concat(lit(s"b$seed:"), wh)), 1, 8), 16, 10)
      .cast("long") % mBits

  /** The benchmark's n-token-window Bloom bitset as a dense word array
    * (mBits/64 longs, k = 2 md5-seeded bits per window) — built offline
    * from the static benchmark and folded into a LITERAL, the DSIR
    * delta-map discipline: the collect is bounded by the CONSTANT
    * mBits/64 (16 K longs / 128 KB at the default 2²⁰ bits), never by
    * data volume, and the probing side becomes a stateless per-row
    * projection. At a 10⁸-window benchmark the same false-positive rate
    * needs ~10 bits/element (mBits ≈ 2³⁰, a 128 MB table) — at that
    * point the deployment swaps the literal for
    * [[exactContaminationBloom]]'s broadcast word-frame form; the gate's
    * arithmetic is unchanged.
    */
  private[graft] def bloomWordFrame(benchmark: DataFrame, n: Int,
                                    mBits: Int): DataFrame = {
    require((mBits & (mBits - 1)) == 0, s"mBits must be a power of two: $mBits")
    benchmark
      .select(explode(array_distinct(shingles(tokens(col("text")), n)))
        .as("w"))
      .select(md5(col("w")).as("wh")).distinct()
      .select(explode(array(bloomPos(col("wh"), 1, mBits),
                            bloomPos(col("wh"), 2, mBits))).as("p"))
      .select(expr("p div 64").as("widx"),
        expr("shiftleft(cast(1 as bigint), cast(p % 64 as int))").as("bit"))
      .groupBy("widx").agg(expr("bit_or(bit)").as("word"))
  }

  /** The occupied-word rows of [[bloomWordFrame]] densified into the full
    * literal table (absent words are 0).
    */
  private[graft] def bloomWordsDense(occupied: Array[org.apache.spark.sql.Row],
                                     mBits: Int): Array[Long] = {
    val words = new Array[Long](mBits / 64)
    occupied.foreach(r => words(r.getLong(0).toInt) = r.getLong(1))
    words
  }

  /** Per-row count of distinct n-token windows whose BOTH bloom bits are
    * set in `words` — a pure codegen projection (array HOFs + two
    * element_at probes per window against the literal word table), zero
    * joins, zero state: the form an Append-mode ingest gate wants. A
    * nonzero count means "possibly leaked, quarantine for the exact
    * screen" (false-positive rate is the bloom load², ~0.1% at the
    * declared sizing); zero is certain-clean (blooms have no false
    * negatives).
    */
  private[graft] def bloomWindowHits(text: Column, words: Array[Long],
                                     n: Int, mBits: Int): Column = {
    val wordsLit = typedlit(words)
    def bitSet(wh: Column, seed: Int): Column = {
      val p = bloomPos(wh, seed, mBits)
      // call_function: the Scala shiftleft() helper takes a literal Int
      // bit count, but the bit index here is a (lambda-bound) column
      (element_at(wordsLit, (p / 64).cast("int") + 1)
        .bitwiseAND(call_function("shiftleft", lit(1L),
          pmod(p, lit(64L)).cast("int")))) =!= 0L
    }
    size(filter(
      array_distinct(transform(shingles(tokens(text), n), w => md5(w))),
      wh => bitSet(wh, 1) && bitSet(wh, 2))).cast("long")
  }
}
