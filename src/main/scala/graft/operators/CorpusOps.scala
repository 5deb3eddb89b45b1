package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation operators for training-data pipelines ([EXT],
  * SURVEY.md §2.9 extensions): near-dup cluster resolution, deterministic
  * stratified sampling, PII scrubbing, shard assignment and TF-IDF term
  * scoring. These complete the dedup story — candidate PAIRS (TextOps /
  * VectorOps) become CLUSTERS with a canonical representative, which is
  * what a real pipeline actually deletes against.
  *
  * Determinism rule (same as TextOps): anything "random" derives from md5
  * so the DuckDB oracle reproduces it bit-for-bit; Spark's murmur `hash()`
  * and `rand()` are not portable.
  */
object CorpusOps {

  /** Deterministic uniform value in [0, 2^32) from a salted key — the
    * portable substitute for `rand()`: `conv` parses the first 8 md5 hex
    * chars. Stable across runs, partitionings and engines.
    */
  def hashUniform(salt: String, key: Column): Column =
    conv(substring(md5(concat(lit(salt + ":"), key.cast("string"))), 1, 8),
         16, 10).cast("long")

  // ---- near-dup cluster resolution ------------------------------------

  /** Connected components: every node ends labeled with the minimum id
    * of its component. `edges` are undirected candidate pairs (doc_a,
    * doc_b); `nodes` is the full id set so singletons come out labeled
    * with themselves.
    *
    * Edge contraction (r20 — the Kiveris et al. "label-graph
    * propagation" accelerator): after the specialized round 1, the loop
    * runs on the CONTRACTED label graph, not the doc-level edge list.
    * Each round builds the supernode map
    *
    *   m(s) = min(s, min over E-neighbors of s, label(s))
    *
    * over the current label image, rewrites both the label table and the
    * edge graph through it, and terminates when the contracted graph has
    * no edges left — at which point every component has collapsed to one
    * supernode and labels are exactly the component minimum.
    *
    * Why both terms: contraction alone (min-neighbor hooking) shrinks
    * RANDOM-id chains geometrically (~2-3× per round — local minima
    * absorb both neighbors) but degenerates to one hop per round on
    * ORDERED-id chains (the min-neighbor map is injective there, nothing
    * merges); the jump term label(s) — the label of the supernode's own
    * node row — composes reach across rounds exactly as the r19 loop's
    * label(label(v)) did, covering 2^rounds hops on ordered chains. The
    * hybrid is never slower than either accelerator alone (simulated:
    * random 200-path 69→8 rounds, ordered 200-path 9→9, 100k-path ≤18
    * rounds from either id placement, grids 20→6).
    *
    * Convergence proof sketch: labels only decrease (every m term is ≤ s
    * or a label of a connected node); E_r is by induction exactly
    * {(lab_r(u), lab_r(v)) : (u,v) ∈ sym, labels differ} (m rewrites
    * every doc with label s to the same m(s), so the edge rewrite and the
    * label rewrite cannot disagree); E empty ⇒ labels constant across
    * every edge ⇒ constant per component ⇒ the component min, which
    * always labels itself.
    *
    * Scale shape per round: one groupBy(min) + the map joins over the
    * SHRINKING contracted edge graph plus two keyed passes over the label
    * table — strictly less than the r19 loop's three corpus-keyed joins
    * once the graph contracts, and half the rounds. Each round is ONE
    * job: the convergence action is a tagged union of single-row counts
    * over the new edge frame and the new label frame, so both materialize
    * (and the old round's blocks release) in the same action.
    *
    * Edge endpoints are expected to be ⊆ `nodes` (every declared caller
    * satisfies it). A foreign endpoint is tolerated with DEFINED
    * semantics: it conducts connectivity and may surface as a component's
    * label if it is the smallest id (the jump lookup is a left join, so
    * no row is ever dropped — the r19 ADVICE latent-drop case).
    */
  def connectedComponents(
      nodes: DataFrame, edges: DataFrame, maxIter: Int = 20): DataFrame = {
    // Honest size estimates on every materialized frame: the checkpoint
    // otherwise carries the producing plan's estimate, which repeated
    // consumption compounds geometrically until stats PLANNING dominates
    // the loop (Barriers.withSizeEstimate scaladoc).
    // both directions in ONE pass over the edge plan: the former
    // unionAll of two projections duplicated the (un-barriered) pair
    // pipeline feeding `edges` — the banded self-join + groupBy ran
    // twice per CC invocation (r19 optimization)
    val symRaw = Barriers.materialize(edges
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst")))
    val symCount = symRaw.count()
    val sym = Barriers.withSizeEstimate(symRaw, symCount, 32)
    // Round 1 runs SPECIALIZED (r19 optimization, kept): the label table
    // is the identity at entry, so the dst-label lookup join degenerates
    // to min(dst) over the raw edges — one groupBy + one left join.
    val l1Raw = Barriers.materialize(nodes
      .select(col("doc_id"))
      .join(sym.groupBy(col("src").as("doc_id"))
               .agg(min(col("dst")).as("nbr_min")),
            Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        least(col("doc_id"), coalesce(col("nbr_min"), col("doc_id")))
          .as("cluster_id")))
    // The contracted label graph after round 1: sym rewritten through the
    // round-1 labels (left joins — a foreign endpoint keeps its own id).
    // ONE tagged-union action materializes l1 AND e1 and returns both
    // counts (two single-row aggregate branches in one job; l1's lazy
    // blocks are computed once and shared by its three consumers here).
    val e1Raw = Barriers.materialize(sym
      .join(l1Raw.select(col("doc_id").as("src"),
                         col("cluster_id").as("src_t")), Seq("src"), "left_outer")
      .join(l1Raw.select(col("doc_id").as("dst"),
                         col("cluster_id").as("dst_t")), Seq("dst"), "left_outer")
      .select(coalesce(col("src_t"), col("src")).as("src"),
              coalesce(col("dst_t"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct())
    def twoCounts(tagA: String, a: DataFrame, b: DataFrame): (Long, Long) = {
      val rows = a.agg(count(lit(1)).as("n")).select(lit(tagA).as("t"), col("n"))
        .unionAll(b.agg(count(lit(1)).as("n")).select(lit("b").as("t"), col("n")))
        .collect()
      val m = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
      (m(tagA), m("b"))
    }
    val (nNodes, e1Count) = twoCounts("l", l1Raw, e1Raw)
    var labels = Barriers.withSizeEstimate(l1Raw, nNodes, 32)
    var e = Barriers.withSizeEstimate(e1Raw, e1Count, 32)
    var eCount = e1Count
    Barriers.release(sym)
    var iter = 0
    while (eCount > 0 && iter < maxIter) {
      // supernode map over the current label image: least of (self,
      // cluster-level neighbor min, jump = the label of the supernode's
      // own node row). The jump lookup is a LEFT join so a label that is
      // not a node id (foreign edge endpoint) stays inert instead of
      // dropping rows. Only CHANGED supernodes are kept — the map shrinks
      // with the graph and the rewrites below left-join + coalesce.
      val nbrMin = e.groupBy(col("src").as("s"))
        .agg(min(col("dst")).as("nbr_min"))
      val mRaw = Barriers.materialize(labels
        .select(col("cluster_id").as("s")).distinct()
        .join(labels.select(col("doc_id").as("s"),
                            col("cluster_id").as("lab_s")),
              Seq("s"), "left_outer")
        .join(nbrMin, Seq("s"), "left_outer")
        .select(col("s"),
          least(col("s"), coalesce(col("lab_s"), col("s")),
                coalesce(col("nbr_min"), col("s"))).as("t"))
        .filter(col("t") =!= col("s")))
      val nextLabelsRaw = Barriers.materialize(labels
        .join(mRaw.select(col("s").as("cluster_id"), col("t")),
              Seq("cluster_id"), "left_outer")
        .select(col("doc_id"),
                coalesce(col("t"), col("cluster_id")).as("cluster_id")))
      val nextERaw = Barriers.materialize(e
        .join(mRaw.select(col("s").as("src"), col("t").as("src_t")),
              Seq("src"), "left_outer")
        .join(mRaw.select(col("s").as("dst"), col("t").as("dst_t")),
              Seq("dst"), "left_outer")
        .select(coalesce(col("src_t"), col("src")).as("src"),
                coalesce(col("dst_t"), col("dst")).as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct())
      // one action per round: materializes m, the new labels and the new
      // edge graph, and returns both convergence counts
      val (nLab, nE) = twoCounts("l", nextLabelsRaw, nextERaw)
      require(nLab == nNodes) // the left-join rewrite preserves every row
      // the old round's blocks are dead once the new frames are
      // materialized — without this, one copy per round stays pinned
      Barriers.release(labels)
      Barriers.release(e)
      Barriers.release(mRaw)
      labels = Barriers.withSizeEstimate(nextLabelsRaw, nNodes, 32)
      e = Barriers.withSizeEstimate(nextERaw, nE, 32)
      eCount = nE
      iter += 1
    }
    // Fail loudly: a non-empty contracted graph carries split cluster
    // ids, and a downstream dedup would silently keep duplicates.
    if (eCount > 0)
      throw new IllegalStateException(
        s"connectedComponents: contracted graph not empty after $maxIter " +
        "rounds — contraction + jump cover ~2^maxIter-hop components; " +
        "raise maxIter, and check the edge set for a percolated giant " +
        "component (threshold too low for the corpus)")
    labels
  }

  /** Near-dup clusters over the MinHash LSH candidate pairs: (doc_id,
    * cluster_id, is_canonical) for every document — the row a pipeline
    * keeps is `is_canonical`, the rest are the transitive duplicates.
    */
  def dedupClusters(docs: DataFrame): DataFrame =
    connectedComponents(docs.select("doc_id"), TextOps.minhashCandidates(docs))
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))

  /** The dedup DECISION, not just the clustering: per near-dup cluster,
    * keep the longest document (ties: lowest doc_id) and emit the concrete
    * keep/drop verdict per doc — the list a pipeline feeds to the writer.
    * Keeper selection is a map-side `max(struct(quality, tiebreak, id))`
    * partial aggregate over the cluster assignment — no window, no second
    * pass over text; swapping the quality column (rarity score, repetition
    * gate) swaps the policy without changing the plan shape.
    */
  def dedupDropList(docs: DataFrame): DataFrame =
    keepBestPerCluster(dedupClusters(docs), docs)

  /** Keeper selection over ANY cluster assignment (doc_id, cluster_id):
    * keep the longest doc (ties: lowest doc_id), emit the per-doc verdict.
    * Shared by the MinHash drop list ([[dedupDropList]]) and the SemDeDup
    * embedding-cluster verdict — the quality column is the policy, the
    * max-struct partial aggregate is the plan (map-side combine, no window
    * over the corpus, no second pass over text).
    *
    * Contract (r19 ADVICE): `assign` doc_ids are assumed to be a SUBSET
    * of `docs` — every declared caller clusters ids drawn from `docs`
    * itself. A doc_id present in assign but missing from docs keeps its
    * verdict row (the keeper aggregate simply never sees its n_chars);
    * callers that cannot guarantee the subset must pre-filter.
    */
  def keepBestPerCluster(assign: DataFrame, docs: DataFrame): DataFrame = {
    val ids = assign.select("doc_id", "cluster_id")
    val keepers = ids
      .join(docs.select("doc_id", "n_chars"), Seq("doc_id"))
      .groupBy("cluster_id")
      .agg(max(struct(col("n_chars"), (-col("doc_id")).as("negid"),
        col("doc_id"))).as("m"))
      .select(col("cluster_id"), col("m.doc_id").as("keeper_id"))
    // verdict join keys on the bare assignment, not the sized frame:
    // n_chars is not in the output, so re-deriving the docs join on this
    // side only re-shuffled the corpus a second time (r19 optimization —
    // one less corpus-wide join per drop-list query)
    ids.join(keepers, Seq("cluster_id"))
      .withColumn("dropped", col("doc_id") =!= col("keeper_id"))
      .select("doc_id", "cluster_id", "keeper_id", "dropped")
  }

  /** The winnowing family's VERDICT form — [[dedupDropList]]'s shape over
    * the MOSS fingerprint pairs instead of the MinHash bands: winnowed
    * candidate pairs ([[TextOps.winnowedPairs]] — the deterministic
    * local-overlap detector) become transitive clusters
    * ([[connectedComponents]]) and each cluster keeps its longest doc
    * (ties: lowest id, [[keepBestPerCluster]]). This closes the family:
    * every other dedup path ends in a keeper + keep/drop verdict; until
    * now winnowing stopped at pairs.
    *
    * Scale shape is the sum of its parts, all keyed: the per-row native
    * fingerprint pass + df-capped fingerprint equi-join (winnowedPairs),
    * O(log diameter) label-propagation rounds, one max-struct partial
    * aggregate for the keeper — no window over the corpus, no all-pairs
    * stage anywhere.
    */
  def winnowedDropList(docs: DataFrame): DataFrame =
    keepBestPerCluster(
      connectedComponents(docs.select("doc_id"),
        TextOps.winnowedPairs(docs).select("doc_a", "doc_b")),
      docs)

  /** What the dedup decision actually SAVES, per source: document and
    * exact token counts before/after applying [[dedupDropList]], with the
    * saving as integer ppm — the number a data lead reads before signing
    * off on a dedup pass. One join of the verdict against per-doc token
    * counts + one partial-agg'd groupBy(source); all integer arithmetic.
    */
  def dedupSavings(docs: DataFrame): DataFrame =
    savingsFromVerdict(docs, dedupDropList(docs))

  /** Winnowing's savings twin: what [[winnowedDropList]] saves, per
    * source — the sign-off number for a MOSS-based dedup pass, sharing
    * the one savings aggregation so the two families' reports cannot
    * drift in shape.
    */
  def winnowedSavings(docs: DataFrame): DataFrame =
    savingsFromVerdict(docs, winnowedDropList(docs))

  /** The savings aggregation over ANY per-doc keep/drop verdict
    * (doc_id, dropped): one join against per-doc token counts + one
    * partial-agg'd groupBy(groupCol), all integer arithmetic. The verdict
    * column is the policy, this is the report. `groupCol` defaults to
    * `source` (the corpus-dedup reports); the cross-modal caption gate
    * groups by media `kind` ([[Multimodal.captionSavings]]) — one report
    * shape across every dedup family, batch and multimodal alike.
    */
  private[operators] def savingsFromVerdict(docs: DataFrame,
                                            verdict: DataFrame,
                                            groupCol: String = "source"): DataFrame =
    docs
      .withColumn("n_toks", TextOps.tokenCount(col("text")))
      .select("doc_id", groupCol, "n_toks")
      .join(verdict.select("doc_id", "dropped"), Seq("doc_id"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("dropped"), 1L).otherwise(0L)).as("n_dropped"),
           sum(col("n_toks")).as("tokens_total"),
           sum(when(col("dropped"), col("n_toks")).otherwise(0L))
             .as("tokens_dropped"))
      // zero token mass (possible only when every doc's text is null or
      // empty — tokenCount clamps those to 0) saves nothing: 0 ppm, not a
      // divide-by-zero (ANSI mode makes that an error, not a null)
      .withColumn("savings_ppm",
        expr("case when tokens_total = 0 then cast(0 as bigint) " +
             "else tokens_dropped * 1000000 div tokens_total end"))

  // ---- deterministic sampling / sharding ------------------------------

  /** Per-language sampling rates (percent) for [[sampleStratified]]:
    * down-weight over-represented languages, keep the tail. Shared with the
    * oracle SQL generator.
    */
  val DefaultRatesPct: Seq[(String, Int)] = Seq("en" -> 40, "zh" -> 80)
  val DefaultRatePct: Int = 60

  /** Stratified sample: keep a document iff its salted md5-uniform value
    * mod 100 falls under its language's rate. Per-language summary out —
    * the kept set itself is `kept` upstream of the aggregation. No shuffle
    * before the groupBy; the sample decision is a per-row projection, so at
    * 100 TB this is one scan + one partial-aggregated groupBy.
    */
  def sampleStratified(
      docs: DataFrame,
      ratesPct: Seq[(String, Int)] = DefaultRatesPct,
      defaultPct: Int = DefaultRatePct): DataFrame = {
    val rate = ratesPct.foldLeft(when(lit(false), lit(defaultPct)): Column) {
      case (c, (l, p)) => c.when(col("lang") === l, lit(p))
    }.otherwise(lit(defaultPct))
    docs
      .withColumn("rate_pct", rate)
      .withColumn("kept", hashUniform("sample", col("doc_id")) % 100 < col("rate_pct"))
      .groupBy("lang")
      .agg(
        max(col("rate_pct")).cast("long").as("rate_pct"),
        count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_sampled"))
  }

  /** Dataset-card mix report: per (lang, source) document and exact token
    * counts plus each cell's share of the corpus in integer ppm — the
    * composition table every data release publishes. One partial-agg'd
    * groupBy over the corpus; the two corpus totals ride a broadcast
    * crossJoin (single row), and shares are integer floor-divisions of
    * exact long sums, so the report is bit-identical across engines.
    */
  def mixReport(docs: DataFrame): DataFrame = {
    val per = docs
      .withColumn("n_toks", TextOps.tokenCount(col("text")))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
    val tot = per.agg(sum(col("n_docs")).as("t_docs"),
                      sum(col("n_tokens")).as("t_tokens"))
    per.crossJoin(broadcast(tot))
      .withColumn("doc_share_ppm", expr("n_docs * 1000000 div t_docs"))
      .withColumn("token_share_ppm", expr("n_tokens * 1000000 div t_tokens"))
      .select("lang", "source", "n_docs", "n_tokens",
              "doc_share_ppm", "token_share_ppm")
  }

  /** Epoch-capped temperature mix SOLVER — the planning step between the
    * composition report ([[mixReport]]) and the samplers: given a training
    * token budget (an integer percent of the corpus, so the query is
    * scale-free) and a max-epochs cap, allocate the budget across sources
    * by temperature weight w_s = floor(sqrt(n_s)·10⁶ + 0.5) (α = 1/2, the
    * same IEEE-754-portable choice as [[sampleTemperature]]) subject to
    * plan_s ≤ cap_s = n_s·maxEpochsPct/100 — the waterfilling every
    * published mix table ("epochs per dataset", GPT-3 Table 2.2 shape)
    * solves: small sources are up-weighted but must not repeat past the
    * cap, and their forfeited mass flows to the uncapped sources.
    *
    * Waterfilling, deterministically and in integers: sources sorted by
    * r_s = cap_s·10⁶ div w_s ascending (the budget scale at which each
    * source hits its cap) cap out in prefix order; a source is capped iff
    * the budget left after fully capping every earlier source, spread over
    * the remaining weight, still overflows its own cap —
    * (B − Σ_{r<s} cap)·w_s ≥ cap_s·Σ_{r≥s} w, evaluated in DECIMAL(38,0)
    * cross products (oracle side HUGEINT — the embedding_gram overflow
    * discipline: tokens ~10¹⁴ × weight_fp ~10¹³ needs 128-bit). Uncapped
    * sources then split the residual budget by weight with floor division
    * (Σ plan ≤ B; dust < |sources| tokens). Integer-div ties in r_s can
    * locally deviate from exact-ratio order — both engines sort and test
    * IDENTICALLY, so the plan stays well-defined and bit-equal; each
    * capped row's test still bounds cap_spent ≤ B, so the residual split
    * never goes negative.
    *
    * Scale shape: ONE partial-agg'd groupBy over the corpus produces the
    * per-source frame (|sources| rows — single digits); everything after
    * (the sort window, the capped-prefix test, the residual scalars) runs
    * on that tiny frame — the manifest-window pattern (CorpusPipeline).
    * No corpus-wide window, no second corpus pass.
    */
  def mixSolve(docs: DataFrame, budgetPct: Long = 120,
               maxEpochsPct: Long = 150): DataFrame =
    mixSolveFromTotals(
      docs.withColumn("n_toks", TextOps.tokenCount(col("text")))
        .groupBy("source").agg(sum(col("n_toks")).as("n_tokens")),
      budgetPct, maxEpochsPct)

  /** The solve itself, over an already-aggregated (source, n_tokens)
    * frame — split out so the Update-mode stream twin can maintain the
    * per-source totals live (the delta-sink pattern) and run the SAME
    * waterfilling post-drain: shared code, so the live plan and the batch
    * plan cannot disagree. Everything here runs on the |sources|-row
    * frame.
    */
  private[graft] def mixSolveFromTotals(perSource: DataFrame,
                                        budgetPct: Long,
                                        maxEpochsPct: Long): DataFrame = {
    val per = perSource
      .filter(col("n_tokens") > 0)
      .withColumn("w_fp",
        floor(sqrt(col("n_tokens").cast("double")) * 1e6 + 0.5).cast("long"))
      .withColumn("cap_tokens", expr(s"n_tokens * $maxEpochsPct div 100"))
    val tot = per.agg(sum(col("n_tokens")).as("t_tokens"),
                      sum(col("w_fp")).as("t_w"))
    val byR = Window.orderBy(col("r_fp"), col("source"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = per.crossJoin(broadcast(tot))
      .withColumn("budget", expr(s"t_tokens * $budgetPct div 100"))
      .withColumn("r_fp", expr(
        // ×10⁶ pushes cap·10⁶ past BIGINT at ~10¹³ tokens — 128-bit like
        // the capped test (BIGINT again after the div: r ≤ cap·10⁶/1)
        "CAST(CAST(cap_tokens AS DECIMAL(38,0)) * 1000000 div w_fp AS DECIMAL(38,0))"))
      .withColumn("cap_before",
        coalesce(sum(col("cap_tokens")).over(byR), lit(0L)))
      .withColumn("w_from",
        col("t_w") - coalesce(sum(col("w_fp")).over(byR), lit(0L)))
      .withColumn("capped", expr(
        """CAST(budget - cap_before AS DECIMAL(38,0)) * w_fp
           >= CAST(cap_tokens AS DECIMAL(38,0)) * w_from"""))
    val resid = ranked.agg(
      sum(when(col("capped"), col("cap_tokens")).otherwise(0L))
        .as("cap_spent"),
      sum(when(!col("capped"), col("w_fp")).otherwise(0L)).as("w_open"))
    ranked.crossJoin(broadcast(resid))
      .withColumn("plan_tokens", expr(
        // greatest(w_open, 1): unused when every source capped (the only
        // w_open = 0 case) — the branch never evaluates, the guard only
        // keeps ANSI division happy on both engines
        """CASE WHEN capped THEN cap_tokens
           ELSE CAST(CAST(budget - cap_spent AS DECIMAL(38,0)) * w_fp
                     div greatest(w_open, 1L) AS BIGINT) END"""))
      .withColumn("epochs_ppm", expr(
        "CAST(CAST(plan_tokens AS DECIMAL(38,0)) * 1000000 div n_tokens AS BIGINT)"))
      .withColumn("budget_share_ppm", expr(
        "CAST(CAST(plan_tokens AS DECIMAL(38,0)) * 1000000 div budget AS BIGINT)"))
      .select("source", "n_tokens", "w_fp", "cap_tokens", "capped",
              "plan_tokens", "epochs_ppm", "budget_share_ppm")
  }

  /** APPLIES the mix plan ([[mixSolve]]) — the step between the solver's
    * per-source token allocation and an actual training manifest: each
    * source's plan decomposes into FULL epochs (plan div n — every doc,
    * repeated) plus a PARTIAL epoch filled deterministically by
    * salted-md5 order (the [[sampleTokenBudget]] fill, salt "mix") up to
    * plan mod n tokens. The output is the per-source epoch table a run
    * config consumes: how many full passes, how many docs and tokens of
    * the fractional pass, and the realized fill ratio in ppm (< 10⁶ only
    * by the granularity of the boundary document — the solver's token
    * budget cannot always be hit exactly by whole docs).
    *
    * Scale shape: the plan is the solver's own |sources|-row frame
    * (shared code — apply and plan cannot disagree) and BROADCASTS onto
    * the one corpus pass the partial fill needs: a per-source cumulative
    * window (sort within source partitions, never global), then a
    * partial-agg'd per-source count. Two corpus scans total (solver
    * totals + fill), both shuffle-bounded by |sources| output rows.
    */
  def sampleMixApply(docs: DataFrame, budgetPct: Long = 120,
                     maxEpochsPct: Long = 150): DataFrame = {
    val plan = mixSolve(docs, budgetPct, maxEpochsPct)
      .select("source", "n_tokens", "plan_tokens")
    val w = Window.partitionBy("source")
      .orderBy(hashUniform("mix", col("doc_id")), col("doc_id"))
    val ranked = docs
      .withColumn("n_toks", TextOps.tokenCount(col("text")))
      .withColumn("cum_tokens",
        sum(col("n_toks")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .select("source", "n_toks", "cum_tokens")
    val partial = ranked.join(broadcast(plan), Seq("source"))
      .filter(col("cum_tokens") <= expr("plan_tokens % n_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept_partial"),
           sum(col("n_toks")).as("kept_tokens_partial"))
    plan.join(partial, Seq("source"), "left")
      .withColumn("n_kept_partial",
        coalesce(col("n_kept_partial"), lit(0L)))
      .withColumn("kept_tokens_partial",
        coalesce(col("kept_tokens_partial"), lit(0L)))
      .withColumn("full_epochs", expr("plan_tokens div n_tokens"))
      .withColumn("sampled_tokens",
        expr("full_epochs * n_tokens + kept_tokens_partial"))
      .withColumn("plan_fill_ppm", expr(
        // sampled ~10¹⁴ × 10⁶ overflows BIGINT — 128-bit like the solver;
        // greatest(plan, 1): a zero plan row cannot occur with sane
        // params (budget > 0 ⇒ every uncapped share > 0, caps > 0), the
        // guard only keeps ANSI division total on both engines
        """CAST(CAST(sampled_tokens AS DECIMAL(38,0)) * 1000000
           div greatest(plan_tokens, 1L) AS BIGINT)"""))
      .select("source", "n_tokens", "plan_tokens", "full_epochs",
              "n_kept_partial", "kept_tokens_partial", "sampled_tokens",
              "plan_fill_ppm")
  }

  /** Temperature-weighted source sampling — the training-mix step that
    * up-weights small sources and down-weights dominant ones: source i
    * gets sampling mass ∝ n_i^α with α = 1/2 (the "temperature"; α = 1 is
    * proportional, α → 0 uniform). α is fixed at 1/2 because `sqrt` is
    * correctly rounded under IEEE-754 in BOTH engines while `pow(x, 0.7)`
    * is only within 1 ulp in Java — the same cross-engine determinism rule
    * the kmeans fixed-point design follows. All derived quantities are
    * integer: weights are `floor(sqrt(n)·10⁶ + 0.5)` longs, shares and
    * per-source budgets integer floor-divisions of exact sums, and the
    * sample decision compares a salted-md5 ppm draw against an integer
    * rate — no double ever crosses an engine boundary.
    *
    * Scale shape: two source-keyed partial aggs over the corpus (counts,
    * then sampled counts) + broadcast of the per-source rate table
    * (|sources| rows); the Σ weight scalar rides the same broadcast
    * crossJoin as tfidf's n_sources. No window, no global sort.
    */
  def sampleTemperature(docs: DataFrame, budgetDocs: Long): DataFrame = {
    val per = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("w_fp",
        floor(sqrt(col("n_docs").cast("double")) * 1e6 + 0.5).cast("long"))
    val tot = per.agg(sum(col("w_fp")).as("w_total"))
    val rates = per.crossJoin(broadcast(tot))
      .withColumn("share_ppm", expr("w_fp * 1000000 div w_total"))
      .withColumn("target_docs", expr(s"${budgetDocs}L * w_fp div w_total"))
      .withColumn("rate_ppm",
        least(lit(1000000L), expr("target_docs * 1000000 div n_docs")))
    val sampled = docs
      .withColumn("u_ppm", hashUniform("temp", col("doc_id")) % 1000000L)
      .join(broadcast(rates.select("source", "rate_ppm")), Seq("source"))
      .groupBy("source")
      .agg(sum(when(col("u_ppm") < col("rate_ppm"), 1L).otherwise(0L))
        .as("n_sampled"))
    rates.join(sampled, Seq("source"))
      .select("source", "n_docs", "share_ppm", "target_docs", "rate_ppm",
              "n_sampled")
  }

  /** Token-budget subsetting: keep, per source, the deterministic
    * salted-md5-ordered prefix of documents whose cumulative token count
    * stays within `budgetTokens` — "give me N tokens per source" — the
    * step that cuts a 100 TB corpus down to a training budget while
    * staying reproducible across runs and engines (the hash order IS the
    * sample; re-running selects the same documents). Returns the
    * per-source summary (kept docs / kept tokens / budget fill in ppm);
    * the kept set itself is the filtered frame upstream of the summary.
    *
    * Scale shape: one window partitioned BY SOURCE (parallel across
    * sources, no global sort) computing the running token sum in hash
    * order, then a partial-agg'd groupBy. With few, huge sources the
    * window key skews; the production variant then two-passes it: a
    * per-source histogram of the hash space picks an approximate cutoff
    * hash (one scan), and only the boundary bucket — corpus/nBuckets rows
    * — pays the exact running sum.
    */
  def sampleTokenBudget(docs: DataFrame, budgetTokens: Long): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(hashUniform("budget", col("doc_id")), col("doc_id"))
    docs
      .withColumn("n_tokens", TextOps.tokenCount(col("text")))
      .withColumn("cum_tokens",
        sum(col("n_tokens")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("cum_tokens") <= budgetTokens)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"),
           sum(col("n_tokens")).as("kept_tokens"))
      .withColumn("budget_fill_ppm",
        expr(s"kept_tokens * 1000000 div ${budgetTokens}L"))
  }

  /** Exact-count per-group sample: the k documents with the smallest
    * salted-md5 rank within each group — "take k docs per language", the
    * balanced-subset complement of rate-based [[sampleStratified]]. The
    * window partitions by group, so no global sort; ties cannot occur
    * (doc_id breaks them).
    */
  def samplePerGroup(docs: DataFrame, groupCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(groupCol)
      .orderBy(hashUniform("pick", col("doc_id")), col("doc_id"))
    docs
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col(groupCol), col("doc_id"), col("rk"))
  }

  /** DSIR-style importance weighting (Data Selection via Importance
    * Resampling, Xie et al. 2023, arXiv:2302.03169): score every RAW
    * document by how much more likely its hashed-n-gram bag is under a
    * small TARGET distribution (the curated/high-quality slice a
    * pretraining run wants more of) than under the raw corpus itself —
    * log w(x) = Σ_grams [log p̂(bucket) − log q̂(bucket)], add-1 smoothed.
    * Positive weight ⇒ the doc reads target-like; a selection pass keeps
    * the top mass. This is the principled form of "quality filtering
    * toward a reference corpus", vs the absolute gates (CleanGate,
    * doc_lm_score) that score documents in isolation.
    *
    * Determinism (the doc_lm_score discipline): everything integer.
    * Grams (unigrams + bigrams) hash into `buckets` cells via the md5
    * slice idiom; per-bucket log terms are `⌊ln(integer)·10⁶ + 0.5⌋`
    * fixed-point longs (each ln's argument is an exact integer — the
    * zipf-slope pattern, green across engines since r9), and per-doc
    * weights are SUMS of those longs — no float ever crosses an engine
    * boundary unrounded, no accumulation-order sensitivity.
    *
    * Scale shape: ONE raw-corpus scan. The gram stream (~2× tokens,
    * map-side explode + md5) collapses immediately into per-doc bucket
    * HISTOGRAMS — ≤ `buckets` rows per doc, partial-combined before any
    * exchange — and that small (doc_id, b, cnt) frame is materialized
    * once (Barriers): it is strictly SMALLER than the corpus text, so
    * staging it beats re-scanning parquet and re-hashing every gram for
    * the second pass (the opposite trade from staging raw grams, which
    * are larger than the text). The corpus histogram q sums it
    * (B-bounded state, B ≪ corpus — the paper uses 10⁴ buckets at web
    * scale); the target side is eval/curated-slice-sized and pays one
    * small scan; the B-row delta table then broadcasts back onto the
    * staged histograms for the weight sum. No window, no global sort,
    * no corpus-sized shuffle or broadcast anywhere.
    */
  def dsirWeights(raw: DataFrame, target: DataFrame,
                  buckets: Int = 64): DataFrame = {
    val rawB = Barriers.materialize(
      gramBuckets(raw, buckets).groupBy("doc_id", "b")
        .agg(count(lit(1)).as("cnt")))
    val delta = dsirDelta(rawB.groupBy("b").agg(sum(col("cnt")).as("cq")),
                          target, buckets)
    rawB.join(broadcast(delta), Seq("b"))
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_grams"),
           sum(col("cnt") * col("delta_fp")).as("weight_fp"))
      .withColumn("w_per_gram_fp", expr("weight_fp div n_grams"))
      .withColumn("target_like", col("weight_fp") > 0)
  }

  /** Grams (unigrams + bigrams) exploded with their md5-slice hash
    * bucket — the DSIR feature stream, shared by the batch weights and
    * the streaming twin's delta fit.
    */
  private[graft] def gramBuckets(d: DataFrame, buckets: Int): DataFrame = {
    val t = d.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    t.select(col("doc_id"),
        explode(concat(col("toks"), TextOps.shingles(col("toks"), 2)))
          .as("gram"))
      .withColumn("b",
        conv(substring(md5(col("gram")), 1, 6), 16, 10).cast("long")
          % buckets)
  }

  /** The fitted per-bucket log-ratio table (b, delta_fp) from a raw
    * bucket histogram `q` (b, cq) and the TARGET slice — exactly
    * `buckets` rows (absent buckets still carry their smoothed terms).
    * Split out of [[dsirWeights]] so the streaming twin can fit the same
    * table from the static corpus and fold it to a scoring literal.
    */
  private[graft] def dsirDelta(q: DataFrame, target: DataFrame,
                               buckets: Int): DataFrame = {
    val p = gramBuckets(target, buckets).groupBy("b")
      .agg(count(lit(1)).as("cp"))
    val allB = q.sparkSession.range(buckets).toDF("b")
    val counts = allB
      .join(p, Seq("b"), "left").na.fill(0L, Seq("cp"))
      .join(q, Seq("b"), "left").na.fill(0L, Seq("cq"))
    val tots = counts.agg(sum(col("cp")).as("np"), sum(col("cq")).as("nq"))
    def lnFp(c: Column): Column =
      floor(log(c.cast("double")) * 1e6 + 0.5).cast("long")
    counts.crossJoin(broadcast(tots))
      .withColumn("delta_fp",
        (lnFp(col("cp") + 1) - lnFp(col("np") + buckets))
          - (lnFp(col("cq") + 1) - lnFp(col("nq") + buckets)))
      .select("b", "delta_fp")
  }

  /** The DSIR SELECTION step (Xie et al. 2023 §3, the resample half of
    * [[dsirWeights]]): keep the documents carrying the top importance
    * mass under a token budget. Docs are ranked by (weight_fp DESC,
    * salted-md5 tiebreak, doc_id) — the tiebreak is the paper's "sample
    * without replacement" made deterministic, so equal-weight docs are
    * admitted in a reproducible hash order, not a partition-dependent
    * one — and a doc is kept iff its exact cumulative token count in
    * that order fits `budgetTokens` (the [[sampleTokenBudget]] prefix
    * rule pointed at the weight ordering). Emits the full per-doc
    * verdict (doc_id, weight_fp, n_tokens, cum_tokens, kept); the kept
    * corpus is the `kept` filter upstream of the writer.
    *
    * Scale shape — the global running sum WITHOUT a global single-
    * partition window: weights coarsen into ~2²⁰-wide cells
    * (`weight_fp div 2^20`; truncating div is monotone, so cell order
    * equals weight order), per-cell token totals aggregate map-side,
    * the |cells|-row running offset table broadcasts back, and each
    * doc's exact cumulative sum = its cell's offset + a running sum
    * over a window PARTITIONED BY CELL — parallelism is the cell count
    * and no corpus-wide sort exists. This is [[sampleTokenBudget]]'s
    * documented "two-pass histogram" production variant implemented,
    * not just noted: the one-partition `Window.orderBy(weight)` form
    * would serialize the corpus through a single task.
    */
  def dsirSelect(raw: DataFrame, target: DataFrame, budgetTokens: Long,
                 buckets: Int = 64): DataFrame = {
    val cellWidth = 1L << 20
    val scored = Barriers.materialize(
      dsirWeights(raw, target, buckets).select("doc_id", "weight_fp")
        .join(raw.select(col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_tokens")),
          Seq("doc_id"))
        .withColumn("cell", expr(s"weight_fp div ${cellWidth}L")))
    // |cells| is bounded by weight range / 2^20 (hundreds at the declared
    // corpora) — the running offset is a window over CELLS, not docs; the
    // constant pmod key is the vocabGrowth idiom (one partition is the
    // point, the non-foldable key only silences WindowExec's warning)
    val cellOffsets = scored.groupBy("cell")
      .agg(sum(col("n_tokens")).as("cell_tokens"))
      .withColumn("tokens_before",
        coalesce(sum(col("cell_tokens")).over(
          Window.partitionBy(pmod(col("cell"), lit(1)))
            .orderBy(col("cell").desc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("cell", "tokens_before")
    val inCell = Window.partitionBy("cell")
      .orderBy(col("weight_fp").desc,
               hashUniform("dsirsel", col("doc_id")), col("doc_id"))
    scored
      .join(broadcast(cellOffsets), Seq("cell"))
      .withColumn("cum_tokens",
        col("tokens_before") + sum(col("n_tokens")).over(
          inCell.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("kept", col("cum_tokens") <= budgetTokens)
      .select("doc_id", "weight_fp", "n_tokens", "cum_tokens", "kept")
  }

  /** Sequence packing: shard-local contiguous packing of documents into
    * fixed-capacity token sequences — the batch-construction step of a
    * training pipeline. Docs are ordered deterministically within their
    * shard; a doc's sequence is the one its starting token offset falls in
    * (continuation/truncation of stragglers is the consumer's policy).
    * The window partitions by shard, so packing parallelizes with the
    * shard count instead of requiring a global sort.
    */
  def packSequences(docs: DataFrame, capacityTokens: Int,
                    nShards: Int): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("doc_id")
    docs
      .withColumn("n_tokens",
        TextOps.tokenCount(col("text")))
      .withColumn("shard", hashUniform("shard", col("doc_id")) % nShards)
      .withColumn("start_offset",
        coalesce(sum(col("n_tokens")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("seq_id", expr(s"start_offset div $capacityTokens"))
      .groupBy("shard", "seq_id")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tokens")).as("sum_tokens"))
  }

  /** Packing-efficiency REPORT for [[packSequences]] — the sign-off a
    * training engineer reads before shipping packed shards. The pack
    * model is concatenate-and-chunk (GPT-style: documents stream into
    * fixed-capacity sequences, a document may span a boundary), so there
    * is no per-sequence padding — the two numbers that matter are:
    * TAIL waste (each shard's final partial sequence: n_seqs·capacity −
    * total_tokens, in ppm of the shard's sequence capacity) and
    * FRAGMENTATION (documents whose token span crosses a sequence
    * boundary — the docs that get truncated context or cross-doc
    * attention contamination, in ppm of the shard's docs). Zero-token
    * docs cannot cross a boundary and are excluded from the split count
    * (their span is empty), but they do count as docs.
    *
    * Scale shape: the SAME per-shard offset window as [[packSequences]]
    * (sorts inside shard partitions, never global) followed by one
    * partial-agg'd per-shard aggregate; the waste/split arithmetic runs
    * on the |shards|-row frame. All integer: waste < capacity, so every
    * ppm term fits BIGINT outright.
    */
  def packReport(docs: DataFrame, capacityTokens: Int,
                 nShards: Int): DataFrame = {
    val cap = capacityTokens.toLong
    val w = Window.partitionBy("shard").orderBy("doc_id")
    docs
      .withColumn("n_tokens", TextOps.tokenCount(col("text")))
      .withColumn("shard", hashUniform("shard", col("doc_id")) % nShards)
      .withColumn("start_offset",
        coalesce(sum(col("n_tokens")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("splits", expr(
        s"""CASE WHEN n_tokens > 0 AND
             (start_offset + n_tokens - 1) div $cap != start_offset div $cap
           THEN 1L ELSE 0L END"""))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tokens")).as("total_tokens"),
           sum(col("splits")).as("n_docs_split"))
      .withColumn("n_seqs",
        expr(s"(total_tokens + ${cap - 1}) div $cap"))
      .withColumn("tail_waste_tokens",
        expr(s"n_seqs * ${cap}L - total_tokens"))
      .withColumn("waste_ppm", expr(
        // greatest(..., 1): an all-zero-token shard has n_seqs = 0; the
        // guard keeps ANSI division total (waste is 0 there anyway)
        s"tail_waste_tokens * 1000000 div greatest(n_seqs * ${cap}L, 1L)"))
      .withColumn("split_ppm", expr("n_docs_split * 1000000 div n_docs"))
      .select("shard", "n_docs", "total_tokens", "n_seqs",
              "tail_waste_tokens", "waste_ppm", "n_docs_split", "split_ppm")
  }

  /** Deterministic shard assignment for training output: shard =
    * md5-uniform(doc_id) mod nShards. Returns per-shard stats; the write
    * path at scale is `repartition(nShards, col("shard")).write` so each
    * task produces exactly one shard file.
    */
  def shardAssign(docs: DataFrame, nShards: Int): DataFrame =
    docs
      .withColumn("shard", hashUniform("shard", col("doc_id")) % nShards)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars")).cast("long").as("sum_chars"))

  // ---- PII scrubbing ---------------------------------------------------

  /** Patterns chosen to behave identically under Java regex (Spark) and
    * RE2 (DuckDB): no backreferences, no lookaround.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe   = "https?://[^\\s]+"

  /** Redact emails and URLs (URLs first — an email never contains `://`,
    * but a URL may contain an `@`), returning per-doc match counts and the
    * md5 of the scrubbed text (the scrubbed corpus is written, not
    * collected; the hash is the parity-checkable witness). `n_emails` is
    * counted on the URL-redacted text so an email embedded in a URL —
    * which the redaction pass replaces as `<URL>`, not `<EMAIL>` — is not
    * overcounted: the counts are exactly the redactions performed. Pure
    * per-row projection — codegen'd, no shuffle.
    */
  def piiScrub(docs: DataFrame): DataFrame = {
    val urlScrubbed = regexp_replace(col("text"), UrlRe, "<URL>")
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(urlScrubbed, lit(EmailRe), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(col("text"), lit(UrlRe), lit(0)))
        .cast("long").as("n_urls"),
      md5(regexp_replace(urlScrubbed, EmailRe, "<EMAIL>"))
        .as("scrubbed_hash"))
  }

  // ---- train/valid/test split -----------------------------------------

  /** Deterministic 80/10/10 train/valid/test assignment by salted hash —
    * the split must be a pure function of the document id (reproducible
    * across runs, partitionings and engines; a new doc joining the corpus
    * cannot reshuffle anyone else's split, which `rand()` or any
    * row-number scheme would). Emits the per-(source, split) audit with
    * doc and token counts; the split corpus itself is the upstream frame
    * partitioned-by-`split` write.
    */
  def corpusSplit(docs: DataFrame): DataFrame =
    withSplit(docs)
      .withColumn("n_toks", TextOps.tokenCount(col("text")))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))

  /** The one split-assignment definition (salted-hash 80/10/10), shared
    * by the audit ([[corpusSplit]]) and the leakage check
    * ([[splitLeakage]]) so the two can never disagree on who is train.
    */
  private def withSplit(docs: DataFrame): DataFrame = {
    val u = hashUniform("split", col("doc_id")) % 100
    docs.withColumn("split",
      when(u < 80, lit("train")).when(u < 90, lit("valid"))
        .otherwise(lit("test")))
  }

  /** Post-split eval-leakage audit: train documents sharing ≥ `minShared`
    * distinct 3-gram shingles with any valid/test document of the SAME
    * corpus — the check a pipeline runs after [[corpusSplit]] to catch
    * near-duplicates straddling the split boundary (exactly the rows a
    * pre-split dedup pass should have collapsed; a nonzero report means
    * eval metrics are inflated by memorization). One row per leaking
    * (train, heldout) pair with the shared-shingle count and the heldout
    * doc's split.
    *
    * Scale shape — deliberately NOT [[TextOps.contamination]]'s broadcast
    * form: the heldout side here is 20% OF THE CORPUS, not a bounded eval
    * suite, so broadcasting it is wrong at 100 TB. Both sides instead
    * meet in a shingle EQUI-join over the df-capped distinct
    * (doc, split, shingle) index (the winnowedPairs/ngramJaccard blocked
    * geometry): every shuffle keyed, per-shingle fan-out bounded by
    * `maxDf`, never an n·m stage.
    */
  def splitLeakage(docs: DataFrame, minShared: Int = 3,
                   maxDf: Int = 128): DataFrame = {
    val sh = Barriers.materialize(withSplit(docs)
      .select(col("doc_id"), col("split"),
        explode(array_distinct(
          TextOps.shingles(TextOps.tokens(col("text")), 3))).as("sh")))
    val rare = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("sh")
    val kept = Barriers.materialize(sh.join(rare, Seq("sh")))
    kept.filter(col("split") === "train").alias("t")
      .join(kept.filter(col("split") =!= "train").alias("h"),
        col("t.sh") === col("h.sh"))
      .groupBy(col("t.doc_id").as("train_doc"),
               col("h.doc_id").as("heldout_doc"),
               col("h.split").as("heldout_split"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** APPLY the leakage verdict — the audit→apply arc every gate family
    * follows (quality_percentile_gate → quality_gate_drop_list): each
    * train document [[splitLeakage]] catches leaking into a heldout split
    * is QUARANTINED — re-assigned to the heldout doc's split, so the pair
    * evaluates together instead of train memorizing eval. A doc leaking
    * into several heldout docs moves once, deterministically: the
    * destination is the heldout split of the STRONGEST leak
    * (max n_shared; ties prefer 'valid' — max(struct) string order — so
    * the rule is a pure function of the audit, reproducible across
    * engines). Split assignment and leak detection are the ONE shared
    * [[withSplit]] / [[splitLeakage]], so audit and apply cannot disagree.
    *
    * Emits the post-quarantine per-(source, split) audit —
    * [[corpusSplit]]'s shape plus `n_quarantined_in`, the docs that
    * ARRIVED in each split by quarantine — so before/after composition
    * reads off one report.
    *
    * Scale shape: the leakage audit (all keyed, df-capped) + one
    * (train_doc)-keyed max-struct partial agg over its output (≪ corpus) +
    * one doc-keyed LEFT join of that small move table against the corpus +
    * the partial-agg'd groupBy — no window, no new unkeyed stage.
    */
  def splitQuarantine(docs: DataFrame, minShared: Int = 3,
                      maxDf: Int = 128): DataFrame =
    quarantinedSplit(docs, minShared, maxDf)
      .withColumn("n_toks", TextOps.tokenCount(col("text")))
      .groupBy(col("source"), col("final_split").as("split"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_toks")).as("n_tokens"),
           sum(when(col("moved"), 1L).otherwise(0L)).as("n_quarantined_in"))

  /** The doc-level quarantine assignment behind [[splitQuarantine]] —
    * every input row plus `split` (the raw hash assignment), `new_split`
    * (the quarantine destination, null when not moved), `moved`, and
    * `final_split`. Split out so the release capstone
    * ([[CorpusPipeline.prepareRelease]]) can shard the post-quarantine
    * corpus doc-by-doc while the audit keeps its aggregated shape — one
    * assignment definition, two consumers.
    */
  private[operators] def quarantinedSplit(docs: DataFrame,
                                          minShared: Int = 3,
                                          maxDf: Int = 128): DataFrame = {
    val moves = splitLeakage(docs, minShared, maxDf)
      .groupBy(col("train_doc").as("doc_id"))
      .agg(max(struct(col("n_shared"), col("heldout_split"))).as("m"))
      .select(col("doc_id"), col("m.heldout_split").as("new_split"))
    withSplit(docs)
      .join(moves, Seq("doc_id"), "left")
      .withColumn("moved", col("new_split").isNotNull)
      .withColumn("final_split", coalesce(col("new_split"), col("split")))
  }

  // ---- domain blocklist ------------------------------------------------

  /** Domain/URL blocklist filter — the standard corpus-prep gate that
    * drops pages from known-bad hosts before any content-level filtering
    * runs. Takes any frame with a `url` column, extracts the host
    * (`scheme://host[:port]/...` — port/path/query stripped), reduces it
    * to the registrable domain (last two dot-labels, so `www.`/CDN
    * subdomains can't dodge the list; production deployments substitute
    * the Public Suffix List here, which is a data-file swap, not a shape
    * change), and verdicts each row against the blocklist. Everything is
    * `regexp_extract` + a broadcast hash join — no UDF, stays in codegen.
    *
    * Returns the per-domain audit (domain, action kept|dropped, n_docs);
    * the kept row set itself is the `dropped IS NULL` frame upstream of
    * the final groupBy — at 100 TB the audit is what comes back to the
    * driver while the kept corpus is written out.
    */
  val HostRe = "^[a-z][a-z0-9+.-]*://([^/:?#]+)"
  val RegistrableRe = "([^.]+\\.[^.]+)$"
  def domainBlocklist(pages: DataFrame, blocked: Seq[String]): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    val deny = blocked.toDF("domain").withColumn("dropped", lit(true))
    pages
      .withColumn("domain",
        regexp_extract(regexp_extract(lower(col("url")), HostRe, 1),
          RegistrableRe, 1))
      .join(broadcast(deny), Seq("domain"), "left")
      .groupBy(col("domain"),
        when(col("dropped"), lit("dropped")).otherwise(lit("kept"))
          .as("action"))
      .agg(count(lit(1)).as("n_docs"))
  }

  // ---- TF-IDF ----------------------------------------------------------

  /** Top-N terms per source by TF-IDF (tf = term count within the source,
    * df = number of sources containing the term, idf = ln(nSources/df)).
    *
    * Shape: one explode + two hash aggregations (both map-side partial),
    * the single-row source count broadcast, then a per-source top-N window
    * over the scored terms — the window partitions by source, so no global
    * sort. Ordering ties break on the rounded score then the token, which
    * keeps ranks identical across engines.
    */
  def tfidfTopTerms(docs: DataFrame, topN: Int): DataFrame = {
    val tok = docs.select(col("source"),
      explode(TextOps.tokens(col("text"))).as("token"))
    val tf = tok.groupBy("source", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val nSrc = docs.agg(countDistinct(col("source")).as("n_sources"))
    val w = Window.partitionBy("source")
      .orderBy(col("tfidf").desc, col("token"))
    tf.join(df, Seq("token"))
      .crossJoin(broadcast(nSrc))
      .withColumn("tfidf", round(
        col("tf") * log(col("n_sources").cast("double") / col("df").cast("double")),
        6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topN)
      .select("source", "token", "tf", "df", "tfidf", "rank")
  }
}
