package graft

import java.security.MessageDigest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.CorpusOps

class CorpusOpsSpec extends AnyFunSuite {
  lazy val spark = Spec.spark
  import spark.implicits._

  test("keepBestPerCluster keeps the longest doc per cluster, ties by id") {
    val assign = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 4L), (5L, 4L))
      .toDF("doc_id", "cluster_id")
    val docs = Seq((1L, 10L), (2L, 20L), (3L, 5L), (4L, 7L), (5L, 7L))
      .toDF("doc_id", "n_chars")
    val got = CorpusOps.keepBestPerCluster(assign, docs)
      .select("doc_id", "keeper_id", "dropped")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got == Set(
      (1L, 2L, true), (2L, 2L, false),      // longest wins
      (3L, 3L, false),                      // singleton keeps itself
      (4L, 4L, false), (5L, 4L, true)))     // length tie -> lowest id
  }

  /** Driver-side reference: union-find over the collected edges, every
    * id (node or edge endpoint) mapped to its component's minimum id,
    * restricted to `nodes` — the rows connectedComponents returns.
    */
  private def unionFindLabels(nodes: Seq[Long],
                              edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    // union by min root: every root is its component's minimum id
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    nodes.map(n => n -> find(n)).toMap
  }

  test("connected components resolve chains, not just direct pairs") {
    val nodes = (1L to 6L).toDF("doc_id")
    // 1-2, 2-3 chain; 5-6 pair; 4 singleton
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val got = CorpusOps.connectedComponents(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L))
  }

  test("connected components handle a long path (diameter > 2)") {
    val n = 8
    val nodes = (1L to n.toLong).toDF("doc_id")
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong))
      .toDF("doc_a", "doc_b")
    val got = CorpusOps.connectedComponents(nodes, edges)
      .as[(Long, Long)].collect()
    assert(got.forall(_._2 == 1L))
  }

  test("components converge within the doubling bound, throw below it") {
    val n = 6
    val nodes = (1L to n.toLong).toDF("doc_id")
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong))
      .toDF("doc_a", "doc_b")
    // contraction + jump: the diameter-5 ordered chain needs round 1 plus
    // exactly 3 contraction rounds (reach doubles per round); maxIter
    // bounds the contraction rounds, so 3 passes and 2 must throw
    // (correct labels + throw = bug; wrong labels + no throw = worse)
    val got = CorpusOps.connectedComponents(nodes, edges, maxIter = 3)
      .as[(Long, Long)].collect()
    assert(got.forall(_._2 == 1L))
    intercept[IllegalStateException] {
      CorpusOps.connectedComponents(nodes, edges, maxIter = 2)
    }
    val ref = unionFindLabels((1L to n.toLong),
      (1 until n).map(i => (i.toLong, (i + 1).toLong)))
    assert(got.toMap == ref)
  }

  test("contraction components: random-id chain converges in O(log n) " +
       "rounds and matches a union-find reference") {
    // random id placement along a chain is the shape pointer jumping
    // cannot accelerate (r19 probe: ~40-70 rounds for 200 nodes under any
    // jump depth); contraction merges at every local minimum, so the
    // graph collapses geometrically — maxIter 10 must cover 200 nodes
    val rnd = new scala.util.Random(7)
    val ids = rnd.shuffle((1L to 200L).toVector)
    val nodes = ids.toDF("doc_id")
    val pairs = (0 until 199).map(i => (ids(i), ids(i + 1)))
    val edges = pairs.toDF("doc_a", "doc_b")
    val got = CorpusOps.connectedComponents(nodes, edges, maxIter = 10)
      .as[(Long, Long)].collect().toMap
    assert(got.size == 200 && got.values.forall(_ == 1L))
    assert(got == unionFindLabels(ids, pairs))
  }

  test("contraction components: a foreign edge endpoint conducts " +
       "connectivity without dropping rows") {
    // endpoint 0 is absent from nodes; 5-0 and 0-9 still connect 5 and 9,
    // and the foreign min id becomes the component label (the defined
    // tolerance the scaladoc states; the jump lookup is a left join so
    // no node's row is lost)
    val nodes = Seq(5L, 9L, 12L).toDF("doc_id")
    val pairs = Seq((5L, 0L), (0L, 9L))
    val edges = pairs.toDF("doc_a", "doc_b")
    val got = CorpusOps.connectedComponents(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(5L -> 0L, 9L -> 0L, 12L -> 12L))
    assert(got == unionFindLabels(Seq(5L, 9L, 12L), pairs))
  }

  test("pointer jumping: a 1000-hop chain converges in O(log d) rounds") {
    // the r11 sf1 rehearsal regression: a percolated giant component's
    // diameter blew past hop-by-hop propagation's 20-round cap. Doubling
    // covers 2^maxIter hops — a 1000-node path must finish well inside
    // maxIter = 15 (neighbor-only propagation would need 999 rounds).
    val n = 1000
    val nodes = (1L to n.toLong).toDF("doc_id")
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong))
      .toDF("doc_a", "doc_b")
    val got = CorpusOps.connectedComponents(nodes, edges, maxIter = 15)
      .as[(Long, Long)].collect()
    assert(got.length == n && got.forall(_._2 == 1L))
  }

  test("connected components tolerate empty edges and an empty corpus") {
    val nodes = Seq(7L, 9L).toDF("doc_id")
    val noEdges = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val singletons = CorpusOps.connectedComponents(nodes, noEdges)
      .as[(Long, Long)].collect().toMap
    assert(singletons == Map(7L -> 7L, 9L -> 9L))
    val empty = CorpusOps.connectedComponents(
      Seq.empty[Long].toDF("doc_id"), noEdges)
    assert(empty.count() == 0L)
  }

  test("dsirSelect: decomposed cell-offset sum equals the straight " +
       "global running sum, and kept is exactly the budget prefix") {
    // two text populations so weights spread across several 2^20 cells;
    // target = the alpha-ish slice
    val docs = (1L to 40L).map { i =>
      val t = if (i % 4 == 0)
        s"alpha beta gamma delta epsilon zeta eta theta extra$i"
      else s"zz$i yy$i xx$i ww$i vv$i uu$i tt$i"
      (i, "en", "s", t.length.toLong, t)
    }.toDF("doc_id", "lang", "source", "n_chars", "text")
    val target = docs.filter(col("doc_id") % 4 === 0)
    val budget = 120L
    val got = CorpusOps.dsirSelect(docs, target, budget, buckets = 16)
      .as[(Long, Long, Long, Long, Boolean)].collect()
    assert(got.length == 40)
    // brute force: (weight DESC, salted-md5 u, doc_id) straight prefix
    def u(id: Long): Long = {
      val hex = MessageDigest.getInstance("MD5")
        .digest(s"dsirsel:$id".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16)
    }
    val ordered = got.sortBy { case (id, w, _, _, _) => (-w, u(id), id) }
    var cum = 0L
    ordered.foreach { case (id, _, nTok, cumGot, kept) =>
      cum += nTok
      assert(cumGot == cum, s"cum drift at doc $id: $cumGot vs $cum")
      assert(kept == (cum <= budget), s"verdict drift at doc $id")
    }
    // the budget actually splits the corpus (guards a degenerate fixture)
    val nKept = got.count(_._5)
    assert(nKept > 0 && nKept < 40, s"degenerate split: $nKept kept")
  }

  test("winnowedDropList: transitive winnowed pairs collapse to one " +
       "keeper (longest doc), singletons keep themselves") {
    val shared = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight"
    val docs = Seq(
      (1L, shared + " tail one"),
      (2L, shared + " tail two is the longest of them all here"),
      (3L, shared),
      (4L, "completely different words nothing shared here at all " +
           "rather unique phrasing throughout the entire document body")
    ).map { case (i, t) => (i, "en", "s", t.length.toLong, t) }
      .toDF("doc_id", "lang", "source", "n_chars", "text")
    val got = CorpusOps.winnowedDropList(docs)
      .select("doc_id", "cluster_id", "keeper_id", "dropped")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // 1,2,3 share a >= w+k-1 token run -> certainly pair -> one cluster
    // labeled by its min id; keeper = 2 (longest, no tie)
    assert(got(1L) == ((1L, 2L, true)))
    assert(got(2L) == ((1L, 2L, false)))
    assert(got(3L) == ((1L, 2L, true)))
    assert(got(4L) == ((4L, 4L, false)))
  }

  test("winnowedSavings equals the savings aggregation recomputed from " +
       "the winnowed drop list") {
    val shared = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight"
    val docs = Seq(
      (1L, "alpha", shared + " tail one"),
      (2L, "alpha", shared + " tail two is the longest of them all here"),
      (3L, "beta", shared),
      (4L, "beta", "completely different words nothing shared here at " +
                   "all rather unique phrasing throughout the document")
    ).map { case (i, src, t) => (i, "en", src, t.length.toLong, t) }
      .toDF("doc_id", "lang", "source", "n_chars", "text")
    val got = CorpusOps.winnowedSavings(docs)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // recompute from the verdict + whitespace token counts
    val verdict = CorpusOps.winnowedDropList(docs)
      .select("doc_id", "dropped").as[(Long, Boolean)].collect().toMap
    val toks = docs.select($"doc_id", $"source",
        size(split($"text", "\\s+")).cast("long")) // texts have no leading ws
      .as[(Long, String, Long)].collect()
    Seq("alpha", "beta").foreach { src =>
      val mine = toks.filter(_._2 == src)
      val dropped = mine.filter(t => verdict(t._1))
      val want = (src, mine.length.toLong, dropped.length.toLong,
        mine.map(_._3).sum, dropped.map(_._3).sum,
        dropped.map(_._3).sum * 1000000L / mine.map(_._3).sum)
      assert(got(src) == want, s"savings drift for $src")
    }
    // the fixture actually exercises a drop (guards degeneracy)
    assert(got("alpha")._3 + got("beta")._3 == 2L)
  }

  test("splitLeakage reports exactly the planted cross-split duplicate, " +
       "never same-split pairs, and dedup-then-split silences it") {
    // derive each id's split from the operator's own salted hash so the
    // plant is deterministic, not hoped-for
    def splitOf(id: Long): String = {
      val hex = MessageDigest.getInstance("MD5")
        .digest(s"split:$id".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      val u = java.lang.Long.parseLong(hex, 16) % 100
      if (u < 80) "train" else if (u < 90) "valid" else "test"
    }
    val ids = (1L to 40L)
    val trainIds = ids.filter(splitOf(_) == "train")
    val heldIds = ids.filter(splitOf(_) != "train")
    assert(trainIds.size >= 2 && heldIds.nonEmpty,
      "fixture ids don't cover both sides of the split")
    val (tDup, hDup) = (trainIds.head, heldIds.head)
    val tDup2 = trainIds(1) // same-split duplicate pair: must NOT report
    val dupText = "the quick brown fox jumps over the lazy dog again " +
      "and again until the very end of this long shared passage"
    val docs = ids.map { i =>
      val t =
        // fully disjoint shingle space per unique doc ($i in every token:
        // a shared template phrase would itself cross the 3-shingle bar)
        if (i == tDup || i == hDup || i == tDup2) dupText
        else (0 to 9).map(j => s"u${i}w$j").mkString(" ")
      (i, "en", "s", t.length.toLong, t)
    }.toDF("doc_id", "lang", "source", "n_chars", "text")
    val got = CorpusOps.splitLeakage(docs)
      .select("train_doc", "heldout_doc", "heldout_split")
      .as[(Long, Long, String)].collect()
    assert(got.toSet == Set((tDup, hDup, splitOf(hDup)),
                            (tDup2, hDup, splitOf(hDup))),
      s"leak report drift: ${got.toSeq} (planted $tDup/$tDup2 -> $hDup)")
    // apply the dedup verdict first (keep one copy) -> no leakage left
    val deduped = docs.filter($"doc_id" =!= hDup && $"doc_id" =!= tDup2)
    assert(CorpusOps.splitLeakage(deduped).isEmpty)
  }

  test("splitQuarantine moves exactly the leaking train docs to the " +
       "strongest heldout leak's split, conserves doc/token totals, and " +
       "is the plain split audit (plus a zero column) on a clean corpus") {
    def splitOf(id: Long): String = {
      val hex = MessageDigest.getInstance("MD5")
        .digest(s"split:$id".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      val u = java.lang.Long.parseLong(hex, 16) % 100
      if (u < 80) "train" else if (u < 90) "valid" else "test"
    }
    val ids = (1L to 40L)
    val trainIds = ids.filter(splitOf(_) == "train")
    val heldIds = ids.filter(splitOf(_) != "train")
    val (tDup, hDup) = (trainIds.head, heldIds.head)
    val tDup2 = trainIds(1)
    val dupText = "the quick brown fox jumps over the lazy dog again " +
      "and again until the very end of this long shared passage"
    val docs = ids.map { i =>
      val t =
        if (i == tDup || i == hDup || i == tDup2) dupText
        else (0 to 9).map(j => s"u${i}w$j").mkString(" ")
      (i, "en", "s", t.length.toLong, t)
    }.toDF("doc_id", "lang", "source", "n_chars", "text")

    val audit = CorpusOps.splitQuarantine(docs)
      .select("split", "n_docs", "n_tokens", "n_quarantined_in")
      .as[(String, Long, Long, Long)].collect()

    // conservation: quarantine re-labels, never adds or drops rows/tokens
    def nToks(t: String) = t.split("\\s+").count(_.nonEmpty).toLong
    val totToks = ids.map(i =>
      nToks(if (i == tDup || i == hDup || i == tDup2) dupText
            else (0 to 9).map(j => s"u${i}w$j").mkString(" "))).sum
    assert(audit.map(_._2).sum == 40L && audit.map(_._3).sum == totToks,
      s"quarantine lost or invented corpus mass: ${audit.toSeq}")

    // exactly the two planted leaking train docs move, both into the
    // heldout dup's split (their only — hence strongest — leak)
    val arrivals = audit.map(r => r._1 -> r._4).toMap
    assert(audit.map(_._4).sum == 2L, s"arrival total drift: ${audit.toSeq}")
    assert(arrivals(splitOf(hDup)) == 2L,
      s"quarantined docs landed in the wrong split: ${audit.toSeq}")
    val trainRow = audit.find(_._1 == "train").get
    assert(trainRow._2 == trainIds.size.toLong - 2L,
      s"train must shrink by the two quarantined docs: $trainRow")

    // clean corpus: the audit IS corpusSplit's, with zero arrivals
    val clean = docs.filter($"doc_id" =!= hDup && $"doc_id" =!= tDup2)
    val q = CorpusOps.splitQuarantine(clean)
      .select("source", "split", "n_docs", "n_tokens", "n_quarantined_in")
      .collect().map(_.toSeq).toSet
    val plain = CorpusOps.corpusSplit(clean)
      .withColumn("n_quarantined_in", lit(0L))
      .select("source", "split", "n_docs", "n_tokens", "n_quarantined_in")
      .collect().map(_.toSeq).toSet
    assert(q == plain, "clean-corpus quarantine drifted from corpusSplit")
  }

  test("stratified sample keeps none at 0 pct and all at 100 pct") {
    val docs = (1L to 50L).map(i => (i, "en", "s", 10L, s"text $i"))
      .toDF("doc_id", "lang", "source", "n_chars", "text")
    val none = CorpusOps.sampleStratified(docs, Seq("en" -> 0), 0)
      .select("n_sampled").as[Long].head()
    val all = CorpusOps.sampleStratified(docs, Seq("en" -> 100), 100)
      .select("n_sampled").as[Long].head()
    assert(none == 0L && all == 50L)
  }

  test("mix report shares are exact ppm floor-divisions that sum to ~1e6") {
    val docs = Seq(
      (1L, "one two three", "en", "s1", 13L),
      (2L, "four five", "en", "s1", 9L),
      (3L, "six", "en", "s2", 3L),
      (4L, "sieben acht neun zehn", "de", "s1", 21L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = CorpusOps.mixReport(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(rows(("en", "s1")) == ((2L, 5L, 500000L, 500000L)))
    assert(rows(("en", "s2")) == ((1L, 1L, 250000L, 100000L)))
    assert(rows(("de", "s1")) == ((1L, 4L, 250000L, 400000L)))
    val docShareSum = rows.values.map(_._3).sum
    assert(docShareSum <= 1000000L && docShareSum > 1000000L - rows.size)
  }

  test("temperature sampling flattens the mix and respects the budget") {
    // sources of size 400 / 100 / 4: α=1/2 weights 20/10/2 — the small
    // source gets 4x its proportional share, the big one loses half
    val docs = ((1L to 400L).map(i => (i, "big")) ++
                (401L to 500L).map(i => (i, "mid")) ++
                (501L to 504L).map(i => (i, "tiny")))
      .map { case (i, src) => (i, s"text $i", "en", src, 8L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = CorpusOps.sampleTemperature(docs, budgetDocs = 64L).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    val (nB, shB, tgB, _, smB) = out("big")
    val (nM, shM, tgM, _, smM) = out("mid")
    val (nT, shT, tgT, rtT, smT) = out("tiny")
    assert(nB == 400L && nM == 100L && nT == 4L)
    // exact integer math: weights 20e6/10e6/2e6, total 32e6
    assert(shB == 625000L && shM == 312500L && shT == 62500L)
    assert(tgB == 40L && tgM == 20L && tgT == 4L)
    assert(tgB + tgM + tgT <= 64L)
    // tiny's target equals its size → rate clamps to 1e6 → all sampled
    assert(rtT == 1000000L && smT == 4L)
    assert(smB <= nB && smM <= nM)
    // deterministic md5 draws: a second run is identical
    val again = CorpusOps.sampleTemperature(docs, budgetDocs = 64L).collect()
      .map(r => (r.getString(0), r.getLong(5))).toMap
    assert(again == out.map { case (k, v) => k -> v._5 })
  }

  test("mix solve waterfills: small source caps, its mass flows on") {
    // token masses 400/100/4 → exact α=1/2 weights 20e6/10e6/2e6 (no
    // rounding: the square roots are integers). Budget 100% = 504 tokens,
    // cap 200%. Uncapped epochs would be 0.79/1.575/7.875 → tiny caps at
    // 8 tokens (2 epochs); the residual 496 splits 10:20 over mid/big by
    // floor division → 165/330, one token of dust.
    def doc(id: Long, src: String, n: Int) =
      (id, Seq.fill(n)("w").mkString(" "), "en", src, n.toLong)
    val docs = Seq(doc(1, "big", 400), doc(2, "mid", 100), doc(3, "tiny", 4))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = CorpusOps.mixSolve(docs, budgetPct = 100, maxEpochsPct = 200)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4),
         r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    assert(out("tiny") == ((4L, 2000000L, 8L, true, 8L, 2000000L, 15873L)))
    assert(out("mid") ==
      ((100L, 10000000L, 200L, false, 165L, 1650000L, 327380L)))
    assert(out("big") ==
      ((400L, 20000000L, 800L, false, 330L, 825000L, 654761L)))
    val planSum = out.values.map(_._5).sum
    assert(planSum <= 504L && planSum > 504L - out.size)
    assert(out.values.forall { case (_, _, cap, _, plan, _, _) =>
      plan <= cap })
  }

  test("mix apply decomposes the plan into full epochs + md5 partial fill") {
    // same masses as the solver test (400/100/4 → plan 330/165/8) but
    // with EQUAL-size docs per source, so the partial-fill counts are
    // independent of the md5 pick order: big = 40×10 (full 0, partial
    // 330 → 33 docs/330 toks, ppm exactly 10⁶), mid = 10×10 (full 1,
    // partial 65 → 6 docs/60 toks, sampled 160, ppm 160e6 div 165 =
    // 969696), tiny = 1×4 (full 2, partial 0 → fill left-join misses →
    // coalesced zeros, sampled = plan = 8, ppm 10⁶)
    def docsOf(src: String, n: Int, size: Int, base: Long) =
      (0 until n).map(i =>
        (base + i, Seq.fill(size)("w").mkString(" "), "en", src,
         size.toLong))
    val docs = (docsOf("big", 40, 10, 1000) ++ docsOf("mid", 10, 10, 2000)
        ++ docsOf("tiny", 1, 4, 3000))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = CorpusOps.sampleMixApply(docs, budgetPct = 100,
        maxEpochsPct = 200)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
         r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    assert(out("big") == ((400L, 330L, 0L, 33L, 330L, 330L, 1000000L)))
    assert(out("mid") == ((100L, 165L, 1L, 6L, 60L, 160L, 969696L)))
    assert(out("tiny") == ((4L, 8L, 2L, 0L, 0L, 8L, 1000000L)))
  }

  test("mix solve drops token-less sources and survives all-capped") {
    val docs = Seq(
      (1L, "a b c d", "en", "real", 7L),
      (2L, null.asInstanceOf[String], "en", "ghost", 0L),
      (3L, "", "en", "ghost", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // budget 300% of corpus, cap 150% → capacity < budget: every source
    // caps, the residual branch (and its w_open=0 divisor guard) is
    // never taken, and the fill stops at capacity
    val rows = CorpusOps.mixSolve(docs, budgetPct = 300, maxEpochsPct = 150)
      .collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("real"))
    val r = rows.head
    assert(r.getBoolean(4) && r.getLong(5) == 6L) // plan = cap = 4*150/100
  }

  test("pack report counts tail waste and boundary-crossing docs") {
    // one shard (nShards = 1 → assignment irrelevant), capacity 10,
    // doc_id order = pack order: sizes 4/0/4/4 at offsets 0/4/4/8 —
    // only the last doc spans the seq boundary at 10 (tokens 8..11);
    // the zero-token doc cannot split. total 12 → 2 seqs, tail waste
    // 8 of 20 slots = 400000 ppm; splits 1 of 4 docs = 250000 ppm.
    def doc(id: Long, n: Int) =
      (id, if (n == 0) "" else Seq.fill(n)("w").mkString(" "), "en", "s",
       n.toLong)
    val docs = Seq(doc(1, 4), doc(2, 0), doc(3, 4), doc(4, 4))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = CorpusOps.packReport(docs, capacityTokens = 10, nShards = 1)
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getLong(5), r.getLong(6), r.getLong(7)) ==
      ((4L, 12L, 2L, 8L, 400000L, 1L, 250000L)))
  }

  test("shard assignment is total and deterministic") {
    val docs = (1L to 100L).map(i => (i, "en", "s", 7L, s"t$i"))
      .toDF("doc_id", "lang", "source", "n_chars", "text")
    val shards = CorpusOps.shardAssign(docs, 8)
      .as[(Long, Long, Long)].collect()
    assert(shards.map(_._2).sum == 100L)
    assert(shards.map(_._3).sum == 700L)
    assert(shards.forall(s => s._1 >= 0 && s._1 < 8))
    val again = CorpusOps.shardAssign(docs, 8).as[(Long, Long, Long)].collect()
    assert(shards.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("per-group sample returns exactly k per group and is deterministic") {
    val docs = (1L to 60L).map(i => (i, if (i % 2 == 0) "en" else "de",
        "s", 5L, s"doc $i")).toDF("doc_id", "lang", "source", "n_chars", "text")
    val got = CorpusOps.samplePerGroup(docs, "lang", 10)
      .select("lang", "doc_id").as[(String, Long)].collect()
    assert(got.count(_._1 == "en") == 10 && got.count(_._1 == "de") == 10)
    val again = CorpusOps.samplePerGroup(docs, "lang", 10)
      .select("lang", "doc_id").as[(String, Long)].collect()
    assert(got.sortBy(x => x).toSeq == again.sortBy(x => x).toSeq)
  }

  test("sequence packing conserves tokens and respects shard locality") {
    val docs = (1L to 80L).map(i => (i, "en", "s", 5L,
        Seq.fill(1 + (i % 7).toInt)("tok").mkString(" ")))
      .toDF("doc_id", "lang", "source", "n_chars", "text")
    val packed = CorpusOps.packSequences(docs, capacityTokens = 16, nShards = 4)
      .as[(Long, Long, Long, Long)].collect()
    // every token lands in exactly one (shard, seq)
    assert(packed.map(_._4).sum == (1L to 80L).map(i => 1 + (i % 7)).sum)
    assert(packed.map(_._3).sum == 80L)
    assert(packed.forall(p => p._1 >= 0 && p._1 < 4 && p._2 >= 0))
  }

  test("pii scrub redacts emails and urls and counts them") {
    val docs = Seq(
      (1L, "mail bob@corp.io and see https://a.b/c for docs"),
      (2L, "no pii here")).toDF("doc_id", "text")
    val got = CorpusOps.piiScrub(docs)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(got(0)._2 == 1L && got(0)._3 == 1L)
    assert(got(1)._2 == 0L && got(1)._3 == 0L)
    val expected = "mail <EMAIL> and see <URL> for docs"
    val md = MessageDigest.getInstance("MD5").digest(expected.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(got(0)._4 == md)
  }

  test("tfidf plan stays blocked: no cartesian product, source count broadcast") {
    val docs = Seq((1L, "en", "web", 10L, "alpha shared"))
      .toDF("doc_id", "lang", "source", "n_chars", "text")
    val plan = CorpusOps.tfidfTopTerms(docs, 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"unexpected cartesian product:\n$plan")
    assert(plan.contains("Broadcast"), s"source count not broadcast:\n$plan")
  }

  test("tfidf ranks a source-exclusive term above a shared one") {
    val docs = Seq(
      (1L, "en", "web", 10L, "alpha alpha shared"),
      (2L, "en", "web", 10L, "alpha shared"),
      (3L, "en", "books", 10L, "beta shared"),
      (4L, "en", "books", 10L, "beta beta shared"))
      .toDF("doc_id", "lang", "source", "n_chars", "text")
    val top = CorpusOps.tfidfTopTerms(docs, 2)
      .filter(col("rank") === 1)
      .select("source", "token").as[(String, String)].collect().toMap
    assert(top == Map("web" -> "alpha", "books" -> "beta"))
    // shared term appears in every source -> idf 0 -> tfidf 0
    val sharedScore = CorpusOps.tfidfTopTerms(docs, 2)
      .filter(col("token") === "shared")
      .select("tfidf").as[Double].collect()
    assert(sharedScore.forall(_ == 0.0))
  }

  test("drop list keeps the longest doc per cluster, ties to lowest id") {
    // identical text → identical minhash signatures → one cluster; doc 2
    // is declared longer via n_chars, so it is the keeper; doc 4 is a
    // singleton and must survive as its own keeper
    val txt = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, txt, 10L), (2L, txt, 99L), (3L, txt, 99L),
      (4L, "completely different words entirely here now", 50L))
      .toDF("doc_id", "text", "n_chars")
    val got = CorpusOps.dedupDropList(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    // keeper: n_chars 99 tie between 2 and 3 → lowest id (2)
    assert(got == Map(
      1L -> ((2L, true)), 2L -> ((2L, false)), 3L -> ((2L, true)),
      4L -> ((4L, false))))
  }

  test("dedup savings sums exactly the dropped docs' tokens per source") {
    val txt = "alpha beta gamma delta epsilon zeta eta theta" // 8 tokens
    val docs = Seq(
      (1L, txt, 10L, "web"), (2L, txt, 99L, "web"),            // 2 keeper
      (3L, "five short tokens here now", 50L, "books"))        // singleton
      .toDF("doc_id", "text", "n_chars", "source")
    val got = CorpusOps.dedupSavings(docs).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(got("web") == ((2L, 1L, 16L, 8L, 500000L)))
    assert(got("books") == ((1L, 0L, 5L, 0L, 0L)))
  }

  test("token budget keeps exactly the hash-order prefix within budget") {
    val docs = (1L to 40L).map(i =>
      (i, if (i % 2 == 0) "web" else "books", s"${"tok " * (i % 7).toInt}x"))
      .toDF("doc_id", "source", "text")
    val budget = 30L
    val got = CorpusOps.sampleTokenBudget(docs, budget).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // brute-force the same greedy prefix per source in hash order
    val hashed = docs
      .withColumn("h", CorpusOps.hashUniform("budget", col("doc_id")))
      .select("source", "doc_id", "h", "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3).split("\\s+").count(_.nonEmpty).toLong))
    val expected = hashed.groupBy(_._1).map { case (src, rows) =>
      val ordered = rows.sortBy(r => (r._3, r._2)).map(_._4)
      val kept = ordered.scanLeft(0L)(_ + _).tail.takeWhile(_ <= budget)
      src -> ((kept.length.toLong, kept.lastOption.getOrElse(0L),
        kept.lastOption.getOrElse(0L) * 1000000L / budget))
    }
    assert(got == expected && got.values.forall(_._2 <= budget))
  }

  test("corpus split is a pure hash function of doc_id with exact audit sums") {
    val docs = (1L to 200L).map(i => (i, s"s${i % 3}", s"tok a b c d$i"))
      .toDF("doc_id", "source", "text")
    val got = CorpusOps.corpusSplit(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    // brute-force the same salted-hash assignment
    val us = docs.select(col("doc_id"), col("source"),
        (CorpusOps.hashUniform("split", col("doc_id")) % 100).as("u"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expected = us.groupBy { case (_, src, u) =>
      (src, if (u < 80) "train" else if (u < 90) "valid" else "test")
    }.map { case (k, rows) => k -> ((rows.length.toLong, rows.length * 5L)) }
    assert(got == expected)
    assert(got.values.map(_._1).sum == 200L)
    // determinism: permuting input order changes nothing
    val again = CorpusOps.corpusSplit(docs.orderBy(col("doc_id").desc))
      .collect().map(r =>
        (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(again == got)
  }

  test("domain blocklist verdicts by registrable domain, not literal host") {
    val pages = Seq(
      (1L, "https://www.bad.com/page"),           // www → bad.com, dropped
      (2L, "http://cdn.assets.bad.com:8080/x?y=1"), // deep subdomain + port
      (3L, "https://BAD.com/"),                   // case-insensitive
      (4L, "https://good.org/a/b"),               // kept
      (5L, "https://bad.com.evil.net/phish"),     // registrable = evil.net!
      (6L, "ftp://mirror.good.org/file"))         // scheme-agnostic
      .toDF("doc_id", "url")
    val got = CorpusOps.domainBlocklist(pages, Seq("bad.com")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      ("bad.com", "dropped") -> 3L,
      ("good.org", "kept") -> 2L,
      ("evil.net", "kept") -> 1L))
  }

  test("DSIR importance weights equal an in-memory fixed-point model " +
       "and rank the target's language above the rest") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val target = docs.filter($"lang" === "en" && $"doc_id" % 7 === 0)
    val B = 64
    val got = CorpusOps.dsirWeights(docs, target, buckets = B)
      .select("doc_id", "n_grams", "weight_fp", "w_per_gram_fp",
              "target_like")
      .as[(Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap

    // independent model: same md5-bucket hash, same ⌊ln·1e6+0.5⌋ terms
    val rows = docs.select("doc_id", "lang", "text")
      .as[(Long, String, String)].collect()
    def grams(text: String): Seq[String] = {
      val t = "\\S+".r.findAllIn(text.toLowerCase).toSeq
      t ++ t.zip(t.drop(1)).map { case (a, b) => s"$a $b" }
    }
    def bucket(g: String): Int = {
      val hex = MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.take(6), 16) % B).toInt
    }
    def lnFp(x: Long): Long = math.floor(math.log(x.toDouble) * 1e6 + 0.5).toLong
    val cq = new Array[Long](B)
    val cp = new Array[Long](B)
    rows.foreach { case (id, lang, text) =>
      grams(text).foreach { g =>
        val b = bucket(g)
        cq(b) += 1
        if (lang == "en" && id % 7 == 0) cp(b) += 1
      }
    }
    val (np, nq) = (cp.sum, cq.sum)
    val delta = (0 until B).map(b =>
      (lnFp(cp(b) + 1) - lnFp(np + B)) - (lnFp(cq(b) + 1) - lnFp(nq + B)))
    assert(got.size == rows.count(_._3.trim.nonEmpty))
    rows.foreach { case (id, _, text) =>
      val gs = grams(text)
      if (gs.nonEmpty) {
        val w = gs.map(g => delta(bucket(g))).sum
        val (_, n, wf, wpg, tl) = got(id)
        assert(n == gs.length && wf == w && wpg == w / n && tl == (w > 0),
          s"doc $id: got ($n,$wf,$wpg,$tl) want (${gs.length},$w)")
      }
    }
    // semantic sanity: weights measure target-likeness, so en docs must
    // average strictly above zh docs (disjoint marker vocabulary)
    def meanWpg(lang: String): Double = {
      val ids = rows.filter(_._2 == lang).map(_._1)
      ids.map(id => got(id)._4.toDouble).sum / ids.length
    }
    assert(meanWpg("en") > meanWpg("zh"),
      s"en ${meanWpg("en")} must rank above zh ${meanWpg("zh")}")
  }
}
