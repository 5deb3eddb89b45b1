package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.VectorOps

/** Measured recall@k of the approximate ANN paths (LSH buckets, IVF lists)
  * against the brute-force exact top-k — the accuracy contract that belongs
  * next to the scale contract (SCALE.md "Similarity search" table is
  * generated by this tool).
  *
  * Ground truth: [[VectorOps.topkCosine]] with every vector as a query.
  * Recall@k = |approx ∩ exact| / |exact| over all (query, neighbor) pairs —
  * micro-averaged, so queries whose bucket/list was empty count as misses
  * rather than dropping out of the mean.
  *
  * Usage: runMain graft.tools.Recall <sfDir>[,<sfDir>...] [k]
  *
  * Passing several comma-separated scale dirs runs the SAME paths at each
  * scale and appends a growth table (recall at each n side by side) — the
  * scale-stability sweep: a path whose recall decays as n grows (fixed
  * nProbe IVF) needs a scale-aware knob; one whose recall holds (banded
  * LSH, auto-probe IVF) is safe to size once.
  */
object Recall {

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  def recallAt(approx: DataFrame, exact: Set[(Long, Long)]): (Double, Long, Long) = {
    require(exact.nonEmpty, "empty ground truth — nothing to measure")
    val hit = (pairs(approx) & exact).size.toLong
    (hit.toDouble / exact.size, hit, exact.size.toLong)
  }

  /** Exact near-dup edge set (all pairs with cosine ≥ threshold) by brute
    * force — ground truth for the banded [[VectorOps.nearDupCosine]] path,
    * i.e. the edge set `dedup_clusters_cosine` propagates over. Tool-side
    * only: the O(n²) cross join never ships in a declared query.
    */
  private def exactEdges(emb: DataFrame, threshold: Double): Set[(Long, Long)] = {
    import graft.functions.ArrayMath.{dot_product, l2_norm}
    val a = emb.select(col("vec_id").as("vec_a"), col("embedding").as("va"))
      .withColumn("na", l2_norm(col("va")))
    val b = emb.select(col("vec_id").as("vec_b"), col("embedding").as("vb"))
      .withColumn("nb", l2_norm(col("vb")))
    a.crossJoin(b).filter(col("vec_a") < col("vec_b"))
      .filter(round(dot_product(col("va"), col("vb")) /
                (col("na") * col("nb")), 6) >= threshold)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  val EdgeThreshold = 0.4 // must match the declared dedup_near_cosine query

  /** PQ-family query cap: the PQ search BROADCASTS its per-query ADC
    * tables (n_queries × m × maxCodes rows), so an uncapped corpus-sized
    * query set grows the broadcast linearly with n — fine at sf0.001, a
    * driver-memory risk at larger sweeps. 256 queries estimate recall
    * within a few points of the full set (binomial CI ~±3% at recall 0.7)
    * while the broadcast stays constant-size.
    */
  val PqQueryCap = 256

  private def measure(spark: SparkSession, sfDir: String,
                      k: Int): (Long, Seq[(String, Double, Long, Long)]) = {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val n = emb.count()
    val dim = VectorOps.dimOf(emb)
    // ground truth collected ONCE — the O(n^2) brute force dominates the
    // tool's cost and must not re-run per measured path
    val exact = pairs(VectorOps.topkCosine(emb, emb, k))
    // PQ rows query only vec_id < cap, so their recall is judged against
    // the ground truth RESTRICTED to the same queries (apples to apples)
    val qcap = math.min(n, PqQueryCap.toLong).toInt
    val exactCap = exact.filter(_._1 < qcap)
    // the declared md5-bounded auto form measures against ITS query set
    val autoQ = VectorOps.md5SampleQueries(emb, 100)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val exactAutoQ = exact.filter(p => autoQ.contains(p._1))
    val rows = Seq(
      ("LSH 8-plane",
        VectorOps.topkCosineLsh(emb, dim, k, nPlanes = 8), exact),
      ("LSH 4-plane",
        VectorOps.topkCosineLsh(emb, dim, k, nPlanes = 4), exact),
      ("LSH banded 4x4", VectorOps.topkCosineLshBanded(emb, dim, k), exact),
      // raw every-50th rule (uncapped), deliberately: these rows ARE the
      // fixed-probe decay motivation for the auto path. The DECLARED
      // fixed query caps lists at 128 since r12 (cappedSeedStride), which
      // turns fixed-probe into a constant-small-FRACTION probe beyond
      // n = 6400 — stable-but-low recall, a different (and less
      // instructive) curve than the decay this table documents.
      ("IVF nProbe=4", VectorOps.topkCosineIvf(emb, k, nProbe = 4), exact),
      ("IVF nProbe=1", VectorOps.topkCosineIvf(emb, k, nProbe = 1), exact),
      // all-queries auto-probe (scale-stability sweep) — IVF broadcasts
      // only the centroids, so a corpus-sized query side is tool-safe here
      ("IVF auto f=0.4",
        VectorOps.topkCosineIvfAuto(emb, k, maxQueries = Int.MaxValue),
        exact),
      // the declared bounded form: same probe rule, 100-query md5 sample
      ("IVF auto f=0.4 q=100",
        VectorOps.topkCosineIvfAuto(emb, k), exactAutoQ),
      ("PQ refine=4", VectorOps.topkCosinePq(emb, k, queryMax = qcap),
        exactCap),
      ("IVF-PQ nProbe=4", VectorOps.topkCosineIvfPq(emb, k, queryMax = qcap),
        exactCap),
      // the r18 last rung: the auto-probe policy over the compressed read
      // path — the remedy for the fixed-probe decay the row above shows
      ("IVF-PQ auto f=0.4",
        VectorOps.topkCosineIvfPqAuto(emb, k, queryMax = qcap), exactCap)
    ).map { case (name, approx, truth) =>
      val (r, hit, tot) = recallAt(approx, truth)
      (name, r, hit, tot)
    }
    // the cosine-cluster edge set has its own ground truth (threshold
    // pairs, not top-k): recall here bounds how many clusters
    // dedup_clusters_cosine can split vs the exact edge set
    val edgeExact = exactEdges(emb, EdgeThreshold)
    val edgeApprox = VectorOps.nearDupCosine(emb, EdgeThreshold, dim)
      .select(col("vec_a").as("query_id"), col("vec_b").as("neighbor_id"))
    val (er, ehit, etot) = recallAt(edgeApprox, edgeExact)
    (n, rows :+ (("near-dup edges 4x4 t=0.4", er, ehit, etot)))
  }

  def main(args: Array[String]): Unit = {
    val sfDirs = args(0).split(',').toSeq
    val k = if (args.length > 1) args(1).toInt else 5
    val spark = graft.Session.local()

    val perScale = sfDirs.map { sfDir =>
      val (n, rows) = measure(spark, sfDir, k)
      println(s"ANN recall@$k vs brute force — $sfDir, n=$n")
      println(s"| path | recall@$k | hits / exact pairs |")
      println("|---|---|---|")
      rows.foreach { case (name, r, hit, tot) =>
        println(f"| $name | $r%.3f | $hit / $tot |")
      }
      println()
      (n, rows)
    }

    if (perScale.length > 1) {
      // growth sweep: same paths, recall side by side across scales, with
      // the ratio of last to first — ≥1.0 reads scale-stable
      val names = perScale.head._2.map(_._1)
      println(s"Scale-stability sweep (recall@$k at each n):")
      println("| path | " +
        perScale.map(p => s"n=${p._1}").mkString(" | ") + " | last/first |")
      println("|---|" + perScale.map(_ => "---|").mkString + "---|")
      names.zipWithIndex.foreach { case (name, i) =>
        val rs = perScale.map(_._2(i)._2)
        val ratio = rs.last / rs.head
        println("| " + name + " | " +
          rs.map(r => f"$r%.3f").mkString(" | ") + f" | $ratio%.2f |")
      }
    }
    spark.stop()
  }
}
