package graft.operators

/** Per-round timing probe for the iterative fixed-point loops
  * ([[CorpusOps.connectedComponents]], VectorOps.kmeansAssign) — the r15
  * verdict's item 2: both loops' bench rows drifted upward across quiet
  * cycles (embedding_kmeans_assign 1.22× → 1.44×, dedup_clusters_cosine
  * 1.26×) and two rounds of "watch" bought no mechanism. The probe
  * records (operator, round, phase, seconds) for every barrier /
  * convergence action inside a loop, so a driver ([[graft.tools.LoopDrift]])
  * can answer WHERE the extra seconds live — checkpoint write, planning,
  * convergence check — and whether they grow with rep index inside one
  * JVM (accumulating session state) or stay flat (scheduling variance).
  *
  * Disabled (the default) it is a single volatile read per phase — the
  * declared queries' hot paths are untouched; Bench never enables it.
  */
object LoopProbe {
  final case class Sample(op: String, round: Int, phase: String,
                          secs: Double)

  @volatile private var enabled = false
  private val buf = new scala.collection.mutable.ArrayBuffer[Sample]

  def enable(): Unit = { enabled = true }

  /** Time `f` under (op, round, phase) when enabled; transparent when not. */
  def timed[T](op: String, round: Int, phase: String)(f: => T): T =
    if (!enabled) f
    else {
      val t0 = System.nanoTime()
      val r = f
      val s = Sample(op, round, phase, (System.nanoTime() - t0) / 1e9)
      buf.synchronized { buf += s }
      r
    }

  /** Return and clear the recorded samples (driver-side, bounded by
    * rounds × phases — a handful of rows per query execution).
    */
  def drain(): Seq[Sample] = buf.synchronized {
    val out = buf.toList
    buf.clear()
    out
  }
}
