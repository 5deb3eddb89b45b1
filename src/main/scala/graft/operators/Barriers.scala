package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Materialization barriers for multi-consumer and iterative plans.
  *
  * Several pipelines here compute an expensive frame that is read by more
  * than one downstream consumer (both sides of an LSH-band self-join, the
  * five consumers of a shingle set) or is rebuilt every round of an
  * iterative loop (connected components). Without a barrier Catalyst
  * re-derives the frame per consumer / grows the plan per round; with one,
  * the frame is computed once and the lineage is cut.
  *
  * The right barrier differs by deployment, so the strategy is config,
  * not code (`graft.barrier.strategy`):
  *
  *  - `localCheckpoint` (default) — executor-local blocks. Cheapest, right
  *    for `local[*]` and short-lived jobs, but blocks die with executors:
  *    on a preemptible/autoscaled cluster a lost executor kills the job
  *    because the lineage is gone.
  *  - `persist` — MEMORY_AND_DISK cache. Keeps lineage (so executor loss
  *    recomputes instead of failing) at the cost of carrying the full plan;
  *    for iterative callers the plan still grows per round.
  *  - `checkpoint` — durable checkpoint to `spark.sparkContext
  *    .setCheckpointDir` (HDFS/object store). The 100-TB-cluster setting:
  *    survives executor loss AND cuts lineage. Requires the caller to have
  *    set a checkpoint dir; Spark throws if unset.
  *
  * Every former `localCheckpoint` call site routes through here, so the
  * minhash/jaccard/LSH/components pipelines run unchanged on a real
  * cluster by flipping one conf.
  *
  * The sync cycle (`SyncEngine`) relies on an eager barrier to run each
  * copy and each delete once: the copied ledger rows are read by the
  * tagger and the ledger commit, and a lazy plan would repeat the side
  * effects per action. Its counts and row counts are `Dataset.observe`
  * metrics on each barrier's input, delivered by the eager action under
  * every strategy (the `persist` branch's `count` included); a row count
  * is its barrier's [[withSizeEstimate]]. Under `persist` a lost block
  * recomputes from lineage and so re-runs those copies or deletes; the
  * copy executor's at-least-once, idempotent-target contract already
  * allows that.
  */
object Barriers {

  val StrategyKey = "graft.barrier.strategy"

  /** Drop the blocks behind a frame previously returned by [[materialize]].
    * Iterative loops MUST call this on the prior round's frame once the new
    * round is eagerly materialized: the old blocks are otherwise pinned for
    * the session's lifetime — one full copy of the frame per round. Only
    * call on a dead frame: for localCheckpoint the blocks ARE the data and
    * recompute is impossible afterwards.
    *
    * The two strategies pin blocks differently, so release must look at
    * the frame, not the conf: a `persist` frame is registered with the
    * CacheManager (`df.unpersist` drops it), but a checkpointed frame is a
    * `LogicalRDD` whose backing RDD holds the blocks directly — for those
    * the RDD itself is unpersisted (`df.unpersist` would be a silent
    * no-op and the loop would pin one copy per round until GC). Under the
    * durable `checkpoint` strategy the RDD holds no executor blocks (data
    * lives in checkpoint files); the unpersist is a harmless no-op and
    * file cleanup stays with the checkpoint dir's lifecycle.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        // (isLocallyCheckpointed is private[spark]; the session strategy
        // tells us the same thing — LogicalRDD frames come from the
        // localCheckpoint/checkpoint strategies and only local ones warn.)
        if (df.sparkSession.conf.get(StrategyKey, "localCheckpoint") == "localCheckpoint")
          muteUnpersistWarn(lr.rdd.getClass.getName)
        lr.rdd.unpersist(false)
      case _ => df.unpersist(false)
    }

  /** `RDD.unpersist` on a locally-checkpointed RDD logs a WARN that the
    * lineage "cannot be recomputed after unpersisting" — for release()
    * that is the POINT (the frame is dead by contract, see above), yet the
    * warning lands in every bench log and reads as a false scale signal
    * (same class of noise as WindowExec's no-partition warning, r11).
    * The warning can't be avoided at the source — there is no
    * unpersist-without-warning API — so a log4j2 RegexFilter matching
    * ONLY that message is installed on the concrete RDD class's logger
    * config, once per class. MESSAGE-scoped, not level-scoped (r13
    * advisory): the earlier form raised the whole logger to ERROR for
    * the JVM's lifetime, silently swallowing every unrelated WARN/INFO
    * those classes might emit in production paths sharing the JVM; the
    * filter leaves the logger's level and all other messages untouched.
    */
  private val mutedLoggers =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def muteUnpersistWarn(loggerName: String): Unit =
    if (mutedLoggers.add(loggerName)) {
      import org.apache.logging.log4j.core.Filter.Result
      val ctx = org.apache.logging.log4j.LogManager.getContext(false)
        .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
      val cfg = ctx.getConfiguration
      val filter = org.apache.logging.log4j.core.filter.RegexFilter
        .createFilter(".*cannot be recomputed after unpersisting.*",
          null, java.lang.Boolean.FALSE, Result.DENY, Result.NEUTRAL)
      val nearest = cfg.getLoggerConfig(loggerName)
      val lc =
        if (nearest.getName == loggerName) nearest
        else {
          // no config exists for this exact logger: add an ADDITIVE one
          // (no appenders of its own, events still flow to the parent's)
          // so the filter binds to just this class, not an ancestor
          val fresh = new org.apache.logging.log4j.core.config.LoggerConfig(
            loggerName, nearest.getLevel, true)
          cfg.addLogger(loggerName, fresh)
          fresh
        }
      lc.addFilter(filter)
      ctx.updateLoggers()
    }

  /** Drift sentinel for [[muteUnpersistWarn]] (r14 advisory): the regex
    * filter is fail-open — if Spark's warning text drifts past it, bench
    * logs silently re-flood and the "quiet log" reading of a bench run
    * becomes a lie. This appender counts unpersist-WARN lines that
    * actually REACH the appenders (a working filter DENYs them earlier):
    * nonzero after a bench run means the filter no longer matches and
    * `muteUnpersistWarn`'s regex needs re-pinning to the new text. The
    * match here is deliberately LOOSER than the filter's (any WARN
    * mentioning "unpersist" from an RDD-class logger, plus the exact
    * phrase anywhere) so near-drift is caught, at the cost of this being
    * an advisory count, never a hard failure.
    */
  private val noiseLeaks = new java.util.concurrent.atomic.AtomicLong
  private val sentinelArmed = new java.util.concurrent.atomic.AtomicBoolean
  private[graft] def armUnpersistNoiseSentinel(): Unit =
    if (sentinelArmed.compareAndSet(false, true)) {
      import org.apache.logging.log4j.core.LogEvent
      val ctx = org.apache.logging.log4j.LogManager.getContext(false)
        .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
      val cfg = ctx.getConfiguration
      val app = new org.apache.logging.log4j.core.appender.AbstractAppender(
          "graft-unpersist-noise-sentinel", null, null, true,
          org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
        override def append(e: LogEvent): Unit = {
          val msg = e.getMessage.getFormattedMessage
          val rddWarn =
            e.getLevel == org.apache.logging.log4j.Level.WARN &&
            e.getLoggerName != null &&
            e.getLoggerName.contains("rdd.") && msg.contains("unpersist")
          if (rddWarn || msg.contains("cannot be recomputed after unpersisting"))
            noiseLeaks.incrementAndGet()
        }
      }
      app.start()
      cfg.getRootLogger.addAppender(
        app, org.apache.logging.log4j.Level.WARN, null)
      ctx.updateLoggers()
    }
  private[graft] def unpersistNoiseLeaks(): Long = noiseLeaks.get()

  /** Unpersist without the locally-checkpointed WARN — for bulk purge
    * paths (Bench's between-query cache hygiene, Spec.sweepCaches) that
    * drop EVERY persistent RDD and can't tell which ones are local
    * checkpoints (that flag is private[spark]). Same justification as
    * [[release]]: the blocks are dead by contract at the purge point.
    */
  private[graft] def quietUnpersist(rdd: org.apache.spark.rdd.RDD[_]): Unit = {
    muteUnpersistWarn(rdd.getClass.getName)
    rdd.unpersist(blocking = false)
  }

  /** Plan recorder for the EXPLAINS audit (r18 verdict item 6): a
    * barrier's committed plan shows only `Scan ExistingRDD` downstream —
    * the stage plans that prove claims like "the embeddings scan joins
    * only the text-stage survivors" exist solely at materialize time.
    * When armed (tools.Explains, around each pipeline query), every
    * [[materialize]] call records its INPUT QueryExecution; the tool
    * prints them after the query runs, by which point AQE has finalized
    * each recorded plan (the barrier's action executed it). Never armed
    * outside the tool, so the query path carries one null-check only.
    */
  private val recordedPlans = new java.util.concurrent.atomic.AtomicReference[
    scala.collection.mutable.ListBuffer[
      org.apache.spark.sql.execution.QueryExecution]](null)
  private[graft] def armPlanRecorder(): Unit =
    recordedPlans.set(scala.collection.mutable.ListBuffer.empty)
  private[graft] def drainPlanRecorder()
      : Seq[org.apache.spark.sql.execution.QueryExecution] = {
    val buf = recordedPlans.getAndSet(null)
    if (buf == null) Seq.empty else buf.toSeq
  }

  /** Materialize `df` under the session-configured strategy. `eager` forces
    * computation now (iterative loops want this — the round's work must
    * happen before the driver checks convergence); lazy defers to the first
    * action but still computes only once.
    */
  def materialize(df: DataFrame, eager: Boolean = false): DataFrame = {
    Option(recordedPlans.get()).foreach(_ += df.queryExecution)
    val strategy =
      df.sparkSession.conf.get(StrategyKey, "localCheckpoint")
    strategy match {
      case "localCheckpoint" => df.localCheckpoint(eager)
      case "checkpoint"      => df.checkpoint(eager)
      case "persist" =>
        val p = df.persist(StorageLevel.MEMORY_AND_DISK)
        if (eager) p.count()
        p
      case other => throw new IllegalArgumentException(
        s"$StrategyKey must be localCheckpoint|persist|checkpoint, got: $other")
    }
  }

  /** Replace a checkpointed frame's size estimate with an honest one.
    *
    * Spark ≥3.4 copies the PRODUCING plan's estimated `Statistics` into
    * the checkpointed `LogicalRDD` (`originStats`), and the size-only
    * join estimate is the PRODUCT of child estimates — so an iterative
    * loop whose round consumes the previous round's checkpoint k times
    * compounds the estimate to `s^k` per round. The VALUE is never used
    * beyond broadcast decisions, but its BigInt DIGIT COUNT grows
    * geometrically (measured ×3/round for the 3-reference
    * connected-components round, r11 stats probe), until the driver
    * spends minutes in `BigInteger.multiplyToomCook3` just planning —
    * the r11 sf1 rehearsal hung exactly here. Rebuilding the `LogicalRDD`
    * with `Statistics(rows × bytesPerRow)` — both known by the caller —
    * makes every round's planning start from the same small, truthful
    * base, and as a bonus lets Catalyst broadcast genuinely small
    * materialized frames instead of seeing an astronomical estimate.
    *
    * Only `LogicalRDD`-backed frames (the localCheckpoint/checkpoint
    * strategies) carry originStats; for `persist` frames this is an
    * identity — their estimate comes from the live plan, whose growth
    * the persist strategy already accepts.
    */
  def withSizeEstimate(df: DataFrame, rows: Long,
                       bytesPerRow: Int): DataFrame =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        val fixed = org.apache.spark.sql.execution.LogicalRDD(
          lr.output, lr.rdd, lr.outputPartitioning, lr.outputOrdering,
          lr.isStreaming, lr.stream)(
          df.sparkSession
            .asInstanceOf[org.apache.spark.sql.classic.SparkSession],
          Some(org.apache.spark.sql.catalyst.plans.logical.Statistics(
            sizeInBytes = BigInt(math.max(1L, rows) * bytesPerRow.toLong))),
          None)
        org.apache.spark.sql.graftbridge.ColumnBridge
          .dataFrame(df.sparkSession, fixed)
      case _ => df
    }
}
