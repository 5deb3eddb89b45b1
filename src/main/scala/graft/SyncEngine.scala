package graft

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.config.{MappingConf, SyncConfig}
import graft.operators.{Barriers, CopyExecutor, SyncOps}
import graft.sources.ObjectStoreCatalog

/** The library facade (reference `README.md:51-82` embedding sequence:
  * LoadConfig → NewDB → NewFactory → NewSynchronizer → SyncAll), re-expressed
  * as one logical plan per mapping (SURVEY.md §3.1):
  *
  *   scan(src) ⟕ ledger → filter(needs_sync) → copy(mapPartitions)
  *   → ledger rows → ledger upsert;
  *   scan(tgt) ▷ scan(src) → delete → ledger delete
  *
  * The SQLite ledger becomes a parquet state table partitioned by
  * mapping_id (partition pruning replaces the composite index,
  * database.go:156-157), rewritten atomically via temp-dir swap.
  */
class SyncEngine(spark: SparkSession, config: SyncConfig,
                 tagger: graft.sources.PostCopyTagger =
                   graft.sources.PostCopyTagger.Noop) {
  import SyncEngine._

  /** `tagFailed` counts post-copy TAGGING failures (the cycle itself
    * succeeded: objects copied, ledger committed) — a flaky tagging SDK
    * must surface without wedging sync progress (r15 advisory).
    * Granularity caveat: a tagger failure is counted as the WHOLE
    * taggable batch (the cycle's successful copies, as counted by its
    * copy barrier) even if some objects in it were tagged before the
    * throw — the tagger API gives no partial-progress signal, so this
    * may overcount.
    */
  case class MappingReport(mappingId: String, synced: Long, skipped: Long,
                           failed: Long, orphansRemoved: Long,
                           tagFailed: Long = 0L)

  /** SyncAll (sync.go:32-53): per-mapping isolation — one failed mapping
    * logs and continues. One exception: a thread INTERRUPT is not a mapping
    * failure but the stop/SIGTERM path cancelling the in-flight cycle
    * (ContinuousSync.stop ≙ main.go:108-113) — it is logged as expected,
    * the interrupt flag is restored so the streaming engine's own
    * shutdown check sees it, and the remaining mappings are skipped
    * (running them against a stopping session would just fail one by one).
    */
  def syncAll(): Seq[MappingReport] = {
    val out = Seq.newBuilder[MappingReport]
    val it = config.mappings.iterator
    var interrupted = false
    while (!interrupted && it.hasNext)
      out ++= runMapping(it.next()) {
        Thread.currentThread().interrupt()
        interrupted = true
      }
    out.result()
  }

  /** Concurrent mapping sync — implements the reference's own roadmap
    * item (`README.md:345-347` lists concurrent mapping sync as future
    * work; the shipped loop is sequential, `sync.go:33-50`).
    *
    * Mappings run in a bounded driver-side pool, so Spark schedules all
    * mappings' jobs together and one mapping's small/skewed plan no
    * longer leaves executors idle. Isolation analysis: ledger rows are
    * keyed (mapping_id, object_name) and every mapping reads/writes ONLY
    * its own mapping_id, so since the commit went PARTITION-scoped there
    * is no shared write resource left between different mappings at all:
    * each commit swaps only its own `mapping_id=<mid>/` dir under a
    * per-partition lock, and the heavy phases (catalog scans, diff join,
    * distributed copy, orphan delete) overlap freely. Each mapping reads
    * only its own `mapping_id=<mid>/` dir, once, when its diff barrier
    * materializes at the start of its cycle, so no peer's swap — in
    * flight or crashed — can stall or fail that read, and commits re-read
    * their CURRENT partition under the lock so no update from a
    * same-mapping peer driver is lost. Per-mapping failure isolation
    * matches [[syncAll()]]: a failed mapping logs and the rest complete;
    * an interrupt (stop in progress) aborts mappings not yet started.
    *
    * Caveat, documented not hidden: mappings whose TARGET prefixes
    * overlap should stay sequential — one mapping's orphan deletion can
    * race another's copies, the same hazard the reference's future-work
    * item would face. Disjoint targets (the normal shape) are safe.
    */
  def syncAll(concurrency: Int): Seq[MappingReport] = {
    require(concurrency >= 1, s"concurrency must be >= 1, got $concurrency")
    if (concurrency == 1 || config.mappings.size <= 1) return syncAll()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(concurrency, config.mappings.size))
    val aborted = new java.util.concurrent.atomic.AtomicBoolean(false)
    try {
      val tasks = config.mappings.map { m =>
        pool.submit(new java.util.concurrent.Callable[Option[MappingReport]] {
          def call(): Option[MappingReport] =
            if (aborted.get()) None
            else runMapping(m)(aborted.set(true))
        })
      }
      tasks.flatMap(t => t.get())
    } finally pool.shutdown()
  }

  /** One mapping's cycle under SyncAll's per-mapping isolation, shared by
    * both [[syncAll]] overloads: a failure logs and yields None; an
    * interrupt (stop in progress) logs as expected, runs `onInterrupt`
    * and yields None.
    */
  private def runMapping(m: MappingConf)(
      onInterrupt: => Unit): Option[MappingReport] =
    try Some(syncMapping(m))
    catch {
      case e: Exception if isInterruption(e) =>
        System.err.println(s"[sync] mapping ${m.mappingId} cycle " +
          "interrupted (stop in progress) - expected; interrupted objects " +
          "re-sync next run via their ledger status")
        onInterrupt
        None
      case e: Exception =>
        // log class + full stack, not just getMessage: an NPE's message is
        // null and a bare "failed: null" line is undiagnosable (the
        // reference logs the full error too, sync.go:43-47)
        System.err.println(
          s"[sync] mapping ${m.mappingId} failed: ${e.getClass.getName}: " +
            s"${e.getMessage}")
        e.printStackTrace()
        None
    }

  /** SyncBuckets (sync.go:56-176) as a relational plan + two executors.
    * The cycle's three eager barriers (diff, copied ledger rows, delete
    * receipts) carry its counters and row counts as `Dataset.observe`
    * metrics, and live only for this cycle — the next one re-scans — so
    * they are released, newest first, once the ledger commit and orphan
    * delete are done.
    */
  private def syncMapping(m: MappingConf): MappingReport = {
    val pinned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // each barrier's counts ride on its own job; `Observation.get` blocks
    // until that action has delivered them. Its row count is its size
    // estimate, so the planner broadcasts a small barrier.
    def pin(df: DataFrame, counts: Seq[Column]): (DataFrame, Map[String, Long]) = {
      val o = new Observation()
      val b = Barriers.materialize(
        df.observe(o, count(lit(1)).as("rows"), counts: _*), eager = true)
      pinned += b
      val n = o.get.map { case (k, v) => k -> v.asInstanceOf[Long] }
      (Barriers.withSizeEstimate(b, n("rows"), df.schema.defaultSize), n)
    }
    try cycle(m, pin)
    finally pinned.reverseIterator.foreach(Barriers.release)
  }

  private def cycle(m: MappingConf, pin: (DataFrame, Seq[Column]) =>
                      (DataFrame, Map[String, Long])): MappingReport = {
    val srcUri = config.sourceUri(m)
    val dstUri = config.targetUri(m)
    val mid = m.mappingId

    // 1-4: scans + DDL (bucket_exists_guard gives empty catalog, not error)
    val srcCatalog = ObjectStoreCatalog.scanCatalog(spark, srcUri)
    val tgtCatalog = ObjectStoreCatalog.scanCatalog(spark, dstUri)
    ObjectStoreCatalog.ensureBucket(spark, dstUri)

    // a pre-partition-layout (legacy whole-table) ledger is migrated once,
    // under the global table lock, before this mapping reads its partition
    SyncEngine.ensurePartitionedLayout(spark, config.ledgerPath)

    // 5-6b: diff join + predicate (replaces the reference's N+1 loop).
    // The eager barrier reads this mapping's partition once, here, before
    // any copy: the cycle diffs against the ledger as of its start, and
    // the commit below may then swap the partition this read listed. The
    // outcome counters (sync.go:97-99,166-170) ride on the same job.
    val (decided, diff) = pin(SyncOps.catalogLedgerDiff(srcCatalog,
        readLedgerPartition(spark, config.ledgerPath, mid), mid),
      Seq(countWhere(col("action") =!= "skip", "changed"),
          countWhere(col("action") === "skip", "skipped")))
    val toCopy = SyncOps.needsSync(decided)

    // 6c-6e: distributed stream copy (sync.go:134-196). Each task row keeps
    // its catalog columns, so the copy barrier IS the ledger batch and
    // nothing joins it back; it is eager because the executor is
    // side-effecting and a lazy plan would re-copy per downstream action.
    // A diff that observed no change runs no copy job: the batch is empty.
    val (updates, copy) =
      if (diff("changed") == 0)
        (spark.createDataFrame(spark.sparkContext.emptyRDD[Row], LedgerSchema),
         Map("copied" -> 0L, "failed" -> 0L))
      else {
        val (copied, counts) = pin(
          CopyExecutor.copyRows(spark, toCopy, srcUri, dstUri),
          Seq(countWhere(col("sync_status") === "success", "copied"),
              countWhere(col("sync_status") =!= "success", "failed")))
        (copied.select(lit(0L).as("id"), lit(mid).as("mapping_id"),
          col("name").as("object_name"), col("size"), col("last_modified"),
          col("etag"), col("content_type"),
          current_timestamp().as("last_synced"), col("sync_status"),
          col("metadata")), counts)
      }

    // post-copy tagging hook (README "Known limitations" → code): the
    // reference sets Content-Type/user-metadata headers on every PUT; the
    // Hadoop-FS copy path cannot, so a deployment-supplied tagger gets the
    // batch's success rows, one per object PHYSICALLY written, lazy over
    // the copy barrier. A cycle that copied nothing never calls it.
    var tagFailed = 0L
    if (copy("copied") > 0) {
      val tagged = updates.filter(col("sync_status") === "success")
        .select(col("object_name"), col("content_type"), col("metadata"))
      try tagger.tag(mid, dstUri, tagged)
      catch {
        // tagger failure is NOT a cycle failure: the objects ARE copied
        // and the ledger upsert below must still record them, or every
        // successful copy would be forgotten and re-copied (and re-tagged)
        // next cycle. The whole batch counts as failed (no partial-progress
        // signal); the next cycle's tagger sees only ITS copies, so
        // re-tagging is the deployment's retry loop (PostCopyTagger).
        case e: Exception if !isInterruption(e) =>
          tagFailed = copy("copied")
          System.err.println(s"[sync] mapping $mid post-copy tagging " +
            s"failed for a batch of ${copy("copied")} object(s): " +
            s"${e.getClass.getName}: ${e.getMessage} - copies and ledger " +
            "commit proceed; re-apply headers via the tagger's own retry path")
      }
    }

    // 8: orphans — delete from target, then from ledger (sync.go:199-234);
    // failed deletes keep their ledger rows (sync.go:217-221)
    val orphans = SyncOps.orphanAntiJoin(tgtCatalog, srcCatalog)
    val (deleteReceipts, deleted) = pin(
      CopyExecutor.deleteObjects(spark, orphans, dstUri).toDF(),
      Seq(countWhere(col("removed"), "removed")))

    // ledger COMMIT: reference ON-CONFLICT upsert semantics — the batch's
    // rows win unconditionally (anti-join+union, no window sort) — then
    // the keyed delete of successfully-removed orphans. It reads, merges
    // and atomically swaps ONLY this mapping's `mapping_id=<mid>/`
    // partition, under a lock keyed to it: O(|this mapping|) I/O, the
    // reference's per-row SQLite upsert cost model
    // (internal/database/database.go:346-364), and only two drivers
    // syncing the SAME mapping contend. updates/doomed project the copy
    // and delete barriers, which broadcast, so the in-lock work scans the
    // partition straight into its write: no ledger shuffle, no copy re-run.
    val doomed = deleteReceipts.filter(col("removed"))
      .select(lit(mid).as("mapping_id"), col("object_name"))
    def commitLedger(): Unit = {
      // re-read the CURRENT partition inside the critical section (never
      // the cycle snapshot): a commit from another DRIVER syncing this
      // same mapping — serialized by the partition lock file — must not
      // be clobbered by a merge against stale state. We HOLD this
      // partition's lock here, so the proof-of-life recovery wait is
      // disabled (callerHoldsLock): our own heartbeat would keep the lock
      // fresh forever, and under the lock no OTHER committer of this
      // partition can be live — immediate roll-forward/back is safe.
      val base = SyncEngine.readLedgerPartition(spark, config.ledgerPath,
        mid, callerHoldsPartitionLock = true)
      SyncEngine.writeLedgerPartition(spark, SyncOps.ledgerUpsert(base, updates)
        .join(doomed, Seq("mapping_id", "object_name"), "left_anti"),
        config.ledgerPath, mid)
    }
    // an all-skip cycle has nothing to commit — skipping the write keeps
    // steady-state cycles from touching the ledger at all (and is what
    // lets the partition-isolation spec pin other partitions' mtimes)
    if (diff("changed") > 0 || deleted("removed") > 0) {
      // two locks, two scopes: the JVM monitor serializes this driver's
      // threads on the SAME partition (cheap, no FS round-trips while
      // waiting); the lock FILE serializes across driver processes
      // sharing the ledger path — the cross-process safety the reference
      // inherited from SQLite's own file locking
      // (internal/database/database.go:29-43)
      val sfx = SyncEngine.partitionLockSuffix(mid)
      SyncEngine.jvmMonitor(config.ledgerPath + sfx).synchronized {
        SyncEngine.withLedgerFileLock(spark, config.ledgerPath,
          lockSuffix = sfx)(commitLedger())
      }
    }

    MappingReport(mid,
      synced = diff("changed") - copy("failed"),
      skipped = diff("skipped"),
      failed = copy("failed"),
      orphansRemoved = deleted("removed"),
      tagFailed = tagFailed)
  }
}

object SyncEngine {

  /** True when the exception is (or wraps) a thread interrupt / job
    * cancellation — Spark surfaces a stop() interrupt variously as a raw
    * InterruptedException (AQE's result queue, DAGScheduler awaits) or a
    * SparkException whose message or cause chain records the cancellation.
    */
  private[graft] def isInterruption(e: Throwable): Boolean = {
    var t = e
    var depth = 0
    while (t != null && depth < 10) {
      t match {
        case _: InterruptedException => return true
        case s: org.apache.spark.SparkException
          if s.getMessage != null &&
            (s.getMessage.contains("CANCELLED") ||
             s.getMessage.contains("cancelled")) => return true
        case _ =>
      }
      t = t.getCause
      depth += 1
    }
    false
  }

  /** An observed count of the rows where `cond` holds: 0, not null,
    * over an empty barrier. */
  private def countWhere(cond: Column, name: String): Column =
    count(when(cond, 1)).as(name)

  /** One TTL constant shared by the lock's staleness machinery and
    * readLedger's proof-of-life check, so the two heuristics can't drift.
    */
  private[graft] val DefaultStaleTtlMs: Long = 600000L

  /** Object-store schemes whose `create(path, overwrite = false)` is
    * check-then-create rather than atomic — a ledger lock there is a
    * broken mutex. abfs/abfss are deliberately NOT listed: on
    * hierarchical-namespace accounts the driver's conditional create IS
    * atomic (and non-HNS abfs is a misconfiguration with louder failures
    * than this one). HDFS, file, and NFS-backed file are the supported
    * homes for the ledger.
    */
  private[graft] val NonAtomicCreateSchemes: Set[String] =
    Set("s3a", "s3", "s3n", "gs", "wasb", "wasbs", "oss", "cos", "swift")

  private[graft] def requireAtomicCreateScheme(scheme: Option[String]): Unit =
    scheme.map(_.toLowerCase).filter(NonAtomicCreateSchemes).foreach { s =>
      throw new IllegalStateException(
        s"ledger lock on '$s://' cannot be atomic: create-no-overwrite is " +
        "check-then-create on this store, so two drivers could both acquire " +
        "the commit lock and race the read-merge-swap. Point ledgerPath at " +
        "a real filesystem (file://, HDFS, NFS mount) or serialize commits " +
        "with an external lock service.")
    }

  /** Per-lock-path JVM monitors: threads in THIS driver contending for
    * the same ledger lock file (global table lock, or one partition's
    * lock) serialize on a cheap monitor first, so waiters don't spin on
    * filesystem round-trips. Keyed by the lock path, so commits to
    * DIFFERENT partitions never serialize in-JVM either (SCALE.md
    * mapping-level parallelism note). Cross-PROCESS serialization is
    * [[withLedgerFileLock]] underneath.
    *
    * Boundedness: entries live for the JVM lifetime, one Object per
    * distinct ledgerPath+partition key — config-scale (a driver's
    * mappings × its ledger paths), not data-scale, so there is no
    * eviction. A hypothetical long-lived multi-tenant driver minting
    * UNBOUNDED dynamic ledger paths would want a weak-value cache here
    * instead; this engine's config model (ledger paths fixed at startup,
    * one partition per configured mapping) cannot reach that shape.
    */
  private val monitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[graft] def jvmMonitor(key: String): Object =
    monitors.computeIfAbsent(key, _ => new Object)

  /** Partition-dir escaping — MUST byte-match what
    * `DataFrameWriter.partitionBy("mapping_id")` produces for the same
    * value, since partition commits rename directories the whole-table
    * writer also creates; delegating to Catalyst's own escaper is that
    * guarantee (mapping ids carry ':' and '>', both escaped).
    */
  private[graft] def escapeMappingId(mid: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName(mid)

  /** Lock-file suffix for one partition's commit lock:
    * `<ledger>.lock.p.<escaped mid>` — distinct per mapping, sibling of
    * the global `<ledger>.lock` the whole-table paths use.
    */
  private[graft] def partitionLockSuffix(mid: String): String =
    ".lock.p." + escapeMappingId(mid)

  /** Cross-PROCESS ledger commit lock. [[jvmMonitor]] serializes commits
    * inside one driver JVM; two drivers sharing a ledger path raced the
    * read-merge-swap silently — the reference got cross-process safety for
    * free from SQLite's file locking (internal/database/database.go:29-43).
    * This restores it with an atomic create-if-absent lock FILE at
    * `<ledger>.lock`:
    *
    *  - acquire = ATOMIC create-no-overwrite. On a local filesystem that
    *    is `File.createNewFile` (O_CREAT|O_EXCL — a kernel primitive); on
    *    HDFS-like stores it is `fs.create(lock, overwrite = false)`,
    *    atomic at the NameNode. NOT Hadoop rename: RawLocalFileSystem's
    *    rename is check-then-rename, and on POSIX a rename onto an
    *    existing file REPLACES it — two concurrent acquirers could both
    *    "win" (caught by the racing spec as a concurrent writeLedger
    *    `_temporary` clobber; r12).
    *  - the owner token is written right after creation; creation itself
    *    is the lock, so a reader that races the token write sees an
    *    empty/foreign token and treats the lock as not-ours — always the
    *    safe direction. If the token WRITE fails (disk full, quota), the
    *    just-created file is deleted before reporting failure — an
    *    ownerless lock must not outlive its failed acquisition.
    *  - heartbeat: while held, a daemon thread refreshes the lock's mtime
    *    every staleTtlMs/3, so an honest commit of ANY duration (the
    *    in-lock merge is a Spark job — unbounded on a congested cluster)
    *    never looks crashed. "Stale" therefore means the owner PROCESS is
    *    gone, not merely slow. (The flip side, documented: a hung-but-
    *    alive owner keeps beating and holds the lock — the same contract
    *    as SQLite's process-lifetime file locks; waiters time out loudly.)
    *  - stale break: a lock whose mtime is older than `staleTtlMs` is a
    *    dead owner's. Deletion is NOT bare check-then-delete (a breaker
    *    could otherwise delete the LIVE lock a faster breaker had just
    *    broken and re-acquired): breakers serialize through
    *    `<ledger>.lock.break` (same atomic create primitive, token
    *    content, token-checked release) and re-verify UNDER it that the
    *    lock file is STILL the observed one (same mtime) and still
    *    stale before deleting. While the stale file exists, ordinary
    *    acquirers' create-if-absent fails; after the verified delete any
    *    acquirer — the breaker or a bystander — may win the next create,
    *    which is fine (the breaker then just keeps polling). A crashed
    *    BREAKER's orphaned break file ages out on its own short TTL via a
    *    double-observed delete. Honest residual, stated precisely: the
    *    orphan cleanup is not itself atomic (no meta-lock turtle stack),
    *    so a breaker stalled past `breakTtlMs` (≥ 5 s inside a
    *    few-syscall section) can lose its break file to a peer, two
    *    verify-and-delete sections can then overlap, and the slower one
    *    could delete a lock re-created in its stat-to-delete microsecond
    *    window. Closing that last window needs an atomic compare-and-
    *    delete no Hadoop filesystem offers — it is exactly where the
    *    documented "front commits with an external lock service"
    *    escalation applies; short of it, the stack of preconditions
    *    (dead owner + stalled breaker + orphan-broken break file +
    *    µs-window create) is the accepted residual.
    *  - release deletes the lock only if it still carries OUR token (a
    *    stale-break may have legitimately stolen it mid-body); the token
    *    read loops to EOF (a single short read must not misread ours as
    *    foreign and leak the file until the TTL).
    *
    * Store caveat, ENFORCED not just documented: S3-style object stores
    * have no atomic create-no-overwrite either — acquisition checks the
    * ledger scheme against [[NonAtomicCreateSchemes]] and throws up front,
    * so an s3a:// ledger fails loudly instead of proceeding with a broken
    * mutex. Point the ledger at a real filesystem (HDFS/NFS) or front
    * commits with an external lock service.
    *
    * `heartbeat = false` exists for specs: it simulates an owner whose
    * process can no longer refresh (the crash the TTL is for) while the
    * body still runs.
    */
  private[graft] def withLedgerFileLock[A](
      spark: SparkSession, ledgerPath: String,
      // timeout deliberately EXCEEDS the stale TTL: a crashed owner's
      // abandoned lock then resolves by waiting out the TTL and breaking
      // (one slow commit) instead of failing every cycle for TTL minutes
      // — for a sync engine, eventual progress beats fast failure. An
      // honest contending hold is seconds (the in-lock work is the cheap
      // merge), so the long timeout is only ever reached past a crash.
      timeoutMs: Long = 660000, staleTtlMs: Long = DefaultStaleTtlMs,
      heartbeat: Boolean = true,
      // ".lock" = the global table lock; partitionLockSuffix(mid) scopes
      // the same machinery (heartbeat, stale break, token release) to one
      // partition's commits
      lockSuffix: String = ".lock")(body: => A): A = {
    val lock = new org.apache.hadoop.fs.Path(ledgerPath + lockSuffix)
    val breakLock =
      new org.apache.hadoop.fs.Path(ledgerPath + lockSuffix + ".break")
    // Enforce the documented contract BEFORE building a mutex that isn't
    // one: on stores whose create(overwrite=false) is check-then-create
    // (two drivers can both "win"), the code must throw loudly here, not
    // proceed with a broken lock and silently race the read-merge-swap.
    // Raw-URI check first — it needs no connector jar on the classpath.
    requireAtomicCreateScheme(
      Option(new org.apache.hadoop.fs.Path(ledgerPath).toUri.getScheme))
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // and again post-qualification, catching a scheme-less ledgerPath
    // resolved by a non-atomic DEFAULT filesystem
    requireAtomicCreateScheme(
      Option(fs.makeQualified(lock).toUri.getScheme))
    val token = java.util.UUID.randomUUID().toString
    val breakTtlMs = math.max(5000L, staleTtlMs / 10)
    // local filesystems get the kernel's O_EXCL create; qualify through
    // the FS so relative ledger paths resolve the same way Hadoop does
    def localFile(p: org.apache.hadoop.fs.Path): Option[java.io.File] = {
      val qualified = fs.makeQualified(p).toUri
      if (qualified.getScheme == "file")
        Some(new java.io.File(qualified.getPath))
      else None
    }
    /** The one atomic create-no-overwrite primitive, content written after
      * creation; on content-write failure the created file is removed so a
      * failed acquisition cannot leak an ownerless lock.
      */
    def tryCreate(p: org.apache.hadoop.fs.Path, content: String): Boolean =
      localFile(p) match {
        case Some(f) =>
          val created = try f.createNewFile()
                        catch { case _: java.io.IOException => false }
          if (created) {
            try java.nio.file.Files.write(f.toPath, content.getBytes("UTF-8"))
            catch { case e: java.io.IOException => f.delete(); throw e }
          }
          created
        case None =>
          val out = try Some(fs.create(p, false)) // atomic create-no-overwrite
                    catch { case _: java.io.IOException => None }
          out match {
            case None => false
            case Some(o) =>
              try { o.write(content.getBytes("UTF-8")); o.close(); true }
              catch { case e: java.io.IOException =>
                try o.close() catch { case _: java.io.IOException => () }
                try fs.delete(p, false)
                catch { case _: java.io.IOException => () }
                throw e
              }
          }
      }
    def readTokenOf(p: org.apache.hadoop.fs.Path): Option[String] =
      try {
        val in = fs.open(p)
        try {
          val buf = new Array[Byte](64)
          var n = 0
          var r = in.read(buf, n, buf.length - n)
          while (r > 0 && n < buf.length) { n += r; r = in.read(buf, n, buf.length - n) }
          if (n > 0) Some(new String(buf, 0, n, "UTF-8")) else None
        } finally in.close()
      } catch { case _: java.io.IOException => None }
    def status(p: org.apache.hadoop.fs.Path) =
      try Some(fs.getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    /** Delete a stale main lock — only while holding the break lock, and
      * only after re-verifying (under it) that the observed stale file is
      * still the one present and still stale. See scaladoc.
      */
    def breakStale(observed: org.apache.hadoop.fs.FileStatus): Unit = {
      val gotBreak =
        try tryCreate(breakLock, token)
        catch { case _: java.io.IOException => false }
      if (!gotBreak) {
        // possibly a crashed breaker's orphan: syscall-short critical
        // section, so a short TTL governs it. Double-observe before the
        // delete (same mtime, still beyond TTL) so a FRESH break file
        // created between our stat and delete is very unlikely to be the
        // one removed; the residual race is documented in the scaladoc —
        // main-lock safety never rests on it (the verified delete below
        // re-checks under whatever serialization held).
        status(breakLock).foreach { b =>
          if (System.currentTimeMillis() - b.getModificationTime > breakTtlMs)
            status(breakLock).foreach { b2 =>
              if (b2.getModificationTime == b.getModificationTime &&
                  System.currentTimeMillis() - b2.getModificationTime > breakTtlMs)
                try fs.delete(breakLock, false)
                catch { case _: java.io.IOException => () }
            }
        }
        return // retry on the next poll
      }
      try
        status(lock).foreach { c =>
          if (c.getModificationTime == observed.getModificationTime &&
              System.currentTimeMillis() - c.getModificationTime > staleTtlMs)
            try fs.delete(lock, false) // verified dead owner; next create wins
            catch { case _: java.io.IOException => () } // transient: retry next poll
        }
      finally {
        // release only OUR break file: a concurrent orphan-break may have
        // legitimately replaced it while we stalled
        if (readTokenOf(breakLock).contains(token))
          try fs.delete(breakLock, false)
          catch { case _: java.io.IOException => () }
      }
    }
    val deadline = System.currentTimeMillis() + timeoutMs
    var acquired = false
    var beat: Option[Thread] = None
    try {
      while (!acquired) {
        acquired = try tryCreate(lock, token)
                   catch { case _: java.io.IOException => false }
        if (!acquired) {
          status(lock).foreach { s =>
            if (System.currentTimeMillis() - s.getModificationTime > staleTtlMs)
              breakStale(s)
          }
          if (System.currentTimeMillis() > deadline)
            throw new IllegalStateException(
              s"ledger commit lock timeout after $timeoutMs ms: $lock is " +
                "held by another driver (or stale below the TTL) — " +
                "processes sharing a ledger path serialize commits here")
          Thread.sleep(50)
        }
      }
      if (heartbeat) {
        val t = new Thread(() => {
          try {
            while (!Thread.currentThread().isInterrupted) {
              Thread.sleep(math.max(50L, staleTtlMs / 3))
              try fs.setTimes(lock, System.currentTimeMillis(), -1)
              catch { case _: java.io.IOException => () }
            }
          } catch { case _: InterruptedException => () }
        }, s"graft-ledger-lock-heartbeat")
        t.setDaemon(true); t.start()
        beat = Some(t)
      }
      body
    } finally {
      beat.foreach { t => t.interrupt(); t.join(1000) }
      if (acquired) {
        // release only OUR lock: if a stale-break stole it, leave theirs
        if (readTokenOf(lock).contains(token))
          try fs.delete(lock, false)
          catch { case _: java.io.IOException => () }
      }
    }
  }

  /** v3 adds `metadata`: the reference DROPS user metadata at the ledger
    * and lists full propagation as future work (`README.md:373-375`); here
    * the catalog's MAP<STRING,STRING> survives the merge. Excluded from
    * oracle parity projections (map columns can't be sorted/hashed by the
    * DuckDB compare, SURVEY §7.4) and from the upsert tie-break (maps are
    * unorderable — see SyncOps.ledgerUpsert).
    */
  val LedgerSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("mapping_id", StringType),
    StructField("object_name", StringType), StructField("size", LongType),
    StructField("last_modified", TimestampType), StructField("etag", StringType),
    StructField("content_type", StringType),
    StructField("last_synced", TimestampType),
    StructField("sync_status", StringType),
    StructField("metadata", MapType(StringType, StringType), nullable = true)))

  /** Wait out, then recover, one crashed commit swap — the shared core of
    * whole-TABLE and per-PARTITION recovery (same two-rename protocol,
    * different dst/tmp/old/lock paths).
    *
    * A committer's swap (rename dst→old, rename tmp→dst) has a short
    * dst-absent window; a reader landing inside it must WAIT it out, not
    * conclude the data is gone (an empty read would re-sync the whole
    * mapping). `old`/`tmp` present while dst is absent is that window's
    * signature; bounded wait first.
    *
    * Signature STILL present after the bounded wait ⇒ the committer is
    * PROBABLY dead (the swap is two renames — milliseconds when alive),
    * and falling through to an empty read would be DATA LOSS one step
    * later: the next commit would merge against empty and its own swap
    * deletes `old`, the only surviving copy. But "probably" isn't a
    * license to mutate dst under a LIVE committer merely stalled past the
    * heuristic (GC pause, FS stall — the in-lock work is unbounded): the
    * committer holds `lockP` with a heartbeat-refreshed mtime, so a FRESH
    * lock is proof of life — keep waiting while it stays fresh. Only a
    * lock that is absent or older than the stale TTL (the same TTL the
    * lock's own breaker uses) clears recovery to proceed.
    *
    * `callerHoldsLock` = the caller IS the current owner of `lockP`
    * (commit paths recovering a PRIOR owner's crash before merging). Both
    * waits are then skipped outright: the heartbeat refreshes the
    * caller's OWN lock, so the liveness loop would never exit (the r13
    * advisory deadlock — commitLedger spinning forever inside the global
    * commit lock), and under the lock no other committer of this dst can
    * be live, so immediate roll-forward/back is safe.
    *
    * RECOVER: roll the crashed commit FORWARD if its tmp completed (tmp
    * is fully written before the first rename — `_SUCCESS` is the
    * witness), else roll BACK to `old`. A rename that loses a
    * (vanishingly rare) race with a resurrected committer just returns
    * false — dst then holds that committer's result, also fine.
    */
  private def recoverSwap(fs: org.apache.hadoop.fs.FileSystem,
                          dst: org.apache.hadoop.fs.Path,
                          tmpP: org.apache.hadoop.fs.Path,
                          oldP: org.apache.hadoop.fs.Path,
                          lockP: org.apache.hadoop.fs.Path,
                          swapWaitSleepMs: Long, lockStaleTtlMs: Long,
                          callerHoldsLock: Boolean): Unit = {
    def signature: Boolean = fs.exists(oldP) || fs.exists(tmpP)
    if (!callerHoldsLock) {
      var waits = 0
      while (!fs.exists(dst) && signature && waits < 50) {
        Thread.sleep(swapWaitSleepMs); waits += 1
      }
      def committerAlive: Boolean =
        try System.currentTimeMillis() -
              fs.getFileStatus(lockP).getModificationTime < lockStaleTtlMs
        catch { case _: java.io.IOException => false }
      while (!fs.exists(dst) && signature && committerAlive) {
        Thread.sleep(swapWaitSleepMs)
      }
    }
    if (!fs.exists(dst)) {
      try {
        if (fs.exists(tmpP) &&
            fs.exists(new org.apache.hadoop.fs.Path(tmpP, "_SUCCESS")))
          fs.rename(tmpP, dst)
        else if (fs.exists(oldP))
          fs.rename(oldP, dst)
      } catch { case _: java.io.IOException => () }
    }
  }

  /** Recover crashed PARTITION swaps under the table root: any
    * `.tmp_mapping_id=X` / `.old_mapping_id=X` whose `mapping_id=X` dir
    * is absent is a partition committer that died mid-swap. Hidden names
    * (leading '.') keep in-flight/abandoned staging invisible to parquet
    * readers, so the only reader-visible anomaly is the missing dst dir
    * this repairs. Only the whole-table [[readLedger]] runs this; it
    * holds no partition lock, so every recovery defers to that lock.
    */
  private def recoverPartitionSwaps(fs: org.apache.hadoop.fs.FileSystem,
                                    path: String, swapWaitSleepMs: Long,
                                    lockStaleTtlMs: Long): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(root)) return
    val names = fs.listStatus(root).map(_.getPath.getName)
    val crashed = names.collect {
      case n if n.startsWith(".tmp_mapping_id=") =>
        n.stripPrefix(".tmp_mapping_id=")
      case n if n.startsWith(".old_mapping_id=") =>
        n.stripPrefix(".old_mapping_id=")
    }.distinct
    crashed.foreach { esc =>
      recoverSwap(fs,
        new org.apache.hadoop.fs.Path(root, s"mapping_id=$esc"),
        new org.apache.hadoop.fs.Path(root, s".tmp_mapping_id=$esc"),
        new org.apache.hadoop.fs.Path(root, s".old_mapping_id=$esc"),
        new org.apache.hadoop.fs.Path(path + ".lock.p." + esc),
        swapWaitSleepMs, lockStaleTtlMs, callerHoldsLock = false)
      // a recovered (or rolled-back) swap may leave a stale hidden tmp
      // behind; it is invisible to readers and the next commit's
      // Overwrite write replaces it, so no cleanup pass is needed here
    }
  }

  /** True when a ledger dir (the table root, or one partition) holds
    * reader-visible content (partition dirs or data files) — `_SUCCESS`
    * markers and hidden staging dirs alone are an empty ledger, and
    * handing them to `spark.read.parquet` would throw instead.
    */
  private def hasVisibleData(fs: org.apache.hadoop.fs.FileSystem,
                             p: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(p) && fs.listStatus(p).exists { s =>
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }

  // swapWaitSleepMs exists for specs (the recovery spec stages permanent
  // crash signatures and must not pay the full 5 s production wait); the
  // default 50 × 100 ms bound is the production behavior.
  // callerHoldsTableLock: set by commit paths that already own
  // `<path>.lock` — disables the recovery waits (see recoverSwap: the
  // caller's own heartbeat would otherwise keep the liveness loop alive
  // forever, the r13 advisory deadlock).
  def readLedger(spark: SparkSession, path: String,
                 swapWaitSleepMs: Long = 100,
                 lockStaleTtlMs: Long = DefaultStaleTtlMs,
                 callerHoldsTableLock: Boolean = false): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverSwap(fs, p,
      new org.apache.hadoop.fs.Path(path + ".tmp"),
      new org.apache.hadoop.fs.Path(path + ".old"),
      new org.apache.hadoop.fs.Path(path + ".lock"),
      swapWaitSleepMs, lockStaleTtlMs, callerHoldsTableLock)
    recoverPartitionSwaps(fs, path, swapWaitSleepMs, lockStaleTtlMs)
    if (hasVisibleData(fs, p)) {
      // read with the stored schema first: a pre-mapping (v1) ledger must
      // be migrated, not silently null-filled by a forced schema
      val stored = spark.read.parquet(path)
      val (migrated, _) = LedgerMigrations.migrate(stored)
      migrated.select(LedgerSchema.fieldNames.toIndexedSeq.map(org.apache.spark.sql.functions.col): _*)
    } else
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], LedgerSchema)
  }

  /** Atomic-enough rewrite: write to `<path>.tmp`, then swap. (Delta MERGE
    * would be the managed idiom; not in the offline jar set — SURVEY §7.4.)
    * Partitioned by mapping_id so per-mapping reads prune.
    */
  def writeLedger(spark: SparkSession, ledger: DataFrame, path: String): Unit = {
    val tmp = path + ".tmp"
    ledger.write.mode(SaveMode.Overwrite).partitionBy("mapping_id").parquet(tmp)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(path)
    val old = new org.apache.hadoop.fs.Path(path + ".old")
    if (fs.exists(old)) fs.delete(old, true)
    // rename results are CHECKED: a silent false here would leave the
    // swap half-done with no error anywhere (Hadoop rename reports
    // failure by return value, not exception). A false can also mean an
    // unlocked reader's crash-recovery (readLedger) rolled our tmp
    // forward during a long pause — dst then already holds this commit,
    // which the second check tolerates.
    if (fs.exists(dst) && !fs.rename(dst, old))
      throw new IllegalStateException(
        s"ledger swap: rename $dst -> $old failed")
    if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), dst) &&
        !fs.exists(dst))
      throw new IllegalStateException(
        s"ledger swap: rename $tmp -> $dst failed")
    if (fs.exists(old)) fs.delete(old, true)
  }

  /** True when the ledger is in (or trivially reachable as) the
    * partitioned layout every commit since the partition-scoped protocol
    * assumes: absent/empty, or every visible child is a `mapping_id=`
    * partition dir. Root-level data files are the legacy whole-table
    * layout (or a pre-mapping v1 dump) and need the one-time
    * [[ensurePartitionedLayout]] rewrite first.
    */
  private[graft] def partitionedLayout(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Boolean =
    !fs.exists(p) || fs.listStatus(p).forall { s =>
      val n = s.getPath.getName
      n.startsWith("mapping_id=") || n.startsWith("_") || n.startsWith(".")
    }

  /** One-time legacy-layout migration: a ledger whose data files sit at
    * the table root (pre-partition layout, or a v1/v2 schema dump) is
    * read, schema-migrated, and rewritten `partitionBy("mapping_id")`
    * under the GLOBAL table lock — after which every commit is
    * partition-scoped and only same-mapping drivers ever contend. Fast
    * path (already partitioned) is one listStatus, no lock.
    */
  private[graft] def ensurePartitionedLayout(spark: SparkSession,
                                             path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a mid-flight whole-table swap can make the root look absent; wait
    // it out with the normal liveness rules before judging the layout
    recoverSwap(fs, p,
      new org.apache.hadoop.fs.Path(path + ".tmp"),
      new org.apache.hadoop.fs.Path(path + ".old"),
      new org.apache.hadoop.fs.Path(path + ".lock"),
      swapWaitSleepMs = 100, lockStaleTtlMs = DefaultStaleTtlMs,
      callerHoldsLock = false)
    if (partitionedLayout(fs, p)) return
    jvmMonitor(path + ".lock").synchronized {
      withLedgerFileLock(spark, path) {
        if (!partitionedLayout(fs, p)) {
          val full = readLedger(spark, path, callerHoldsTableLock = true)
          writeLedger(spark, full, path)
        }
      }
    }
  }

  /** ONE mapping's ledger rows — the read a sync cycle diffs against and
    * its commit merges with. Same recovery discipline as [[readLedger]]
    * but the waits stay per-scope: the whole-table signature defers to
    * the GLOBAL lock's liveness (this caller never holds it), while the
    * caller's own partition recovers immediately when it holds that
    * partition's lock (`callerHoldsPartitionLock` — see [[recoverSwap]]).
    *
    * Reads the `mapping_id=<mid>/` dir itself, `mapping_id` added as a
    * literal: I/O is O(|partition|), and no other mapping's partition is
    * listed, waited on or recovered. Expects the partitioned layout
    * (callers run [[ensurePartitionedLayout]] first).
    */
  def readLedgerPartition(spark: SparkSession, path: String, mid: String,
                          swapWaitSleepMs: Long = 100,
                          lockStaleTtlMs: Long = DefaultStaleTtlMs,
                          callerHoldsPartitionLock: Boolean = false): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverSwap(fs, p,
      new org.apache.hadoop.fs.Path(path + ".tmp"),
      new org.apache.hadoop.fs.Path(path + ".old"),
      new org.apache.hadoop.fs.Path(path + ".lock"),
      swapWaitSleepMs, lockStaleTtlMs, callerHoldsLock = false)
    val esc = escapeMappingId(mid)
    val dir = new org.apache.hadoop.fs.Path(p, s"mapping_id=$esc")
    recoverSwap(fs, dir,
      new org.apache.hadoop.fs.Path(p, s".tmp_mapping_id=$esc"),
      new org.apache.hadoop.fs.Path(p, s".old_mapping_id=$esc"),
      new org.apache.hadoop.fs.Path(path + partitionLockSuffix(mid)),
      swapWaitSleepMs, lockStaleTtlMs, callerHoldsPartitionLock)
    // the known schema spares a schema-inference job; a v2 file's missing
    // `metadata` reads as null, which is the v2 → v3 migration
    if (hasVisibleData(fs, dir))
      spark.read.schema(StructType(LedgerSchema.filterNot(_.name == "mapping_id")))
        .parquet(dir.toString)
        .select(LedgerSchema.fieldNames.toIndexedSeq.map(n =>
          if (n == "mapping_id") lit(mid).as(n) else col(n)): _*)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], LedgerSchema)
  }

  /** Partition-scoped commit write: stage ONE mapping's merged rows in a
    * hidden sibling dir, then atomically swap only
    * `<path>/mapping_id=<mid>/` — the whole-table [[writeLedger]]
    * two-rename protocol scoped to a partition, with the same checked
    * renames and `_SUCCESS` roll-forward witness (Spark writes it at the
    * staging root, and it travels into the partition dir, where the
    * leading underscore keeps it invisible to readers). Other mappings'
    * partition dirs are never listed, read, or touched.
    */
  def writeLedgerPartition(spark: SparkSession, rows: DataFrame,
                           path: String, mid: String): Unit =
    writeLedgerPartition(spark, rows, path, mid, crashAtStep = -1)

  /** Committer death simulated at a swap step — the crash-matrix property
    * test's seam. Thrown only when `crashAtStep` ≥ 0, which no production
    * call site sets.
    */
  private[graft] final class SimulatedCrash(val step: Int)
    extends RuntimeException(s"simulated committer crash at swap step $step")

  /** Test seam over the swap sequence: `crashAtStep` k aborts after k
    * completed filesystem mutations — 0 = died mid-tmp-write (`_SUCCESS`
    * stripped, the no-roll-forward witness), 1 = tmp complete, 2 = after
    * the pre-swap old cleanup, 3 = dst renamed away (the window recovery
    * must roll forward from), 4 = new dst in place, stale old left. The
    * crash-matrix property (`PropertySpec`) drives every k under
    * contention and asserts readers always see exactly one complete
    * generation.
    */
  private[graft] def writeLedgerPartition(spark: SparkSession,
                                          rows: DataFrame, path: String,
                                          mid: String,
                                          crashAtStep: Int): Unit = {
    val esc = escapeMappingId(mid)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(root, s"mapping_id=$esc")
    val tmp = new org.apache.hadoop.fs.Path(root, s".tmp_mapping_id=$esc")
    val old = new org.apache.hadoop.fs.Path(root, s".old_mapping_id=$esc")
    def crash(k: Int): Unit =
      if (crashAtStep == k) throw new SimulatedCrash(k)
    // the guard filter is belt-and-braces (commit inputs are keyed to
    // this mapping by construction); dropping the partition column
    // matches what partitionBy writes inside a partition dir, so
    // whole-table reads reconstruct it from the dir name
    rows.filter(org.apache.spark.sql.functions.col("mapping_id") === mid)
      .drop("mapping_id")
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    if (crashAtStep == 0) {   // died mid-write: no _SUCCESS witness
      fs.delete(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"), false)
      throw new SimulatedCrash(0)
    }
    crash(1)
    if (fs.exists(old)) fs.delete(old, true)
    crash(2)
    if (fs.exists(dst) && !fs.rename(dst, old))
      throw new IllegalStateException(
        s"ledger partition swap: rename $dst -> $old failed")
    crash(3)
    if (!fs.rename(tmp, dst) && !fs.exists(dst))
      throw new IllegalStateException(
        s"ledger partition swap: rename $tmp -> $dst failed")
    crash(4)
    if (fs.exists(old)) fs.delete(old, true)
  }
}
