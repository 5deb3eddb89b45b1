package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.config.{MappingConf, ProviderConf, SyncConfig}
import graft.sources.ObjectStoreCatalog

/** End-to-end engine test over local-FS "buckets" — the Spark analog of the
  * reference's integration test (`internal/sync/sync_test.go:78-127`):
  * copy verified byte-for-byte, ledger row recorded, second run skips,
  * orphan deleted.
  */
class SyncEngineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Spec.spark

  private def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes("UTF-8"))
  }

  private def mkConfig(root: Path): SyncConfig = SyncConfig(
    providers = Seq(ProviderConf("local", "file", s"file://$root")),
    mappings = Seq(MappingConf("local", "src", "local", "dst")),
    ledgerPath = s"$root/ledger")

  /** Runs `body` on its own thread and fails if it takes longer than
    * `seconds`: a cycle that waits forever — on a peer's lock, or on an
    * observation that is never delivered — fails here instead of hanging
    * the suite.
    */
  private def within[A](seconds: Long)(body: => A): A = {
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    try pool.submit(new java.util.concurrent.Callable[A] {
      def call(): A = body
    }).get(seconds, java.util.concurrent.TimeUnit.SECONDS)
    finally pool.shutdownNow()
  }

  /** Two mappings `src{1,2}` → `dst{1,2}` sharing one ledger under `root`. */
  private def mkConfig2(root: Path): SyncConfig = SyncConfig(
    providers = Seq(ProviderConf("local", "file", s"file://$root")),
    mappings = (1 to 2).map(i => MappingConf("local", s"src$i", "local", s"dst$i")),
    ledgerPath = s"$root/ledger")

  test("full sync cycle: copy, ledger, skip, orphan delete") {
    val root = Files.createTempDirectory("graft-sync")
    write(root.resolve("src/file1.txt"), "test")   // mirrors sync_test.go:80
    write(root.resolve("src/sub/file2.json"), """{"a":1}""")
    write(root.resolve("dst/orphan.txt"), "stale")

    val cfg = mkConfig(root)
    assert(cfg.validate().isEmpty)
    val engine = new SyncEngine(spark, cfg)

    // cycle 1: both objects copied, orphan removed
    val r1 = engine.syncAll()
    assert(r1.size == 1)
    assert(r1.head.synced == 2 && r1.head.failed == 0)
    assert(r1.head.orphansRemoved == 1)
    assert(new String(Files.readAllBytes(root.resolve("dst/file1.txt"))) == "test")
    assert(new String(Files.readAllBytes(root.resolve("dst/sub/file2.json")))
      == """{"a":1}""")
    assert(!Files.exists(root.resolve("dst/orphan.txt")))

    // ledger recorded with the reference mapping_id format
    val ledger = SyncEngine.readLedger(spark, cfg.ledgerPath)
    val rows = ledger.collect()
    assert(rows.length == 2)
    assert(rows.forall(_.getAs[String]("mapping_id") == "local:src->local:dst"))
    assert(rows.forall(_.getAs[String]("sync_status") == "success"))
    // v3 metadata round-trip: the catalog's user-metadata map survives the
    // merge into the ledger (the reference drops it — README.md:373-375)
    // and equals what a fresh catalog scan reports for the same object
    val scanned = ObjectStoreCatalog.scanCatalog(spark, cfg.sourceUri(cfg.mappings.head))
      .select("name", "metadata").collect()
      .map(r => r.getString(0) -> r.getAs[Map[String, String]]("metadata")).toMap
    rows.foreach { r =>
      val m = r.getAs[Map[String, String]]("metadata")
      assert(m != null && m == scanned(r.getAs[String]("object_name")))
      assert(m.contains("mtime_ms"))
    }

    // cycle 2: unchanged → everything skips
    val r2 = engine.syncAll()
    assert(r2.head.synced == 0 && r2.head.skipped == 2)

    // modify source → exactly one re-syncs
    Thread.sleep(1100)  // FS mtime granularity
    write(root.resolve("src/file1.txt"), "test-v2")
    val r3 = engine.syncAll()
    assert(r3.head.synced == 1 && r3.head.skipped == 1)
    assert(new String(Files.readAllBytes(root.resolve("dst/file1.txt"))) == "test-v2")

    // delete source object → orphan removed from target AND ledger
    Files.delete(root.resolve("src/sub/file2.json"))
    val r4 = engine.syncAll()
    assert(r4.head.orphansRemoved == 1)
    assert(!Files.exists(root.resolve("dst/sub/file2.json")))
    val ledger2 = SyncEngine.readLedger(spark, cfg.ledgerPath).collect()
    assert(ledger2.map(_.getAs[String]("object_name")).toSet == Set("file1.txt"))
  }

  test("concurrent mapping sync: disjoint mappings, one ledger, no lost update") {
    // the reference's roadmap item (README.md:345-347): mappings run in a
    // bounded pool; ledger commits serialize; per-mapping rows disjoint,
    // so the concurrent read-merge-swap must lose NOTHING
    val root = Files.createTempDirectory("graft-sync-conc")
    for (m <- 1 to 3; f <- 1 to 4)
      write(root.resolve(s"src$m/f$f.txt"), s"m$m-f$f")
    write(root.resolve("dst2/orphan.txt"), "stale")
    val cfg = SyncConfig(
      providers = Seq(ProviderConf("local", "file", s"file://$root")),
      mappings = (1 to 3).map(i =>
        MappingConf("local", s"src$i", "local", s"dst$i")),
      ledgerPath = s"$root/ledger")
    assert(cfg.validate().isEmpty)
    val engine = new SyncEngine(spark, cfg)

    val r1 = engine.syncAll(concurrency = 3)
    assert(r1.size == 3)
    assert(r1.forall(r => r.synced == 4 && r.failed == 0))
    assert(r1.find(_.mappingId.contains("src2")).get.orphansRemoved == 1)
    assert(!Files.exists(root.resolve("dst2/orphan.txt")))
    for (m <- 1 to 3; f <- 1 to 4)
      assert(new String(Files.readAllBytes(
        root.resolve(s"dst$m/f$f.txt"))) == s"m$m-f$f")
    // all three mappings' rows present — the serialized commit kept every
    // concurrent mapping's upsert
    val ledger = SyncEngine.readLedger(spark, cfg.ledgerPath).collect()
    assert(ledger.length == 12)
    assert(ledger.map(_.getAs[String]("mapping_id")).distinct.length == 3)
    assert(ledger.forall(_.getAs[String]("sync_status") == "success"))

    // second concurrent cycle: everything skips (diff against the
    // committed ledger sees no changes)
    val r2 = engine.syncAll(concurrency = 2)
    assert(r2.size == 3)
    assert(r2.forall(r => r.synced == 0 && r.skipped == 4))

    // concurrency = 1 delegates to the sequential path on the same state
    val r3 = engine.syncAll(concurrency = 1)
    assert(r3.forall(r => r.synced == 0 && r.skipped == 4))
  }

  test("crashed commit swap recovers: roll forward to complete .tmp, back to .old") {
    import org.apache.spark.sql.Row
    def mkLedger(root: java.nio.file.Path, rows: Seq[String]): String = {
      val path = s"$root/ledger"
      val df = spark.createDataFrame(
        java.util.Arrays.asList(rows.map(o => Row(0L, "m", o, 1L,
          new java.sql.Timestamp(0L), "e", "text/plain",
          new java.sql.Timestamp(0L), "success",
          Map.empty[String, String])): _*),
        SyncEngine.LedgerSchema)
      SyncEngine.writeLedger(spark, df, path)
      path
    }
    val fsConf = spark.sparkContext.hadoopConfiguration

    // roll FORWARD: committer died between rename(dst→old) and
    // rename(tmp→dst) — dst absent, old = previous state, tmp = the
    // completed new merge (with _SUCCESS). The read must return the NEW
    // rows, and falling to empty would be the data-loss path.
    val r1 = Files.createTempDirectory("graft-swap-fwd")
    val p1 = mkLedger(r1, Seq("obj0"))
    val fs = new org.apache.hadoop.fs.Path(p1).getFileSystem(fsConf)
    // stage the crash: current dst becomes .old; a NEWER merge sits in .tmp
    val two = SyncEngine.readLedger(spark, p1).unionByName(
      spark.createDataFrame(java.util.Arrays.asList(Row(0L, "m", "obj1", 1L,
        new java.sql.Timestamp(0L), "e", "text/plain",
        new java.sql.Timestamp(0L), "success", Map.empty[String, String])),
        SyncEngine.LedgerSchema)).localCheckpoint(true)
    two.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("mapping_id").parquet(p1 + ".tmp")
    assert(fs.rename(new org.apache.hadoop.fs.Path(p1),
      new org.apache.hadoop.fs.Path(p1 + ".old")))
    val fwd = SyncEngine.readLedger(spark, p1, swapWaitSleepMs = 1)
      .select("object_name").collect().map(_.getString(0)).toSet
    assert(fwd == Set("obj0", "obj1"), s"roll-forward read $fwd")
    assert(fs.exists(new org.apache.hadoop.fs.Path(p1)),
      "recovery must restore the dst path itself")

    // roll BACK: committer died mid-tmp-write (no _SUCCESS) after the
    // first rename — .old is the only good copy; the read must return it
    val r2 = Files.createTempDirectory("graft-swap-back")
    val p2 = mkLedger(r2, Seq("objA", "objB"))
    val fs2 = new org.apache.hadoop.fs.Path(p2).getFileSystem(fsConf)
    assert(fs2.rename(new org.apache.hadoop.fs.Path(p2),
      new org.apache.hadoop.fs.Path(p2 + ".old")))
    Files.createDirectories(java.nio.file.Paths.get(p2 + ".tmp"))
    Files.write(java.nio.file.Paths.get(p2 + ".tmp/part-00000.parquet"),
      Array[Byte](1, 2, 3)) // torn write, no _SUCCESS
    val back = SyncEngine.readLedger(spark, p2, swapWaitSleepMs = 1)
      .select("object_name").collect().map(_.getString(0)).toSet
    assert(back == Set("objA", "objB"), s"roll-back read $back")

    // a FRESH commit lock is proof of life: the committer may just be
    // stalled (GC pause) between its two swap renames, and recovery
    // renaming dst underneath it would corrupt the swap. The reader must
    // keep waiting until the lock goes stale, THEN recover.
    val r3 = Files.createTempDirectory("graft-swap-wait")
    val p3 = mkLedger(r3, Seq("objW"))
    val fs3 = new org.apache.hadoop.fs.Path(p3).getFileSystem(fsConf)
    assert(fs3.rename(new org.apache.hadoop.fs.Path(p3),
      new org.apache.hadoop.fs.Path(p3 + ".old")))
    Files.write(java.nio.file.Paths.get(p3 + ".lock"),
      "live-committer".getBytes("UTF-8")) // fresh mtime = now
    val t0 = System.nanoTime()
    val waited = SyncEngine.readLedger(spark, p3, swapWaitSleepMs = 5,
        lockStaleTtlMs = 800)
      .select("object_name").collect().map(_.getString(0)).toSet
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    assert(waited == Set("objW"), s"deferred recovery read $waited")
    assert(elapsedMs >= 700,
      s"recovery must defer to the fresh lock (~800 ms TTL), took $elapsedMs ms")
  }

  test("ledger lock refuses non-atomic create schemes up front") {
    // s3a create-no-overwrite is check-then-create: two drivers can both
    // "acquire" — the contract is to throw loudly, never run the body
    val e = intercept[IllegalStateException] {
      SyncEngine.withLedgerFileLock(spark, "s3a://bucket/ledger") { 42 }
    }
    assert(e.getMessage.contains("cannot be atomic"), e.getMessage)
    // the check needs no connector jar (raw-URI scheme check fires first:
    // this classpath has no s3a filesystem at all)
    val e2 = intercept[IllegalStateException] {
      SyncEngine.withLedgerFileLock(spark, "gs://bucket/ledger") { 42 }
    }
    assert(e2.getMessage.contains("cannot be atomic"))
  }

  test("ledger file lock: two simulated drivers race commits, zero lost rows") {
    // simulates two DRIVER PROCESSES sharing one ledger path: each thread
    // bypasses the JVM-wide ledgerLock entirely and relies ONLY on the
    // lock file around its read-merge-swap — the cross-process protocol
    // the reference inherited from SQLite's file locking
    import org.apache.spark.sql.Row
    import java.util.concurrent.atomic.AtomicInteger
    val root = Files.createTempDirectory("graft-ledger-race")
    val path = s"$root/ledger"
    val inLock = new AtomicInteger(0)
    val maxIn = new AtomicInteger(0)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    def commitRow(mid: String, obj: String): Unit =
      SyncEngine.withLedgerFileLock(spark, path, timeoutMs = 120000) {
        val depth = inLock.incrementAndGet()
        maxIn.updateAndGet(m => math.max(m, depth))
        try {
          val base = SyncEngine.readLedger(spark, path)
          val row = spark.createDataFrame(
            java.util.Arrays.asList(Row(0L, mid, obj, 1L,
              new java.sql.Timestamp(0L), "e", "text/plain",
              new java.sql.Timestamp(0L), "success",
              Map.empty[String, String])),
            SyncEngine.LedgerSchema)
          SyncEngine.writeLedger(spark, base.unionByName(row), path)
        } finally inLock.decrementAndGet()
      }
    val threads = (0 until 2).map { t =>
      new Thread(() => {
        try for (i <- 0 until 6) commitRow(s"driver$t", s"obj$i")
        catch { case e: Throwable => failures.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(failures.isEmpty, failures)
    // mutual exclusion actually held (no interleaved critical sections)...
    assert(maxIn.get == 1, s"max concurrent lock holders = ${maxIn.get}")
    // ...and the interleaved read-merge-swaps lost NOTHING: all 12 rows,
    // both drivers' sets complete
    val fin = SyncEngine.readLedger(spark, path).collect()
    assert(fin.length == 12)
    val byDriver = fin.groupBy(_.getAs[String]("mapping_id"))
      .view.mapValues(_.map(_.getAs[String]("object_name")).toSet).toMap
    assert(byDriver == Map(
      "driver0" -> (0 until 6).map(i => s"obj$i").toSet,
      "driver1" -> (0 until 6).map(i => s"obj$i").toSet))
    // no lock file left behind after orderly releases
    assert(!Files.exists(java.nio.file.Paths.get(s"$path.lock")))
  }

  test("ledger file lock: a stale lock (crashed owner) is broken, not waited out") {
    val root = Files.createTempDirectory("graft-ledger-stale")
    val path = s"$root/ledger"
    // a crashed driver's leftover: a lock file whose mtime is old
    val lockP = java.nio.file.Paths.get(s"$path.lock")
    Files.createDirectories(lockP.getParent)
    Files.write(lockP, "dead-owner".getBytes("UTF-8"))
    Files.setLastModifiedTime(lockP,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600 * 1000L))
    var ran = false
    // TTL far below the lock's age -> broken and acquired immediately;
    // a live lock (TTL above age) would have timed out instead
    SyncEngine.withLedgerFileLock(spark, path,
      timeoutMs = 10000, staleTtlMs = 60000) { ran = true }
    assert(ran)
    assert(!Files.exists(lockP))
    // and a HELD (fresh) lock times out loudly rather than proceeding
    Files.write(lockP, "live-owner".getBytes("UTF-8"))
    val e = intercept[IllegalStateException] {
      SyncEngine.withLedgerFileLock(spark, path,
        timeoutMs = 300, staleTtlMs = 3600 * 1000L) { () }
    }
    assert(e.getMessage.contains("lock timeout"))
    Files.delete(lockP)
  }

  test("ledger file lock: a stale-broken owner must not release the breaker's lock") {
    // owner A's lock goes stale mid-body (TTL below its body duration);
    // B legitimately breaks it and acquires. When A's release runs, the
    // token check must leave B's lock IN PLACE — deleting it would let a
    // third writer in while B commits.
    val root = Files.createTempDirectory("graft-ledger-steal")
    val path = s"$root/ledger"
    val lockP = java.nio.file.Paths.get(s"$path.lock")
    // force session init NOW, and gate B on A's ACQUISITION via a latch,
    // not a sleep: under a cold/contended JVM (lazy SparkSession, first
    // FS use, JIT) A's first acquire can take longer than any fixed
    // sleep, letting B win the first acquire and invert the roles this
    // test's assertions assume (A would then stale-break the live B: by
    // design for a TTL below the body duration, but not the scenario
    // under test)
    spark.sparkContext
    val aHolds = new java.util.concurrent.CountDownLatch(1)
    val bHeld = new java.util.concurrent.CountDownLatch(1)
    val aDone = new java.util.concurrent.CountDownLatch(1)
    @volatile var bSawLockSurvive = false
    val a = new Thread(() => {
      // heartbeat OFF: simulates a crashed owner (a live one refreshes
      // mtime every TTL/3 and can never be broken — asserted separately)
      SyncEngine.withLedgerFileLock(spark, path,
        timeoutMs = 10000, staleTtlMs = 300, heartbeat = false) {
        aHolds.countDown()
        // hold long past our own TTL so B's stale-break fires
        bHeld.await(15, java.util.concurrent.TimeUnit.SECONDS): Unit
      }
      aDone.countDown()
    })
    val b = new Thread(() => {
      // start only once A demonstrably holds; the acquire loop itself
      // waits out A's TTL (retries every 50 ms until the break fires)
      aHolds.await(15, java.util.concurrent.TimeUnit.SECONDS)
      SyncEngine.withLedgerFileLock(spark, path,
        timeoutMs = 10000, staleTtlMs = 300) {
        bHeld.countDown()
        // A releases while we hold; our lock must survive A's finally
        aDone.await(15, java.util.concurrent.TimeUnit.SECONDS)
        Thread.sleep(100) // give A's release a beat to (wrongly) delete
        bSawLockSurvive = Files.exists(lockP)
      }
    })
    a.start(); b.start(); a.join(20000); b.join(20000)
    assert(!a.isAlive && !b.isAlive)
    assert(bSawLockSurvive,
      "A's release deleted B's lock after B stale-broke A")
    // B's own release cleans up — and the breaker's break-lock too
    assert(!Files.exists(lockP))
    assert(!Files.exists(java.nio.file.Paths.get(s"$path.lock.break")))
  }

  test("ledger file lock: heartbeat keeps an honest long hold unbreakable") {
    // an owner whose commit outlives the TTL is SLOW, not dead: the
    // mtime heartbeat (TTL/3) must keep its lock fresh so a contender
    // times out loudly instead of breaking a live lock mid-write
    val root = Files.createTempDirectory("graft-ledger-beat")
    val path = s"$root/ledger"
    spark.sparkContext
    val aHolds = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val a = new Thread(() => {
      // TTL 2 s → heartbeat every ~666 ms → ~1.3 s of scheduling slack
      // before a missed beat could LOOK stale: wide enough that a loaded
      // CI box's GC/scheduler jitter can't flake this test
      SyncEngine.withLedgerFileLock(spark, path,
        timeoutMs = 30000, staleTtlMs = 2000) {
        aHolds.countDown()
        release.await(30, java.util.concurrent.TimeUnit.SECONDS): Unit
      }
    })
    a.start()
    aHolds.await(15, java.util.concurrent.TimeUnit.SECONDS)
    // wait well past the TTL, then contend with a timeout ABOVE the TTL:
    // without the heartbeat this break would succeed (the steal test's
    // heartbeat=false path); with it, the contender must time out
    Thread.sleep(4000)
    val e = intercept[IllegalStateException] {
      SyncEngine.withLedgerFileLock(spark, path,
        timeoutMs = 3000, staleTtlMs = 2000) { () }
    }
    assert(e.getMessage.contains("lock timeout"))
    release.countDown(); a.join(20000)
    assert(!a.isAlive)
    assert(!Files.exists(java.nio.file.Paths.get(s"$path.lock")))
  }

  test("missing source bucket yields empty catalog, not error") {
    val root = Files.createTempDirectory("graft-missing")
    val df = ObjectStoreCatalog.scanCatalog(spark, s"file://$root/nope")
    assert(df.count() == 0)
  }

  test("distributed catalog scan matches driver-side scan") {
    val root = Files.createTempDirectory("graft-dist")
    write(root.resolve("b/top.txt"), "t")
    write(root.resolve("b/d1/a.txt"), "a")
    write(root.resolve("b/d1/e/b.csv"), "b")
    write(root.resolve("b/d2/c.bin"), "c")
    val uri = s"file://$root/b"
    val driver = ObjectStoreCatalog.scanCatalog(spark, uri)
      .select("name", "size", "etag").collect().map(_.toSeq).toSet
    val dist = ObjectStoreCatalog.scanCatalogDistributed(spark, uri)
      .select("name", "size", "etag").collect().map(_.toSeq).toSet
    assert(driver == dist && driver.size == 4)
  }

  test("file:// catalog walk lists what listFiles lists") {
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    val root = Files.createTempDirectory("graft-walk")
    write(root.resolve("b/top.txt"), "t")
    write(root.resolve("b/d1/a.json"), "{}")
    write(root.resolve("b/d1/e/f/b.csv"), "b,c")
    write(root.resolve("b/d2/c"), "no extension")
    Files.createDirectories(root.resolve("b/empty/nested"))
    val uri = s"file://$root/b"
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(java.net.URI.create(uri), conf)
    // a Hadoop-written object: its `.crc` sidecar is not an object
    val out = fs.create(new HPath(s"$uri/d1/hadoop.bin"), true)
    try out.write(Array.fill[Byte](3000)(7)) finally out.close()
    assert(Files.exists(root.resolve("b/d1/.hadoop.bin.crc")))

    val base = new HPath(uri).toUri.getPath
    val expected = {
      val it = fs.listFiles(new HPath(uri), true)
      val b = Seq.newBuilder[Seq[Any]]
      while (it.hasNext) {
        val st = it.next()
        val name = st.getPath.toUri.getPath.stripPrefix(base).stripPrefix("/")
        b += Seq(name, st.getLen,
                 new java.sql.Timestamp(st.getModificationTime),
                 ObjectStoreCatalog.pseudoEtag(st.getLen, st.getModificationTime),
                 ObjectStoreCatalog.contentTypeOf(name), uri)
      }
      b.result()
    }
    assert(expected.map(_.head).toSet == Set("top.txt", "d1/a.json",
      "d1/e/f/b.csv", "d1/hadoop.bin", "d2/c"))
    val walked = ObjectStoreCatalog.scanCatalog(spark, uri)
      .select("name", "size", "last_modified", "etag", "content_type", "bucket")
      .collect().map(_.toSeq).toSeq
    assert(walked == expected)
    // the distributed listing labels every row with the bucket too
    val dist = ObjectStoreCatalog.scanCatalogDistributed(spark, uri)
      .select("name", "size", "last_modified", "etag", "content_type", "bucket")
      .collect().map(_.toSeq).toSet
    assert(dist == expected.toSet)

    val missing = s"file://$root/nope"
    assert(!fs.exists(new HPath(missing)))
    assert(ObjectStoreCatalog.scanCatalog(spark, missing).count() == 0)
  }

  test("a target written with checksum sidecars syncs to exactly the " +
       "source's objects, and stays readable through checksums") {
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    val root = Files.createTempDirectory("graft-sync-sidecars")
    write(root.resolve("src/a.txt"), "a-v1")
    write(root.resolve("src/sub/b.txt"), "b-v1")
    write(root.resolve("src/gone.txt"), "gone")
    val cfg = mkConfig(root)
    val engine = new SyncEngine(spark, cfg)
    assert(engine.syncAll().head.synced == 3)
    // the target as a checksummed LocalFileSystem write leaves it: every
    // object with a `.crc` sidecar beside it
    val local = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val dst = root.resolve("dst")
    for (n <- Seq("a.txt", "sub/b.txt", "gone.txt")) {
      val bytes = Files.readAllBytes(dst.resolve(n))
      val out = local.create(new HPath(dst.resolve(n).toString), true)
      try out.write(bytes) finally out.close()
      assert(Files.exists(dst.resolve(n).resolveSibling(
        s".${dst.resolve(n).getFileName}.crc")))
    }
    def allFiles(dir: Path): Set[String] = {
      val walk = Files.walk(dir)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => dir.relativize(p).toString).toSet
      finally walk.close()
    }

    // every surviving object is rewritten (longer bodies, so size and
    // etag move whatever the mtime granularity), one is deleted, one added
    write(root.resolve("src/a.txt"), "a-version-2")
    write(root.resolve("src/sub/b.txt"), "b-version-2")
    write(root.resolve("src/new.txt"), "new")
    Files.delete(root.resolve("src/gone.txt"))
    val r = within(60)(engine.syncAll())
    assert(r == Seq(engine.MappingReport(cfg.mappings.head.mappingId,
      synced = 3, skipped = 0, failed = 0, orphansRemoved = 1)), s"$r")
    assert(allFiles(dst) == allFiles(root.resolve("src")),
      s"target files: ${allFiles(dst)}")
    for (n <- allFiles(dst)) {
      val in = local.open(new HPath(dst.resolve(n).toString))
      val got = try in.readAllBytes() finally in.close()
      assert(new String(got, "UTF-8") ==
        new String(Files.readAllBytes(root.resolve("src").resolve(n)), "UTF-8"))
    }
  }

  test("config parse, validation matrix, and save-default round-trip") {
    val good = SyncConfig.parse(
      """{"providers":[{"id":"a","type":"file","uri":"file:///tmp/x"}],
         "mappings":[{"sourceProviderId":"a","sourceBucket":"s",
                      "targetProviderId":"a","targetBucket":"t"}]}""")
    assert(good.validate().isEmpty)
    assert(good.ledgerPath == SyncConfig.DefaultLedgerPath)  // config.go:97-100
    assert(good.mappings.head.mappingId == "a:s->a:t")

    assert(SyncConfig.parse("{}").validate()
      .exists(_.contains("no providers")))
    val dup = good.copy(providers = good.providers ++ good.providers)
    assert(dup.validate().exists(_.contains("duplicate")))
    val dangling = good.copy(mappings =
      Seq(MappingConf("nope", "s", "a", "t")))
    assert(dangling.validate().exists(_.contains("unknown source provider")))

    val f = Files.createTempDirectory("graft-cfg").resolve("default.json")
    SyncConfig.saveDefault(f.toString)
    val loaded = SyncConfig.load(f.toString)
    assert(loaded.validate().isEmpty)
  }

  test("tolerate-404: deleting an already-missing orphan clears its ledger row") {
    val root = Files.createTempDirectory("graft-tol404")
    write(root.resolve("dst/keep.txt"), "k")
    import spark.implicits._
    // the orphan set as the engine computes it, except 'gone.txt' vanished
    // externally between the target scan and the delete executor — the
    // reference treats that 404 as success (azure/client.go:168-170)
    val orphans = Seq("gone.txt", "keep.txt").toDF("name")
    val receipts = graft.operators.CopyExecutor
      .deleteObjects(spark, orphans, s"file://$root/dst").collect()
    assert(receipts.forall(r => r.removed && r.error.isEmpty))
    assert(!Files.exists(root.resolve("dst/keep.txt")))

    // both names reach the removed set, so neither leaves a stale ledger row
    val ledger = Seq((1L, "m", "gone.txt"), (2L, "m", "keep.txt"),
                     (3L, "m", "live.txt"))
      .toDF("id", "mapping_id", "object_name")
    val removedNames = receipts.filter(_.removed).map(_.object_name).toSeq.toDF("name")
    val after = graft.operators.SyncOps.ledgerDelete(ledger, removedNames)
    assert(after.collect().map(_.getAs[String]("object_name")).toSet == Set("live.txt"))
  }

  test("compaction round-trip: bins rewritten, ledger upserted, members deleted") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.{CopyExecutor, SyncOps}
    val root = Files.createTempDirectory("graft-compact")
    // two 5-char prefix groups; 4-byte objects against an 8-byte target →
    // deterministic 2-per-bin packing within each prefix
    val contents = Map(
      "grp_a/1.bin" -> "AAAA", "grp_a/2.bin" -> "BBBB", "grp_a/3.bin" -> "CCCC",
      "grp_b/1.bin" -> "XXXX", "grp_b/2.bin" -> "YYYY")
    contents.foreach { case (n, c) => write(root.resolve(s"dst/$n"), c) }
    val bucket = s"file://$root/dst"
    val catalog = ObjectStoreCatalog.scanCatalog(spark, bucket)

    val bins = SyncOps.compactionBins(catalog, targetBytes = 8).localCheckpoint(true)
    val receipts = CopyExecutor.compactObjects(spark, bins, bucket, bucket)
      .toDF().localCheckpoint(true)
    assert(receipts.filter($"sync_status" =!= "success").count() == 0)

    // byte-level check: each target is the name-ordered concatenation of
    // its members, and sizes match the declared compactedCatalog exactly
    val binRows = bins.as[(String, Seq[String], Long)].collect()
    assert(binRows.nonEmpty && binRows.exists(_._2.size > 1))
    binRows.foreach { case (target, members, total) =>
      val got = new String(Files.readAllBytes(root.resolve(s"dst/$target")))
      assert(got == members.map(contents).mkString, s"bin $target")
      assert(got.length.toLong == total)
    }
    val declaredSizes = SyncOps.compactedCatalog(catalog, targetBytes = 8)
      .select("name", "size").as[(String, Long)].collect().toMap
    val receiptSizes = receipts.select("object_name", "size")
      .as[(String, Long)].collect().toMap
    assert(declaredSizes == receiptSizes)

    // ledger maintenance: members out (only for succeeded bins), compacted
    // objects in — the upsert path a weekly maintenance job runs
    val t = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
    val ledger = catalog.select(lit(0L).as("id"), lit("m").as("mapping_id"),
      col("name").as("object_name"), col("size"), col("last_modified"),
      col("etag"), col("content_type"), lit(t).as("last_synced"),
      lit("success").as("sync_status"))
    val okBins = receipts.filter($"sync_status" === "success")
    val doomed = bins.join(okBins,
        bins("target_name") === okBins("object_name"), "left_semi")
      .select(explode($"members").as("name"))
    val updates = okBins.select(lit(0L).as("id"), lit("m").as("mapping_id"),
      $"object_name", $"size", lit(t).as("last_modified"),
      md5($"object_name").as("etag"),
      lit("application/octet-stream").as("content_type"),
      lit(t).as("last_synced"), $"sync_status")
    val after = SyncOps.ledgerUpsert(SyncOps.ledgerDelete(ledger, doomed), updates)
    val names = after.select("object_name").as[String].collect().toSet
    assert(names == binRows.map(_._1).toSet)

    // physical member cleanup via the tolerate-404 delete path
    val del = CopyExecutor.deleteObjects(
      spark, doomed, bucket).collect()
    assert(del.forall(_.removed))
    contents.keys.foreach(n => assert(!Files.exists(root.resolve(s"dst/$n"))))
    binRows.foreach { case (tname, _, _) =>
      assert(Files.exists(root.resolve(s"dst/$tname")))
    }
  }

  test("failed copy isolates the object and records failed status") {
    val root = Files.createTempDirectory("graft-fail")
    write(root.resolve("src/ok.txt"), "fine")
    val cfg = mkConfig(root)
    import spark.implicits._
    val tasks = Seq(("ok.txt", 4L, "text/plain"),
                    ("ghost.txt", 9L, "text/plain"))
      .toDF("name", "size", "content_type")
    val receipts = graft.operators.CopyExecutor
      .copyObjects(spark, tasks, s"file://$root/src", s"file://$root/dst")
      .collect().map(r => r.object_name -> r).toMap
    assert(receipts("ok.txt").sync_status == "success")
    assert(receipts("ghost.txt").sync_status == "failed_get")   // sync.go:136-140
    // the error names the exception's class, not only its message (a
    // NoSuchFileException's message is the bare path)
    val ghost = receipts("ghost.txt").error
    assert(ghost.matches("""java\.[\w.]+Exception: .*ghost\.txt.*"""), ghost)
  }

  /** `n` seeded pseudo-random bytes. */
  private def bytes(n: Int, seed: Long): Array[Byte] = {
    val b = new Array[Byte](n)
    new scala.util.Random(seed).nextBytes(b)
    b
  }

  test("a file:// copy rewrites each target to exactly the source's bytes: " +
       "absent, longer, shorter and sidecar-holding targets, an empty " +
       "source, a new prefix") {
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    val root = Files.createTempDirectory("graft-copy-inplace")
    val local = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    // name -> (source length, existing target length, or -1 for none)
    val cases = Seq(
      "absent.bin" -> (3000, -1),
      "longer-target.bin" -> (1000, 70000),  // the rewrite shrinks it
      "shorter-target.bin" -> (70000, 1000),
      "empty.bin" -> (0, 4096),
      "new/nested/prefix.bin" -> (2500, -1),
      "sidecar.bin" -> (1500, 9000))
    for (((name, (srcLen, dstLen)), i) <- cases.zipWithIndex) {
      Files.createDirectories(root.resolve(s"src/$name").getParent)
      Files.write(root.resolve(s"src/$name"), bytes(srcLen, i))
      if (dstLen >= 0) {
        Files.createDirectories(root.resolve(s"dst/$name").getParent)
        Files.write(root.resolve(s"dst/$name"), bytes(dstLen, 100 + i))
      }
    }
    // a target written through the checksummed filesystem: a `.crc`
    // sidecar that the new bytes would not match
    val withCrc = new HPath(root.resolve("dst/sidecar.bin").toString)
    val out = local.create(withCrc, true)
    try out.write(bytes(9000, 200)) finally out.close()
    assert(local.exists(local.getChecksumFile(withCrc)))

    import spark.implicits._
    val tasks = cases.map { case (n, (len, _)) => (n, len.toLong, "bin") }
      .toDF("name", "size", "content_type")
    val receipts = graft.operators.CopyExecutor
      .copyObjects(spark, tasks, s"file://$root/src", s"file://$root/dst")
      .collect().map(r => r.object_name -> r).toMap
    for ((name, (srcLen, _)) <- cases) {
      val r = receipts(name)
      assert(r.sync_status == "success" && r.error == "", s"$name: $r")
      assert(r.size == srcLen.toLong, s"$name: bytes_copied ${r.size}")
      val got = root.resolve(s"dst/$name")
      assert(Files.size(got) == srcLen.toLong, s"$name: length")
      assert(java.util.Arrays.equals(Files.readAllBytes(got),
        Files.readAllBytes(root.resolve(s"src/$name"))), s"$name: bytes")
    }
    assert(!local.exists(local.getChecksumFile(withCrc)))
    val in = local.open(withCrc)
    val read = try in.readAllBytes() finally in.close()
    assert(read.length == 1500)
  }

  test("a file:// copy gives its target the mode the stream path's create " +
       "gives, under the conf's umask") {
    import java.nio.file.attribute.PosixFilePermissions
    val conf = spark.sparkContext.hadoopConfiguration
    val scoped = Seq("fs.permissions.umask-mode" -> "077",
                     // fresh filesystems read the umask from this conf
                     "fs.file.impl.disable.cache" -> "true",
                     "fs.graftcount.impl.disable.cache" -> "true")
    conf.set("fs.graftcount.impl", classOf[CreateCountingFs].getName)
    val root = Files.createTempDirectory("graft-copy-mode")
    write(root.resolve("src/m.txt"), "mode")
    // the kernel path rewrites an existing target, which must still get
    // the mode, as the stream path's create sets it on every write
    write(root.resolve("kernel/m.txt"), "older bytes")
    Files.setPosixFilePermissions(root.resolve("kernel/m.txt"),
      PosixFilePermissions.fromString("rw-r--r--"))
    import spark.implicits._
    val tasks = Seq(("m.txt", 4L, "text/plain")).toDF("name", "size", "content_type")
    scoped.foreach { case (k, v) => conf.set(k, v) }
    try {
      for (dst <- Seq(s"file://$root/kernel", s"graftcount://$root/stream")) {
        val r = graft.operators.CopyExecutor
          .copyObjects(spark, tasks, s"file://$root/src", dst).collect()
        assert(r.map(_.sync_status).toSeq == Seq("success"), r.mkString)
      }
    } finally scoped.foreach { case (k, _) => conf.unset(k) }
    // the stream path is the one that went through a create
    assert(CreateCountingFs.drain(s"$root/") == Map("stream/m.txt" -> 1))
    def mode(dir: String): String = PosixFilePermissions.toString(
      Files.getPosixFilePermissions(root.resolve(s"$dir/m.txt")))
    assert(mode("stream") == "rw-------")
    assert(mode("kernel") == mode("stream"))
    assert(new String(Files.readAllBytes(root.resolve("kernel/m.txt"))) == "mode")
  }

  test("a source whose sidecar does not match its bytes is never recorded " +
       "success, and the cycle after it is fixed converges") {
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    val root = Files.createTempDirectory("graft-sync-srccrc")
    val local = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    // sources written through the checksummed filesystem carry sidecars
    def checksummed(name: String, body: Array[Byte]): Unit = {
      val out = local.create(new HPath(root.resolve(s"src/$name").toString), true)
      try out.write(body) finally out.close()
    }
    checksummed("good.bin", bytes(5000, 1))
    checksummed("bad.bin", bytes(5000, 2))
    write(root.resolve("src/plain.txt"), "no sidecar")
    // same length, other bytes: the sidecar no longer matches
    Files.write(root.resolve("src/bad.bin"), bytes(5000, 3))
    val cfg = mkConfig(root)
    val engine = new SyncEngine(spark, cfg)
    val mid = cfg.mappings.head.mappingId
    def statuses(): Map[String, String] =
      SyncEngine.readLedgerPartition(spark, cfg.ledgerPath, mid)
        .select("object_name", "sync_status").collect()
        .map(row => row.getString(0) -> row.getString(1)).toMap
    def sameBytes(name: String): Boolean = java.util.Arrays.equals(
      Files.readAllBytes(root.resolve(s"dst/$name")),
      Files.readAllBytes(root.resolve(s"src/$name")))

    val r1 = within(60)(engine.syncAll())
    assert(r1 == Seq(engine.MappingReport(mid, synced = 2, skipped = 0,
      failed = 1, orphansRemoved = 0)), s"$r1")
    val s1 = statuses()
    assert(s1("good.bin") == "success" && s1("plain.txt") == "success", s"$s1")
    assert(s1("bad.bin") != "success", s"$s1")
    assert(sameBytes("good.bin") && sameBytes("plain.txt"))

    // the source is fixed: its bytes match a fresh sidecar again
    checksummed("bad.bin", bytes(6000, 4))
    val r2 = within(60)(engine.syncAll())
    assert(r2 == Seq(engine.MappingReport(mid, synced = 1, skipped = 2,
      failed = 0, orphansRemoved = 0)), s"$r2")
    assert(statuses() == Map("good.bin" -> "success", "bad.bin" -> "success",
                             "plain.txt" -> "success"))
    assert(Seq("good.bin", "bad.bin", "plain.txt").forall(sameBytes))
  }

  test("partition-scoped commit rewrites ONLY the touched mapping's partition") {
    // the 100 TB cost model: a commit is O(|this mapping|), never
    // O(total ledger) — proven physically, by pinning the OTHER
    // mappings' partition files (paths AND mtimes) across a commit
    val root = Files.createTempDirectory("graft-part-commit")
    for (m <- 1 to 3; f <- 1 to 3)
      write(root.resolve(s"src$m/f$f.txt"), s"m$m-f$f")
    val cfg = SyncConfig(
      providers = Seq(ProviderConf("local", "file", s"file://$root")),
      mappings = (1 to 3).map(i =>
        MappingConf("local", s"src$i", "local", s"dst$i")),
      ledgerPath = s"$root/ledger")
    val engine = new SyncEngine(spark, cfg)
    engine.syncAll()

    val ledgerDir = Paths.get(s"$root/ledger")
    def partitionFiles(): Map[String, Long] = {
      val out = scala.collection.mutable.Map[String, Long]()
      java.nio.file.Files.walk(ledgerDir).forEach { p =>
        if (Files.isRegularFile(p) &&
            p.toString.contains("mapping_id="))
          out(p.toString) = Files.getLastModifiedTime(p).toMillis
      }
      out.toMap
    }
    val before = partitionFiles()
    val partDirs = Files.list(ledgerDir).toArray.map(_.toString)
      .filter(_.contains("mapping_id="))
    assert(partDirs.length == 3, s"expected 3 partition dirs, got ${partDirs.toSeq}")
    def ofMapping(files: Map[String, Long], m: Int): Map[String, Long] =
      files.filter(_._1.contains(s"src$m"))
    assert((1 to 3).forall(m => ofMapping(before, m).nonEmpty))

    // an all-skip cycle commits NOTHING: every partition stays untouched
    val r0 = engine.syncAll()
    assert(r0.forall(r => r.synced == 0 && r.skipped == 3))
    assert(partitionFiles() == before, "skip cycle must not rewrite the ledger")

    // touch mapping 1 only → partition 1 rewritten, partitions 2/3
    // byte-identical (same file paths, same mtimes — never re-listed,
    // re-read, or re-written by mapping 1's commit)
    Thread.sleep(1100) // FS mtime granularity
    write(root.resolve("src1/f1.txt"), "m1-f1-v2")
    val r1 = engine.syncAll()
    assert(r1.find(_.mappingId.contains("src1")).get.synced == 1)
    val after = partitionFiles()
    assert(ofMapping(after, 2) == ofMapping(before, 2),
      "mapping 2's partition files changed across mapping 1's commit")
    assert(ofMapping(after, 3) == ofMapping(before, 3),
      "mapping 3's partition files changed across mapping 1's commit")
    assert(ofMapping(after, 1) != ofMapping(before, 1),
      "mapping 1's partition should have been rewritten")
    // and no whole-table swap artifacts: the commit never staged the table
    assert(!Files.exists(Paths.get(s"$root/ledger.tmp")))
    assert(!Files.exists(Paths.get(s"$root/ledger.old")))
    // the merged read-back is still complete and correct
    val rows = SyncEngine.readLedger(spark, cfg.ledgerPath).collect()
    assert(rows.length == 9)
    assert(rows.map(_.getAs[String]("mapping_id")).distinct.length == 3)
  }

  test("commit-path recovery under its own held lock: no proof-of-life deadlock") {
    // r13 advisory (high): commitLedger runs recovery INSIDE the commit
    // lock, and a prior committer's crash signature plus the caller's
    // OWN heartbeat-fresh lock made the liveness wait spin forever. With
    // callerHolds*Lock the waits are skipped: under the lock no other
    // committer can be live, so immediate roll-forward is safe.
    import org.apache.spark.sql.Row
    def mkRows(objs: Seq[String]): org.apache.spark.sql.DataFrame =
      spark.createDataFrame(
        java.util.Arrays.asList(objs.map(o => Row(0L, "m", o, 1L,
          new java.sql.Timestamp(0L), "e", "text/plain",
          new java.sql.Timestamp(0L), "success",
          Map.empty[String, String])): _*),
        SyncEngine.LedgerSchema)

    // whole-table form (legacy-layout fallback path)
    val r1 = Files.createTempDirectory("graft-heldlock-table")
    val p1 = s"$r1/ledger"
    SyncEngine.writeLedger(spark, mkRows(Seq("obj0")), p1)
    val fs = new org.apache.hadoop.fs.Path(p1)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(p1),
      new org.apache.hadoop.fs.Path(p1 + ".old")))
    // a FRESH lock — exactly what the caller's own heartbeat maintains
    Files.write(Paths.get(p1 + ".lock"), "our-own-token".getBytes("UTF-8"))
    val t0 = System.nanoTime()
    val got = SyncEngine.readLedger(spark, p1, swapWaitSleepMs = 5,
        callerHoldsTableLock = true)
      .select("object_name").collect().map(_.getString(0)).toSet
    val ms = (System.nanoTime() - t0) / 1000000
    assert(got == Set("obj0"), s"held-lock recovery read $got")
    assert(ms < 5000,
      s"held-lock recovery must not wait on its own fresh lock ($ms ms)")
    Files.delete(Paths.get(p1 + ".lock"))

    // partition form (the production commit path)
    val r2 = Files.createTempDirectory("graft-heldlock-part")
    val p2 = s"$r2/ledger"
    SyncEngine.writeLedger(spark, mkRows(Seq("objA")), p2)
    val esc = "m" // mapping id "m" needs no escaping
    val dstDir = new org.apache.hadoop.fs.Path(s"$p2/mapping_id=$esc")
    val oldDir = new org.apache.hadoop.fs.Path(s"$p2/.old_mapping_id=$esc")
    assert(fs.rename(dstDir, oldDir))
    Files.write(Paths.get(p2 + ".lock.p." + esc),
      "our-own-token".getBytes("UTF-8"))
    val t1 = System.nanoTime()
    val got2 = SyncEngine.readLedgerPartition(spark, p2, "m",
        swapWaitSleepMs = 5, callerHoldsPartitionLock = true)
      .select("object_name").collect().map(_.getString(0)).toSet
    val ms2 = (System.nanoTime() - t1) / 1000000
    assert(got2 == Set("objA"), s"held-lock partition recovery read $got2")
    assert(ms2 < 5000,
      s"partition recovery must not wait on its own fresh lock ($ms2 ms)")
  }

  test("crashed PARTITION swap recovers: forward to complete tmp, back to old") {
    import org.apache.spark.sql.Row
    def mkRows(mid: String, objs: Seq[String]) =
      spark.createDataFrame(
        java.util.Arrays.asList(objs.map(o => Row(0L, mid, o, 1L,
          new java.sql.Timestamp(0L), "e", "text/plain",
          new java.sql.Timestamp(0L), "success",
          Map.empty[String, String])): _*),
        SyncEngine.LedgerSchema)
    val root = Files.createTempDirectory("graft-part-swap")
    val path = s"$root/ledger"
    SyncEngine.writeLedger(spark,
      mkRows("m1", Seq("a1")).unionByName(mkRows("m2", Seq("b1"))), path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    // roll BACK: m1's committer died after rename(dst→old), tmp torn
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$path/mapping_id=m1"),
      new org.apache.hadoop.fs.Path(s"$path/.old_mapping_id=m1")))
    Files.createDirectories(Paths.get(s"$path/.tmp_mapping_id=m1"))
    Files.write(Paths.get(s"$path/.tmp_mapping_id=m1/part-0.parquet"),
      Array[Byte](1, 2, 3)) // no _SUCCESS
    val back = SyncEngine.readLedger(spark, path, swapWaitSleepMs = 1)
      .select("object_name").collect().map(_.getString(0)).toSet
    assert(back == Set("a1", "b1"), s"partition roll-back read $back")

    // roll FORWARD: a COMPLETE tmp (with _SUCCESS) for m2, dst gone
    mkRows("m2", Seq("b1", "b2")).drop("mapping_id")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/.tmp_mapping_id=m2")
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/mapping_id=m2"), true)
    val fwd = SyncEngine.readLedger(spark, path, swapWaitSleepMs = 1)
      .select("object_name").collect().map(_.getString(0)).toSet
    assert(fwd == Set("a1", "b1", "b2"), s"partition roll-forward read $fwd")
    // hidden staging never leaks into reader-visible listings
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/mapping_id=m2")))
  }

  test("legacy root-level ledger migrates to partitioned layout once") {
    import org.apache.spark.sql.Row
    val root = Files.createTempDirectory("graft-legacy-layout")
    val path = s"$root/ledger"
    val rows = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(0L, "mA", "x1", 1L, new java.sql.Timestamp(0L), "e",
          "text/plain", new java.sql.Timestamp(0L), "success",
          Map.empty[String, String]),
        Row(0L, "mB", "y1", 1L, new java.sql.Timestamp(0L), "e",
          "text/plain", new java.sql.Timestamp(0L), "success",
          Map.empty[String, String])),
      SyncEngine.LedgerSchema)
    // legacy shape: data files at the table root, no partition dirs
    rows.write.parquet(path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!SyncEngine.partitionedLayout(fs,
      new org.apache.hadoop.fs.Path(path)))
    SyncEngine.ensurePartitionedLayout(spark, path)
    assert(SyncEngine.partitionedLayout(fs,
      new org.apache.hadoop.fs.Path(path)))
    assert(Files.exists(Paths.get(s"$path/mapping_id=mA")))
    assert(Files.exists(Paths.get(s"$path/mapping_id=mB")))
    val all = SyncEngine.readLedger(spark, path)
      .select("mapping_id", "object_name").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(all == Set(("mA", "x1"), ("mB", "y1")))
    // idempotent: a second call is a no-op fast path
    val before = Files.list(Paths.get(path)).toArray.map(_.toString).toSet
    SyncEngine.ensurePartitionedLayout(spark, path)
    assert(Files.list(Paths.get(path)).toArray.map(_.toString).toSet == before)
    // and a partition-scoped commit now works against the migrated table
    val up = spark.createDataFrame(
      java.util.Arrays.asList(Row(0L, "mA", "x2", 2L,
        new java.sql.Timestamp(0L), "e", "text/plain",
        new java.sql.Timestamp(0L), "success", Map.empty[String, String])),
      SyncEngine.LedgerSchema)
    val base = SyncEngine.readLedgerPartition(spark, path, "mA")
    SyncEngine.writeLedgerPartition(spark,
      base.unionByName(up), path, "mA")
    val after = SyncEngine.readLedger(spark, path)
      .select("mapping_id", "object_name").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(after == Set(("mA", "x1"), ("mA", "x2"), ("mB", "y1")))
  }

  test("partition swap crash matrix: deterministic k-sweep — old-complete " +
       "below the commit point, new-complete at or past it") {
    import org.apache.spark.sql.{DataFrame, Row}
    val root = Files.createTempDirectory("graft-crash-k").toString
    val ledger = s"$root/ledger"
    val mid = "p:a->q:a"
    def genRows(g: Int): DataFrame = {
      val objs = (0 until 2 + (g % 3)).map(i => s"obj$i")
      spark.createDataFrame(
        java.util.Arrays.asList(objs.map(o => Row(0L, mid, o, g.toLong,
          new java.sql.Timestamp(0L), s"g$g", "text/plain",
          new java.sql.Timestamp(0L), "success",
          Map.empty[String, String])): _*),
        SyncEngine.LedgerSchema)
    }
    def expectRows(g: Int): Int = 2 + (g % 3)
    // observe through the REAL recovery entry (readLedgerPartition runs
    // recoverSwap eagerly), then read the partition dir
    def observe(): (String, Int) = {
      val rows = SyncEngine.readLedgerPartition(spark, ledger, mid,
        swapWaitSleepMs = 1, lockStaleTtlMs = 50).collect()
      val tags = rows.map(_.getAs[String]("etag")).distinct
      assert(tags.length == 1,
        s"torn partition: mixed generations ${tags.toSeq}")
      (tags.head, rows.length)
    }
    SyncEngine.writeLedgerPartition(spark, genRows(0), ledger, mid)
    assert(observe() == ("g0", expectRows(0)))
    // crash-at-k sweep; the committed generation only ever advances when
    // the new tree is COMPLETE: k=0 (no _SUCCESS witness) and k=1/2
    // (dst never moved) roll BACK; k=3 (dst renamed away, complete tmp
    // staged) and k=4 (new dst in place) roll FORWARD
    var current = 0
    for ((k, g) <- (0 to 4).zipWithIndex.map { case (k, i) => (k, i + 1) }) {
      intercept[SyncEngine.SimulatedCrash] {
        SyncEngine.writeLedgerPartition(spark, genRows(g), ledger, mid,
          crashAtStep = k)
      }
      val want = if (k >= 3) g else current
      assert(observe() == (s"g$want", expectRows(want)),
        s"crash at step $k: expected generation $want")
      current = want
    }
    // and a clean commit lands on top of whatever the matrix left behind
    SyncEngine.writeLedgerPartition(spark, genRows(9), ledger, mid)
    assert(observe() == ("g9", expectRows(9)))
    // no reader-visible staging residue at the root
    val residue = Files.list(Paths.get(root)).toArray.map(_.toString)
      .filter(n => n.contains("mapping_id=") && !n.contains("ledger"))
    assert(residue.isEmpty, s"staging residue leaked: ${residue.toSeq}")
  }

  test("partition swap crash matrix: randomized thread interleavings — " +
       "every committed partition is old-complete or new-complete") {
    import org.apache.spark.sql.{DataFrame, Row}
    val root = Files.createTempDirectory("graft-crash-rnd").toString
    val ledger = s"$root/ledger"
    def genRows(mid: String, g: Int): DataFrame = {
      val objs = (0 until 2 + (g % 3)).map(i => s"obj$i")
      spark.createDataFrame(
        java.util.Arrays.asList(objs.map(o => Row(0L, mid, o, g.toLong,
          new java.sql.Timestamp(0L), s"g$g", "text/plain",
          new java.sql.Timestamp(0L), "success",
          Map.empty[String, String])): _*),
        SyncEngine.LedgerSchema)
    }
    def expectRows(g: Int): Int = 2 + (g % 3)
    // the engine's commit protocol, with a seeded crash: JVM monitor +
    // partition lock file around the swap — exactly syncMapping's nesting
    def lockedCommit(mid: String, g: Int, crashAt: Int): Boolean = {
      val sfx = SyncEngine.partitionLockSuffix(mid)
      try {
        SyncEngine.jvmMonitor(ledger + sfx).synchronized {
          SyncEngine.withLedgerFileLock(spark, ledger, lockSuffix = sfx,
              staleTtlMs = 60000) {
            SyncEngine.writeLedgerPartition(spark, genRows(mid, g), ledger,
              mid, crashAtStep = crashAt)
          }
        }
        true
      } catch { case _: SyncEngine.SimulatedCrash => false }
    }

    // phase 1: one thread per mapping, sequential generations, random
    // crash points — disjoint partitions interleave on one table root
    val mids = Seq("p:a->q:a", "p:b->q:b", "p:c->q:c")
    mids.foreach(m =>
      SyncEngine.writeLedgerPartition(spark, genRows(m, 0), ledger, m))
    val gens = 6
    val lastSuccess = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(mids.size)
    val tasks = mids.zipWithIndex.map { case (m, ti) =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val rnd = new scala.util.Random(100 + ti) // deterministic per thread
          lastSuccess.put(m, 0)
          for (g <- 1 to gens) {
            val c = rnd.nextInt(7) - 2 // -2/-1 → no crash (2/7 clean)
            if (lockedCommit(m, g, if (c < 0) -1 else c))
              lastSuccess.put(m, g)
          }
        }
      })
    }
    tasks.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    // quiet observation through real recovery: single complete
    // generation, never below the last clean commit, never torn
    mids.foreach { m =>
      val rows = SyncEngine.readLedgerPartition(spark, ledger, m,
        swapWaitSleepMs = 1, lockStaleTtlMs = 50).collect()
      val tags = rows.map(_.getAs[String]("etag")).distinct
      assert(tags.length == 1, s"$m torn: ${tags.toSeq}")
      val g = tags.head.stripPrefix("g").toInt
      assert(rows.length == expectRows(g),
        s"$m: generation g$g incomplete (${rows.length} rows)")
      assert(g >= lastSuccess.get(m),
        s"$m: lost a successful commit (at g$g, committed ${lastSuccess.get(m)})")
      assert(g <= gens, s"$m: phantom generation g$g")
    }

    // phase 2: three threads CONTEND on one partition through the real
    // lock protocol, each crashing or landing at a seeded point
    val hot = mids.head
    val attempted = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val succeeded = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val nextGen = new java.util.concurrent.atomic.AtomicInteger(100)
    val pool2 = java.util.concurrent.Executors.newFixedThreadPool(3)
    val tasks2 = (0 until 3).map { ti =>
      pool2.submit(new Runnable {
        def run(): Unit = {
          val rnd = new scala.util.Random(200 + ti)
          for (_ <- 1 to 3) {
            val g = nextGen.getAndIncrement()
            attempted.add(g)
            val crashAt = rnd.nextInt(7) - 2
            if (lockedCommit(hot, g, if (crashAt < 0) -1 else crashAt))
              succeeded.add(g)
          }
        }
      })
    }
    tasks2.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    pool2.shutdown()
    val rows = SyncEngine.readLedgerPartition(spark, ledger, hot,
      swapWaitSleepMs = 1, lockStaleTtlMs = 50).collect()
    val tags = rows.map(_.getAs[String]("etag")).distinct
    assert(tags.length == 1, s"contended partition torn: ${tags.toSeq}")
    val g = tags.head.stripPrefix("g").toInt
    assert(rows.length == expectRows(g), s"g$g incomplete: ${rows.length}")
    // the surviving generation was actually attempted on this partition;
    // once ANY contended commit landed cleanly, rollback can only reach
    // phase-2 generations (old always holds the latest pre-swap dst)
    assert(attempted.contains(g) || g <= gens,
      s"phantom generation g$g (attempted=$attempted)")
    if (!succeeded.isEmpty)
      assert(attempted.contains(g),
        s"clean commits landed ($succeeded) but partition reads phase-1 g$g")
  }

  test("post-copy tagger receives exactly the success receipts' header " +
       "columns, and is silent on all-skip cycles") {
    import org.apache.spark.sql.DataFrame
    val root = Files.createTempDirectory("graft-sync-tag")
    write(root.resolve("src/a.txt"), "aaa")
    write(root.resolve("src/sub/b.json"), """{"b":2}""")
    val cfg = mkConfig(root)

    val calls = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Array[(String, String, Map[String, String])])]
    val recorder = new graft.sources.PostCopyTagger {
      override def tag(mappingId: String, targetUri: String,
                       tagged: DataFrame): Unit =
        calls += ((mappingId, targetUri, tagged
          .select("object_name", "content_type", "metadata").collect()
          .map(r => (r.getString(0), r.getString(1),
                     r.getAs[Map[String, String]]("metadata")))))
    }
    val engine = new SyncEngine(spark, cfg, recorder)

    // cycle 1: both copies succeed → one tag call, one row per object,
    // header values = what the catalog scanned (the reference's PUT
    // headers, gcp/client.go:110-115)
    engine.syncAll()
    assert(calls.size == 1)
    val (mid, uri, rows) = calls.head
    assert(mid == "local:src->local:dst")
    assert(uri == cfg.targetUri(cfg.mappings.head))
    val scanned = ObjectStoreCatalog
      .scanCatalog(spark, cfg.sourceUri(cfg.mappings.head))
      .select("name", "content_type", "metadata").collect()
      .map(r => r.getString(0) -> ((r.getString(1),
        r.getAs[Map[String, String]]("metadata")))).toMap
    assert(rows.map(_._1).sorted.sameElements(Array("a.txt", "sub/b.json")))
    rows.foreach { case (name, ct, md) =>
      assert((ct, md) == scanned(name), s"header drift for $name")
    }

    // cycle 2: all-skip → the hook must NOT fire (no empty-frame calls)
    engine.syncAll()
    assert(calls.size == 1, "tagger fired on an all-skip cycle")
  }

  test("a target-side copy error is an upload failure, and the tagger " +
       "sees only the successful copies") {
    import org.apache.spark.sql.DataFrame
    val root = Files.createTempDirectory("graft-sync-upfail")
    write(root.resolve("src/a.txt"), "aaa")
    write(root.resolve("src/b.txt"), "bbb")
    // a non-empty directory where b.txt must land: the source opens, the
    // target's create fails (FileNotFoundException "Is a directory")
    write(root.resolve("dst/b.txt/x"), "x")
    val cfg = mkConfig(root)
    val tagged = scala.collection.mutable.ArrayBuffer.empty[String]
    val recorder = new graft.sources.PostCopyTagger {
      override def tag(mappingId: String, targetUri: String,
                       frame: DataFrame): Unit =
        tagged ++= frame.select("object_name").collect().map(_.getString(0))
    }
    val engine = new SyncEngine(spark, cfg, recorder)
    val r = within(60)(engine.syncAll())
    // b.txt/x is an orphan of the target, deleted after the copy ran
    assert(r == Seq(engine.MappingReport(cfg.mappings.head.mappingId,
      synced = 1, skipped = 0, failed = 1, orphansRemoved = 1)), s"$r")
    val status = SyncEngine.readLedger(spark, cfg.ledgerPath)
      .select("object_name", "sync_status").collect()
      .map(row => row.getString(0) -> row.getString(1)).toMap
    assert(status == Map("a.txt" -> "success", "b.txt" -> "failed_upload"))
    assert(tagged.toSeq == Seq("a.txt"))
  }

  test("a throwing tagger cannot wedge sync progress: copies commit to " +
       "the ledger, the failure surfaces in MappingReport.tagFailed") {
    import org.apache.spark.sql.DataFrame
    val root = Files.createTempDirectory("graft-sync-tagfail")
    write(root.resolve("src/a.txt"), "aaa")
    write(root.resolve("src/sub/b.json"), """{"b":2}""")
    val cfg = mkConfig(root)
    var callCount = 0
    val flaky = new graft.sources.PostCopyTagger {
      override def tag(mappingId: String, targetUri: String,
                       tagged: DataFrame): Unit = {
        callCount += 1
        throw new RuntimeException("SDK outage")
      }
    }
    val engine = new SyncEngine(spark, cfg, flaky)

    // cycle 1: copies succeed, tagger throws -> cycle must still commit
    val r1 = engine.syncAll()
    assert(callCount == 1)
    assert(r1.head.synced == 2 && r1.head.failed == 0,
      s"tagger failure leaked into the copy outcome: ${r1.head}")
    assert(r1.head.tagFailed == 2, s"tag failure not reported: ${r1.head}")

    // cycle 2: ledger recorded the copies despite the tagging failure ->
    // all-skip, so nothing is re-copied or re-tagged (the failure
    // contract: retries belong to the tagger/deployment, not the engine)
    val r2 = engine.syncAll()
    assert(callCount == 1, "all-skip cycle re-invoked the tagger")
    assert(r2.head.synced == 0 && r2.head.skipped == 2,
      s"copies were forgotten after a tagging failure: ${r2.head}")
    assert(r2.head.tagFailed == 0)
  }

  test("sync cycles leave no cached frames behind in the session") {
    // every cycle re-scans its catalogs, so nothing a cycle pins can be
    // reused by the next one; a continuous-sync trigger that left its
    // barrier blocks or cached frames behind would grow the session
    // without bound. Both syncAll overloads run, over two mappings.
    val root = Files.createTempDirectory("graft-sync-cache")
    for (m <- 1 to 2) {
      write(root.resolve(s"src$m/a.txt"), "a")
      write(root.resolve(s"src$m/b.txt"), "b")
    }
    val engine = new SyncEngine(spark, mkConfig2(root))
    spark.sharedState.cacheManager.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    for (i <- 1 to 4) {
      for (m <- 1 to 2) {
        write(root.resolve(s"src$m/new$i.txt"), s"new $i")
        if (i == 2) Files.delete(root.resolve(s"src$m/a.txt"))
      }
      val rs = if (i % 2 == 1) engine.syncAll() else engine.syncAll(2)
      assert(rs.size == 2, s"$rs")
      rs.foreach { r =>
        assert(r.synced == (if (i == 1) 3 else 1) && r.failed == 0, s"$r")
        assert(r.orphansRemoved == (if (i == 2) 1 else 0), s"$r")
      }
    }
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"sync cycles left persistent RDDs $left pinned")
    assert(spark.sharedState.cacheManager.isEmpty,
      "sync cycles left cached frames in the session's CacheManager")
  }

  test("a sync cycle writes only the target and the ledger") {
    // receipts and the diff stay in the session; no scratch directory
    // appears beside the ledger, in either syncAll mode
    val root = Files.createTempDirectory("graft-sync-noscratch")
    for (m <- 1 to 2; f <- Seq("a", "b", "c", "d"))
      write(root.resolve(s"src$m/$f.txt"), s"$m-$f")
    val cfg = mkConfig2(root)
    val engine = new SyncEngine(spark, cfg)
    val seeded = engine.syncAll()
    assert(seeded.forall(r => r.synced == 4 && r.failed == 0), s"$seeded")
    // per mapping and cycle: one changed object (a longer body, so its
    // size and etag move whatever the mtime granularity) and one orphan
    def expectOneChangeOneOrphan(changed: String, orphan: String,
                                 skipped: Long)(
        run: => Seq[engine.MappingReport]): Unit = {
      for (m <- 1 to 2) {
        write(root.resolve(s"src$m/$changed.txt"), s"$m-$changed-v2")
        Files.delete(root.resolve(s"src$m/$orphan.txt"))
      }
      val rs = run
      assert(rs.map(_.mappingId).sorted == cfg.mappings.map(_.mappingId).sorted)
      rs.foreach { r =>
        assert(r == engine.MappingReport(r.mappingId, synced = 1,
          skipped = skipped, failed = 0, orphansRemoved = 1), s"$r")
      }
      for (m <- 1 to 2) {
        assert(new String(Files.readAllBytes(
          root.resolve(s"dst$m/$changed.txt"))) == s"$m-$changed-v2")
        assert(!Files.exists(root.resolve(s"dst$m/$orphan.txt")))
      }
      assert(!Files.exists(Paths.get(cfg.ledgerPath + ".scratch")),
        "the cycle wrote a scratch directory beside the ledger")
      val names = root.toFile.list().toSet
      assert(names == Set("src1", "src2", "dst1", "dst2", "ledger"),
        s"unexpected entries beside the buckets and ledger: $names")
    }
    expectOneChangeOneOrphan("a", "d", skipped = 2)(engine.syncAll())
    expectOneChangeOneOrphan("b", "c", skipped = 1)(engine.syncAll(2))
  }

  test("one mapping's stalled partition swap cannot stall another " +
       "mapping's cycle") {
    val root = Files.createTempDirectory("graft-sync-peerswap")
    for (m <- 1 to 2; f <- Seq("a", "b"))
      write(root.resolve(s"src$m/$f.txt"), s"$m-$f")
    val cfg = mkConfig2(root)
    val seeded = new SyncEngine(spark, cfg).syncAll()
    assert(seeded.forall(r => r.synced == 2 && r.failed == 0), s"$seeded")
    // mapping B's committer died between its two swap renames: its
    // complete partition sits in .old, mapping_id=B is absent, and its
    // partition lock is fresh — proof of life for 600 s
    val Seq(a, b) = cfg.mappings
    val ledger = Paths.get(cfg.ledgerPath)
    val esc = SyncEngine.escapeMappingId(b.mappingId)
    Files.move(ledger.resolve(s"mapping_id=$esc"),
               ledger.resolve(s".old_mapping_id=$esc"))
    val lock = Paths.get(cfg.ledgerPath +
      SyncEngine.partitionLockSuffix(b.mappingId))
    Files.write(lock, "live-peer".getBytes("UTF-8"))
    def staging(): Set[(String, Long, Long)] = {
      val walk = Files.walk(ledger.resolve(s".old_mapping_id=$esc"))
      try walk.iterator().asScala.toSet.map((p: Path) =>
        (p.getFileName.toString, Files.size(p),
         Files.getLastModifiedTime(p).toMillis))
      finally walk.close()
    } + (("lock", Files.size(lock), Files.getLastModifiedTime(lock).toMillis))
    val before = staging()

    // mapping A alone: one changed object and one orphan, so it commits
    write(root.resolve("src1/a.txt"), "1-a-v2")
    Files.delete(root.resolve("src1/b.txt"))
    val engineA = new SyncEngine(spark, cfg.copy(mappings = Seq(a)))
    val r = within(60)(engineA.syncAll())
    assert(r == Seq(engineA.MappingReport(a.mappingId, synced = 1,
      skipped = 0, failed = 0, orphansRemoved = 1)), s"$r")
    assert(new String(Files.readAllBytes(root.resolve("dst1/a.txt"))) ==
      "1-a-v2")
    assert(staging() == before, "A's cycle touched B's crash staging")
    assert(!Files.exists(ledger.resolve(s"mapping_id=$esc")))
  }

  /** Spark jobs of the warm one-mapping cycle below (one rewritten object,
    * one orphan): 2 for the diff barrier (its ledger-side broadcast build
    * and the barrier), 1 for the copy barrier, 2 for the delete barrier
    * (its broadcast build and the barrier) and 4 for the ledger commit
    * (the batch's dedup shuffle, the broadcasts of the batch's keys and
    * the removed orphans, and the partition write). The cycle's counts
    * ride on the three barriers and cost none.
    */
  private val WarmCycleJobBudget = 9

  /** Spark jobs of an all-skip cycle: the diff barrier's 2 and the delete
    * barrier's 2. A diff that observed no change runs no copy job, and
    * the cycle commits nothing.
    */
  private val AllSkipCycleJobBudget = 4

  /** One Spark job of a budgeted run, as its start event lists it: per
    * stage, the stage's name and the operation scopes of its RDDs
    * (`Scan parquet …`, `WholeStageCodegen (1)`, `Exchange`, …), the
    * scope of the stage's own output RDD last.
    */
  private case class JobTrace(id: Int, stages: Seq[(String, Seq[String])]) {
    override def toString: String = s"job $id: " + stages.map {
      case (name, scopes) => s"[$name: ${scopes.mkString(" > ")}]"
    }.mkString(" ")
  }

  /** Runs `body` under its own job group, under a deadline, and returns
    * its result with the Spark jobs it started, in start order.
    */
  private def withJobs[A](body: => A): (A, Seq[JobTrace]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"graft-job-budget-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[JobTrace]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
              .exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.add(JobTrace(e.jobId, e.stageInfos.sortBy(_.stageId).map { st =>
            // the stage's output RDD is the one no other RDD in it reads
            val read = st.rddInfos.flatMap(_.parentIds).toSet
            val (out, rest) = st.rddInfos.sortBy(_.id).partition(r => !read(r.id))
            // each scope once, at its last place: the output's stays last
            st.name -> (rest ++ out).flatMap(_.scope.map(_.name))
              .reverse.distinct.reverse
          }))
    }
    sc.addSparkListener(listener)
    val r =
      try within(60) {
        sc.setJobGroup(group, "sync cycle", interruptOnCancel = false)
        body
      } finally {
        org.apache.spark.ListenerBusDrain.drain(sc)
        sc.removeSparkListener(listener)
      }
    (r, jobs.asScala.toSeq)
  }

  /** True for a stage that scans a parquet table (the ledger: the cycle
    * reads no other parquet) straight into a shuffle: its output RDD is
    * an `Exchange`'s.
    */
  private def shufflesLedgerScan(scopes: Seq[String]): Boolean =
    scopes.exists(_.startsWith("Scan parquet")) &&
      scopes.lastOption.exists(_.startsWith("Exchange"))

  test("a warm one-mapping cycle stays within its Spark-job budget") {
    val root = Files.createTempDirectory("graft-sync-jobs")
    for (f <- 1 to 6) write(root.resolve(s"src/f$f.txt"), s"f$f")
    val cfg = mkConfig(root)
    val engine = new SyncEngine(spark, cfg)
    engine.syncAll()
    engine.syncAll() // warm-up: all skip
    write(root.resolve("src/f1.txt"), "f1-v2")
    Files.delete(root.resolve("src/f2.txt"))
    val (r, jobs) = withJobs(engine.syncAll())
    assert(r == Seq(engine.MappingReport(cfg.mappings.head.mappingId,
      synced = 1, skipped = 4, failed = 0, orphansRemoved = 1)), s"$r")
    assert(jobs.size <= WarmCycleJobBudget,
      s"a warm cycle ran ${jobs.size} Spark jobs, budget " +
        s"$WarmCycleJobBudget:\n${jobs.mkString("\n")}")
    // the commit scans the ledger partition straight into its write
    val shuffled = jobs.filter(_.stages.exists(st => shufflesLedgerScan(st._2)))
    assert(shuffled.isEmpty,
      s"a warm cycle shuffled the ledger scan:\n${shuffled.mkString("\n")}")
  }

  test("an all-skip cycle runs no copy job") {
    val root = Files.createTempDirectory("graft-sync-jobs-idle")
    for (f <- 1 to 6) write(root.resolve(s"src/f$f.txt"), s"f$f")
    val cfg = mkConfig(root)
    val engine = new SyncEngine(spark, cfg)
    engine.syncAll()
    engine.syncAll() // warm-up: all skip
    val (r, jobs) = withJobs(engine.syncAll())
    assert(r == Seq(engine.MappingReport(cfg.mappings.head.mappingId,
      synced = 0, skipped = 6, failed = 0, orphansRemoved = 0)), s"$r")
    assert(jobs.size <= AllSkipCycleJobBudget,
      s"an all-skip cycle ran ${jobs.size} Spark jobs, budget " +
        s"$AllSkipCycleJobBudget:\n${jobs.mkString("\n")}")
    // a delete-only cycle also copies nothing, and still commits the
    // removed orphan's ledger row away
    Files.delete(root.resolve("src/f6.txt"))
    val r2 = within(60)(engine.syncAll())
    assert(r2 == Seq(engine.MappingReport(cfg.mappings.head.mappingId,
      synced = 0, skipped = 5, failed = 0, orphansRemoved = 1)), s"$r2")
    assert(!Files.exists(root.resolve("dst/f6.txt")))
    val names = SyncEngine.readLedgerPartition(spark, cfg.ledgerPath,
      cfg.mappings.head.mappingId).select("object_name").collect()
      .map(_.getString(0)).toSet
    assert(names == (1 to 5).map(f => s"f$f.txt").toSet, s"$names")
  }

  test("each changed object is copied exactly once per cycle, under " +
       "every barrier strategy, with the tagger on") {
    import org.apache.spark.sql.DataFrame
    import graft.operators.Barriers
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftcount.impl", classOf[CreateCountingFs].getName)
    val ckpt = Files.createTempDirectory("graft-sync-once-ckpt")
    for (strategy <- Seq("localCheckpoint", "persist", "checkpoint")) {
      val root = Files.createTempDirectory(s"graft-sync-once-$strategy")
      for (f <- 1 to 5) write(root.resolve(s"src/f$f.txt"), s"f$f")
      // the target goes through the counting scheme, the source does not
      val cfg = SyncConfig(
        providers = Seq(ProviderConf("local", "file", s"file://$root"),
                        ProviderConf("counted", "file", s"graftcount://$root")),
        mappings = Seq(MappingConf("local", "src", "counted", "dst")),
        ledgerPath = s"$root/ledger")
      val tagged = scala.collection.mutable.ArrayBuffer.empty[String]
      val tagger = new graft.sources.PostCopyTagger {
        override def tag(mappingId: String, targetUri: String,
                         frame: DataFrame): Unit =
          tagged ++= frame.select("object_name").collect().map(_.getString(0))
      }
      val engine = new SyncEngine(spark, cfg, tagger)
      // creates per object name under this run's target, then reset
      def cycle(changed: Set[String]): Unit = {
        tagged.clear()
        CreateCountingFs.drain(s"$root/dst/")
        val r = within(60)(engine.syncAll())
        assert(r.map(_.synced) == Seq(changed.size.toLong), s"$strategy: $r")
        val creates = CreateCountingFs.drain(s"$root/dst/")
        assert(creates == changed.map(_ -> 1).toMap, s"$strategy: $creates")
        assert(tagged.sorted == changed.toSeq.sorted, s"$strategy: $tagged")
      }
      if (strategy == "checkpoint")
        spark.sparkContext.setCheckpointDir(ckpt.toString)
      spark.conf.set(Barriers.StrategyKey, strategy)
      try {
        cycle((1 to 5).map(f => s"f$f.txt").toSet)
        write(root.resolve("src/f1.txt"), "f1-rewritten")
        write(root.resolve("src/f6.txt"), "f6")
        cycle(Set("f1.txt", "f6.txt"))
        cycle(Set.empty)
      } finally spark.conf.unset(Barriers.StrategyKey)
    }
  }

  test("observed counts give exact reports: concurrent mappings, and the " +
       "persist and checkpoint barriers") {
    val root = Files.createTempDirectory("graft-sync-observe")
    val sizes = Map(1 -> 4, 2 -> 7)
    for ((m, n) <- sizes; f <- 1 to n)
      write(root.resolve(s"src$m/f$f.txt"), s"$m-$f")
    val cfg = mkConfig2(root)
    val engine = new SyncEngine(spark, cfg)
    val seeded = engine.syncAll()
    assert(seeded.map(r => r.synced).sorted == Seq(4L, 7L), s"$seeded")
    // different numbers per mapping, so a count read off the other
    // mapping's barrier shows up in the report
    var rewrites = 0
    def change(m: Int, added: Seq[String], rewritten: Seq[Int],
               orphaned: Seq[Int]): Unit = {
      added.foreach(n => write(root.resolve(s"src$m/$n.txt"), s"$m-$n"))
      // each rewrite is longer than the last, so size and change token move
      rewritten.foreach { f =>
        rewrites += 1
        write(root.resolve(s"src$m/f$f.txt"), s"$m-$f-" + "r" * rewrites)
      }
      orphaned.foreach(f => Files.delete(root.resolve(s"src$m/f$f.txt")))
    }
    change(1, added = Seq("n1"), rewritten = Seq(1, 2), orphaned = Seq(4))
    change(2, added = Seq("n1", "n2", "n3"), rewritten = Seq(1),
           orphaned = Seq(6, 7))
    val Seq(m1, m2) = cfg.mappings.map(_.mappingId)
    val rs = within(60)(engine.syncAll(2))
    assert(rs.toSet == Set(
      engine.MappingReport(m1, synced = 3, skipped = 1, failed = 0,
        orphansRemoved = 1),
      engine.MappingReport(m2, synced = 4, skipped = 4, failed = 0,
        orphansRemoved = 2)), s"$rs")

    // one mapping under each non-default barrier strategy: one new, one
    // rewritten and one orphaned object per cycle
    val one = new SyncEngine(spark, cfg.copy(mappings = cfg.mappings.take(1)))
    val ckpt = Files.createTempDirectory("graft-sync-observe-ckpt")
    for ((strategy, i) <- Seq("persist", "checkpoint").zipWithIndex) {
      if (strategy == "checkpoint")
        spark.sparkContext.setCheckpointDir(ckpt.toString)
      spark.conf.set(graft.operators.Barriers.StrategyKey, strategy)
      try {
        change(1, added = Seq(s"s$i"), rewritten = Seq(3),
               orphaned = Seq(Seq(1, 2)(i)))
        val r = within(60)(one.syncAll())
        assert(r == Seq(one.MappingReport(m1, synced = 2,
          skipped = 2, failed = 0, orphansRemoved = 1)),
          s"$strategy: $r")
      } finally spark.conf.unset(graft.operators.Barriers.StrategyKey)
    }
  }

  test("a cycle over a legacy root-layout ledger skips what it recorded, " +
       "then leaves the ledger partitioned") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft-sync-legacy")
    write(root.resolve("src/kept.txt"), "kept")
    write(root.resolve("src/new.txt"), "new")
    val cfg = mkConfig(root)
    val mid = cfg.mappings.head.mappingId
    // a v3 ledger with its data files at the table root, holding a
    // success row whose size and change token match kept.txt
    ObjectStoreCatalog.scanCatalog(spark, cfg.sourceUri(cfg.mappings.head))
      .filter(col("name") === "kept.txt")
      .select(lit(0L).as("id"), lit(mid).as("mapping_id"),
        col("name").as("object_name"), col("size"), col("last_modified"),
        col("etag"), col("content_type"),
        current_timestamp().as("last_synced"),
        lit("success").as("sync_status"), col("metadata"))
      .write.parquet(cfg.ledgerPath)
    val fs = new org.apache.hadoop.fs.Path(cfg.ledgerPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ledgerRoot = new org.apache.hadoop.fs.Path(cfg.ledgerPath)
    assert(!SyncEngine.partitionedLayout(fs, ledgerRoot))

    val engine = new SyncEngine(spark, cfg)
    val r = within(60)(engine.syncAll())
    assert(r == Seq(engine.MappingReport(mid, synced = 1, skipped = 1,
      failed = 0, orphansRemoved = 0)), s"$r")
    assert(!Files.exists(root.resolve("dst/kept.txt")),
      "kept.txt was re-copied although the ledger records it as synced")
    assert(SyncEngine.partitionedLayout(fs, ledgerRoot))
    val rows = SyncEngine.readLedgerPartition(spark, cfg.ledgerPath, mid)
      .select("object_name", "sync_status").collect()
      .map(row => row.getString(0) -> row.getString(1)).toMap
    assert(rows == Map("kept.txt" -> "success", "new.txt" -> "success"))
  }
}

/** The local filesystem under the `graftcount` scheme, counting the
  * `create` calls per path (a copy is one `create` of its target).
  */
class CreateCountingFs extends GraftTestFs {
  import org.apache.hadoop.fs.{FSDataOutputStream, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable
  override def getScheme: String = "graftcount"
  override def getUri: java.net.URI = java.net.URI.create("graftcount:///")
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    CreateCountingFs.count(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    CreateCountingFs.count(f)
    super.create(f, permission, overwrite, bufferSize, replication,
                 blockSize, progress)
  }
}

object CreateCountingFs {
  private val creates =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private def count(f: org.apache.hadoop.fs.Path): Unit =
    creates.merge(f.toUri.getPath, 1, (a: Integer, b: Integer) => a + b)

  /** Removes and returns the counts of the paths under `dir`, keyed by
    * the path relative to it. */
  def drain(dir: String): Map[String, Int] = {
    val under = creates.keySet.asScala.filter(_.startsWith(dir)).toSeq
    under.map(p => p.stripPrefix(dir) -> creates.remove(p).intValue).toMap
  }
}
