package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SyncEngine
import graft.config.SyncConfig
import graft.operators.{CopyExecutor, SyncOps}
import graft.sources.ObjectStoreCatalog
import graft.streaming.ContinuousSync
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import java.io.{BufferedReader, InputStreamReader, PrintStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** The JVM side of the benchmark: one process holding one Spark session,
  * driven by `run.py` over stdin/stdout, one JSON request and one JSON reply
  * per line. It only calls the program's public functions; fixtures and
  * output checks stay on the Python side, untimed.
  *
  * Requests (`op`): `init`, `sync`, `layers`, `stream`, `bound`, `open` and
  * `close` (a span), `spans`, `quit`.
  */
object Agent {
  private val json = new ObjectMapper()
  private var spark: SparkSession = _
  private var engine: SyncEngine = _
  private var config: SyncConfig = _
  private val spans = new Spans
  private var recorder: Recorder = _

  type JMap = java.util.LinkedHashMap[String, Any]
  private def obj(kv: (String, Any)*): JMap = {
    val m = new JMap(); kv.foreach { case (k, v) => m.put(k, v) }; m
  }
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    // replies own stdout; anything the program prints goes to stderr
    val reply = new PrintStream(new java.io.FileOutputStream(java.io.FileDescriptor.out),
                                true, "UTF-8")
    System.setOut(System.err)
    val in = new BufferedReader(new InputStreamReader(System.in, UTF_8))
    var line = in.readLine()
    var done = false
    while (!done && line != null) {
      val req = json.readTree(line)
      val op = req.get("op").asText
      val out =
        try op match {
          case "init"   => init(req)
          case "sync"   => sync(req)
          case "layers" => layers(req)
          case "bound"  => bound(req)
          case "stream" => stream(req)
          case "open"   =>
            obj("span" -> spans.open(req.get("name").asText, req.get("parent").asInt).id)
          case "close"  => spans.close(req.get("span").asInt); obj()
          case "spans"  => obj("spans" -> spans.toJava)
          case "quit"   => done = true; obj()
        } catch {
          case e: Exception =>
            e.printStackTrace()
            obj("error" -> s"${e.getClass.getName}: ${e.getMessage}")
        }
      reply.println(json.writeValueAsString(out))
      if (!done) line = in.readLine()
    }
    if (spark != null) spark.stop()
  }

  private def newSession(cpus: Int, localDir: String): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", localDir + "/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Set-up: session start, config load and engine construction —
    * everything between process start and the first timed operation.
    */
  private def init(req: JsonNode): JMap = {
    spark = newSession(req.get("cpus").asInt, req.get("local_dir").asText)
    config = SyncConfig.load(req.get("config").asText)
    engine = new SyncEngine(spark, config)
    if (req.get("trace").asBoolean) recorder = new Recorder(spans)
    obj()
  }

  private def attach(): Unit = {
    spark.sparkContext.addSparkListener(recorder)
    spark.listenerManager.register(recorder)
  }

  private def detach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(recorder)
    spark.listenerManager.unregister(recorder)
  }

  private def delta(a: Snap, b: Snap, fromMs: Long, toMs: Long): JMap = obj(
    "jobs" -> (b.jobs - a.jobs), "stages" -> (b.stages - a.stages),
    "tasks" -> (b.tasks - a.tasks),
    "task_busy_s" -> (b.taskBusyMs - a.taskBusyMs) / 1e3,
    "driver_gap_s" -> ((toMs - fromMs) - recorder.jobCoveredMs(fromMs, toMs)) / 1e3,
    "shuffle_bytes" -> (b.shuffleBytes - a.shuffleBytes),
    "spill_bytes" -> (b.spillBytes - a.spillBytes),
    "queries" -> (b.queries - a.queries),
    "analysis_ms" -> (b.analysisMs - a.analysisMs),
    "optimize_ms" -> (b.optimizeMs - a.optimizeMs),
    "physical_ms" -> (b.physicalMs - a.physicalMs),
    "exchanges" -> (b.exchanges - a.exchanges))

  /** One real sync cycle: `syncAll()` or `syncAll(concurrency)`, timed. With
    * `listen`, the listeners are attached for exactly this cycle.
    */
  private def sync(req: JsonNode): JMap = {
    val concurrency = req.get("concurrency").asInt
    val listen = req.get("listen").asBoolean
    val span = if (listen) Some(spans.open("syncAll", req.get("span").asInt)) else None
    if (listen) { attach(); recorder.parentSpan = span.get.id }
    val before = if (listen) recorder.snap() else null
    val fromMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val reports =
      if (concurrency > 1) engine.syncAll(concurrency) else engine.syncAll()
    val wall = secs(t0)
    val toMs = System.currentTimeMillis()
    val reps = reports.map(r => obj("mapping_id" -> r.mappingId,
      "synced" -> r.synced, "skipped" -> r.skipped, "failed" -> r.failed,
      "orphans_removed" -> r.orphansRemoved)).asJava
    val out = obj("wall_s" -> wall, "reports" -> reps)
    if (listen) {
      detach()
      val d = delta(before, recorder.snap(), fromMs, toMs)
      spans.close(span.get, "wall_s" -> wall)
      out.put("spark", d)
    }
    out
  }

  /** Timed direct calls into each layer's public function on this cycle's
    * inputs, before the real cycle runs: both catalog scans, the ledger
    * read, the diff, a copy of the needs-sync set and a delete of the orphan
    * set (both into scratch buckets, never the real target), and a ledger
    * commit into a scratch copy of the ledger.
    */
  private def layers(req: JsonNode): JMap = {
    val ledgerPath = req.get("ledger").asText
    val scratch = req.get("scratch").asText
    val parent = req.get("span").asInt
    attach()
    val out = new java.util.ArrayList[JMap]()
    try req.get("mappings").elements().asScala.foreach { m =>
      val mid = m.get("mapping_id").asText
      val src = m.get("source").asText
      val dst = m.get("target").asText
      val mspan = spans.open("layers", parent)
      recorder.parentSpan = mspan.id
      def timed[A](name: String)(body: => A): (A, Double) = {
        val s = spans.open(name, mspan.id)
        val t0 = System.nanoTime()
        val r = body
        val dt = secs(t0)
        spans.close(s, "s" -> dt)
        (r, dt)
      }
      val (srcCat, scanSrcS) = timed("sources.scanCatalog")(
        ObjectStoreCatalog.scanCatalog(spark, src))
      val (tgtCat, scanTgtS) = timed("sources.scanCatalog")(
        ObjectStoreCatalog.scanCatalog(spark, dst))
      val listed = srcCat.count() + tgtCat.count()

      val (ledger, readS) = timed("ledger.readLedger") {
        val l = SyncEngine.readLedger(spark, ledgerPath)
        l.write.format("noop").mode("overwrite").save()
        l
      }
      val ledgerRows = ledger.count()

      val ((decided, actions), diffS) = timed("sync_ops.catalogLedgerDiff") {
        val d = SyncOps.catalogLedgerDiff(srcCat, ledger, mid).cache()
        (d, d.groupBy("action").count().collect()
              .map(r => r.getString(0) -> r.getLong(1)).toMap)
      }
      val toCopy = SyncOps.needsSync(decided)

      // the scratch bucket starts with the target's current versions, so the
      // copy overwrites objects exactly as the real cycle's copy does
      val copyBucket = s"$scratch/copy"
      toCopy.select("name").collect().map(_.getString(0)).foreach { n =>
        val from = Paths.get(new java.net.URI(s"$dst/$n"))
        if (Files.exists(from)) {
          val to = Paths.get(new java.net.URI(s"$copyBucket/$n"))
          Files.createDirectories(to.getParent)
          Files.copy(from, to)
        }
      }
      val before = recorder.snap()
      val (receipts, copyS) = timed("copy.copyObjects")(
        CopyExecutor.copyObjects(spark, toCopy, src, copyBucket).collect())
      val copyTasks = recorder.snap().tasks - before.tasks
      val ok = receipts.filter(_.sync_status == "success")

      // the commit the cycle would make, into a scratch copy of the ledger
      val scratchLedger = s"$scratch/ledger"
      copyTree(Paths.get(new java.net.URI(asUri(ledgerPath))),
               Paths.get(new java.net.URI(asUri(scratchLedger))))
      val (_, commitS) = timed("ledger.commit") {
        val base = SyncEngine.readLedgerPartition(spark, scratchLedger, mid)
        val updates = toCopy.select(lit(0L).as("id"), lit(mid).as("mapping_id"),
          col("name").as("object_name"), col("size"), col("last_modified"),
          col("etag"), col("content_type"), current_timestamp().as("last_synced"),
          lit("success").as("sync_status"), col("metadata"))
        SyncEngine.writeLedgerPartition(spark, SyncOps.ledgerUpsert(base, updates),
                                        scratchLedger, mid)
      }

      // the orphan delete, against copies of the orphans in a scratch bucket
      val orphans = SyncOps.orphanAntiJoin(tgtCat, srcCat).select("name").cache()
      val names = orphans.collect().map(_.getString(0))
      val delBucket = s"$scratch/delete"
      names.foreach { n =>
        val to = Paths.get(new java.net.URI(s"$delBucket/$n"))
        Files.createDirectories(to.getParent)
        Files.copy(Paths.get(new java.net.URI(s"$dst/$n")), to)
      }
      val (deleted, deleteS) = timed("copy.deleteObjects")(
        CopyExecutor.deleteObjects(spark, orphans, delBucket).collect())

      decided.unpersist(); orphans.unpersist()
      deleteTree(Paths.get(new java.net.URI(asUri(scratch))))
      spans.close(mspan, "mapping_id" -> mid)
      out.add(obj("mapping_id" -> mid,
        "scan_source_s" -> scanSrcS, "scan_target_s" -> scanTgtS,
        "objects_listed" -> listed,
        "ledger_read_s" -> readS, "ledger_rows" -> ledgerRows,
        "diff_s" -> diffS, "decided_rows" -> actions.values.sum,
        "needs_copy_rows" -> actions.filter(_._1 != "skip").values.sum,
        "copy_s" -> copyS, "copy_bytes" -> ok.map(_.size).sum,
        "copy_objects" -> ok.length.toLong,
        "copy_failed" -> (receipts.length - ok.length).toLong,
        "copy_tasks" -> copyTasks,
        "commit_s" -> commitS,
        "delete_s" -> deleteS, "delete_objects" -> deleted.count(_.removed).toLong,
        "delete_failed" -> deleted.count(!_.removed).toLong))
    } finally detach()
    obj("mappings" -> out)
  }

  /** The streaming path of the engine: `ContinuousSync` runs `syncAll` once
    * per trigger of a rate-source stream. Runs for `window_ms` and returns the
    * progress durations of each batch completed in that window, from a
    * `StreamingQueryListener`.
    */
  private def stream(req: JsonNode): JMap = {
    val windowMs = req.get("window_ms").asLong
    val batches = new java.util.concurrent.LinkedBlockingQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.durationMs.containsKey("addBatch")) batches.add(e.progress)
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val span = spans.open("ContinuousSync", req.get("span").asInt)
    val q = ContinuousSync.start(spark, config, req.get("interval_ms").asLong)
    val deadline = System.currentTimeMillis() + windowMs
    var done = 0
    try {
      while (q.isActive && System.currentTimeMillis() < deadline) Thread.sleep(50)
      done = batches.size
      q.exception.foreach(e => throw e)
      if (done == 0) throw new IllegalStateException(
        s"ContinuousSync completed no batch in $windowMs ms")
    } finally {
      ContinuousSync.stop(q)
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.streams.removeListener(listener)
      spans.close(span)
    }
    val out = new java.util.ArrayList[JMap]()
    batches.asScala.take(done).foreach { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      spans.add("stream.trigger", span.id, start, start + d.getOrElse("triggerExecution", 0L),
                "batch_id" -> p.batchId)
      out.add(obj("batch_id" -> p.batchId, "duration_ms" -> d.asJava))
    }
    obj("batches" -> out)
  }

  /** The hardware bound for the copy path: a raw `java.nio` copy of the same
    * files on the same disk, with no Spark and no Hadoop in the way.
    */
  private def bound(req: JsonNode): JMap = {
    val dst = Paths.get(req.get("dst").asText)
    val files = req.get("files").elements().asScala.map(n => Paths.get(n.asText)).toSeq
    Files.createDirectories(dst)
    var bytes = 0L
    val t0 = System.nanoTime()
    files.zipWithIndex.foreach { case (f, i) =>
      Files.copy(f, dst.resolve(s"$i.bin"), StandardCopyOption.REPLACE_EXISTING)
      bytes += Files.size(f)
    }
    val s = secs(t0)
    deleteTree(dst)
    obj("s" -> s, "bytes" -> bytes)
  }

  private def asUri(p: String): String =
    if (p.contains("://")) p else Paths.get(p).toAbsolutePath.toUri.toString

  private def copyTree(from: Path, to: Path): Unit = {
    deleteTree(to)
    if (Files.exists(from)) {
      val walk = Files.walk(from)
      try walk.iterator.asScala.foreach { p =>
        val t = to.resolve(from.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
      } finally walk.close()
    }
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally walk.close()
    }
}
