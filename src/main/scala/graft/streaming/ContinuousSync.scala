package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.SyncEngine
import graft.config.SyncConfig

/** Structured-Streaming continuous mode. The reference's service loop is a
  * `time.Ticker` that re-runs the full batch sync every N seconds
  * (`cmd/cloud-data-sync/main.go:87-106`) with all state in the ledger —
  * i.e. a periodic micro-batch. The faithful Spark mapping is a
  * `Trigger.ProcessingTime` stream whose foreachBatch runs one sync cycle:
  * identical per-cycle semantics (full re-list + ledger diff), with
  * Spark's trigger clock, lifecycle (`query.stop()` ≙ SIGTERM context
  * cancel, main.go:108-113) and monitoring for free.
  *
  * The rate source is a 1-row-per-trigger clock; catalogs are re-scanned
  * inside the batch because object stores don't emit change feeds — the
  * same reason the reference re-lists every tick (sync.go:70-85).
  */
object ContinuousSync {

  def start(spark: SparkSession, config: SyncConfig,
            intervalMs: Long): StreamingQuery = {
    val engine = new graft.SyncEngine(spark, config)
    spark.readStream
      .format("rate")
      .option("rowsPerSecond", 1)
      .load()
      .writeStream
      .trigger(Trigger.ProcessingTime(intervalMs))
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, batchId: Long) =>
        engine.syncAll()
        ()
      }
      .queryName("graft-continuous-sync")
      .start()
  }

  /** Stop the ticker. A cycle in flight gets its jobs cancelled — the same
    * at-least-once interruption semantics as the reference's SIGTERM
    * context-cancel (main.go:108-113); the interrupted objects re-sync next
    * run via their ledger status. The cancellation exception is therefore
    * expected, not an error.
    */
  def stop(query: StreamingQuery): Unit =
    try query.stop()
    catch { case e: Exception if SyncEngine.isInterruption(e) => () }

  /** Route SIGTERM/SIGINT through [[stop]] — the reference wires signal →
    * context-cancel → graceful ticker stop (main.go:71-72,108-113); the
    * JVM analog is a shutdown hook. Without it a `kill -TERM` dies through
    * Spark's default teardown instead of the cancel-cycle path. Returns
    * the hook so the normal-exit path can deregister it.
    */
  def installStopHook(query: StreamingQuery): Thread = {
    val hook = new Thread(() => stop(query), "graft-continuous-sync-stop")
    Runtime.getRuntime.addShutdownHook(hook)
    hook
  }

  /** Deregister a hook from [[installStopHook]] on the normal-exit path
    * (IllegalStateException = shutdown already in progress, i.e. the hook
    * is running — nothing to remove).
    */
  def removeStopHook(hook: Thread): Unit =
    try Runtime.getRuntime.removeShutdownHook(hook)
    catch { case _: IllegalStateException => () }
}
