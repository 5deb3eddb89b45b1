package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

import graft.config.SyncConfig
import graft.operators.{CopyExecutor, SyncOps}
import graft.sources.ObjectStoreCatalog
import graft.streaming.ContinuousSync

/** Compile-time guard for the program API the benchmark under
  * `perfbench/` builds against: every entry its agent calls, with the
  * same argument shapes and the result types it reads. `calls` is never
  * run; if an entry is renamed or reshaped, `Test/compile` fails here,
  * exactly where the benchmark's own build would.
  */
class BenchmarkApiSpec extends AnyFunSuite {

  def calls(spark: SparkSession, configPath: String, src: String,
                    dst: String, ledgerPath: String, mid: String,
                    updates: DataFrame): Unit = {
    val config: SyncConfig = SyncConfig.load(configPath)
    val engine = new SyncEngine(spark, config)
    val reports: Seq[engine.MappingReport] =
      engine.syncAll() ++ engine.syncAll(2)
    reports.foreach { r =>
      val counts: Seq[Long] =
        Seq(r.synced, r.skipped, r.failed, r.orphansRemoved)
      val id: String = r.mappingId
    }

    val srcCat: DataFrame = ObjectStoreCatalog.scanCatalog(spark, src)
    val tgtCat: DataFrame = ObjectStoreCatalog.scanCatalog(spark, dst)
    val ledger: DataFrame = SyncEngine.readLedger(spark, ledgerPath)
    val decided: DataFrame = SyncOps.catalogLedgerDiff(srcCat, ledger, mid)
    val toCopy: DataFrame = SyncOps.needsSync(decided)
    val receipts: Array[CopyExecutor.Receipt] =
      CopyExecutor.copyObjects(spark, toCopy, src, dst).collect()
    val copied: Seq[(String, Long)] =
      receipts.toSeq.map(r => (r.sync_status, r.size))
    val base: DataFrame = SyncEngine.readLedgerPartition(spark, ledgerPath, mid)
    SyncEngine.writeLedgerPartition(spark, SyncOps.ledgerUpsert(base, updates),
                                    ledgerPath, mid)
    val orphans: DataFrame = SyncOps.orphanAntiJoin(tgtCat, srcCat)
    val deleted: Array[CopyExecutor.DeleteReceipt] =
      CopyExecutor.deleteObjects(spark, orphans, dst).collect()
    val removed: Seq[Boolean] = deleted.toSeq.map(_.removed)

    val q: StreamingQuery = ContinuousSync.start(spark, config, 1000L)
    ContinuousSync.stop(q)
  }

  test("the benchmark's program API compiles") {
    // the guard is the compilation of `calls` above; nothing runs
    succeed
  }
}
