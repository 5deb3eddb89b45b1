package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational re-expression of the reference's sync dataflow
  * (SURVEY.md §2.3–§2.7; reference `internal/sync/sync.go`).
  *
  * The reference walks the source catalog one object at a time, probing a
  * SQLite ledger per object (an N+1 loop, `sync.go:101-128`). Here the whole
  * decision is ONE left-outer equi-join + a predicate — Catalyst broadcasts
  * the small side, pushes filters into the scans, and the entire
  * scan→join→filter→project pipeline runs in whole-stage codegen. At 100 TB
  * the ledger is partitioned by `mapping_id` so the join prunes to the
  * mapping's slice before shuffling.
  */
object SyncOps {

  /** Composite mapping key `"src:srcBucket->tgt:tgtBucket"`
    * (reference `sync.go:93-95`).
    */
  def mappingId(
      srcProv: Column, srcBucket: Column,
      tgtProv: Column, tgtBucket: Column): Column =
    format_string("%s:%s->%s:%s", srcProv, srcBucket, tgtProv, tgtBucket)

  def withMappingId(mappings: DataFrame): DataFrame =
    mappings.withColumn("mapping_id",
      mappingId(col("source_provider_id"), col("source_bucket"),
                col("target_provider_id"), col("target_bucket")))

  /** The needs-sync truth table (reference `sync.go:111-128`): skip iff the
    * ledger row exists, metadata (mtime, etag) matches, and the last sync
    * succeeded; everything else — miss, drift, prior failure — syncs.
    * Expects the post-diff-join frame with ledger columns aliased `led_*`.
    */
  def action: Column =
    when(col("led_object_name").isNull, "sync_new")
      .when(col("led_last_modified") =!= col("last_modified") ||
            col("led_etag") =!= col("etag"), "sync_changed")
      .when(col("led_sync_status") =!= "success", "sync_retry")
      .otherwise("skip")

  /** Left-outer diff of a source catalog against its ledger slice, plus the
    * decision column. Replaces the reference's per-object point lookups
    * (`sync.go:101-105` → `database.go:319-344`) with one join.
    *
    * Scale note: the ledger side is filtered to one `mapping_id` before the
    * join (partition pruning when the ledger is written
    * `partitionBy("mapping_id")`); for typical catalog sizes Catalyst
    * broadcast-hashes the smaller side, otherwise AQE picks sort-merge.
    */
  def catalogLedgerDiff(
      srcCatalog: DataFrame, ledger: DataFrame, mapping: String): DataFrame = {
    val slice = ledger
      .filter(col("mapping_id") === mapping)
      .select(
        col("object_name").as("led_object_name"),
        col("last_modified").as("led_last_modified"),
        col("etag").as("led_etag"),
        col("sync_status").as("led_sync_status"))
    srcCatalog
      .join(slice, srcCatalog("name") === slice("led_object_name"), "left_outer")
      .withColumn("action", action)
  }

  /** Multi-mapping diff: the reference syncs mappings one at a time in a
    * driver loop (`main.go:87-106` → per-mapping `SyncBuckets`); here ALL
    * mappings diff in ONE plan — catalogs tagged with `mapping_id` union
    * together and join the whole ledger on the composite key
    * `(mapping_id, object_name)`. At 100 TB this is the job shape you want:
    * one shuffle keyed by the ledger's own partitioning, mappings processed
    * concurrently by data parallelism instead of sequentially by loop.
    */
  def catalogLedgerDiffAll(
      taggedCatalogs: DataFrame, ledger: DataFrame): DataFrame = {
    val slice = ledger.select(
      col("mapping_id"),
      col("object_name").as("led_object_name"),
      col("last_modified").as("led_last_modified"),
      col("etag").as("led_etag"),
      col("sync_status").as("led_sync_status"))
    taggedCatalogs
      .join(slice,
        taggedCatalogs("mapping_id") === slice("mapping_id") &&
          taggedCatalogs("name") === slice("led_object_name"),
        "left_outer")
      .drop(slice("mapping_id"))
      .withColumn("action", action)
  }

  /** Per-(mapping, outcome) counters over a multi-mapping diff — the whole
    * fleet's sync report from one aggregation.
    */
  def syncOutcomeCountsAll(decidedAll: DataFrame): DataFrame =
    decidedAll
      .groupBy(col("mapping_id"), col("action").as("outcome"))
      .agg(count(lit(1)).as("n"))

  /** Snapshot-to-snapshot catalog diff: classify every object across two
    * listings as added / removed / modified / unchanged by etag. The
    * generalization of the reference's per-cycle full re-scan
    * (`sync.go:70-85`): at scale, two bucketed-by-name snapshots diff with
    * a co-partitioned full-outer join and the unchanged mass never leaves
    * its partition.
    */
  def catalogSnapshotDiff(before: DataFrame, after: DataFrame): DataFrame =
    before.select(col("name"), col("etag").as("before_etag"))
      .join(after.select(col("name"), col("etag").as("after_etag")),
            Seq("name"), "full_outer")
      .withColumn("change",
        when(col("before_etag").isNull, "added")
          .when(col("after_etag").isNull, "removed")
          .when(col("before_etag") =!= col("after_etag"), "modified")
          .otherwise("unchanged"))

  /** Rows the copy executor must move (everything except `skip`). */
  def needsSync(decided: DataFrame): DataFrame =
    decided.filter(col("action") =!= "skip")

  /** Objects present in the target but absent from the source → delete
    * (reference `sync.go:212-231`, a hash-map scan == left anti-join).
    */
  def orphanAntiJoin(targetCatalog: DataFrame, srcCatalog: DataFrame): DataFrame =
    targetCatalog.join(srcCatalog.select("name"), Seq("name"), "left_anti")

  /** Per-mapping outcome counters (reference `sync.go:97-99,166-170`).
    * Partial (map-side) aggregation is automatic.
    */
  def syncOutcomeCounts(decided: DataFrame, mapping: String): DataFrame =
    decided
      .groupBy(col("action").as("outcome"))
      .agg(count(lit(1)).as("n"))
      .withColumn("mapping_id", lit(mapping))
      .select("mapping_id", "outcome", "n")

  /** Orphan-deletion counters (reference `sync.go:208-233`). */
  def deleteOutcomeCounts(orphans: DataFrame, mapping: String): DataFrame =
    orphans.agg(count(lit(1)).as("n_removed"))
      .withColumn("mapping_id", lit(mapping))
      .select("mapping_id", "n_removed")

  /** Latest-wins merge: `union(current, updates)` keeping the newest row per
    * `(mapping_id, object_name)`. Replaces SQLite
    * `INSERT … ON CONFLICT DO UPDATE` (reference `database.go:346-364`).
    * Tie-break on `is_update DESC` mirrors last-writer-wins when
    * `last_synced` collides.
    */
  def ledgerLatestWins(current: DataFrame, updates: DataFrame): DataFrame = {
    val cols = current.columns
    val tagged = current.withColumn("is_update", lit(0))
      .unionByName(updates.selectExpr(cols.toIndexedSeq: _*).withColumn("is_update", lit(1)))
    val w = Window
      .partitionBy("mapping_id", "object_name")
      .orderBy(col("last_synced").desc, col("is_update").desc)
    tagged
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "is_update")
  }

  /** Reference upsert semantics (`database.go:346-364`,
    * `INSERT … ON CONFLICT DO UPDATE`): the update row wins unconditionally
    * on key collision — no timestamp comparison. Expressed as
    * `updates ∪ (current ⋉̸ updates)` (anti-join on the key, then union).
    *
    * Same result as [[ledgerLatestWins]] whenever updates are at least as
    * new as current (always true for a sync batch), but a strictly better
    * plan at scale: no window sort over the whole ledger. The ledger side
    * is one keyed anti-join against the batch's keys, which broadcast
    * when the planner knows the batch is small (a sized barrier, as the
    * sync cycle's copy barrier is), so the ledger streams through
    * unshuffled; the only aggregate is the batch's own per-key dedup.
    */
  def ledgerUpsert(current: DataFrame, updates: DataFrame): DataFrame = {
    val cols = current.columns
    val keys = Seq("mapping_id", "object_name")
    // ON CONFLICT collapses duplicate keys WITHIN the batch too (last
    // writer wins): keep one row per key via max(struct(last_synced, …)) —
    // a partial-aggregating hash agg over the small batch, so the merged
    // plan still contains no sort or window anywhere.
    // Tie rule: when two batch rows share a key AND last_synced, the max
    // compares the remaining payload columns in struct order — a
    // DETERMINISTIC tie-break, unlike the reference's insertion-order
    // last-writer-wins (database.go:346-364). A Spark batch is an
    // unordered relation, so "arrival order" does not exist here; callers
    // needing the reference's exact tie semantics must carry their own
    // sequence column and order the struct by it.
    val payload = ("last_synced" +:
      cols.filterNot(c => keys.contains(c) || c == "last_synced").toSeq)
    // Map-typed columns (the v3 `metadata` map) are unorderable — they can
    // ride in the winning row but not in the comparison: order by the
    // orderable payload only and carry the full payload with max_by. When
    // every column is orderable the plain struct-max keeps the fully
    // deterministic tie-break documented above.
    val orderable = payload.filterNot(c =>
      updates.schema(c).dataType
        .isInstanceOf[org.apache.spark.sql.types.MapType])
    val winner =
      if (orderable.length == payload.length)
        max(struct(payload.map(col): _*))
      else
        max_by(struct(payload.map(col): _*),
               struct(orderable.map(col): _*))
    val latestUpdates = updates
      .groupBy(keys.map(col): _*)
      .agg(winner.as("w"))
      .select(keys.map(col) ++ cols.filterNot(keys.contains)
        .map(c => col(s"w.$c").as(c)): _*)
      .selectExpr(cols.toIndexedSeq: _*)
    // an anti-join ignores duplicate keys: the batch's own keys will do
    current
      .join(updates.select(keys.map(col): _*), keys, "left_anti")
      .selectExpr(cols.toIndexedSeq: _*)
      .unionByName(latestUpdates)
  }

  /** Build post-sync ledger rows from the needs-sync set
    * (reference `sync.go:179-196`): source metadata + status + synced-at.
    */
  def ledgerUpdatesFromDecisions(
      needsSyncRows: DataFrame, mapping: String, syncedAt: Column): DataFrame =
    needsSyncRows.select(
      lit(0L).as("id"),
      lit(mapping).as("mapping_id"),
      col("name").as("object_name"),
      col("size"),
      col("last_modified"),
      col("etag"),
      col("content_type"),
      syncedAt.as("last_synced"),
      lit("success").as("sync_status"))

  /** SCD2 version history: instead of overwriting on upsert, keep every
    * version with its validity interval — `valid_to` = the next version's
    * `valid_from` (NULL while current). The audit-trail extension of the
    * reference's destructive `ON CONFLICT DO UPDATE`: one window over
    * `(mapping_id, object_name)` ordered by version time, shuffled on the
    * ledger's own key, so history costs exactly one `lead` pass.
    */
  def ledgerHistoryScd2(current: DataFrame, updates: DataFrame): DataFrame = {
    val versions = current.unionByName(updates.selectExpr(current.columns.toIndexedSeq: _*))
    val w = Window.partitionBy("mapping_id", "object_name")
      .orderBy(col("last_synced"))
    versions.select(
      col("mapping_id"), col("object_name"), col("etag"), col("sync_status"),
      col("last_synced").as("valid_from"),
      lead(col("last_synced"), 1).over(w).as("valid_to"))
  }

  /** Ledger delete by key set = left anti-join (reference `database.go:405-415`). */
  def ledgerDelete(ledger: DataFrame, doomedNames: DataFrame): DataFrame =
    ledger.join(
      doomedNames.select(col("name").as("object_name")),
      Seq("object_name"), "left_anti")

  /** v2-migration backfill: derive `mapping_id` for pre-migration rows
    * (reference `database.go:242-250, 283-291`:
    * `'default:' || bucket_name || '->default:' || bucket_name`).
    */
  def migrationBackfill(legacyLedger: DataFrame): DataFrame =
    legacyLedger.withColumn("mapping_id",
      concat(lit("default:"), col("bucket_name"),
             lit("->default:"), col("bucket_name")))

  /** Config validation as relations (reference `config.go:111-159`):
    * duplicate provider ids and dangling mapping FKs.
    */
  def duplicateProviderIds(providers: DataFrame): DataFrame =
    providers.groupBy("id").agg(count(lit(1)).as("n")).filter(col("n") > 1)

  def danglingMappings(mappings: DataFrame, providers: DataFrame): DataFrame = {
    val ids = providers.select(col("id")).distinct()
    mappings
      .join(ids.withColumnRenamed("id", "source_provider_id"),
            Seq("source_provider_id"), "left_anti")
      .unionByName(
        mappings.join(ids.withColumnRenamed("id", "target_provider_id"),
                      Seq("target_provider_id"), "left_anti"))
  }

  /** `SELECT COALESCE(MAX(version), 0)` (reference `database.go:69-75`). */
  def schemaVersionMax(migrations: DataFrame): DataFrame =
    migrations.agg(coalesce(max(col("version")), lit(0)).as("version"))

  /** Small-file compaction plan over a catalog listing: assign objects to
    * contiguous-by-name bins of ~`targetBytes` within each name prefix —
    * the maintenance job an object store at 100 TB needs when a sync has
    * written millions of small objects (each bin becomes one compacted
    * output object / one copy task).
    *
    * Shape: the running-sum window partitions by `prefix`, so there is no
    * global sort — the byte-packing analog of `CorpusOps.packSequences`'
    * shard-local windows, applied to the sync domain. `div` (not `/`)
    * keeps the bin id in integer arithmetic — long `/` promotes through
    * double and rounds at large offsets.
    */
  def compactionPlan(catalog: DataFrame, targetBytes: Long,
                     prefixLen: Int = 5): DataFrame =
    compactionAssign(catalog, targetBytes, prefixLen)
      .groupBy("prefix", "bin_id")
      .agg(count(lit(1)).as("n_objects"),
           sum(col("size")).cast("long").as("total_bytes"),
           min(col("name")).as("first_name"),
           max(col("name")).as("last_name"))

  /** Per-object bin assignment behind [[compactionPlan]]: one row per
    * member object with its (prefix, bin_id) — the frame the executor
    * groups into copy tasks and the plan aggregates into bins.
    */
  private[graft] def compactionAssign(catalog: DataFrame, targetBytes: Long,
                                      prefixLen: Int): DataFrame = {
    val prior = Window.partitionBy("prefix").orderBy("name")
      .rowsBetween(Window.unboundedPreceding, -1)
    catalog
      .select(substring(col("name"), 1, prefixLen).as("prefix"),
              col("name"), col("size"))
      .withColumn("start_offset",
        coalesce(sum(col("size")).over(prior), lit(0L)))
      .withColumn("bin_id", expr(s"start_offset div $targetBytes"))
  }

  /** Deterministic name of a bin's compacted output object — shared by
    * [[compactionBins]] (what the executor writes), [[compactedCatalog]]
    * (what the catalog will list afterwards) and the DuckDB oracle
    * restatement: change it in one place or the three drift apart.
    */
  private def compactedName: Column =
    concat(lit("compacted/"), col("prefix"), lit("/part-"),
           lpad(col("bin_id").cast("string"), 5, "0"))

  /** Executable compaction bins: one row per bin with the member names in
    * concatenation order — the task frame for
    * [[CopyExecutor.compactObjects]]. `members` is bounded by
    * targetBytes/min-object-size per row (a few thousand names for MiB
    * bins), so the collected array is small even on a 100 M-object
    * catalog; the heavy data (the bytes) never leaves the executors.
    */
  def compactionBins(catalog: DataFrame, targetBytes: Long,
                     prefixLen: Int = 5): DataFrame =
    compactionAssign(catalog, targetBytes, prefixLen)
      .groupBy("prefix", "bin_id")
      .agg(sort_array(collect_list(col("name"))).as("members"),
           sum(col("size")).cast("long").as("total_bytes"))
      .select(compactedName.as("target_name"), col("members"),
              col("total_bytes"))

  /** The post-compaction catalog shape: what a listing returns once every
    * bin is rewritten as one object — the declared, oracle-checked view of
    * the maintenance action (sizes are exact because concatenation
    * preserves byte counts).
    */
  def compactedCatalog(catalog: DataFrame, targetBytes: Long,
                       prefixLen: Int = 5): DataFrame =
    compactionAssign(catalog, targetBytes, prefixLen)
      .groupBy("prefix", "bin_id")
      .agg(count(lit(1)).as("n_merged"),
           sum(col("size")).cast("long").as("size"),
           min(col("name")).as("first_name"),
           max(col("name")).as("last_name"))
      .select(compactedName.as("name"), col("size"), col("n_merged"),
              col("first_name"), col("last_name"))
}
