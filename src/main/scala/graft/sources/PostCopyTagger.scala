package graft.sources

import org.apache.spark.sql.DataFrame

/** Deployment hook for re-applying object headers after the copy phase.
  *
  * The reference engine sets `Content-Type` and user metadata as object
  * headers on every PUT (internal/providers/gcp/client.go:110-115,
  * aws/client.go:185-190, minio/client.go:123-131). This engine's copy
  * path is Hadoop `FileSystem.create`, which has no object-header
  * concept, so on a real S3/GCS/Azure target a copied object is served
  * with the connector's default MIME type (README "Known limitations").
  * The values themselves are never lost — catalog scan → copy receipt →
  * ledger, where the copy's receipt is the catalog row itself plus the
  * copy's status, and the ledger row a projection of it — they just are
  * not re-applied to the physical object.
  *
  * This trait is the escape hatch as CODE: a deployment drops in a
  * provider-SDK implementation (e.g. S3 `CopyObject` onto itself with
  * `MetadataDirective=REPLACE`, GCS `Storage.Objects.patch`) without
  * touching engine code. [[graft.SyncEngine]] invokes it once per
  * mapping cycle, immediately after the copy barrier materializes, with
  * exactly the successful copies and the columns a tagging pass needs.
  *
  * Scale contract: `tagged` is a DISTRIBUTED frame (one row per
  * successfully copied object — at fleet scale, millions of rows). An
  * implementation must drive its SDK calls from the executors
  * (`foreachPartition`), never `collect()`; the default is a no-op so
  * the engine pays nothing when no tagger is configured.
  *
  * Failure contract (r15 advisory): a throwing `tag` does NOT abort the
  * mapping cycle — the objects are already physically copied, so the
  * engine catches the failure, records it in
  * `MappingReport.tagFailed`, and commits the ledger anyway (aborting
  * would forget every successful copy and re-copy the whole batch next
  * cycle). The corollary an implementation must design for: the engine
  * does NOT re-drive failed tags — a later cycle's `tagged` frame
  * contains only that cycle's copies. Implementations should therefore
  * (a) be idempotent per object (re-applying the same headers twice must
  * be safe — true of S3 CopyObject/REPLACE and GCS patch), and (b) keep
  * their own retry queue (or re-derive pending objects from the ledger,
  * where every header value persists) if at-least-once tagging is
  * required.
  */
trait PostCopyTagger {

  /** Called once per mapping cycle after the copy phase; never called
    * when the cycle copied nothing (empty frames are skipped so a no-op
    * cycle stays plan-free).
    *
    * @param mappingId the mapping whose cycle just copied
    * @param targetUri the destination bucket URI the objects live under
    * @param tagged    one row per SUCCESSFUL copy:
    *                  `object_name` STRING, `content_type` STRING,
    *                  `metadata` MAP&lt;STRING,STRING&gt; (nullable) —
    *                  the exact header values the reference would have
    *                  set on the PUT
    */
  def tag(mappingId: String, targetUri: String, tagged: DataFrame): Unit
}

object PostCopyTagger {
  /** Default: headers stay ledger-only, exactly the documented
    * limitation — and the cycle runs zero extra jobs.
    */
  object Noop extends PostCopyTagger {
    override def tag(mappingId: String, targetUri: String,
                     tagged: DataFrame): Unit = ()
  }
}
