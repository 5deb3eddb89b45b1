package graft.operators

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

import graft.sources.TaskConf

import java.io.{InputStream, OutputStream}
import java.net.URI

/** Side-effecting executors: distributed object copy and delete over any
  * Hadoop FileSystem. Replaces the reference's sequential per-object loop
  * (`internal/sync/sync.go:101-164` — explicitly single-threaded, with
  * parallelism listed as future work README.md:345-347) with Spark tasks:
  * the decided copy-set is a Dataset, each partition streams its objects.
  *
  * Semantics preserved from the reference:
  *  - streaming copy, never whole-object buffering (fixes the reference's
  *    own AWS/Azure buffering asymmetry, aws/client.go:176 azure/client.go:137)
  *  - per-object error isolation: a failed copy yields a 'failed_*' receipt
  *    and the run continues (sync.go:136-140,153-158)
  *  - at-least-once + idempotent target keys; run with
  *    spark.speculation=false (SURVEY.md §7.4)
  *
  * Copies write the target like the reference does, bytes only: on
  * `file://` they go through the raw local filesystem (see
  * [[unchecksummed]]), so no CRC is computed and no `.crc` sidecar is left
  * beside an object. Source reads, deletes and compaction keep the
  * checksummed filesystem.
  */
object CopyExecutor {

  /** The filesystem an object write goes through: Hadoop's checksummed
    * `LocalFileSystem` (`file://`) gives its raw filesystem, any other
    * filesystem is returned as is (object stores write no sidecars).
    */
  private def unchecksummed(fs: FileSystem): FileSystem = fs match {
    case local: LocalFileSystem => local.getRawFileSystem
    case other => other
  }

  /** Streams `in` to `out` through `buf`; returns the bytes written. */
  private def pump(in: InputStream, out: OutputStream,
                   buf: Array[Byte]): Long = {
    var total = 0L
    var n = in.read(buf)
    while (n >= 0) {
      if (n > 0) { out.write(buf, 0, n); total += n }
      n = in.read(buf)
    }
    total
  }

  case class Receipt(object_name: String, size: Long, content_type: String,
                     sync_status: String, error: String)

  /** Copy each task row's object `name` from srcBucket to dstBucket and
    * keep the row: every column of `tasks` plus `bytes_copied`,
    * `sync_status` and `error` — the UploadInfo analog (provider.go:19-24)
    * beside the source metadata the ledger records (sync.go:179-196). */
  def copyRows(spark: SparkSession, tasks: DataFrame,
               srcBucket: String, dstBucket: String): DataFrame = {
    val schema = tasks.schema.add("bytes_copied", LongType, nullable = false)
      .add("sync_status", StringType, nullable = false)
      .add("error", StringType, nullable = false)
    val nameAt = tasks.schema.fieldIndex("name")
    // Session conf rides the closure so task-side FileSystems see the
    // ProviderFactory endpoints/credentials (not just core-site defaults).
    val taskConf = TaskConf(spark)
    tasks.mapPartitions { (it: Iterator[Row]) =>
      val conf = taskConf.value
      val srcFs = FileSystem.get(URI.create(srcBucket), conf)
      val dstFs = FileSystem.get(URI.create(dstBucket), conf)
      val outFs = unchecksummed(dstFs)
      val buf = new Array[Byte](1 << 20)
      it.map { t =>
        def receipt(bytes: Long, status: String, error: String): Row =
          Row.fromSeq(t.toSeq :+ bytes :+ status :+ error)
        val src = new Path(srcBucket + "/" + t.getString(nameAt))
        val dst = new Path(dstBucket + "/" + t.getString(nameAt))
        // failed_get is the source open only (sync.go:136-140); any later
        // error — the target's mkdirs or create, a read or write
        // mid-stream — is an upload failure (sync.go:153-158)
        var opened = false
        try {
          val in = srcFs.open(src)
          opened = true
          try {
            outFs.mkdirs(dst.getParent)
            // a target written through the checksummed filesystem holds a
            // sidecar that would no longer match the new bytes, and a later
            // checksummed read would throw ChecksumException
            dstFs match {
              case local: LocalFileSystem =>
                outFs.delete(local.getChecksumFile(dst), false)
              case _ =>
            }
            val out = outFs.create(dst, true)
            try receipt(pump(in, out, buf), "success", "")
            finally out.close()
          } finally in.close()  // close per object — not the reference's
                                // leaked defer-in-loop (sync.go:141-142)
        } catch {
          case e: Exception =>
            receipt(0L, if (opened) "failed_upload" else "failed_get",
                    String.valueOf(e.getMessage))
        }
      }
    }(Encoders.row(schema))
  }

  /** [[copyRows]] of `tasks`' name/size/content_type as one receipt per
    * object: its name, bytes written, content type and status. */
  def copyObjects(spark: SparkSession, tasks: DataFrame,
                  srcBucket: String, dstBucket: String): Dataset[Receipt] = {
    import spark.implicits._
    copyRows(spark, tasks.select(col("name"), col("size"), col("content_type")),
             srcBucket, dstBucket)
      .select(col("name").as("object_name"), col("bytes_copied").as("size"),
              col("content_type"), col("sync_status"), col("error"))
      .as[Receipt]
  }

  case class CompactionBin(target_name: String, members: Seq[String])
  case class CompactReceipt(object_name: String, n_objects: Long, size: Long,
                            sync_status: String, error: String)

  /** Execute a compaction plan: stream-concatenate each bin's member
    * objects (in `members` order — [[graft.operators.SyncOps.compactionBins]]
    * emits them name-sorted) into ONE target object, the maintenance
    * rewrite a 100-TB catalog full of small sync outputs needs weekly.
    *
    * Each bin is one task row; bytes stream through the same 1 MiB buffer
    * as [[copyRows]], never buffering an object — so a bin costs
    * O(targetBytes) transfer and O(1) memory regardless of member count.
    * Per-bin error isolation: a failed member read yields a
    * `failed_compact` receipt (the partially-written target is
    * overwritten by the retry — target keys are deterministic and
    * `create(overwrite=true)` keeps the rewrite idempotent) and the run
    * continues. Callers upsert receipts into the ledger and only delete
    * member objects whose bin succeeded.
    */
  def compactObjects(spark: SparkSession, bins: DataFrame,
                     srcBucket: String, dstBucket: String): Dataset[CompactReceipt] = {
    import spark.implicits._
    val taskConf = TaskConf(spark)
    bins.select(col("target_name"), col("members")).as[CompactionBin]
      .mapPartitions { it =>
        val conf = taskConf.value
        val srcFs = FileSystem.get(URI.create(srcBucket), conf)
        val dstFs = FileSystem.get(URI.create(dstBucket), conf)
        val buf = new Array[Byte](1 << 20)
        it.map { bin =>
          val dst = new Path(dstBucket + "/" + bin.target_name)
          try {
            dstFs.mkdirs(dst.getParent)
            val out = dstFs.create(dst, true)
            var total = 0L
            try {
              bin.members.foreach { m =>
                val in = srcFs.open(new Path(srcBucket + "/" + m))
                try total += pump(in, out, buf)
                finally in.close()
              }
            } finally out.close()
            CompactReceipt(bin.target_name, bin.members.length.toLong, total,
                           "success", "")
          } catch {
            case e: Exception =>
              CompactReceipt(bin.target_name, bin.members.length.toLong, 0L,
                             "failed_compact", String.valueOf(e.getMessage))
          }
        }
      }
  }

  case class DeleteReceipt(object_name: String, removed: Boolean, error: String)

  /** Delete the orphan set from the target bucket (sync.go:199-234).
    * A failed delete is reported, not thrown — the caller keeps the ledger
    * row, mirroring sync.go:217-221. Deleting an already-missing object is
    * success (tolerate-404), matching azure/client.go:168-170: the goal
    * state ("object absent") holds, so the ledger row must clear rather
    * than stick around until the object reappears.
    */
  def deleteObjects(spark: SparkSession, orphans: DataFrame,
                    dstBucket: String): Dataset[DeleteReceipt] = {
    import spark.implicits._
    val taskConf = TaskConf(spark)
    orphans.select(col("name")).as[String].mapPartitions { it =>
      val fs = FileSystem.get(URI.create(dstBucket), taskConf.value)
      it.map { name =>
        val path = new Path(dstBucket + "/" + name)
        try {
          val removed = fs.delete(path, false) || !fs.exists(path)
          DeleteReceipt(name, removed, "")
        } catch {
          case e: Exception =>
            DeleteReceipt(name, removed = false, String.valueOf(e.getMessage))
        }
      }
    }
  }
}
