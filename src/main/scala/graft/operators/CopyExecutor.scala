package graft.operators

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

import graft.sources.TaskConf

import java.io.{InputStream, OutputStream}
import java.net.URI
import java.nio.channels.FileChannel
import java.nio.file.{Files, StandardOpenOption}
import java.nio.file.attribute.PosixFilePermissions

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
  * Copies write the target like the reference does, bytes only: no CRC is
  * computed and no `.crc` sidecar is left beside an object. Each object
  * takes one of two paths ([[transfer]]):
  *  - `file://` to `file://`, from a source with no `.crc` sidecar: the
  *    kernel copies the bytes (`FileChannel.transferTo`, `sendfile` on
  *    Linux) into the target opened in place, without truncation; the
  *    target is then cut to the bytes written and given the mode a raw
  *    local `create` would give it, in one `chmod` call. Rewriting in
  *    place keeps the target's blocks, where an `O_TRUNC` open frees and
  *    reallocates them, and nothing forks a shell.
  *  - every other pair (object stores, a mixed pair) and every source with
  *    a sidecar: a stream through a 1 MiB buffer into a `create` of the
  *    target on the [[unchecksummed]] filesystem. The source is read
  *    through its own filesystem, so a `file://` source's sidecar is
  *    verified and a mismatch fails the object.
  *
  * Neither path is atomic. A copy cut off mid-way leaves the target
  * truncated to a prefix of the new bytes on the stream path, and the new
  * prefix over the old tail on the kernel path. Either way the object is
  * not `success` in the ledger (its receipt failed, or the cycle never
  * committed), so the next cycle copies it again. Source reads, deletes
  * and compaction keep the checksummed filesystem.
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

  /** A source open that failed: the object's `failed_get`. */
  private final case class SourceOpenFailed(cause: Exception)
      extends Exception(cause)

  /** Copies `src` to `dst` and returns the bytes written; a failed source
    * open throws [[SourceOpenFailed]], any later error is thrown as is.
    * The kernel path when both filesystems are `file://` and the source
    * has no sidecar to verify, the stream path otherwise (see
    * [[CopyExecutor]]).
    */
  private def transfer(srcFs: FileSystem, dstFs: FileSystem,
                       src: Path, dst: Path, buf: Array[Byte]): Long = {
    def open[A](f: => A): A =
      try f catch { case e: Exception => throw SourceOpenFailed(e) }
    val outFs = unchecksummed(dstFs)
    // the target's directory, and no sidecar beside it: a target written
    // through the checksummed filesystem holds one that would no longer
    // match the new bytes, and a later checksummed read would throw
    // ChecksumException
    def prepareTarget(): Unit = {
      outFs.mkdirs(dst.getParent)
      dstFs match {
        case local: LocalFileSystem =>
          outFs.delete(local.getChecksumFile(dst), false)
        case _ =>
      }
    }
    (srcFs, dstFs) match {
      case (srcLocal: LocalFileSystem, dstLocal: LocalFileSystem)
          if !srcLocal.pathToFile(srcLocal.getChecksumFile(src)).exists() =>
        val in = open(FileChannel.open(srcLocal.pathToFile(src).toPath,
                                       StandardOpenOption.READ))
        try {
          prepareTarget()
          val target = dstLocal.pathToFile(dst).toPath
          val out = FileChannel.open(target, StandardOpenOption.WRITE,
                                     StandardOpenOption.CREATE)
          val total = try {
            var pos = 0L
            var n = in.transferTo(pos, Long.MaxValue, out)
            while (n > 0) { pos += n; n = in.transferTo(pos, Long.MaxValue, out) }
            out.truncate(pos)
            pos
          } finally out.close()
          // the mode RawLocalFileSystem's create sets, read from the same
          // conf, without its forked `chmod`
          val mode = FsPermission.getFileDefault
            .applyUMask(FsPermission.getUMask(outFs.getConf))
          Files.setPosixFilePermissions(target,
            PosixFilePermissions.fromString(mode.toString))
          total
        } finally in.close()
      case _ =>
        val in = open(srcFs.open(src))
        try {
          prepareTarget()
          val out = outFs.create(dst, true)
          try pump(in, out, buf) finally out.close()
        } finally in.close()  // close per object — not the reference's
                              // leaked defer-in-loop (sync.go:141-142)
    }
  }

  case class Receipt(object_name: String, size: Long, content_type: String,
                     sync_status: String, error: String)

  /** Copy each task row's object `name` from srcBucket to dstBucket and
    * keep the row: every column of `tasks` plus `bytes_copied`,
    * `sync_status` and `error` — the UploadInfo analog (provider.go:19-24)
    * beside the source metadata the ledger records (sync.go:179-196).
    * `error` is the exception's class and message. */
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
      val buf = new Array[Byte](1 << 20)
      it.map { t =>
        def receipt(bytes: Long, status: String, error: String): Row =
          Row.fromSeq(t.toSeq :+ bytes :+ status :+ error)
        val src = new Path(srcBucket + "/" + t.getString(nameAt))
        val dst = new Path(dstBucket + "/" + t.getString(nameAt))
        // failed_get is the source open only (sync.go:136-140); any later
        // error — the target's mkdirs or create, a read or write
        // mid-stream — is an upload failure (sync.go:153-158)
        try receipt(transfer(srcFs, dstFs, src, dst, buf), "success", "")
        catch {
          case SourceOpenFailed(e) => receipt(0L, "failed_get", e.toString)
          case e: Exception => receipt(0L, "failed_upload", e.toString)
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
    * Each bin is one task row; bytes stream through a 1 MiB buffer, as on
    * [[copyRows]]' stream path, never buffering an object — so a bin costs
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
                             "failed_compact", e.toString)
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
            DeleteReceipt(name, removed = false, e.toString)
        }
      }
    }
  }
}
