package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import java.net.URI
import scala.collection.mutable.ArrayBuffer

/** Object-store connector layer: any Hadoop FileSystem URI acts as a
  * "bucket" — `file://` in tests, `s3a://` / `gs://` / `abfs://` on a real
  * cluster. This replaces the reference's four provider SDK clients
  * (`internal/providers/{gcp,aws,azure,minio}/client.go`) with configuration:
  * the provider SPI (`internal/interfaces/provider.go:26-34`) collapses to
  * Hadoop FS URIs, exactly as SURVEY.md §7.1 prescribes.
  */
object ObjectStoreCatalog {

  /** CATALOG schema (SURVEY.md §1.3; ObjectInfo provider.go:9-17).
    * `metadata` carries the store's custom key/value metadata
    * (reference `ObjectInfo.Metadata`, provider.go:16, populated from e.g.
    * GCS object attrs, gcp/client.go:68); excluded from oracle parity
    * projections per SURVEY §7.4 (DuckDB map hashing isn't portable).
    */
  val CatalogSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("bucket", StringType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("content_type", StringType, nullable = true),
    StructField("last_modified", TimestampType, nullable = false),
    StructField("etag", StringType, nullable = false),
    StructField("metadata", MapType(StringType, StringType), nullable = true)))

  /** Extension → content-type map (stands in for provider metadata;
    * the reference gets this from HeadObject / blob properties).
    */
  private val ContentTypes = Map(
    "txt" -> "text/plain", "json" -> "application/json",
    "csv" -> "text/csv", "parquet" -> "application/vnd.apache.parquet",
    "jpg" -> "image/jpeg", "png" -> "image/png", "bin" -> "application/octet-stream")

  def contentTypeOf(name: String): String = {
    val dot = name.lastIndexOf('.')
    if (dot < 0) "application/octet-stream"
    else ContentTypes.getOrElse(name.substring(dot + 1).toLowerCase,
                                "application/octet-stream")
  }

  /** Pseudo-ETag from (size, mtime) — the change-detection token. Real
    * stores provide a content ETag; Hadoop FS does not, and hashing every
    * object's bytes would read the whole corpus. Size+mtime is exactly the
    * signal the reference's needs-sync predicate uses anyway (sync.go:114).
    */
  def pseudoEtag(size: Long, mtimeMs: Long): String =
    java.lang.Long.toHexString(size * 1000003L ^ mtimeMs)

  /** Driver-side recursive listing → catalog DataFrame. Fine up to ~1e5
    * objects; beyond that use [[scanCatalogDistributed]]. The listing is
    * [[listPrefix]]'s: a directory walk on `file://`, one flat paged LIST
    * on an object store. The rows are on the driver, so the frame carries
    * their size as its estimate, where an RDD-backed frame would otherwise
    * count as unboundedly large: joins against a catalog, and against
    * barriers derived from one, broadcast.
    */
  def scanCatalog(spark: SparkSession, bucketUri: String): DataFrame = {
    val rows = listPrefix(new Configuration(spark.sparkContext.hadoopConfiguration),
                          bucketUri, bucketUri)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1), CatalogSchema)
    graft.operators.Barriers.withSizeEstimate(df, rows.length,
                                              CatalogSchema.defaultSize)
  }

  /** Distributed listing for huge buckets: the driver lists only the
    * first-level prefixes, executors recurse in parallel — the listing
    * equivalent of partitioned scan, so a 100 M-object bucket never
    * materializes on the driver (SURVEY.md §7.4: never collect catalogs).
    *
    * Skew handling (r12 verdict item 5): a first-level prefix holding 90 M
    * objects must not recurse inside ONE task. Before the scan, a bounded
    * number of cheap split rounds probes each pending prefix one level
    * (`listStatus`, names only — object rows never touch the driver): a
    * prefix whose direct entry count exceeds `splitThreshold` is split —
    * its direct files become a shallow work item and each child directory
    * becomes its own pending prefix. After `maxSplitDepth` rounds (or when
    * nothing is oversized) the surviving prefixes scan recursively in
    * parallel. Driver traffic per round is directory NAMES at split
    * boundaries only — O(#dirs), not O(#objects).
    *
    * Task-side FileSystems are built from [[TaskConf]] (the session conf),
    * so s3a/gcs/abfs endpoint + credential keys set by ProviderFactory are
    * visible inside tasks — a bare `new Configuration()` would silently
    * drop them on a real cluster (r12 verdict item 2).
    */
  def scanCatalogDistributed(spark: SparkSession, bucketUri: String,
                             parallelism: Int = 32,
                             splitThreshold: Int = 4096,
                             maxSplitDepth: Int = 4): DataFrame = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val fs = FileSystem.get(URI.create(bucketUri), conf)
    val root = new Path(bucketUri)
    if (!fs.exists(root))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], CatalogSchema)
    val (dirs, files) = fs.listStatus(root).partition(_.isDirectory)
    val topRows = files.map(st => toRow(bucketUri, relName(bucketUri, st.getPath), st))
    val taskConf = TaskConf(spark)
    val sc = spark.sparkContext

    // Split rounds: pending prefixes whose direct fan-out is oversized are
    // replaced by (shallow item for their direct files) + child prefixes.
    final case class Probe(uri: String, oversized: Boolean, children: Seq[String])
    var pending: Seq[String] = dirs.map(_.getPath.toString).toSeq
    var recursiveItems = Vector.empty[String] // scan subtree in one task
    var shallowItems = Vector.empty[String]   // direct files only (children split off)
    var round = 0
    while (pending.nonEmpty && round < maxSplitDepth) {
      val thr = splitThreshold
      val probes = sc
        .parallelize(pending, math.max(1, math.min(parallelism, pending.length)))
        .map { p =>
          val tfs = FileSystem.get(URI.create(p), taskConf.value)
          val entries = tfs.listStatus(new Path(p))
          val kids = entries.filter(_.isDirectory)
          // Oversized = too many direct entries; splitting only helps if
          // there are child dirs to hand out.
          Probe(p, entries.length > thr && kids.nonEmpty,
                kids.map(_.getPath.toString).toSeq)
        }
        .collect()
      val (fat, lean) = probes.partition(_.oversized)
      recursiveItems ++= lean.map(_.uri)
      shallowItems ++= fat.map(_.uri)
      pending = fat.flatMap(_.children).toSeq
      round += 1
    }
    recursiveItems ++= pending // depth budget exhausted: scan as-is

    val recRdd = sc
      .parallelize(recursiveItems, math.max(1, math.min(parallelism, math.max(1, recursiveItems.length))))
      .mapPartitions { it =>
        val c = taskConf.value
        it.flatMap(p => listPrefix(c, bucketUri, p))
      }
    val shallowRdd = sc
      .parallelize(shallowItems, math.max(1, math.min(parallelism, math.max(1, shallowItems.length))))
      .mapPartitions { it =>
        val c = taskConf.value
        it.flatMap { p =>
          val tfs = FileSystem.get(URI.create(p), c)
          tfs.listStatus(new Path(p)).iterator.filterNot(_.isDirectory)
            .map(st => toRow(bucketUri, relName(bucketUri, st.getPath), st))
        }
      }
    spark.createDataFrame(
      recRdd ++ shallowRdd ++ sc.parallelize(topRows.toSeq, 1), CatalogSchema)
  }

  private def relName(bucketUri: String, p: Path): String = {
    val base = new Path(bucketUri).toUri.getPath.stripSuffix("/")
    p.toUri.getPath.stripPrefix(base).stripPrefix("/")
  }

  private def metadataOf(st: FileStatus): Map[String, String] =
    Map("mtime_ms" -> st.getModificationTime.toString)

  private def toRow(bucketUri: String, name: String,
                    st: FileStatus): Row =
    Row(name, bucketUri, st.getLen, contentTypeOf(name),
        new java.sql.Timestamp(st.getModificationTime),
        pseudoEtag(st.getLen, st.getModificationTime), metadataOf(st))

  /** Recursive listing of every object under `prefixUri`, as catalog rows
    * of `bucketUri` (mirrors the reference's iterator/paged listings, e.g.
    * aws/client.go:77-88).
    *
    * On `file://` (Hadoop's `LocalFileSystem`) it walks the tree with
    * `listStatus`, which hides `.crc` sidecars with the same filter as
    * `listFiles` and never loads a file's permissions. `listFiles` wraps
    * every status in a `LocatedFileStatus`, and without the native Hadoop
    * library its permission load forks a shell command per file (about
    * 3 ms per object; the walk costs tens of µs, see SCALE.md). Every
    * other filesystem keeps `listFiles(root, true)`, which on s3a/gs/abfs
    * is one flat, paged LIST where a walk would cost one LIST per prefix.
    */
  private def listPrefix(conf: Configuration, bucketUri: String,
                         prefixUri: String): ArrayBuffer[Row] = {
    val fs = FileSystem.get(URI.create(prefixUri), conf)
    val root = new Path(prefixUri)
    val out = ArrayBuffer.empty[Row]
    if (!fs.exists(root)) return out  // bucket_exists_guard: empty, not error
    def emit(st: FileStatus): Unit =
      out += toRow(bucketUri, relName(bucketUri, st.getPath), st)
    fs match {
      case local: LocalFileSystem =>
        // depth-first in listing order, the order listFiles returns
        def walk(dir: Path): Unit = local.listStatus(dir).foreach { st =>
          if (st.isDirectory) walk(st.getPath) else emit(st)
        }
        walk(root)
      case _ =>
        val it = fs.listFiles(root, true)
        while (it.hasNext) emit(it.next())
    }
    out
  }

  /** bucket_ddl (reference gcp/client.go:153-180 etc.): exists + ensure. */
  def bucketExists(spark: SparkSession, bucketUri: String): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    FileSystem.get(URI.create(bucketUri), conf).exists(new Path(bucketUri))
  }

  def ensureBucket(spark: SparkSession, bucketUri: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(URI.create(bucketUri), conf)
    val p = new Path(bucketUri)
    if (!fs.exists(p)) fs.mkdirs(p)  // race-tolerant like azure/client.go:202-204
  }
}
