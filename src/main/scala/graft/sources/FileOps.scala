package graft.sources

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference blueprint surface (upload / download / move / delete
  * with exact or regex matching — ftp-blueprints
  * {upload,download,move,delete}_file.py) re-expressed over
  * `org.apache.hadoop.fs.FileSystem`, so one implementation serves
  * file://, hdfs://, s3a://, and graft's own FTP connector, and every
  * bulk operation distributes over Spark executors (one FS connection
  * per partition — 1000 executors ⇒ 1000 parallel transfer streams,
  * no driver bottleneck).
  */
object FileOps {

  /** The reference's error taxonomy (ftp-blueprints exit_codes.py:1-4)
    * as a typed exception: 3 bad credentials, 200 no matches, 201
    * invalid path, 202 move error. Library callers pattern-match on
    * `code`; a CLI wrapper would `sys.exit(code)`.
    */
  final case class GraftFsError(code: Int, message: String)
      extends RuntimeException(message)
  object ErrorCodes {
    val IncorrectCredentials = 3
    val NoMatchesFound = 200
    val InvalidFilePath = 201
    val MoveError = 202
  }

  /** Guard: a matching stage that found nothing is exit-200 in the
    * reference (upload_file.py / download_file.py main flow). One count
    * aggregate — 8 bytes to the driver instead of the matched path list.
    */
  def requireMatchesDF(matched: DataFrame, pattern: String): Long = {
    val n = matched.count()
    if (n == 0)
      throw GraftFsError(ErrorCodes.NoMatchesFound,
        s"no files found matching '$pattern'")
    n
  }

  case class FileEntry(path: String, size: Long, mtime: Long, is_dir: Boolean)

  private def fs(uri: String, conf: Configuration): FileSystem = {
    val f = FileSystem.newInstance(new URI(uri), conf)
    // no .crc sidecars from ChecksumFileSystem wrappers (local fs)
    f.setWriteChecksum(false)
    f.setVerifyChecksum(false)
    f
  }

  private def hadoopConf(spark: SparkSession): Configuration =
    spark.sessionState.newHadoopConf()

  /** Recursive listing as a DataFrame — the Spark-shaped twin of the
    * reference's `find_files_in_directory` walk (download_file.py:138).
    * Only the root's direct children are listed on the driver (bounded
    * by the root's fan-out); everything below walks on the executors
    * as an iterative FRONTIER BFS: each level lists exactly one
    * directory depth in parallel, and the directories it discovers are
    * re-distributed as the next level's frontier. Unlike a per-subtree
    * recursive walk, parallelism is never bounded by the ROOT's
    * fan-out — a root with one giant child directory still fans out as
    * soon as that child's children are discovered (and no walk
    * recurses on a task stack, so a 10⁴-deep tree can't overflow it).
    * The result STAYS distributed — the manifest is a DataFrame over
    * the walk's RDDs, never `.collect()`ed; at 10⁷–10⁸ files it feeds
    * [[bulkCopyDF]] partition-by-partition without materializing on the
    * driver. Per level the only driver work is an isEmpty probe on the
    * (tiny, dirs-only) frontier RDD.
    */
  def listRecursive(spark: SparkSession, rootUri: String): DataFrame = {
    import spark.implicits._
    val conf = new SerializableConfiguration(hadoopConf(spark))
    val root = fs(rootUri, conf.value)
    val top: Seq[FileStatus] =
      try root.listStatus(new Path(rootUri)).toSeq
      catch {
        case _: java.io.FileNotFoundException =>
          throw GraftFsError(ErrorCodes.InvalidFilePath,
            s"source path does not exist: $rootUri")
      }
      finally root.close()
    val (dirs, files) = top.partition(_.isDirectory)
    val topEntries = files.map(st => FileEntry(
      st.getPath.toUri.getPath, st.getLen,
      st.getModificationTime, is_dir = false)) ++
      dirs.map(st => FileEntry(st.getPath.toUri.getPath,
        0L, st.getModificationTime, is_dir = true))
    val topDF = topEntries.toDF()
    val sc = spark.sparkContext
    val levels = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.rdd.RDD[(String, FileEntry)]]
    // frontier carries FULL URIs (scheme + authority) so executors can
    // reopen the right FileSystem; FileEntry keeps the bare path
    var frontier: org.apache.spark.rdd.RDD[String] =
      sc.parallelize(dirs.map(_.getPath.toString), math.max(1, math.min(dirs.size, 64)))
    while (!frontier.isEmpty()) {
      val level = frontier.mapPartitions { paths =>
        paths.flatMap { p =>
          val f = fs(p, conf.value)
          val listed: Array[(String, FileEntry)] =
            try f.listStatus(new Path(p)).map { st =>
              (st.getPath.toString,
                FileEntry(st.getPath.toUri.getPath,
                  if (st.isDirectory) 0L else st.getLen,
                  st.getModificationTime, st.isDirectory))
            }
            finally f.close()
          listed
        }
      }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      levels += level
      // next frontier: this level's directories, re-spread across
      // tasks so a single hot directory's children parallelize
      val nextDirs = level.filter(_._2.is_dir).map(_._1)
      frontier = nextDirs.repartition(
        math.max(1, math.min(64, sc.defaultParallelism)))
    }
    val subtreeDF =
      if (levels.isEmpty) spark.emptyDataset[FileEntry].toDF()
      else sc.union(levels.map(_.map(_._2)).toSeq).toDF()
    topDF.unionAll(subtreeDF).orderBy(col("path"))
  }

  /** Regex basename matching (download_file.py:174) over a manifest. */
  def matchBasename(manifest: DataFrame, pattern: String): DataFrame =
    manifest.filter(!col("is_dir")
      && regexp_like(element_at(split(col("path"), "/"), -1), lit(pattern)))

  /** Full-path regex matching (upload_file.py:147 semantics). */
  def matchFullPath(manifest: DataFrame, pattern: String): DataFrame =
    manifest.filter(!col("is_dir") && regexp_like(col("path"), lit(pattern)))

  /** Transfer planning over a matched manifest: one (src, dst) row per
    * match. The matched paths STAY a DataFrame (at 10⁸ matches a
    * driver-side plan dies where the copy itself wouldn't). An explicit
    * destination name is enumerated `name_N.ext`, numbered by the
    * file's GLOBAL PATH-SORTED rank via `Distributed.orderedPrefix`
    * (range partition + broadcast prefix offsets — never a
    * single-partition window); with `enumerateAll` (upload/download
    * regex semantics, upload_file.py:242-253) every match is numbered,
    * otherwise (move, move_file.py:168-173) only when more than one
    * matched — `total_w` from the same pass decides, no extra count
    * job.
    * Without an explicit name each source keeps its basename.
    */
  def planTransfersDF(matched: DataFrame, destinationFolder: String,
      destinationFileName: Option[String],
      enumerateAll: Boolean): DataFrame = {
    val spark = matched.sparkSession
    import spark.implicits._
    val paths = matched.select(col("path"))
    destinationFileName match {
      case None =>
        paths.as[String]
          .map(p => (p, PathUtils.determineDestinationFullPath(
            destinationFolder, None, p)))
          .toDF("src", "dst")
      case some =>
        graft.operators.Distributed
          .orderedPrefix(paths, Seq(col("path")), lit(1L))
          .select(col("path"), col("rank"), col("total_w"))
          .as[(String, Long, Long)]
          .map { case (p, rank, total) =>
            val idx = if (enumerateAll || total > 1) Some(rank.toInt) else None
            (p, PathUtils.determineDestinationFullPath(
              destinationFolder, some, p, idx))
          }
          .toDF("src", "dst")
    }
  }

  /** Retry a transient-failure-prone action up to `attempts` extra
    * times with exponential backoff (backoffMs, 2×, 4×, …). Typed
    * [[GraftFsError]]s are NEVER retried — the reference's taxonomy
    * codes (bad credentials, no matches, bad paths) are deterministic
    * job outcomes, not network weather; retrying them would only
    * delay the correct exit code. The production transfer-job twin of
    * the blueprint CLIs' `--retries/--backoff-ms` flags.
    */
  /** Ceiling for one backoff sleep: the doubling stops here, so a
    * large --retries keeps retrying at 30 s intervals instead of
    * overflowing the shift (backoffMs << 54 goes negative and
    * Thread.sleep throws) or sleeping for days.
    */
  val MaxBackoffMs = 30000L

  def withRetries[A](attempts: Int, backoffMs: Long)(f: () => A): A = {
    var attempt = 0
    var lastErr: Throwable = null
    while (attempt <= attempts) {
      try return f()
      catch {
        case e: GraftFsError => throw e
        case scala.util.control.NonFatal(e) =>
          lastErr = e
          if (attempt < attempts)
            Thread.sleep(math.min(
              backoffMs << math.min(attempt, 20), MaxBackoffMs))
          attempt += 1
      }
    }
    throw lastErr
  }

  /** Distributed bulk copy between any two Hadoop filesystems over a
    * (src, dst) plan — the blueprints' copy path: the plan feeds the
    * copy partition-by-partition and never materializes on the driver;
    * each partition opens one source FS + one destination FS and
    * streams bytes. `dstUriPrefix` anchors relative destinations (e.g.
    * "file:/tmp/out" or "gftp://host:21"); `create` makes the
    * destination's parent directories.
    *
    * `retries` re-runs an individual FILE's copy on transient errors
    * (fresh source/destination streams each attempt; `create`
    * overwrites, so a half-written destination is replaced, making
    * per-file retry idempotent). The FS handles are per-partition; a
    * connection-level failure surfaces on the next stream open and is
    * retried the same way.
    *
    * `resume = true` picks transfers up where they died instead of
    * restarting: a destination already at the source's size is
    * skipped, a shorter one is completed by seeking the source to the
    * destination length and APPENDING the tail — over gftp both sides
    * are REST offsets (O(1) positioning), so a retried 10 GB transfer
    * that failed at 9 GB moves 1 GB, not 10. Combined with `retries`,
    * each attempt re-probes the sizes and continues from wherever the
    * previous attempt stopped.
    */
  def bulkCopyDF(
      transfers: DataFrame,
      srcUriPrefix: String,
      dstUriPrefix: String,
      retries: Int = 0,
      backoffMs: Long = 1000L,
      resume: Boolean = false): Unit = {
    val spark = transfers.sparkSession
    import spark.implicits._
    val conf = new SerializableConfiguration(hadoopConf(spark))
    transfers.select(col("src"), col("dst")).as[(String, String)]
      .rdd.foreachPartition(
        copyPartition(conf, srcUriPrefix, dstUriPrefix, retries,
          backoffMs, resume))
  }

  /** One executor partition of a bulk copy: one source FS + one
    * destination FS, streamed byte copies with per-file retry/resume.
    */
  private def copyPartition(
      conf: SerializableConfiguration,
      srcUriPrefix: String,
      dstUriPrefix: String,
      retries: Int,
      backoffMs: Long,
      resume: Boolean)(it: Iterator[(String, String)]): Unit = {
        // a bare-scheme prefix ("file:") needs a root path to be a URI
        def asUri(p: String) = if (p.endsWith(":")) p + "/" else p
        val sfs = fs(asUri(srcUriPrefix), conf.value)
        val dfs = fs(asUri(dstUriPrefix), conf.value)
        try it.foreach { case (srcName, dstName) =>
          // absolute destinations append directly to the scheme/root
          val joined = if (dstName.startsWith("/")) s"$dstUriPrefix$dstName"
            else s"$dstUriPrefix/$dstName"
          val dst = new Path(joined.replaceAll("(?<!:)//+", "/"))
          val src = new Path(srcName)
          withRetries(retries, backoffMs) { () =>
            // resume probe: sizes re-checked on every attempt, so a
            // retry continues from wherever the last attempt died
            val dstLen =
              if (!resume) -1L
              else try {
                val s = dfs.getFileStatus(dst)
                if (s.isFile) s.getLen else -1L
              } catch { case _: java.io.FileNotFoundException => -1L }
            val srcLen =
              if (dstLen > 0) sfs.getFileStatus(src).getLen
              else -1L
            if (dstLen > 0 && dstLen == srcLen) () // already complete
            else if (dstLen > 0 && dstLen < srcLen) {
              val in = sfs.open(src)
              try {
                in.seek(dstLen) // REST offset over gftp, O(1)
                // ChecksumFileSystem (local) can't append; its raw fs can
                val afs = dfs match {
                  case c: org.apache.hadoop.fs.ChecksumFileSystem =>
                    c.getRawFileSystem
                  case f => f
                }
                val out = afs.append(dst)
                try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
                finally out.close()
              } finally in.close()
            } else {
              val in = sfs.open(src)
              try {
                val out = dfs.create(dst, true)
                try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
                finally out.close()
              } finally in.close()
            }
          }
        } finally { sfs.close(); dfs.close() }
  }

  /** Small-file compaction — the table-maintenance pass a data lake
    * runs continuously: a directory of many small parquet files is
    * rewritten as ceil(totalBytes / targetBytes) right-sized files.
    * At 100 TB this is what keeps scans from dying of open-file
    * overhead (a 10⁶-file table at 100 KB/file costs 10⁶ S3 GETs and
    * 10⁶ footer parses per query; the same bytes in 128 MB files cost
    * ~800) and keeps each input split a full row group.
    *
    * Shape: output count from FS metadata (one driver listing of the
    * target dir only — no data read), then one distributed
    * read→repartition→write; `repartition` round-robins rows so the
    * output files are uniformly sized regardless of input skew.
    * Returns the output file count.
    */
  def compactParquet(spark: SparkSession, inDir: String, outDir: String,
      targetBytes: Long = 128L << 20): Int = {
    val f = fs(inDir, hadoopConf(spark))
    val totalBytes =
      try {
        // recursive: a partitioned/nested layout (files under key=
        // subdirectories) must size ALL its data files, or nOut
        // collapses to 1 regardless of actual size
        val it = f.listFiles(new Path(inDir), true)
        var sum = 0L
        while (it.hasNext) {
          val st = it.next()
          if (!st.getPath.getName.startsWith("_")) sum += st.getLen
        }
        sum
      }
      catch {
        case _: java.io.FileNotFoundException =>
          throw GraftFsError(ErrorCodes.InvalidFilePath,
            s"source path does not exist: $inDir")
      }
      finally f.close()
    val nOut = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    spark.read.parquet(inDir)
      .repartition(nOut)
      .write.mode("overwrite").parquet(outDir)
    nOut
  }

  /** Existence probe through any registered FS (driver-side, one
    * metadata call — the CLI twins' pre-check for single-file ops).
    */
  def exists(spark: SparkSession, uri: String, path: String): Boolean = {
    val f = fs(uri, hadoopConf(spark))
    try f.exists(new Path(path)) finally f.close()
  }

  /** True only for an existing REGULAR FILE — the pre-check for
    * single-file transfers, where a directory passing a bare exists()
    * probe would still fail downstream with a non-taxonomy error.
    */
  def isFile(spark: SparkSession, uri: String, path: String): Boolean = {
    val f = fs(uri, hadoopConf(spark))
    try f.getFileStatus(new Path(path)).isFile
    catch { case _: java.io.FileNotFoundException => false }
    finally f.close()
  }

  /** Rename `src` to `dst`, creating `dst`'s parent first
    * (move_file.py:96); a failed rename is the reference's exit-202
    * condition (move_file.py:102).
    */
  private def renameOrExit(f: FileSystem, src: String, dst: String): Unit = {
    val dstPath = new Path(dst)
    val parent = dstPath.getParent
    if (parent != null) f.mkdirs(parent)
    // some FileSystem impls signal a missing source by exception,
    // others by returning false — both are the reference's exit-202
    val renamed =
      try f.rename(new Path(src), dstPath)
      catch { case _: java.io.FileNotFoundException => false }
    if (!renamed)
      throw GraftFsError(ErrorCodes.MoveError, s"could not move $src -> $dst")
  }

  /** Single-file move (rename), driver-side. */
  def move(spark: SparkSession, uri: String, src: String, dst: String): Boolean = {
    val f = fs(uri, hadoopConf(spark))
    try { renameOrExit(f, src, dst); true } finally f.close()
  }

  /** Distributed bulk move (rename) over a (src, dst) plan — the
    * manifest path for the Move blueprint's regex flow: one FS handle
    * per partition; the exit-202 taxonomy error surfaces through the
    * Spark job to the CLI shell. Transient errors retry per file; the
    * 202 itself never retries ([[withRetries]]' taxonomy contract).
    */
  def bulkMove(spark: SparkSession, uri: String, moves: DataFrame,
      retries: Int = 0, backoffMs: Long = 1000L): Unit = {
    import spark.implicits._
    val conf = new SerializableConfiguration(hadoopConf(spark))
    moves.select(col("src"), col("dst")).as[(String, String)]
      .rdd.foreachPartition { it =>
        val f = fs(uri, conf.value)
        try it.foreach { case (src, dst) =>
          withRetries(retries, backoffMs)(() => renameOrExit(f, src, dst))
        } finally f.close()
      }
  }

  /** Bulk delete, distributed — delete_file.py:76 — over a path
    * manifest (`path` column): matched paths never collect to the
    * driver.
    */
  def bulkDeleteDF(spark: SparkSession, uri: String,
      paths: DataFrame): Unit = {
    import spark.implicits._
    val conf = new SerializableConfiguration(hadoopConf(spark))
    paths.select(col("path")).as[String].rdd.foreachPartition { it =>
      val f = fs(uri, conf.value)
      try it.foreach(p => f.delete(new Path(p), false))
      finally f.close()
    }
  }

  /** q60: file manifest of a scale-factor directory, paths relativized
    * for determinism. Rows-only (no portable SQL oracle for fs walks).
    */
  def q60(spark: SparkSession, dir: String): DataFrame =
    listRecursive(spark, s"file:$dir")
      .withColumn("path", regexp_replace(col("path"), lit(s"^$dir/?"), lit("")))
      .filter(col("path") =!= "")
      .orderBy(col("path"))
}

/** Minimal serializable wrapper for a Hadoop Configuration (the
  * standard Spark trick — Configuration itself is not Serializable).
  */
class SerializableConfiguration(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}
