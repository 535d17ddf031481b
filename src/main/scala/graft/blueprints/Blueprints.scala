package graft.blueprints

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, lit}

import graft.GraftSession
import graft.sources.{FileOps, PathUtils}
import graft.sources.FileOps.{ErrorCodes, GraftFsError}

/** The reference blueprints' unit of use is a CLI job — these four
  * mains mirror them flag for flag (upload_file.py:11-48 argparse),
  * exit with the reference's code taxonomy (exit_codes.py:1-4), and
  * run the transfer itself distributed through [[FileOps]]:
  *
  * {{{
  * graft.blueprints.Upload \
  *   --source-file-name-match-type regex_match \
  *   --source-file-name '\.csv$' --source-folder-name /data \
  *   --destination-folder-name in --host ftp.example --port 21 \
  *   --username u --password p
  * }}}
  *
  * Credentials come from `--username`/`--password` or, when the flags
  * are omitted, the `FTP_USERNAME`/`FTP_PASSWORD` environment
  * variables. Match semantics follow the reference exactly: upload /
  * move / delete regex-match the FULL path (upload_file.py:147
  * find_all_file_matches), download matches the BASENAME
  * (download_file.py:174 find_matching_files); upload and download
  * enumerate an explicit destination name `name_N.ext` on every
  * regex match (upload_file.py:242-253), move only when more than
  * one file matched (move_file.py:168-173).
  */
object Blueprints {

  final case class Args(
      matchType: String,
      sourceFileName: String,
      sourceFolderName: String,
      destinationFolderName: String,
      destinationFolderRaw: String,
      destinationFileName: Option[String],
      host: String,
      port: Int,
      username: String,
      password: String,
      retries: Int,
      backoffMs: Long,
      resume: Boolean,
      protocol: String = "ftp",
      tlsInsecure: Boolean = false,
      truststore: Option[String] = None,
      truststorePassword: Option[String] = None)

  /** argparse twin: `--flag value` pairs only, reference flag names.
    * Delete uses `--file-name-match-type` (delete_file.py:29); the
    * other three use `--source-file-name-match-type`.
    */
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k -> v
    }.toMap
    def req(k: String): String = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing required flag $k"))
    val matchType = m.getOrElse("--source-file-name-match-type",
      m.getOrElse("--file-name-match-type",
        throw new IllegalArgumentException(
          "missing required flag --source-file-name-match-type")))
    require(matchType == "exact_match" || matchType == "regex_match",
      s"match type must be exact_match|regex_match, got $matchType")
    Args(
      matchType = matchType,
      sourceFileName = req("--source-file-name"),
      sourceFolderName = m.getOrElse("--source-folder-name", ""),
      destinationFolderName =
        PathUtils.cleanFolderName(m.getOrElse("--destination-folder-name", "")),
      destinationFolderRaw = m.getOrElse("--destination-folder-name", ""),
      destinationFileName = m.get("--destination-file-name"),
      host = req("--host"),
      port = m.getOrElse("--port", "21").toInt,
      username = m.get("--username")
        .orElse(sys.env.get("FTP_USERNAME")).getOrElse("anonymous"),
      password = m.get("--password")
        .orElse(sys.env.get("FTP_PASSWORD")).getOrElse(""),
      // production-job resilience flags (beyond the reference, which
      // dies on the first transient error): per-file retry count and
      // initial backoff; see FileOps.withRetries for the policy
      retries = m.getOrElse("--retries", "0").toInt,
      backoffMs = m.getOrElse("--backoff-ms", "1000").toLong,
      resume = m.get("--resume").exists(_.toBoolean),
      // FTPS (RFC 4217) and SFTP (SSH2) — beyond the reference (plain
      // ftplib.FTP), because production credentialed file movement is
      // overwhelmingly one of those two
      protocol = {
        val p = m.getOrElse("--protocol", "ftp").toLowerCase
        require(p == "ftp" || p == "ftps" || p == "sftp",
          s"--protocol must be ftp|ftps|sftp, got $p")
        p
      },
      tlsInsecure = m.get("--tls-insecure").exists(_.toBoolean),
      truststore = m.get("--truststore"),
      truststorePassword = m.get("--truststore-password"))
  }

  /** Configure the session's connector for this job's server;
    * credentials ride in the Hadoop conf (no URI-encoding pitfalls).
    * The scheme's class comes from `META-INF/services`.
    */
  def ftpUri(spark: SparkSession, a: Args): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val scheme = "g" + a.protocol
    conf.set(s"fs.$scheme.impl.disable.cache", "true")
    conf.set(s"fs.$scheme.user", a.username)
    conf.set(s"fs.$scheme.password", a.password)
    if (scheme == "gftps") {
      if (a.tlsInsecure) conf.set("fs.gftps.insecure", "true")
      a.truststore.foreach { t =>
        conf.set("fs.gftps.truststore", t)
        conf.set("fs.gftps.truststore.password",
          a.truststorePassword.getOrElse(""))
      }
    }
    s"$scheme://${a.host}:${a.port}"
  }

  /** Shared driver shell: run the blueprint body, map the reference's
    * typed errors to their exit codes, anything else to 1.
    */
  def exitCode(body: => Unit): Int =
    try { body; 0 }
    catch {
      case e: GraftFsError =>
        System.err.println(e.getMessage); e.code
      // a typed error thrown inside a Spark job surfaces wrapped
      case e: Exception =>
        val cause = Iterator.iterate(e.getCause)(_.getCause)
          .takeWhile(_ != null).collectFirst { case g: GraftFsError => g }
        cause match {
          case Some(g) => System.err.println(g.getMessage); g.code
          case None => System.err.println(e.toString); 1
        }
    }

  private[blueprints] def session(): SparkSession =
    GraftSession.builder(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .getOrCreate()

  /** Upload/download regex semantics: explicit destination names are
    * enumerated `name_N.ext` for every match (upload_file.py:242-253).
    * Round 3: the plan is DISTRIBUTED end to end — matched paths flow
    * from the walk into the copy partition-wise; the only driver
    * traffic is the exit-200 count probe and (when enumerating)
    * `orderedPrefix`'s per-partition offsets. At 10⁸ matches the old
    * `.collect()` manifest died here while the copy itself would not.
    */
  private[blueprints] def planMatchedDF(
      matched: DataFrame, pattern: String,
      destFolder: String, destName: Option[String],
      enumerateAll: Boolean): DataFrame = {
    FileOps.requireMatchesDF(matched, pattern)
    FileOps.planTransfersDF(matched, destFolder, destName, enumerateAll)
  }
}

/** local → FTP (upload_file.py). */
object Upload {
  import Blueprints._

  def run(spark: SparkSession, argv: Array[String]): Int = exitCode {
    val a = parse(argv)
    val dst = ftpUri(spark, a)
    val srcBase =
      if (a.sourceFolderName.startsWith("/")) a.sourceFolderName
      else PathUtils.combine(System.getProperty("user.dir"), a.sourceFolderName)
    if (a.matchType == "regex_match") {
      val manifest = FileOps.listRecursive(spark, s"file:$srcBase")
      val plan = planMatchedDF(
        FileOps.matchFullPath(manifest, a.sourceFileName),
        a.sourceFileName, a.destinationFolderName, a.destinationFileName,
        enumerateAll = true)
      FileOps.bulkCopyDF(plan, "file:///", dst,
        retries = a.retries, backoffMs = a.backoffMs, resume = a.resume)
    } else {
      val src = PathUtils.combine(srcBase, a.sourceFileName)
      // missing (or non-regular-file) single source is exit 200
      // like Download/Delete — without the pre-check the
      // executor-side FileNotFound surfaces as a generic exit 1
      // outside the reference taxonomy
      if (!FileOps.isFile(spark, "file:///", src))
        throw GraftFsError(ErrorCodes.NoMatchesFound,
          s"no local file at $src")
      import spark.implicits._
      val plan = Seq((src, PathUtils.determineDestinationFullPath(
        a.destinationFolderName, a.destinationFileName, src))).toDF("src", "dst")
      FileOps.bulkCopyDF(plan, "file:///", dst,
        retries = a.retries, backoffMs = a.backoffMs, resume = a.resume)
    }
  }

  def main(argv: Array[String]): Unit = sys.exit(run(session(), argv))
}

/** FTP → local (download_file.py). Regex matches the basename. */
object Download {
  import Blueprints._

  def run(spark: SparkSession, argv: Array[String]): Int = exitCode {
    val a = parse(argv)
    val src = ftpUri(spark, a)
    val srcFolder = PathUtils.cleanFolderName(a.sourceFolderName)
    // the reference downloads relative to the CWD (download_file.py:
    // 242 os.makedirs of the cleaned relative folder); an absolute
    // --destination-folder-name anchors at the filesystem root instead
    val localBase =
      if (a.destinationFolderRaw.startsWith("/")) PathUtils.normPath(a.destinationFolderRaw)
      else PathUtils.combine(System.getProperty("user.dir"), a.destinationFolderName)
    if (a.matchType == "regex_match") {
      val manifest = FileOps.listRecursive(spark,
        if (srcFolder.isEmpty) src else s"$src/$srcFolder")
      val plan = planMatchedDF(
        FileOps.matchBasename(manifest, a.sourceFileName),
        a.sourceFileName, localBase, a.destinationFileName,
        enumerateAll = true)
      FileOps.bulkCopyDF(plan, src, "file:",
        retries = a.retries, backoffMs = a.backoffMs, resume = a.resume)
    } else {
      val p = PathUtils.combine(srcFolder, a.sourceFileName)
      // the reference maps a failed single download to exit 200
      // (download_file.py:296)
      if (!FileOps.exists(spark, src, s"/$p"))
        throw GraftFsError(ErrorCodes.NoMatchesFound,
          s"no file at $p on ${a.host}")
      import spark.implicits._
      val plan = Seq((s"/$p", PathUtils.determineDestinationFullPath(
        localBase, a.destinationFileName, p))).toDF("src", "dst")
      FileOps.bulkCopyDF(plan, src, "file:",
        retries = a.retries, backoffMs = a.backoffMs, resume = a.resume)
    }
  }

  def main(argv: Array[String]): Unit = sys.exit(run(session(), argv))
}

/** FTP-internal rename (move_file.py). */
object Move {
  import Blueprints._

  def run(spark: SparkSession, argv: Array[String]): Int = exitCode {
    val a = parse(argv)
    val uri = ftpUri(spark, a)
    val srcFolder = PathUtils.cleanFolderName(a.sourceFolderName)
    if (a.matchType == "regex_match") {
      val manifest = FileOps.listRecursive(spark,
        if (srcFolder.isEmpty) uri else s"$uri/$srcFolder")
      // move enumerates only on multi-match (move_file.py:168-173)
      val plan = planMatchedDF(
        FileOps.matchFullPath(manifest, a.sourceFileName),
        a.sourceFileName, a.destinationFolderName, a.destinationFileName,
        enumerateAll = false)
      FileOps.bulkMove(spark, uri,
        plan.withColumn("dst", concat(lit("/"), col("dst"))),
        retries = a.retries, backoffMs = a.backoffMs)
    } else {
      val src = "/" + PathUtils.combine(srcFolder, a.sourceFileName)
      val dst = "/" + PathUtils.determineDestinationFullPath(
        a.destinationFolderName, a.destinationFileName, src)
      FileOps.withRetries(a.retries, a.backoffMs) { () =>
        FileOps.move(spark, uri, src, dst)
      }
    }
  }

  def main(argv: Array[String]): Unit = sys.exit(run(session(), argv))
}

/** FTP delete (delete_file.py). */
object Delete {
  import Blueprints._

  def run(spark: SparkSession, argv: Array[String]): Int = exitCode {
    val a = parse(argv)
    val uri = ftpUri(spark, a)
    val srcFolder = PathUtils.cleanFolderName(a.sourceFolderName)
    if (a.matchType == "regex_match") {
      val manifest = FileOps.listRecursive(spark,
        if (srcFolder.isEmpty) uri else s"$uri/$srcFolder")
      val matched = FileOps.matchFullPath(manifest, a.sourceFileName)
      FileOps.requireMatchesDF(matched, a.sourceFileName)
      FileOps.bulkDeleteDF(spark, uri, matched)
    } else {
      val p = "/" + PathUtils.combine(srcFolder, a.sourceFileName)
      // the reference maps a failed single delete to exit 200
      // (delete_file.py:151)
      if (!FileOps.exists(spark, uri, p))
        throw GraftFsError(ErrorCodes.NoMatchesFound,
          s"no file at $p on ${a.host}")
      import spark.implicits._
      FileOps.bulkDeleteDF(spark, uri, Seq(p).toDF("path"))
    }
  }

  def main(argv: Array[String]): Unit = sys.exit(run(session(), argv))
}
