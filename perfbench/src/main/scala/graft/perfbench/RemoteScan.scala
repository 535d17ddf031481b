package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import Stats.medianOr0
import graft.SparkEntry
import graft.ftp.MiniFtpServer
import graft.sources.ssh.SshServer

/** The scan half of `remote`: the same relational queries over the
  * `file:`, `gftp://` and `gsftp://` copies of one table set, then the
  * q03 result written as parquet through the same scheme and read back.
  * Parquet through the connector means positioned reads (footer seek,
  * column chunks), unlike the streaming copies of [[Transfer]]; the
  * `file:` pass runs identical plans, so connector cost shows apart
  * from the relational operators.
  */
final class RemoteScan(ctx: Ctx) extends Workload {
  import RemoteScan._

  private val base = Disk.resetDir(ctx.work.resolve("scan"))
  private val roots = Map("gftp" -> base.resolve("ftp_root"),
    "gsftp" -> base.resolve("sftp_root"))
  private val rng = new Random(ctx.seed)
  private val queries = if (ctx.opts.scale == "tiny") Queries.take(1) else Queries
  private var ftp: MiniFtpServer = _
  private var sftp: SshServer = _
  private var dirs: Map[String, String] = Map.empty
  private var rounds = 0

  private val passWalls = mutable.Map.empty[String, ArrayBuffer[Double]]
  private val net = mutable.Map.empty[String, ArrayBuffer[Net.Counters]]
  private val rest = ArrayBuffer.empty[Double]

  def setup(): Unit = {
    roots.values.foreach { r =>
      Files.createDirectories(r)
      Disk.copyTree(Paths.get(ctx.opts.sfDir), r.resolve("sf"))
    }
    ftp = new MiniFtpServer(roots("gftp"))
    sftp = new SshServer(roots("gsftp"), Map(User -> Password))
    val conf = ctx.spark.sparkContext.hadoopConfiguration
    conf.set("fs.gftp.impl", "graft.sources.ftp.GraftFtpFileSystem")
    conf.set("fs.gsftp.impl", "graft.sources.ssh.GraftSftpFileSystem")
    Seq("gftp", "gsftp").foreach { s =>
      conf.set(s"fs.$s.user", User); conf.set(s"fs.$s.password", Password)
    }
    dirs = Map(
      "file" -> s"file:${Paths.get(ctx.opts.sfDir).toAbsolutePath}",
      "gftp" -> s"gftp://127.0.0.1:${ftp.port}",
      "gsftp" -> s"gsftp://127.0.0.1:${sftp.port}")
  }

  /** None: the `file:` pass runs first in every round, so it also pays
    * the plans' code generation; the connector passes reuse that code. */
  def warmup(): Unit = ()

  def round(): Unit = { Schemes.foreach(pass(_, timed = true)); rounds += 1 }

  def stop(): Unit = {
    if (ftp != null) ftp.stop()
    if (sftp != null) sftp.close()
  }

  private def sfUri(scheme: String): String =
    if (scheme == "file") dirs("file") else s"${dirs(scheme)}/sf"

  /** One pass: the queries in a seeded order, then the write-back. */
  private def pass(scheme: String, timed: Boolean): Unit = {
    val n0 = Net.read()
    val r0 = ftp.restCount.get()
    val t0 = System.nanoTime()
    ctx.span(s"scan.$scheme", "unit") {
      rng.shuffle(queries).foreach { q =>
        ctx.op(s"scan.$scheme.$q", timed) {
          ResultHash(SparkEntry.queries(q)(ctx.spark, sfUri(scheme)))
        }(got => (ctx.checkHash(q, got), ()))
      }
      val out = if (scheme == "file") s"file:${base.toAbsolutePath}/out_q03"
        else s"${dirs(scheme)}/out_q03"
      ctx.op(s"scan.$scheme.write", timed) {
        SparkEntry.queries(WriteBack)(ctx.spark, sfUri(scheme))
          .write.mode("overwrite").parquet(out)
        ResultHash(ctx.spark.read.parquet(out))
      }(got => (ctx.checkHash(WriteBack, got), ()))
    }
    if (timed) {
      passWalls.getOrElseUpdate(scheme, ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
      net.getOrElseUpdate(scheme, ArrayBuffer.empty) += Net.read() - n0
      if (scheme == "gftp") rest += (ftp.restCount.get() - r0).toDouble
    }
  }

  def named: Seq[Metric] = Schemes.map(s =>
    Metric(s"scan_${s}_s", "s", passWalls.getOrElse(s, ArrayBuffer.empty).toSeq))

  def layers(tr: Tracer): Seq[(String, Double)] = {
    // the connectors do not feed Spark's input-bytes metric, so the wire
    // bytes of a connector pass are set against what the identical
    // `file:` pass read
    val fileUnits = tr.spansNamed("scan.file")
    val payload = math.max(1.0, tr.unitStats(fileUnits).inputBytes / math.max(1, fileUnits.length))
    val perScheme = Schemes.flatMap { s =>
      val units = tr.spansNamed(s"scan.$s")
      val n = math.max(1, units.length).toDouble
      val st = tr.unitStats(units)
      val calls = (Queries :+ "write").map { q =>
        val name = s"scan.$s.$q"
        s"${name}_s" -> medianOr0(tr.spansNamed(name).map(_.wallS))
      }
      val unitMetrics = Seq(
        s"scan.$s.driver_s" -> st.driverS / n,
        s"scan.$s.exec_share" -> st.execShare,
        s"scan.$s.jobs" -> st.jobs / n,
        s"scan.$s.gc_s" -> st.gcS / n,
        s"scan.$s.shuffle_mb" -> st.shuffleMb / n,
        s"scan.$s.result_mb" -> st.resultMb / n)
      val wire = if (s == "file") Nil else {
        val c = net.getOrElse(s, ArrayBuffer.empty).toSeq
        Seq(s"net.conn.scan_$s" -> medianOr0(c.map(_.opens.toDouble)),
          s"net.wire_per_byte.scan_$s" -> medianOr0(c.map(_.inOctets / payload)))
      }
      calls ++ unitMetrics ++ wire
    }
    perScheme :+ ("ftp.rest.scan_gftp" -> medianOr0(rest.toSeq))
  }

  def detail: Seq[(String, String)] = Seq(
    "sf_dir" -> Json.str(ctx.opts.sfDir),
    "passes" -> rounds.toString,
    "conns_per_pass" -> Json.obj(net.map { case (s, c) =>
      s -> Json.arr(c.map(_.opens.toString)) }),
    "gftp_rest_per_pass" -> Json.arr(rest.map(Json.num)))
}

object RemoteScan {
  val User = "bench"
  val Password = "bench"
  val Schemes = Seq("file", "gftp", "gsftp")
  /** An aggregate over lineitem and a window over events; with the
    * q03 join (customer, orders, lineitem) of the write-back they read
    * the main tables. README.md says why not more.
    */
  val Queries = Seq("q01_pricing_summary", "q18_sessionize")
  val WriteBack = "q03_join_agg"
}
