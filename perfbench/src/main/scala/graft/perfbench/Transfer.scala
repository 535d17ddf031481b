package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import Stats.medianOr0

import graft.blueprints.{Delete, Download, Move, Upload}
import graft.ftp.MiniFtpServer
import graft.sources.ssh.SshServer

/** The transfer half of `remote`: the reference blueprints' whole
  * surface over gftp and gsftp against loopback servers. One round is
  * one cycle per protocol: Upload regex of a nested seeded tree into one
  * flat remote folder, Download regex, Move regex over a seeded subset,
  * Delete regex over the rest, then Upload and Download of one large
  * incompressible file by exact match. Every call runs with default
  * flags (no retries) and is checked from outside the program: the
  * server roots and the download directory are compared byte for byte
  * with the seeded set, and reset from disk before the next call so
  * one failure cannot spread into it.
  */
final class Transfer(ctx: Ctx) extends Workload {
  import Transfer._

  private val base = Disk.resetDir(ctx.work.resolve("transfer"))
  private val dlDir = base.resolve("dl")
  private val roots = Map("ftp" -> base.resolve("ftp_root"),
    "sftp" -> base.resolve("sftp_root"))
  private val rng = new Random(ctx.seed)
  private val full = Inputs(base.resolve("full"), ctx.opts.scale match {
    case "tiny" => Size(files = 8, moved = 6, largeBytes = 256 << 10)
    case _ => Size(files = 66, moved = 65, largeBytes = 2 << 20)
  }, rng)
  private val toy = Inputs(base.resolve("toy"), Size(4, 2, 64 << 10), rng)

  private var ftp: MiniFtpServer = _
  private var sftp: SshServer = _

  // per-round samples
  private val filesPerS = Map("ftp" -> ArrayBuffer.empty[Double], "sftp" -> ArrayBuffer.empty[Double])
  private val mbPerS = Map("ftp" -> ArrayBuffer.empty[Double], "sftp" -> ArrayBuffer.empty[Double])
  private val net = Map("ftp" -> ArrayBuffer.empty[Net.Counters], "sftp" -> ArrayBuffer.empty[Net.Counters])
  private val rest = ArrayBuffer.empty[Double]
  private val payload = Map("ftp" -> ArrayBuffer.empty[Double], "sftp" -> ArrayBuffer.empty[Double])
  private val filesVerified = Map("ftp" -> ArrayBuffer.empty[Double], "sftp" -> ArrayBuffer.empty[Double])

  def setup(): Unit = {
    Seq(full, toy).foreach(_.write())
    roots.values.foreach(Files.createDirectories(_))
    ftp = new MiniFtpServer(roots("ftp"))
    sftp = new SshServer(roots("sftp"), Map(User -> Password))
  }

  /** One untimed toy-size gftp Upload: starts Spark's job machinery
    * and loads the blueprint and FileOps code before the first timed call. */
  def warmup(): Unit = cycle("ftp", toy, timed = false)

  def round(): Unit = Seq("ftp", "sftp").foreach(cycle(_, full, timed = true))

  def stop(): Unit = {
    if (ftp != null) ftp.stop()
    if (sftp != null) sftp.close()
  }

  private def port(proto: String): Int = if (proto == "ftp") ftp.port else sftp.port

  private def argv(proto: String, flags: String*): Array[String] =
    (flags ++ Seq("--host", "127.0.0.1", "--port", port(proto).toString,
      "--username", User, "--password", Password, "--protocol", proto)).toArray

  /** Make `dir` hold exactly `files` (name -> bytes). */
  private def place(dir: Path, files: Map[String, Array[Byte]]): Unit = {
    Disk.resetDir(dir)
    files.foreach { case (n, b) => Files.write(dir.resolve(n), b) }
  }

  private def verifiedCount(dir: Path, want: Map[String, Array[Byte]]): Int = {
    val got = Disk.snapshot(dir)
    want.count { case (k, v) => got.get(k).exists(java.util.Arrays.equals(_, v)) }
  }

  private def cycle(proto: String, in: Inputs, timed: Boolean): Unit = {
    import in.{flat, keptSet, largeBytes, largeDir, largeName, movedSet, srcDir}
    val root = roots(proto)
    val remote = root.resolve("in")
    val moved = root.resolve("moved")
    var smallWall, largeWall = 0.0
    var smallFiles, largeBytesOk = 0.0
    val net0 = Net.read()
    val rest0 = ftp.restCount.get()

    def call(op: String, run: Array[String] => Int, flags: Seq[String])(
        check: => (Option[String], Double)): Double = {
      val name = s"bp.$op.$proto"
      val (wall, (_, verified)) = ctx.op(name, timed, "unit") {
        run(argv(proto, flags: _*))
      } { exit =>
        if (op == "download" && proto == "ftp" && ctx.opts.sabotage == "delete-dest")
          Disk.snapshot(dlDir).keys.toSeq.sorted.headOption
          .foreach(k => Files.delete(dlDir.resolve(k)))
        val (d, v) = check
        (exit.filter(_ != 0).map(c => s"exit $c").orElse(d), v)
      }
      if (op.endsWith("large")) { largeWall += wall; largeBytesOk += verified }
      else { smallWall += wall; smallFiles += verified }
      wall
    }

    // 1. Upload regex: nested tree -> one flat remote folder
    Disk.resetDir(root)
    call("upload", Upload.run(ctx.spark, _), Seq(
      "--source-file-name-match-type", "regex_match",
      "--source-file-name", "\\.dat$",
      "--source-folder-name", srcDir.toString,
      "--destination-folder-name", "in")) {
      (Disk.diff(remote, flat), verifiedCount(remote, flat).toDouble)
    }
    if (in eq toy) { Disk.resetDir(root); return }
    // 2. Download regex (basename match) into an empty local folder
    Disk.resetDir(root); place(remote, flat); Disk.resetDir(dlDir)
    call("download", Download.run(ctx.spark, _), Seq(
      "--source-file-name-match-type", "regex_match",
      "--source-file-name", "\\.dat$",
      "--source-folder-name", "in",
      "--destination-folder-name", dlDir.toString)) {
      (Disk.diff(dlDir, flat), verifiedCount(dlDir, flat).toDouble)
    }
    // 3. Move regex over the seeded subset
    Disk.resetDir(root); place(remote, flat)
    call("move", Move.run(ctx.spark, _), Seq(
      "--source-file-name-match-type", "regex_match",
      "--source-file-name", "/m_[^/]*\\.dat$",
      "--source-folder-name", "in",
      "--destination-folder-name", "moved")) {
      (Disk.diff(moved, movedSet).orElse(Disk.diff(remote, keptSet)),
        verifiedCount(moved, movedSet).toDouble)
    }
    // 4. Delete regex over the rest
    Disk.resetDir(root); place(remote, keptSet); place(moved, movedSet)
    call("delete", Delete.run(ctx.spark, _), Seq(
      "--file-name-match-type", "regex_match",
      "--source-file-name", "/k_[^/]*\\.dat$",
      "--source-folder-name", "in")) {
      (Disk.diff(remote, Map.empty).orElse(Disk.diff(moved, movedSet)),
        keptSet.keys.count(k => !Files.exists(remote.resolve(k))).toDouble)
    }
    // 5. Upload of the large file by exact match
    Disk.resetDir(root)
    val large = Map(largeName -> largeBytes)
    call("upload_large", Upload.run(ctx.spark, _), Seq(
      "--source-file-name-match-type", "exact_match",
      "--source-file-name", largeName,
      "--source-folder-name", largeDir.toString,
      "--destination-folder-name", "large")) {
      val d = Disk.diff(root.resolve("large"), large)
      (d, if (d.isEmpty) largeBytes.length.toDouble else 0.0)
    }
    // 6. Download of the large file by exact match
    Disk.resetDir(root); place(root.resolve("large"), large); Disk.resetDir(dlDir)
    call("download_large", Download.run(ctx.spark, _), Seq(
      "--source-file-name-match-type", "exact_match",
      "--source-file-name", largeName,
      "--source-folder-name", "large",
      "--destination-folder-name", dlDir.toString)) {
      val d = Disk.diff(dlDir, large)
      (d, if (d.isEmpty) largeBytes.length.toDouble else 0.0)
    }
    Disk.resetDir(root); Disk.resetDir(dlDir)

    if (timed) {
      filesPerS(proto) += smallFiles / smallWall
      mbPerS(proto) += largeBytesOk / 1e6 / largeWall
      net(proto) += Net.read() - net0
      filesVerified(proto) += smallFiles
      payload(proto) += 2.0 * (flat.values.map(_.length.toDouble).sum +
        largeBytes.length)
      if (proto == "ftp") rest += (ftp.restCount.get() - rest0).toDouble
    }
  }

  def named: Seq[Metric] = Seq(
    Metric("ftp_files_per_s", "files/s", filesPerS("ftp").toSeq),
    Metric("sftp_files_per_s", "files/s", filesPerS("sftp").toSeq),
    Metric("ftp_mb_per_s", "MB/s", mbPerS("ftp").toSeq),
    Metric("sftp_mb_per_s", "MB/s", mbPerS("sftp").toSeq))

  def layers(tr: Tracer): Seq[(String, Double)] = {
    val perProto = Seq("ftp", "sftp").flatMap { proto =>
      val calls = Ops.flatMap(op => tr.spansNamed(s"bp.$op.$proto"))
      val bp = Ops.map { op =>
        s"bp.$op.${proto}_s" -> medianOr0(tr.spansNamed(s"bp.$op.$proto").map(_.wallS))
      }
      val rounds = math.max(1, filesPerS(proto).length).toDouble
      val walls = tr.jobWalls(calls)
      val fo = Seq("list", "plan", "copy", "move", "delete").map { fn =>
        s"fileops.$fn.${proto}_s" -> walls.getOrElse(s"fileops.$fn", 0.0) / rounds
      }
      val st = tr.unitStats(calls)
      val covered = walls.filter(_._1.startsWith("fileops.")).values.sum
      val conns = net(proto).map(_.opens.toDouble)
      val wire = net(proto).map(_.inOctets.toDouble)
      fo ++ bp ++ Seq(
        s"fileops.driver.${proto}_s" -> math.max(0.0, st.wallS - covered) / rounds,
        s"net.conn_per_file.$proto" -> medianOr0(conns.indices.map(i =>
          conns(i) / (filesVerified(proto)(i) max 1.0))),
        s"net.wire_per_byte.transfer_$proto" -> medianOr0(wire.indices.map(i =>
          wire(i) / payload(proto)(i))),
        s"transfer.$proto.driver_s" -> st.driverS / rounds,
        s"transfer.$proto.exec_share" -> st.execShare,
        s"transfer.$proto.jobs" -> st.jobs / rounds,
        s"transfer.$proto.gc_s" -> st.gcS / rounds)
    }
    perProto :+ ("ftp.rest.transfer_ftp" -> medianOr0(rest.toSeq))
  }

  def detail: Seq[(String, String)] = Seq(
    "files_per_cycle" -> full.size.files.toString,
    "large_bytes" -> full.size.largeBytes.toString,
    "conns_per_round" -> Json.obj(net.map { case (p, c) =>
      p -> Json.arr(c.map(x => x.opens.toString)) }),
    "ftp_rest_per_round" -> Json.arr(rest.map(Json.num)))
}

object Transfer {
  final case class Size(files: Int, moved: Int, largeBytes: Int)

  /** Seeded inputs: a nested tree of small files with unique basenames
    * (`m_*` form the subset Move takes, `k_*` the rest Delete takes),
    * a few KB up to 64 KB each, and one large incompressible file.
    */
  final case class Inputs(dir: Path, size: Size, rng: Random) {
    val srcDir: Path = dir.resolve("src")
    val largeDir: Path = dir.resolve("large")
    private val tree: Map[String, Array[Byte]] = {
      val dirs = Vector("a", "a/b", "a/b/c", "d", "d/e")
      val moved = rng.shuffle((0 until size.files).toVector).take(size.moved).toSet
      (0 until size.files).map { i =>
        val kind = if (moved(i)) "m" else "k"
        val len = math.round(math.exp(math.log(2048) +
          rng.nextDouble() * (math.log(64 << 10) - math.log(2048)))).toInt
        val bytes = new Array[Byte](len)
        rng.nextBytes(bytes)
        val name = f"${kind}_$i%03d_${rng.nextInt(1 << 20)}%05x.dat"
        s"${dirs(rng.nextInt(dirs.length))}/$name" -> bytes
      }.toMap
    }
    val flat: Map[String, Array[Byte]] = tree.map { case (p, b) => p.split('/').last -> b }
    val movedSet: Map[String, Array[Byte]] = flat.filter(_._1.startsWith("m_"))
    val keptSet: Map[String, Array[Byte]] = flat.filter(_._1.startsWith("k_"))
    val largeName: String = f"large_${rng.nextInt(1 << 20)}%05x.bin"
    val largeBytes: Array[Byte] = {
      val b = new Array[Byte](size.largeBytes); rng.nextBytes(b); b
    }

    def write(): Unit = {
      tree.foreach { case (p, b) =>
        val f = srcDir.resolve(p)
        Files.createDirectories(f.getParent)
        Files.write(f, b)
      }
      Files.createDirectories(largeDir)
      Files.write(largeDir.resolve(largeName), largeBytes)
    }
  }
  val User = "bench"
  val Password = "bench"
  val Ops = Seq("upload", "download", "move", "delete", "upload_large", "download_large")
}
