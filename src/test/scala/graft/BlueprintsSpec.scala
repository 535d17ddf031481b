package graft

import java.nio.file.Files

import graft.blueprints.{Delete, Download, Move, Upload}
import graft.ftp.MiniFtpServer

/** End-to-end CLI twins of the four reference blueprints, against the
  * embedded FTP server: happy paths move real bytes, failure paths
  * exit with the reference's code taxonomy (exit_codes.py:1-4).
  */
class BlueprintsSpec extends SparkSpec {

  private lazy val ftpRoot = {
    val r = Files.createTempDirectory("graft_bp")
    Files.createDirectories(r.resolve("data/sub"))
    Files.writeString(r.resolve("data/one.csv"), "1,a\n")
    Files.writeString(r.resolve("data/two.csv"), "2,b\n")
    Files.writeString(r.resolve("data/sub/three.csv"), "3,c\n")
    Files.writeString(r.resolve("data/skip.txt"), "no\n")
    r
  }
  private lazy val server = new MiniFtpServer(ftpRoot)

  private def base(extra: String*): Array[String] =
    (Seq("--host", "127.0.0.1", "--port", server.port.toString,
      "--username", "u", "--password", "p") ++ extra).toArray

  test("--retries/--backoff-ms parse with production defaults") {
    val flags = base("--source-file-name-match-type", "exact_match",
      "--source-file-name", "f.csv")
    val a = graft.blueprints.Blueprints.parse(flags)
    assert(a.retries === 0 && a.backoffMs === 1000L)
    val b = graft.blueprints.Blueprints.parse(
      flags ++ Array("--retries", "3", "--backoff-ms", "50"))
    assert(b.retries === 3 && b.backoffMs === 50L)
  }

  test("Upload: regex multi-match with enumerated destination names, exit 0") {
    val src = Files.createTempDirectory("bp_up")
    Files.writeString(src.resolve("x.csv"), "x\n")
    Files.writeString(src.resolve("y.csv"), "y\n")
    val code = Upload.run(spark, base(
      "--source-file-name-match-type", "regex_match",
      "--source-file-name", "\\.csv$",
      "--source-folder-name", src.toString,
      "--destination-folder-name", "up/in",
      "--destination-file-name", "out.csv"))
    assert(code === 0)
    assert(Files.readString(ftpRoot.resolve("up/in/out_1.csv")) === "x\n")
    assert(Files.readString(ftpRoot.resolve("up/in/out_2.csv")) === "y\n")
  }

  test("Upload: exact match keeps the source basename, exit 0") {
    val src = Files.createTempDirectory("bp_up1")
    Files.writeString(src.resolve("solo.csv"), "s\n")
    val code = Upload.run(spark, base(
      "--source-file-name-match-type", "exact_match",
      "--source-file-name", "solo.csv",
      "--source-folder-name", src.toString,
      "--destination-folder-name", "up/solo"))
    assert(code === 0)
    assert(Files.readString(ftpRoot.resolve("up/solo/solo.csv")) === "s\n")
  }

  test("Download: regex basename match → local folder, exit 0") {
    val dst = Files.createTempDirectory("bp_dl")
    val code = Download.run(spark, base(
      "--source-file-name-match-type", "regex_match",
      "--source-file-name", "^(one|three)\\.csv$",
      "--source-folder-name", "data",
      "--destination-folder-name", dst.toString))
    assert(code === 0)
    assert(Files.readString(dst.resolve("one.csv")) === "1,a\n")
    assert(Files.readString(dst.resolve("three.csv")) === "3,c\n")
  }

  test("Move: exact match renames on the server, exit 0") {
    Files.writeString(ftpRoot.resolve("data/mv.csv"), "m\n")
    val code = Move.run(spark, base(
      "--source-file-name-match-type", "exact_match",
      "--source-file-name", "mv.csv",
      "--source-folder-name", "data",
      "--destination-folder-name", "moved",
      "--destination-file-name", "mv2.csv"))
    assert(code === 0)
    assert(Files.readString(ftpRoot.resolve("moved/mv2.csv")) === "m\n")
    assert(!Files.exists(ftpRoot.resolve("data/mv.csv")))
  }

  test("Delete: regex match removes all hits, exit 0") {
    Files.writeString(ftpRoot.resolve("data/del1.tmp"), "d\n")
    Files.writeString(ftpRoot.resolve("data/del2.tmp"), "d\n")
    val code = Delete.run(spark, base(
      "--file-name-match-type", "regex_match",
      "--source-file-name", "\\.tmp$",
      "--source-folder-name", "data"))
    assert(code === 0)
    assert(!Files.exists(ftpRoot.resolve("data/del1.tmp")))
    assert(!Files.exists(ftpRoot.resolve("data/del2.tmp")))
    // exact match removes the one named file; a missing name is 200
    // (delete_file.py:151)
    Files.writeString(ftpRoot.resolve("data/del3.tmp"), "d\n")
    def exact(name: String): Int = Delete.run(spark, base(
      "--file-name-match-type", "exact_match",
      "--source-file-name", name,
      "--source-folder-name", "data"))
    assert(exact("del3.tmp") === 0)
    assert(!Files.exists(ftpRoot.resolve("data/del3.tmp")))
    assert(Files.exists(ftpRoot.resolve("data/one.csv")))
    assert(exact("del3.tmp") === 200)
  }

  test("exit 3: bad credentials (reference EXIT_CODE_INCORRECT_CREDENTIALS)") {
    val authRoot = Files.createTempDirectory("bp_auth")
    val authServer = new MiniFtpServer(authRoot, requiredPassword = Some("secret"))
    try {
      val code = Download.run(spark, Array(
        "--host", "127.0.0.1", "--port", authServer.port.toString,
        "--username", "u", "--password", "wrong",
        "--source-file-name-match-type", "regex_match",
        "--source-file-name", ".*"))
      assert(code === 3)
    } finally authServer.stop()
  }

  test("exit 200: regex with zero matches (EXIT_CODE_NO_MATCHES_FOUND)") {
    val code = Download.run(spark, base(
      "--source-file-name-match-type", "regex_match",
      "--source-file-name", "\\.nope$",
      "--source-folder-name", "data"))
    assert(code === 200)
    // exact-match single download of a missing file is also 200
    // (download_file.py:296)
    val code2 = Download.run(spark, base(
      "--source-file-name-match-type", "exact_match",
      "--source-file-name", "ghost.csv",
      "--source-folder-name", "data"))
    assert(code2 === 200)
  }

  test("exit 201: invalid source path (EXIT_CODE_INVALID_FILE_PATH)") {
    val code = Upload.run(spark, base(
      "--source-file-name-match-type", "regex_match",
      "--source-file-name", ".*",
      "--source-folder-name", "/definitely/not/here"))
    assert(code === 201)
  }

  test("exit 202: failed move (EXIT_CODE_FTP_MOVE_ERROR)") {
    val code = Move.run(spark, base(
      "--source-file-name-match-type", "exact_match",
      "--source-file-name", "ghost.csv",
      "--source-folder-name", "data",
      "--destination-folder-name", "moved"))
    assert(code === 202)
  }
}
