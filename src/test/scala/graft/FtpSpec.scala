package graft

import java.nio.file.Files

import graft.ftp.MiniFtpServer
import graft.sources.FileOps
import graft.sources.ftp.FtpClient

class FtpSpec extends SparkSpec {

  private lazy val ftpRoot = {
    val r = Files.createTempDirectory("graft_ftp")
    Files.createDirectories(r.resolve("data/sub"))
    Files.writeString(r.resolve("data/one.csv"), "id,v\n1,a\n2,b\n")
    Files.writeString(r.resolve("data/two.csv"), "id,v\n3,c\n")
    Files.writeString(r.resolve("data/sub/three.txt"), "xyz\n")
    r
  }
  private lazy val server = new MiniFtpServer(ftpRoot)
  private def ftpUri = s"gftp://u:p@127.0.0.1:${server.port}"

  private def withGftp(): Unit = {
    // FileSystem instances are keyed per (scheme, authority); disable
    // the cache so each test sees fresh state
    spark.sparkContext.hadoopConfiguration.set("fs.gftp.impl.disable.cache",
      "true")
  }

  test("bad FTP credentials surface as the reference's exit-3 error") {
    val authRoot = Files.createTempDirectory("graft_ftp_auth")
    val authServer = new graft.ftp.MiniFtpServer(authRoot,
      requiredPassword = Some("secret"))
    try {
      val e = intercept[FileOps.GraftFsError] {
        new FtpClient("127.0.0.1", authServer.port, "u", "wrong")
      }
      assert(e.code === FileOps.ErrorCodes.IncorrectCredentials)
      // and the right password still logs in
      val ok = new FtpClient("127.0.0.1", authServer.port, "u", "secret")
      ok.close()
    } finally authServer.stop()
  }

  test("FtpClient speaks the protocol: list, size, retr, stor, rename, dele") {
    val c = new FtpClient("127.0.0.1", server.port, "u", "p")
    try {
      val names = c.nlst("data").map(_.split("/").last).sorted
      assert(names === Seq("one.csv", "sub", "two.csv"))
      assert(c.size("data/one.csv").contains(13L))
      assert(c.size("data/sub").isEmpty)
      val is = c.retrieveStream("data/one.csv")
      val got = new String(is.readAllBytes())
      is.close() // drains the 226 completion reply
      assert(got === "id,v\n1,a\n2,b\n")
      val os = c.storeStream("data/written.bin")
      os.write(Array[Byte](1, 2, 3)); os.close()
      assert(c.size("data/written.bin").contains(3L))
      assert(c.rename("data/written.bin", "data/renamed.bin"))
      assert(c.delete("data/renamed.bin"))
      assert(c.size("data/renamed.bin").isEmpty)
      val entries = c.mlsd("data")
      assert(entries.find(_.name == "sub").exists(_.isDir))
      assert(entries.find(_.name == "one.csv").exists(e => !e.isDir && e.size == 13))
    } finally c.close()
  }

  test("positioned read that drains exactly the body keeps the client alive") {
    val c = new FtpClient("127.0.0.1", server.port, "u", "p")
    try {
      // read EXACTLY the 13 known bytes without ever observing -1 —
      // the positioned-read pattern; the close must probe, see the
      // drained socket, and keep the session instead of discarding it
      val is = c.retrieveStream("data/one.csv")
      val buf = new Array[Byte](13)
      var off = 0
      while (off < 13) {
        val n = is.read(buf, off, 13 - off)
        assert(n > 0); off += n
      }
      is.close()
      assert(new String(buf) === "id,v\n1,a\n2,b\n")
      // the same client must still serve commands AND another transfer
      assert(c.size("data/one.csv").contains(13L),
        "client was discarded after a complete positioned read")
      val is2 = c.retrieveStream("data/one.csv")
      assert(new String(is2.readAllBytes()) === "id,v\n1,a\n2,b\n")
      is2.close()
    } finally c.close()
  }

  test("REST resume: downloads and uploads restart at an offset") {
    val c = new FtpClient("127.0.0.1", server.port, "u", "p")
    try {
      val os = c.storeStream("data/resume.bin")
      os.write("0123456789".getBytes); os.close()
      // download resume: only the suffix crosses the wire
      val is = c.retrieveStream("data/resume.bin", 6L)
      val got = new String(is.readAllBytes()); is.close()
      assert(got === "6789")
      // upload resume: splice a new tail at offset 4 (stale longer
      // tail truncated, like a resumed partial upload)
      val os2 = c.storeStream("data/resume.bin", 4L)
      os2.write("WXYZ".getBytes); os2.close()
      val is2 = c.retrieveStream("data/resume.bin")
      assert(new String(is2.readAllBytes()) === "0123WXYZ"); is2.close()
      assert(c.size("data/resume.bin").contains(8L))
      assert(c.delete("data/resume.bin"))
    } finally c.close()
  }

  test("gftp seek issues REST instead of skip-reading (the parquet-footer pattern)") {
    withGftp()
    val before = server.restCount.get()
    val fs = org.apache.hadoop.fs.FileSystem.newInstance(
      new java.net.URI(ftpUri), spark.sparkContext.hadoopConfiguration)
    try {
      val in = fs.open(new org.apache.hadoop.fs.Path("/data/one.csv"))
      try {
        in.seek(8L)
        val got = new String(in.readAllBytes())
        assert(got === "id,v\n1,a\n2,b\n".substring(8))
      } finally in.close()
    } finally fs.close()
    assert(server.restCount.get() > before,
      "seek re-streamed the prefix instead of sending REST")
  }

  test("bulkCopy resume: partial transfers complete via REST in both directions") {
    withGftp()
    val payload = Array.tabulate[Byte](40000)(i => (i % 251).toByte)
    Files.write(ftpRoot.resolve("data/big.bin"), payload)
    // download: destination already holds the first 15000 bytes
    val outDir = Files.createTempDirectory("graft_resume")
    val dstFile = outDir.resolve("big.bin")
    Files.write(dstFile, payload.take(15000))
    import spark.implicits._
    def resume(src: String, dst: String, from: String, to: String): Unit =
      FileOps.bulkCopyDF(Seq((src, dst)).toDF("src", "dst"), from, to,
        resume = true)
    val before = server.restCount.get()
    resume("/data/big.bin", dstFile.toString, ftpUri, "file:")
    assert(java.util.Arrays.equals(Files.readAllBytes(dstFile), payload),
      "resumed download corrupted the file")
    assert(server.restCount.get() > before, "source seek did not use REST")
    // already-complete destination: second resume is a no-op that
    // leaves the bytes intact
    resume("/data/big.bin", dstFile.toString, ftpUri, "file:")
    assert(java.util.Arrays.equals(Files.readAllBytes(dstFile), payload))
    // upload: remote destination holds a 10000-byte prefix; resume
    // appends the tail via REST+STOR (gftp append)
    Files.write(ftpRoot.resolve("data/up.bin"), payload.take(10000))
    val local = outDir.resolve("up_src.bin")
    Files.write(local, payload)
    resume(local.toString, "/data/up.bin", "file:", ftpUri)
    assert(java.util.Arrays.equals(
      Files.readAllBytes(ftpRoot.resolve("data/up.bin")), payload),
      "resumed upload corrupted the remote file")
    Files.delete(ftpRoot.resolve("data/big.bin"))
    Files.delete(ftpRoot.resolve("data/up.bin"))
  }

  test("spark.read.csv works over gftp:// (the connector end-to-end)") {
    withGftp()
    val df = spark.read.option("header", "true").csv(s"$ftpUri/data/one.csv")
    assert(df.count() === 2)
    assert(df.columns.toSeq === Seq("id", "v"))
    // glob over the directory
    val all = spark.read.option("header", "true").csv(s"$ftpUri/data/*.csv")
    assert(all.count() === 3)
  }

  test("download blueprint: regex match over FTP tree → distributed copy to local") {
    withGftp()
    val manifest = FileOps.listRecursive(spark, ftpUri)
    val matchedDF = FileOps.matchBasename(manifest, "\\.csv$")
    val matched = matchedDF
      .select("path").collect().map(_.getString(0)).toSeq.sorted
    assert(matched === Seq("/data/one.csv", "/data/two.csv"))
    val dst = Files.createTempDirectory("graft_dl")
    FileOps.bulkCopyDF(
      FileOps.planTransfersDF(matchedDF, "got", None, enumerateAll = true),
      ftpUri, s"file:$dst")
    assert(Files.readString(dst.resolve("got/one.csv")) === "id,v\n1,a\n2,b\n")
    assert(Files.readString(dst.resolve("got/two.csv")) === "id,v\n3,c\n")
  }

  test("upload blueprint: local → FTP with enumerated destination names") {
    withGftp()
    val src = Files.createTempDirectory("graft_ul")
    Files.writeString(src.resolve("x.csv"), "a\n")
    Files.writeString(src.resolve("y.csv"), "b\n")
    import spark.implicits._
    val files = Seq(s"$src/x.csv", s"$src/y.csv").toDF("path")
    FileOps.bulkCopyDF(
      FileOps.planTransfersDF(files, "up/in", Some("out.csv"),
        enumerateAll = false),
      s"file:$src", ftpUri)
    assert(Files.readString(ftpRoot.resolve("up/in/out_1.csv")) === "a\n")
    assert(Files.readString(ftpRoot.resolve("up/in/out_2.csv")) === "b\n")
  }

  test("move + delete blueprints over FTP") {
    withGftp()
    Files.writeString(ftpRoot.resolve("data/mv.txt"), "m\n")
    assert(FileOps.move(spark, ftpUri, "/data/mv.txt", "/moved/mv2.txt"))
    assert(Files.readString(ftpRoot.resolve("moved/mv2.txt")) === "m\n")
    import spark.implicits._
    FileOps.bulkDeleteDF(spark, ftpUri, Seq("/moved/mv2.txt").toDF("path"))
    assert(!Files.exists(ftpRoot.resolve("moved/mv2.txt")))
  }

  test("DataFrame write → gftp (full sink path through the connector)") {
    withGftp()
    import spark.implicits._
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "s")
      .coalesce(1).write.mode("overwrite").json(s"$ftpUri/out/js")
    val back = spark.read.json(s"$ftpUri/out/js")
    assert(back.count() === 3)
    assert(back.select("k").collect().map(_.getLong(0)).sorted === Array(1L, 2L, 3L))
  }
}
