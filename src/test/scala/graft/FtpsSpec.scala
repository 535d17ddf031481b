package graft

import java.nio.file.Files

import graft.ftp.{MiniFtpServer, TlsTestMaterial}
import graft.sources.ftp.FtpClient

/** FTPS (explicit TLS, RFC 4217) — the AUTH TLS / PBSZ 0 / PROT P
  * protocol path, the `gftps://` connector, and the blueprint flow
  * over TLS. The happy-path specs run FULL verification (a client
  * context trusting exactly the test cert, hostname endpoint
  * identification on) — trust-all appears only in the test for the
  * explicit `fs.gftps.insecure` escape hatch.
  */
class FtpsSpec extends SparkSpec {

  private lazy val ftpsRoot = {
    val r = Files.createTempDirectory("graft_ftps")
    Files.createDirectories(r.resolve("data/sub"))
    Files.writeString(r.resolve("data/one.csv"), "id,v\n1,a\n2,b\n")
    Files.writeString(r.resolve("data/two.csv"), "id,v\n3,c\n")
    Files.writeString(r.resolve("data/sub/three.txt"), "xyz\n")
    r
  }
  private lazy val server = new MiniFtpServer(ftpsRoot,
    tlsContext = Some(TlsTestMaterial.serverContext))

  private def tlsClient(): FtpClient =
    new FtpClient("localhost", server.port, "u", "p", tls = true,
      sslContext = Some(TlsTestMaterial.clientContext))

  test("FTPS protocol: AUTH TLS control upgrade + PROT P data channels, full verb sweep") {
    val auth0 = server.authTlsCount.get()
    val prot0 = server.protDataCount.get()
    val c = tlsClient()
    try {
      // control connection really upgraded — not silently cleartext
      assert(server.authTlsCount.get() === auth0 + 1)
      val names = c.nlst("data").map(_.split("/").last).sorted
      assert(names === Seq("one.csv", "sub", "two.csv"))
      assert(c.size("data/one.csv").contains(13L))
      val is = c.retrieveStream("data/one.csv")
      val got = new String(is.readAllBytes())
      is.close()
      assert(got === "id,v\n1,a\n2,b\n")
      val os = c.storeStream("data/tls_written.bin")
      os.write(Array[Byte](7, 8, 9)); os.close()
      assert(c.size("data/tls_written.bin").contains(3L))
      assert(c.rename("data/tls_written.bin", "data/tls_renamed.bin"))
      assert(c.size("data/tls_renamed.bin").contains(3L))
      assert(c.delete("data/tls_renamed.bin"))
      assert(c.mkd("data/tlsdir"))
      assert(c.cwd("data/tlsdir"))
      val entries = c.mlsd("/data").map(_.name).sorted
      assert(entries === Seq("one.csv", "sub", "tlsdir", "two.csv"))
      assert(c.rmd("/data/tlsdir"))
      // every data transfer above rode a PROT P TLS wrap
      assert(server.protDataCount.get() > prot0 + 3)
    } finally c.close()
  }

  test("FTPS REST resume: download restarts at an offset over TLS") {
    val c = tlsClient()
    try {
      val r0 = server.restCount.get()
      val is = c.retrieveStream("data/one.csv", 5L)
      val got = new String(is.readAllBytes())
      is.close()
      assert(got === "id,v\n1,a\n2,b\n".drop(5))
      assert(server.restCount.get() === r0 + 1)
    } finally c.close()
  }

  test("a TLS-requiring server refuses cleartext logins; the FTPS client gets in") {
    val root = Files.createTempDirectory("graft_ftps_req")
    val strict = new MiniFtpServer(root,
      tlsContext = Some(TlsTestMaterial.serverContext), requireTls = true)
    try {
      // cleartext client: USER draws the 530 → typed exit-3 error
      val e = intercept[graft.sources.FileOps.GraftFsError] {
        new FtpClient("localhost", strict.port, "u", "p")
      }
      assert(e.code === graft.sources.FileOps.ErrorCodes.IncorrectCredentials)
      // FTPS client on the same server logs in fine
      val ok = new FtpClient("localhost", strict.port, "u", "p", tls = true,
        sslContext = Some(TlsTestMaterial.clientContext))
      ok.close()
    } finally strict.stop()
  }

  test("an untrusted certificate is REJECTED by default (no silent trust-all)") {
    // default JVM truststore does not contain the self-signed cert
    intercept[Exception] {
      new FtpClient("localhost", server.port, "u", "p", tls = true)
    }
    // and the connector still works afterwards (control socket of the
    // failed handshake didn't wedge the server)
    val c = tlsClient()
    try assert(c.size("data/one.csv").contains(13L)) finally c.close()
  }

  private def configureGftps(trust: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.gftps.impl.disable.cache", "true")
    conf.unset("fs.gftps.insecure")
    conf.unset("fs.gftps.truststore")
    trust match {
      case "truststore" =>
        conf.set("fs.gftps.truststore", TlsTestMaterial.truststorePath)
        conf.set("fs.gftps.truststore.password", TlsTestMaterial.storePass)
      case "insecure" => conf.set("fs.gftps.insecure", "true")
      case _ => ()
    }
  }

  test("spark.read.csv over gftps:// with a pinned truststore (production trust path)") {
    configureGftps("truststore")
    val df = spark.read.option("header", "true")
      .csv(s"gftps://u:p@localhost:${server.port}/data/one.csv")
    assert(df.count() === 2)
    assert(df.columns.toSeq === Seq("id", "v"))
  }

  test("DataFrame write + read-back over gftps://; seek path issues REST over TLS") {
    configureGftps("truststore")
    import spark.implicits._
    val uri = s"gftps://u:p@localhost:${server.port}"
    Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "s")
      .coalesce(1).write.mode("overwrite").parquet(s"$uri/out/tls.parquet")
    val r0 = server.restCount.get()
    val back = spark.read.parquet(s"$uri/out/tls.parquet")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(back.toSeq === Seq((1L, "x"), (2L, "y"), (3L, "z")))
    // parquet footer probes seek — the connector must REST, not skip-read
    assert(server.restCount.get() > r0, "parquet read never used REST over TLS")
  }

  test("fs.gftps.insecure=true is an explicit escape hatch that works against self-signed") {
    configureGftps("insecure")
    val df = spark.read.option("header", "true")
      .csv(s"gftps://u:p@localhost:${server.port}/data/two.csv")
    assert(df.count() === 1)
  }

  test("download blueprint over --protocol ftps: regex match → distributed copy to local") {
    val outDir = Files.createTempDirectory("graft_ftps_dl").toString
    val code = graft.blueprints.Download.run(spark, Array(
      "--source-file-name-match-type", "regex_match",
      "--source-file-name", "\\.csv$",
      "--source-folder-name", "/data",
      "--destination-folder-name", outDir,
      "--host", "localhost", "--port", server.port.toString,
      "--username", "u", "--password", "p",
      "--protocol", "ftps",
      "--truststore", TlsTestMaterial.truststorePath,
      "--truststore-password", TlsTestMaterial.storePass))
    assert(code === 0)
    val got = new java.io.File(outDir).listFiles().map(_.getName).sorted
    assert(got.count(_.endsWith(".csv")) === 2, got.mkString(","))
  }

  test("upload blueprint over --protocol ftps lands files on the TLS server") {
    val srcDir = Files.createTempDirectory("graft_ftps_ul")
    Files.writeString(srcDir.resolve("a.txt"), "AAA")
    Files.writeString(srcDir.resolve("b.txt"), "BBB")
    val code = graft.blueprints.Upload.run(spark, Array(
      "--source-file-name-match-type", "regex_match",
      "--source-file-name", "\\.txt$",
      "--source-folder-name", srcDir.toString,
      "--destination-folder-name", "up",
      "--host", "localhost", "--port", server.port.toString,
      "--username", "u", "--password", "p",
      "--protocol", "ftps",
      "--truststore", TlsTestMaterial.truststorePath,
      "--truststore-password", TlsTestMaterial.storePass))
    assert(code === 0)
    assert(Files.readString(ftpsRoot.resolve("up/a.txt")) === "AAA")
    assert(Files.readString(ftpsRoot.resolve("up/b.txt")) === "BBB")
  }
}
