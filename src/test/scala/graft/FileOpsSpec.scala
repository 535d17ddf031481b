package graft

import java.nio.file.{Files, Paths}

import graft.sources.{FileOps, PathUtils}

class PathUtilsSpec extends org.scalatest.funsuite.AnyFunSuite {
  import PathUtils._

  test("cleanFolderName strips and normalizes like the reference") {
    assert(cleanFolderName("") === "")
    assert(cleanFolderName("/a/b/") === "a/b")
    assert(cleanFolderName("a//b") === "a/b")
    assert(cleanFolderName("///") === "")
  }

  test("combine joins folder and file") {
    assert(combine("a/b", "c.txt") === "a/b/c.txt")
    assert(combine("", "c.txt") === "c.txt")
    assert(combine("a//b", "c.txt") === "a/b/c.txt")
  }

  test("enumerateDestinationFileName inserts _N at the first dot") {
    assert(enumerateDestinationFileName("file.csv", 2) === "file_2.csv")
    assert(enumerateDestinationFileName("file.tar.gz", 3) === "file_3.tar.gz")
    assert(enumerateDestinationFileName("file", 4) === "file_4")
  }

  test("determineDestinationFileName: explicit, enumerated, basename") {
    assert(determineDestinationFileName("x/y/z.csv", None) === "z.csv")
    assert(determineDestinationFileName("x/y/z.csv", Some("o.csv")) === "o.csv")
    assert(determineDestinationFileName("x/y/z.csv", Some("o.csv"), Some(2))
      === "o_2.csv")
  }

  test("determineDestinationFullPath composes folder + resolved name") {
    assert(determineDestinationFullPath("/dst/", None, "a/b.csv") === "dst/b.csv")
    assert(determineDestinationFullPath("dst", Some("n.csv"), "a/b.csv",
      Some(3)) === "dst/n_3.csv")
  }
}

class FileOpsSpec extends SparkSpec {

  private def mkTree(): java.nio.file.Path = {
    val root = Files.createTempDirectory("graft_fs")
    Files.createDirectories(root.resolve("sub/inner"))
    Files.writeString(root.resolve("a.csv"), "1,2,3\n")
    Files.writeString(root.resolve("b.txt"), "hello\n")
    Files.writeString(root.resolve("sub/c.csv"), "4,5,6\n")
    Files.writeString(root.resolve("sub/inner/d.csv"), "7,8\n")
    root
  }

  test("listRecursive walks the whole tree with sizes") {
    val root = mkTree()
    val df = FileOps.listRecursive(spark, s"file:$root")
    val files = df.filter("not is_dir").collect()
    assert(files.length === 4)
    assert(df.filter("is_dir").count() === 2)
    val a = files.find(_.getAs[String]("path").endsWith("a.csv")).get
    assert(a.getAs[Long]("size") === 6L)
  }

  test("matchBasename matches the reference's regex-on-basename semantics") {
    val root = mkTree()
    val m = FileOps.matchBasename(
      FileOps.listRecursive(spark, s"file:$root"), "\\.csv$")
    assert(m.count() === 3)
    // basename-only: a pattern matching the folder must not hit
    assert(FileOps.matchBasename(
      FileOps.listRecursive(spark, s"file:$root"), "inner").count() === 0)
    assert(FileOps.matchFullPath(
      FileOps.listRecursive(spark, s"file:$root"), "inner").count() === 1)
  }

  test("planTransfersDF (distributed, collect-free) enumerates an explicit " +
      "name by global path rank, only on multi-match for move") {
    import spark.implicits._
    val df = Seq("x/b.csv", "x/a.csv", "y/c.csv").toDF("path")
    def asPairs(p: org.apache.spark.sql.DataFrame) =
      p.collect().map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq
    // explicit name enumerates by GLOBAL PATH-SORTED rank
    assert(asPairs(FileOps.planTransfersDF(df, "dst", Some("out.csv"),
      enumerateAll = true)) === Seq(
      ("x/a.csv", "dst/out_1.csv"), ("x/b.csv", "dst/out_2.csv"),
      ("y/c.csv", "dst/out_3.csv")))
    // move semantics (enumerateAll=false): multi-match still enumerates…
    assert(asPairs(FileOps.planTransfersDF(df, "dst", Some("out.csv"),
      enumerateAll = false)) === Seq(
      ("x/a.csv", "dst/out_1.csv"), ("x/b.csv", "dst/out_2.csv"),
      ("y/c.csv", "dst/out_3.csv")))
    // …but a single match keeps the name verbatim
    assert(asPairs(FileOps.planTransfersDF(Seq("x/a.csv").toDF("path"),
      "dst", Some("out.csv"), enumerateAll = false)) ===
      Seq(("x/a.csv", "dst/out.csv")))
    // no explicit name → each source keeps its basename
    assert(asPairs(FileOps.planTransfersDF(df, "dst", None,
      enumerateAll = true)).map(_._2) ===
      Seq("dst/a.csv", "dst/b.csv", "dst/c.csv"))
  }

  test("bulkCopy distributes a regex-matched upload end to end") {
    val root = mkTree()
    val dst = Files.createTempDirectory("graft_dst")
    val matched = FileOps.matchBasename(
      FileOps.listRecursive(spark, s"file:$root"), "\\.csv$")
    val plan = FileOps.planTransfersDF(matched, "up", None, enumerateAll = true)
    FileOps.bulkCopyDF(plan, s"file:$root", s"file:$dst")
    val copied = Files.list(dst.resolve("up")).toArray.map(_.toString).sorted
    assert(copied.map(p => Paths.get(p).getFileName.toString).toSeq
      === Seq("a.csv", "c.csv", "d.csv"))
    assert(Files.readString(dst.resolve("up/a.csv")) === "1,2,3\n")
  }

  test("compactParquet bin-packs many small files into few, content-preserving") {
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("graft_compact_in").toString
    val out = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/packed"
    // 64 tiny files
    (1 to 6400).map(i => (i.toLong, s"row_$i")).toDF("id", "s")
      .repartition(64).write.mode("overwrite").parquet(in)
    def parquetFiles(dir: String) =
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(parquetFiles(in).length === 64)
    val target = parquetFiles(in).map(_.length).sum / 4 // aim for ~4 files
    val nOut = graft.sources.FileOps.compactParquet(spark, in, out, target)
    assert(nOut >= 3 && nOut <= 5, s"unexpected output count $nOut")
    assert(parquetFiles(out).length === nOut)
    // every row survives exactly once
    val got = spark.read.parquet(out).as[(Long, String)].collect().sorted
    assert(got.length === 6400)
    assert(got.map(_._1).toSeq === (1L to 6400L))
    // a missing source dir is the reference's invalid-path error
    intercept[graft.sources.FileOps.GraftFsError] {
      graft.sources.FileOps.compactParquet(spark, s"$in/nope", out)
    }
  }

  test("withRetries heals transient errors with backoff, never taxonomy errors") {
    var calls = 0
    val r = FileOps.withRetries(3, 1L) { () =>
      calls += 1
      if (calls < 3) throw new java.io.IOException("flaky") else 42
    }
    assert(r === 42 && calls === 3)
    // exhausted budget rethrows the last transient error
    var calls2 = 0
    intercept[java.io.IOException] {
      FileOps.withRetries(1, 1L) { () =>
        calls2 += 1; throw new java.io.IOException("always")
      }
    }
    assert(calls2 === 2) // initial try + 1 retry
    // deterministic taxonomy outcomes are NOT network weather
    var calls3 = 0
    intercept[FileOps.GraftFsError] {
      FileOps.withRetries(5, 1L) { () =>
        calls3 += 1
        throw FileOps.GraftFsError(FileOps.ErrorCodes.NoMatchesFound, "none")
      }
    }
    assert(calls3 === 1)
  }

  test("move renames and delete removes, through the FS API") {
    val root = mkTree()
    assert(FileOps.move(spark, s"file:$root", s"$root/b.txt",
      s"$root/moved/renamed.txt"))
    assert(Files.exists(root.resolve("moved/renamed.txt")))
    assert(!Files.exists(root.resolve("b.txt")))
    import spark.implicits._
    FileOps.bulkDeleteDF(spark, s"file:$root",
      Seq(s"$root/a.csv", s"$root/sub/c.csv").toDF("path"))
    assert(!Files.exists(root.resolve("a.csv")))
    assert(!Files.exists(root.resolve("sub/c.csv")))
  }

  test("reference error taxonomy: 200 no-matches, 201 bad path, 202 move error") {
    val root = mkTree()
    // 200: a matching stage with zero hits
    val hits = FileOps.matchBasename(
      FileOps.listRecursive(spark, s"file:$root"), "\\.nope$")
    val e200 = intercept[FileOps.GraftFsError] {
      FileOps.requireMatchesDF(hits, "\\.nope$")
    }
    assert(e200.code === FileOps.ErrorCodes.NoMatchesFound)
    // 201: listing a source folder that does not exist
    val e201 = intercept[FileOps.GraftFsError] {
      FileOps.listRecursive(spark, s"file:$root/definitely/missing")
    }
    assert(e201.code === FileOps.ErrorCodes.InvalidFilePath)
    // 202: renaming a file that is not there
    val e202 = intercept[FileOps.GraftFsError] {
      FileOps.move(spark, s"file:$root", s"$root/ghost.txt", s"$root/out.txt")
    }
    assert(e202.code === FileOps.ErrorCodes.MoveError)
  }

  test("listRecursive stays distributed: 1e5-file tree, subtree walk " +
      "is an RDD scan, not a driver-collected LocalRelation") {
    val root = Files.createTempDirectory("graft_big")
    (0 until 100).foreach { d =>
      val dir = root.resolve(f"d$d%03d")
      Files.createDirectories(dir)
      (0 until 1000).foreach(i => Files.createFile(dir.resolve(f"f$i%04d")))
    }
    val df = FileOps.listRecursive(spark, s"file:$root")
    // the subtree side of the union must be a distributed RDD scan;
    // only the root's direct children (100 dirs) may be local
    val locals = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }
    assert(locals.nonEmpty && locals.forall(_.data.length <= 100),
      "driver-side relation bigger than the root's direct fan-out")
    val rdds = df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.ExternalRDD[_] => r
    }
    assert(rdds.nonEmpty, "subtree walk did not stay an RDD")
    assert(df.filter("not is_dir").count() === 100000L)
    assert(df.filter("is_dir").count() === 100L)
    // clean up: 100k inodes is real temp-dir pressure
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
      .foreach(Files.deleteIfExists(_))
  }

  test("listRecursive frontier BFS: a deep single-child tree walks as many " +
      "tasks, not one serial subtree recursion") {
    // depth-60 chain, one file per level: the root's fan-out is 1, so
    // the old per-subtree walk did ALL of this in a single task
    val root = Files.createTempDirectory("graft_deep")
    var cur = root
    val depth = 60
    (0 until depth).foreach { d =>
      cur = cur.resolve(s"lvl$d")
      Files.createDirectories(cur)
      Files.writeString(cur.resolve(s"file$d.txt"), "x" * (d + 1))
    }
    val taskCount = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        taskCount.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = FileOps.listRecursive(spark, s"file:$root")
      val files = df.filter("not is_dir").collect()
      assert(files.length === depth)
      assert(df.filter("is_dir").count() === depth.toLong)
      assert(files.map(_.getAs[Long]("size")).sum === (1 to depth).sum.toLong)
      // listener events are async — wait for the count to go quiet
      var last = -1
      var spins = 0
      while (taskCount.get() != last && spins < 50) {
        last = taskCount.get(); Thread.sleep(100); spins += 1
      }
      // each BFS level runs its own (parallelizable) stage; a single
      // serial recursion would have been ~1 walk task
      assert(taskCount.get() > depth,
        s"walk ran only ${taskCount.get()} tasks for a $depth-level tree")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("compactParquet sizes nested partitioned layouts, not just flat dirs") {
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("graft_compact_part").toString
    val out = java.nio.file.Files.createTempDirectory("graft_compact_part_out").toString + "/packed"
    // files live under k=… subdirectories — a non-recursive listing
    // sees ZERO data bytes here and would collapse everything to 1 file
    (1 to 6400).map(i => (i.toLong, i % 4, s"row_$i")).toDF("id", "k", "s")
      .repartition(16).write.mode("overwrite").partitionBy("k").parquet(in)
    def bytesUnder(dir: java.io.File): Long =
      dir.listFiles().map { f =>
        if (f.isDirectory) bytesUnder(f)
        else if (f.getName.startsWith("_")) 0L else f.length
      }.sum
    val total = bytesUnder(new java.io.File(in))
    assert(total > 0)
    val nOut = graft.sources.FileOps.compactParquet(spark, in, out, total / 4)
    assert(nOut >= 3 && nOut <= 5,
      s"nested layout mis-sized: nOut=$nOut (non-recursive listing would give 1)")
    val got = spark.read.parquet(out).selectExpr("id").as[Long].collect().sorted
    assert(got.length === 6400 && got.toSeq === (1L to 6400L))
  }

  test("q60 manifest lists the scale dir") {
    val rows = FileOps.q60(spark, sf).collect()
    assert(rows.length === 10) // the ten tables
    assert(rows.forall(!_.getAs[Boolean]("is_dir")))
  }
}
