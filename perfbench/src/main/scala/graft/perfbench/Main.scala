package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** Benchmark process: one closed-loop client (this thread) driving one
  * workload against `local[<cores>]` Spark and loopback servers. It
  * prints one `PERFBENCH <json>` line as its last stdout line; the
  * runner (run.py) turns that into the benchmark's result line.
  *
  * {{{
  * Main --workload remote --seed 1 --seconds 10 --trace 0 \
  *   --work <dir> --sf <tables dir> --expected <hashes.json> \
  *   --launch-ms <epoch ms the process was launched>
  * Main --record --work <dir> --sf <tables dir> [--dump <Verify out dir>]
  * }}}
  */
object Main {

  def session(master: String, work: Path): SparkSession = {
    val cores = master.stripPrefix("local[").stripSuffix("]").toInt
    val s = GraftSession.builder(master, shufflePartitions = cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Heap in use after full collections, with pauses between them so
    * Spark's cleaner can release what the first collection freed. */
  private def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  private def parse(args: Array[String]): Map[String, String] =
    args.toSeq.sliding(2, 1).collect {
      case Seq(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap ++ args.filter(a => a == "--record").map(_.drop(2) -> "1")

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)
    if (a.contains("record")) record(a, work)
    else sys.exit(run(a, work))
  }

  /** Hash every benchmark query over `--sf` (and over a Verify dump of
    * the same queries, when given) and print them as JSON.
    */
  private def record(a: Map[String, String], work: Path): Unit = {
    val spark = session(s"local[${a.getOrElse("cores", "4")}]", work)
    val qs = (RemoteScan.Queries :+ RemoteScan.WriteBack) ++ CorpusBatch.Jobs.values.flatten
    val sfName = Paths.get(a("sf")).getFileName.toString
    val lines = qs.distinct.map { q =>
      val h = ResultHash(SparkEntry.queries(q)(spark, a("sf")))
      val dumped = a.get("dump").map(d => ResultHash(spark.read.parquet(s"$d/$q")))
      val again = a.get("repeat").map(_ => ResultHash(SparkEntry.queries(q)(spark.newSession(), a("sf"))))
      System.err.println(s"[record] $q $h dump=${dumped.getOrElse("-")} repeat=${again.getOrElse("-")}")
      Json.obj(Seq("key" -> Json.str(s"$sfName/$q"), "hash" -> Json.str(h),
        "dump" -> dumped.fold("null")(Json.str), "repeat" -> again.fold("null")(Json.str)))
    }
    println("PERFBENCH " + Json.arr(lines))
    spark.stop()
  }

  private def readExpected(path: Option[String]): Map[String, String] =
    path.filter(p => Files.exists(Paths.get(p))).fold(Map.empty[String, String]) { p =>
      val re = """"([^"]+)"\s*:\s*"([^"]+)"""".r
      re.findAllMatchIn(Files.readString(Paths.get(p))).map(m => m.group(1) -> m.group(2)).toMap
    }

  private def run(a: Map[String, String], work: Path): Int = {
    val cores = a.get("cores").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val opts = Opts(
      workload = a("workload"), seed = a("seed").toLong,
      seconds = a("seconds").toDouble, trace = a.get("trace").contains("1"),
      work = work, sfDir = a("sf"), scale = a.getOrElse("scale", "full"),
      sabotage = a.getOrElse("sabotage", ""),
      expected = readExpected(a.get("expected")),
      launchMs = a.get("launch-ms").map(_.toLong)
        .getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime),
      cores = cores)
    val ctx = new Ctx(session(s"local[$cores]", work), opts)
    val wl: Workload = opts.workload match {
      case "remote" => new Remote(ctx)
      case "corpus_batch" => new CorpusBatch(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val sc = ctx.spark.sparkContext
    val tracer = if (opts.trace) Some(new Tracer(sc, cores)) else None
    ctx.tracer = tracer
    var harnessError: Option[String] = None
    val roundWalls = ArrayBuffer.empty[Double]
    var setupS = Double.NaN
    var heapMb = Double.NaN
    val conns0 = Net.read().opens
    val connBudget = Net.ephemeralPorts() / 4
    try {
      wl.setup()
      wl.warmup()
      setupS = (System.currentTimeMillis() - opts.launchMs) / 1000.0
      val deadline = System.nanoTime() + (opts.seconds * 1e9).toLong
      var guardHit = false
      def body(): Unit = while (!guardHit &&
          (roundWalls.isEmpty || System.nanoTime() < deadline)) {
        val t0 = System.nanoTime()
        ctx.span("round", "phase")(wl.round())
        roundWalls += (System.nanoTime() - t0) / 1e9
        // back-to-back runs share the ephemeral port range through
        // TIME_WAIT: stop early rather than exhaust it
        if (Net.read().opens - conns0 > connBudget) {
          guardHit = true
          ctx.note(s"connection guard: over $connBudget connections, stopped")
        }
      }
      tracer match {
        case Some(t) =>
          sc.addSparkListener(t)
          ctx.tracing = true
          t.span(opts.workload, "workload")(body())
          ctx.tracing = false
          t.drain()
        case None => body()
      }
      heapMb = retainedHeapMb()
    } catch {
      case NonFatal(e) =>
        harnessError = Some(e.toString)
        e.printStackTrace()
    }

    // the single-threaded baseline runs after the timed phase, traced run only
    wl match {
      case cb: CorpusBatch if opts.trace && harnessError.isEmpty =>
        try {
          ctx.spark.stop()
          ctx.spark = session("local[1]", work)
          cb.runOneCore(ctx.spark)
        } catch { case NonFatal(e) => harnessError = Some(e.toString) }
      case _ => ()
    }

    val conns = Net.read().opens - conns0
    val named = wl.named
    val failRatio = ctx.failed.toDouble / math.max(1, ctx.attempted)
    val e2e: Seq[(String, String, Double)] =
      if (roundWalls.isEmpty || opts.trace) Nil
      else Seq(("setup_s", "s", setupS), ("retained_heap_mb", "MB", heapMb),
        ("round_s", "s", Stats.median(roundWalls.toSeq)))
    // the traced run reports its own end-to-end numbers too: their
    // difference from an untraced run is the tracing overhead
    val layers: Seq[(String, Double)] = tracer.filter(_ => roundWalls.nonEmpty)
      .fold(Seq.empty[(String, Double)]) { t =>
        Seq("traced.setup_s" -> setupS, "traced.round_s" -> Stats.median(roundWalls.toSeq),
          "fail_ratio" -> failRatio) ++
          named.map(m => m.name -> Stats.medianOr0(m.samples)) ++ wl.layers(t)
      }
    tracer.foreach(_.dump(work.resolve("spans.jsonl")))

    val namedJson = named.map { m =>
      Json.obj(Seq("name" -> Json.str(m.name), "unit" -> Json.str(m.unit),
        "value" -> (if (m.samples.isEmpty) "null" else Json.num(Stats.median(m.samples))),
        "samples" -> Stats.summary(m.samples)))
    } :+ Json.obj(Seq("name" -> Json.str("fail_ratio"),
      "unit" -> Json.str("failed/attempted"), "value" -> Json.num(failRatio),
      "samples" -> Json.obj(Seq("n" -> ctx.attempted.toString))))
    // every traced unit: its self times, which with the named residual
    // add up to the unit's wall
    val selfTimes = tracer.fold("[]") { t =>
      Json.arr(t.units.map { u =>
        val parts = t.selfTimes(u)
        Json.obj(Seq("unit" -> Json.str(u.name), "trace" -> u.trace.toString,
          "wall_s" -> Json.num(u.wallS), "sum_s" -> Json.num(parts.values.sum),
          "self_s" -> Json.obj(parts.toSeq.sortBy(-_._2).map { case (k, v) => k -> Json.num(v) })))
      })
    }
    val detail = Json.obj(Seq(
      "rounds" -> roundWalls.length.toString,
      "round_walls_s" -> Json.arr(roundWalls.map(Json.num)),
      "round_summary" -> Stats.summary(roundWalls.toSeq),
      "connections" -> conns.toString,
      "connection_budget" -> connBudget.toString,
      "cores" -> cores.toString,
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1e6),
      "jdk" -> Json.str(System.getProperty("java.version")),
      "calls" -> Json.obj(ctx.callWalls.map { case (k, v) => k -> Stats.summary(v.toSeq) }),
      "self_times" -> selfTimes) ++ wl.detail)
    val out = Json.obj(Seq(
      "correct" -> harnessError.isEmpty.toString,
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "harness_error" -> harnessError.fold("null")(Json.str),
      "e2e" -> Json.obj(e2e.map { case (n, u, v) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "layers" -> Json.obj(layers.map { case (n, v) => n -> Json.num(v) }),
      "named" -> Json.arr(namedJson),
      "detail" -> detail,
      "notes" -> Json.arr(ctx.notes.map(Json.str))))
    wl.stop()
    ctx.spark.stop()
    println("PERFBENCH " + out)
    if (harnessError.isEmpty) 0 else 1
  }
}
