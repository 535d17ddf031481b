package graft
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Benchmark main. Round 12: the suite FORKS into N child JVMs of
  * ~⌈Q/N⌉ queries each (default N=4, `SPARK_GRAFT_FORKS` overrides;
  * 1 disables). Rationale (the r11 verdict's top item): 130
  * heavy-codegen queries sharing one JVM pushed same-code/same-data
  * per-query walls into 6× spreads (q122 sf1: 22–128 s at
  * byte-identical shuffle) — C2 deopt/recompile interactions between
  * queries, not plans, dominated the grading instrument. Children run
  * SEQUENTIALLY (never two Spark JVMs at once — the round-3 shared-box
  * lesson), each with its own code cache and codegen cache; the parent
  * merges the per-query samples and emits the same one-line contract
  * as before (totals = sum over shards, tripwire vs the same per-SF
  * baselines). Shard boundaries snap OUT of the q122…q131 graph-family
  * block so the session tri-cache (Graph.coPurchaseGraph, consumers
  * q122/q127/q131) and the weighted-edge cache (q129/q130) keep their
  * one-enumeration-many-consumers savings inside a single JVM.
  * `SPARK_GRAFT_ONLY` subset runs stay single-JVM, and any child that
  * dies is re-measured in-process (the bench artifact must never lose
  * queries to fork plumbing).
  *
  * Honest accounting (round 13): once-per-session cache fills land in
  * runs[0] of whichever consumer measures first, and min-of-N would
  * exclude them from the suite total — so each JVM reports its
  * [[SessionCaches]] ledger for the benched dir and the headline
  * `value` = Σ per-query minima + `cache_build_s`.
  */
object Bench {

  /** One query's bench sample: min wall, WARM-run shuffle (the
    * minimum per-run shuffle — round 14: the per-run average diluted
    * one-time cache fills into the per-query number, so q122's sf1
    * shuffle read 1010.9 MB in a 2-run round and 521.7 in a 4-run
    * round at an identical plan, and the regression tripwire
    * false-flagged its own honesty machinery), per-run-averaged
    * spill, MARGINAL codegen footprint (generated classes + JIT ms
    * beyond the sf0.001 warmup), error if any. `shRuns` carries every
    * run's shuffle in run order so a cold fill stays visible as
    * runs[0] exceeding the warm floor.
    */
  private[graft] case class QRes(name: String, wall: Double, shMb: Double,
      spMb: Double, cgClasses: Long, jitMs: Long, err: Option[String],
      runs: Seq[Double] = Seq.empty, shRuns: Seq[Double] = Seq.empty)

  /** One measurement pass's output: the samples plus the
    * [[SessionCaches]] ledger DELTA this pass caused for the benched
    * dir (snapshotted after the warmup loop — round 14: when the
    * benched dir IS the warmup dir, warmup-phase fills used to accrue
    * to the reported ledger even though they ran outside timed runs).
    */
  private[graft] case class Measured(results: Seq[QRes],
      cacheBuildS: Double, cacheBuilds: Map[String, Double])

  /** (wall_sec, shuffle_mb) per query from a bench detail line —
    * the tolerant inverse of the writer below (numeric sections only;
    * our own keys carry no escapes).
    */
  private[graft] def parseDetail(json: String): Map[String, (Double, Double)] = {
    def section(key: String): Map[String, Double] =
      (s""""$key":\\{([^}]*)\\}""").r.findFirstMatchIn(json)
        .map(_.group(1)).getOrElse("").split(",").iterator
        .map(_.trim).filter(_.nonEmpty)
        .flatMap { kv =>
          kv.split(":") match {
            case Array(k, v) =>
              try Some(k.replace("\"", "") -> v.toDouble)
              catch { case _: NumberFormatException => None }
            case _ => None
          }
        }.toMap
    val walls = section("queries")
    val sh = section("shuffle_mb")
    walls.map { case (k, w) => k -> (w, sh.getOrElse(k, 0.0)) }
  }

  /** The "sf" stamp of a detail line — deltas are only meaningful
    * against a run at the same scale factor.
    */
  private[graft] def sfOf(json: String): Option[String] =
    """"sf":"([^"]*)"""".r.findFirstMatchIn(json).map(_.group(1))

  /** Regression classification vs the previous committed detail,
    * per the round-6 phantom-regression analysis: a SHUFFLE delta is
    * a plan change (kind "plan" — bytes through the exchange don't
    * move with env noise); a wall blow-up at EQUAL shuffle is kind
    * "wall" — deliberately NEUTRAL, not "noise": equal shuffle means
    * the PLAN didn't change, but the cause can be either environment
    * (JIT storm / shared box, the common case here) or a genuine
    * same-plan compute regression (slower closure/expression, bigger
    * driver collect), and the tripwire cannot tell them apart from
    * one sample. Reading rule: a "wall" trip that persists across
    * consecutive runs is real — re-run before dismissing. A query
    * present before and absent now is kind "gone". New queries are
    * not regressions. Values are (prev, cur) of the tripping metric:
    * shuffle MB for "plan", wall seconds for "wall"/"gone".
    */
  private[graft] def regressionsOf(
      prev: Map[String, (Double, Double)],
      cur: Map[String, (Double, Double)]): Seq[(String, String, Double, Double)] = {
    val tripped = cur.toSeq.sortBy(_._1).flatMap { case (q, (w, s)) =>
      prev.get(q).flatMap { case (pw, ps) =>
        val shuffleMoved = math.abs(s - ps) > math.max(0.05, 0.02 * ps)
        if (shuffleMoved) Some((q, "plan", ps, s))
        else if (w > pw * 1.5 && w - pw > 0.5) Some((q, "wall", pw, w))
        else None
      }
    }
    tripped ++ prev.keySet.diff(cur.keySet).toSeq.sorted
      .map(q => (q, "gone", prev(q)._1, 0.0))
  }

  private def newSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // ~10 generated classes per query × (warmup + 2 timed runs)
      // overflows the old 2000-entry cache — evicted giants (q31 pair
      // emission, q75 pipeline segments) then recompile INSIDE the
      // timed runs, reading as multi-second query regressions
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Warm + measure `queryList` in THIS JVM; the timing loop shared by
    * single-JVM runs and forked children. Package-private so the
    * ledger-vs-runs cross-examination spec can drive it directly.
    */
  private[graft] def measure(spark: SparkSession,
      queryList: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)],
      sfDir: String): Measured = {
    // shuffle/spill telemetry: wall time says WHETHER a query got
    // slower, bytes-through-the-shuffle says WHY
    val shuffleBytes = new AtomicLong
    val spilledBytes = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          spilledBytes.addAndGet(m.memoryBytesSpilled)
        }
      }
    })
    // warm-up at the smallest SF: JIT, codegen cache, parquet reader,
    // shuffle machinery — so timed runs below measure steady state
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory)
      queryList.foreach { case (_, fn) =>
        try fn(spark, warmDir).count() catch { case _: Throwable => () }
      }
    // ledger baseline AFTER warmup: when sfDir == warmDir (spec runs,
    // sf0.001 iterations) the warmup loop itself fills the session
    // caches for the benched dir — those fills ran outside timed runs
    // and must not inflate the reported cache_build_s
    val ledger0 = SessionCaches.buildSecondsFor(sfDir)
    val builds0 = SessionCaches.buildBreakdownFor(sfDir)
    // codegen/JIT telemetry (round 9): per query, how many classes
    // Janino generated and how much JIT compile time elapsed. The
    // class counts rank the codegen producers to shrink; a jit_ms
    // spike at stable shuffle is the storm signature, measurable
    // instead of inferred.
    val codegenHist = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_GENERATED_CLASS_BYTECODE_SIZE
    val jitBean = java.lang.management.ManagementFactory.getCompilationMXBean
    val results = queryList.map { case (name, fn) =>
      val sp0 = spilledBytes.get()
      val cg0 = codegenHist.getCount; val jit0 = jitBean.getTotalCompilationTime
      // a failing query must surface as err, never as a bogus timing
      var err: Option[String] = None
      // each timed run records its OWN shuffle delta (round 14 — the
      // all-runs average diluted one-time cache fills into the
      // per-query number; the listener bus is async, but the gc +
      // 200 ms drain at the head of the NEXT run flushes the previous
      // run's task events before its successor reads the baseline, so
      // per-run attribution is as sharp as the old per-query delta)
      def timedRun(): (Double, Double) = {
        // Spark's ContextCleaner is GC-driven: with a large pinned
        // heap the JVM never collects, so shuffle registrations /
        // broadcasts / checkpoint blocks pile up and tax later
        // queries. Collect (untimed) between measurements.
        System.gc()
        Thread.sleep(200) // let the async cleaner drain before timing
        val sh0 = shuffleBytes.get()
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch {
          case e: Throwable =>
            err = Some(s"${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").take(120))
        }
        ((System.nanoTime() - t0) / 1e9,
          (shuffleBytes.get() - sh0) / 1e6)
      }
      // min of two timed executions: this box is shared (background
      // load spikes showed up as multi-second stalls on trivial
      // queries), and min-of-N is the standard steady-state estimator
      // under external noise
      // CHRONOLOGICAL order (round 14: extra samples used to prepend
      // and the final arrays reversed — a 3/4-sample query's runs
      // array was scrambled, breaking the "cold fill visible as
      // runs[0]" reading of shRuns)
      var samples = Vector(timedRun(), timedRun())
      def walls = samples.map(_._1)
      // JIT warmup storms are nondeterministic and can cover BOTH
      // default runs: a new-at-this-SF plan's generated classes run
      // interpreted until C2 catches up (observed on q31 — 80 s stage
      // CPU vs 6.5 s steady, zero GC; pairs like 2.8 s/2.7 s settling
      // at 0.6 s). Buy up to two more samples while the minimum still
      // looks stormy (> 2 s) or the two runs disagree badly;
      // min-of-N converges on steady state where min-of-2 reported
      // the storm. Genuinely-slow queries pay ≤ 2 extra runs.
      while (err.isEmpty && samples.size < 4 && (walls.min > 2.0 ||
          (walls.min > 0.75 &&
            (walls.max - walls.min) / walls.min > 0.5)))
        samples = samples :+ timedRun()
      // spill covers every run → report the per-run average; shuffle
      // reports the WARM floor (min over runs — a once-per-session
      // cache fill only ever ADDS bytes, so the min is the steady
      // state and the fill stays visible in shRuns)
      val shMb = samples.map(_._2).min
      val spMb = (spilledBytes.get() - sp0) / samples.size.toDouble / 1e6
      // codegen/JIT deltas are NOT averaged: classes compile once per
      // plan (the warmup at sf0.001 already absorbed most), so the
      // raw delta over all runs IS the query's marginal footprint
      QRes(name, walls.min, shMb, spMb,
        codegenHist.getCount - cg0,
        jitBean.getTotalCompilationTime - jit0, err,
        walls, samples.map(_._2))
    }
    val builds1 = SessionCaches.buildBreakdownFor(sfDir)
    Measured(results,
      SessionCaches.buildSecondsFor(sfDir) - ledger0,
      builds1.map { case (k, v) =>
        k -> (v - builds0.getOrElse(k, 0.0))
      }.filter(_._2 > 1e-12))
  }

  private def codeCacheMbNow: Double = scala.jdk.CollectionConverters
    .ListHasAsScala(java.lang.management.ManagementFactory
      .getMemoryPoolMXBeans).asScala
    .filter(_.getName.startsWith("CodeHeap"))
    .map(_.getUsage.getUsed).sum / 1e6

  // ── child-shard wire format: one JSON object per line ─────────────

  private implicit val fmts: org.json4s.Formats =
    org.json4s.DefaultFormats

  private def qresLine(q: QRes): String =
    org.json4s.jackson.Serialization.write(Map(
      "name" -> q.name, "wall" -> q.wall, "sh_mb" -> q.shMb,
      "sp_mb" -> q.spMb, "cg" -> q.cgClasses, "jit" -> q.jitMs,
      "err" -> q.err.orNull, "runs" -> q.runs, "sh_runs" -> q.shRuns))

  private def parseQresLine(line: String): Option[QRes] =
    try {
      val j = org.json4s.jackson.JsonMethods.parse(line)
      Some(QRes(
        (j \ "name").extract[String],
        (j \ "wall").extract[Double],
        (j \ "sh_mb").extract[Double],
        (j \ "sp_mb").extract[Double],
        (j \ "cg").extract[Long],
        (j \ "jit").extract[Long],
        (j \ "err").extractOpt[String],
        (j \ "runs").extract[Seq[Double]],
        (j \ "sh_runs").extractOpt[Seq[Double]].getOrElse(Seq.empty)))
    } catch { case _: Throwable => None }

  /** Shard assignment: contiguous over the sorted query list (so the
    * per-shard mix is stable round over round), with cut points
    * SNAPPED out of the q122…q135 session-cache block — the tri-cache
    * shares one triangle enumeration between q122, q127, q131 and
    * q135 (round 13: the window used to stop at q127, so a cut
    * between q127 and q131 put q131 in a cold-cache JVM paying a full
    * re-enumeration), the q129/q130 weighted-edge cache rides the
    * same window, and round 14 extends it through q133 (q132/q133
    * share one host-tier build) to q135 (initial truss support reads
    * the materialized triangles). Those savings require one JVM.
    */
  private[graft] def shardCuts(names: Seq[String], n: Int): Seq[Int] = {
    val famStart = names.indexWhere(_.startsWith("q122"))
    val famEnd = names.lastIndexWhere(n =>
      n.startsWith("q135") || n.startsWith("q133") ||
        n.startsWith("q131"))
    (1 until n).map { i =>
      val cut = names.size * i / n
      if (famStart >= 0 && famEnd > famStart &&
          cut > famStart && cut <= famEnd) famEnd + 1
      else cut
    }.distinct.filter(c => c > 0 && c < names.size)
  }

  private[graft] def shardOf(names: Seq[String], cuts: Seq[Int],
      i: Int): Seq[String] = {
    val bounds = 0 +: cuts :+ names.size
    names.slice(bounds(i), bounds(i + 1))
  }

  /** One child shard's report: its per-query samples plus the meta
    * numbers it measured in its own JVM.
    */
  private[graft] case class ShardReport(results: Seq[QRes],
      codeCacheMb: Double, cacheBuildS: Double,
      cacheBuilds: Map[String, Double] = Map.empty)

  /** Spawn one child JVM running shard `i` of `n`; returns the shard's
    * parsed samples, or None when the child failed (caller re-measures
    * in-process). The child inherits this JVM's flags (add-opens,
    * heap, code cache) and classpath; its stdout/stderr go to a log
    * file (tail forwarded to OUR stderr on failure) so the parent's
    * one-line stdout contract survives. `extraEnv`/`outOverride` exist
    * for the fallback spec: a scoped-down child (tiny SF, subset
    * queries) and a deliberately unwritable out path.
    */
  private[graft] def runShardChild(i: Int, n: Int,
      extraEnv: Map[String, String] = Map.empty,
      outOverride: Option[String] = None): Option[ShardReport] = {
    import scala.jdk.CollectionConverters._
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala
      .filterNot(a => a.startsWith("-agentlib") ||
        a.startsWith("-javaagent"))
    val out = outOverride.getOrElse(java.io.File
      .createTempFile(s"graft-bench-shard$i-", ".jsonl").getAbsolutePath)
    val log = java.io.File.createTempFile(s"graft-bench-shard$i-", ".log")
    val cmd = (Seq(javaBin) ++ jvmArgs ++ Seq(
      "-cp", System.getProperty("java.class.path"),
      "graft.Bench")).asJava
    val pb = new ProcessBuilder(cmd)
    pb.environment().put("SPARK_GRAFT_SHARD", s"$i/$n")
    pb.environment().put("SPARK_GRAFT_SHARD_OUT", out)
    extraEnv.foreach { case (k, v) => pb.environment().put(k, v) }
    pb.redirectOutput(log)
    pb.redirectErrorStream(true)
    Console.err.println(s"[bench] forking shard $i/$n -> $out")
    val exit =
      try pb.start().waitFor()
      catch { case e: Throwable =>
        Console.err.println(s"[bench] shard $i spawn failed: $e"); -1 }
    val lines =
      try {
        val src = scala.io.Source.fromFile(out)
        try src.getLines().toList finally src.close()
      } catch { case _: Throwable => Nil }
    val parsed = lines.flatMap(parseQresLine)
    def metaNum(key: String): Double = lines.reverse.collectFirst {
      case l if l.contains(key) =>
        try (org.json4s.jackson.JsonMethods.parse(l) \ "v")
          .extract[Double]
        catch { case _: Throwable => 0.0 }
    }.getOrElse(0.0)
    def metaMap(key: String): Map[String, Double] =
      lines.reverse.collectFirst {
        case l if l.contains(key) =>
          try (org.json4s.jackson.JsonMethods.parse(l) \ "v")
            .extract[Map[String, Double]]
          catch { case _: Throwable => Map.empty[String, Double] }
      }.getOrElse(Map.empty)
    if (exit == 0 && parsed.nonEmpty)
      Some(ShardReport(parsed, metaNum("code_cache_mb"),
        metaNum("cache_build_s"), metaMap("cache_builds")))
    else {
      Console.err.println(
        s"[bench] shard $i failed (exit=$exit, parsed=${parsed.size}); " +
          "re-measuring in-process. Child log tail:")
      try {
        val src = scala.io.Source.fromFile(log)
        try src.getLines().toList.takeRight(15)
          .foreach(l => Console.err.println(s"[shard $i] $l"))
        finally src.close()
      } catch { case _: Throwable => () }
      None
    }
  }

  /** Run every shard through `runChild`, re-measuring a failed shard
    * in-process via `measureShard` — the bench artifact must never
    * lose queries to fork plumbing. Extracted from main (round 13) so
    * the fallback path is spec-coverable: BenchSpec fakes a dead
    * child and asserts the merged report still covers every query.
    * Returns the merged report; `cacheBuildS` sums the children's
    * ledgers only (in-process fallback fills are the per-pass
    * [[Measured]] deltas the caller's `measureShard` closure
    * accumulates itself — a second fallback shard at a warm cache
    * charges each fill exactly once, BenchSpec's ledger-vs-runs
    * cross-examination).
    */
  private[graft] def forkMerge(names: Seq[String], nForks: Int,
      runChild: (Int, Int) => Option[ShardReport],
      measureShard: Set[String] => Seq[QRes]): ShardReport = {
    val cuts = shardCuts(names, nForks)
    val nShards = cuts.size + 1
    var codeCacheMb = 0.0
    var cacheBuildS = 0.0
    var cacheBuilds = Map.empty[String, Double]
    val merged = (0 until nShards).flatMap { i =>
      runChild(i, nForks) match {
        case Some(rep) =>
          // report the worst per-JVM code-cache occupancy seen
          codeCacheMb = math.max(codeCacheMb, rep.codeCacheMb)
          cacheBuildS += rep.cacheBuildS
          cacheBuilds = rep.cacheBuilds.foldLeft(cacheBuilds) {
            case (acc, (k, v)) => acc.updated(k, acc.getOrElse(k, 0.0) + v)
          }
          rep.results
        case None =>
          measureShard(shardOf(names, cuts, i).toSet)
      }
    }
    ShardReport(merged.sortBy(_.name), codeCacheMb, cacheBuildS,
      cacheBuilds)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional single/subset-query mode for iterating on one operator
    // (comma-separated names); full runs leave it unset
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val allQueries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val names = allQueries.map(_._1)

    sys.env.get("SPARK_GRAFT_SHARD") match {
      case Some(spec) =>
        // ── child mode: measure one shard, write samples, exit ──────
        val Array(i, n) = spec.split("/").map(_.toInt)
        val cuts = shardCuts(names, n)
        val mine = shardOf(names, cuts, i).toSet
        val spark = newSession()
        val m = measure(spark, allQueries.filter(p => mine(p._1)), sfDir)
        val outPath = sys.env("SPARK_GRAFT_SHARD_OUT")
        val w = new java.io.PrintWriter(outPath)
        try {
          m.results.foreach(q => w.println(qresLine(q)))
          w.println(org.json4s.jackson.Serialization.write(
            Map("meta" -> "code_cache_mb", "v" -> codeCacheMbNow)))
          // once-per-session cache fills (tri/wsym) land in runs[0]
          // of one consumer and min-of-N excludes them — ship the
          // ledger (post-warmup delta) so the parent charges them
          // into the honest total
          w.println(org.json4s.jackson.Serialization.write(
            Map("meta" -> "cache_build_s", "v" -> m.cacheBuildS)))
          w.println(org.json4s.jackson.Serialization.write(
            Map("meta" -> "cache_builds", "v" -> m.cacheBuilds)))
        } finally w.close()
        spark.stop()
        return
      case None => ()
    }

    val nForks = sys.env.get("SPARK_GRAFT_FORKS").map(_.toInt)
      .getOrElse(4)
    val fork = only.isEmpty && nForks > 1 && names.size >= nForks
    var codeCacheMb = 0.0
    var cacheBuildS = 0.0
    var cacheBuilds = Map.empty[String, Double]
    def mergeBuilds(m: Map[String, Double]): Unit =
      cacheBuilds = m.foldLeft(cacheBuilds) {
        case (acc, (k, v)) => acc.updated(k, acc.getOrElse(k, 0.0) + v)
      }
    val results: Seq[QRes] =
      if (!fork) {
        val spark = newSession()
        val m = measure(spark, allQueries, sfDir)
        codeCacheMb = codeCacheMbNow
        cacheBuildS = m.cacheBuildS
        mergeBuilds(m.cacheBuilds)
        spark.stop()
        m.results
      } else {
        // children run SEQUENTIALLY: two Spark JVMs on one box tax
        // each other's measurements (round-3 lesson)
        var fallback: SparkSession = null
        val rep = forkMerge(names, nForks, runShardChild(_, _),
          shard => {
            if (fallback == null) fallback = newSession()
            val m = measure(fallback,
              allQueries.filter(p => shard(p._1)), sfDir)
            // fallback fills accrue here, per measurement pass —
            // a SECOND fallback shard sharing a warm cache charges
            // nothing twice (its delta is zero for warm kinds)
            cacheBuildS += m.cacheBuildS
            mergeBuilds(m.cacheBuilds)
            m.results
          })
        if (fallback != null) {
          codeCacheMb = math.max(codeCacheMb, codeCacheMbNow)
          fallback.stop()
        }
        codeCacheMb = math.max(codeCacheMb, rep.codeCacheMb)
        // children's ledgers + the fallback deltas added above
        cacheBuildS += rep.cacheBuildS
        mergeBuilds(rep.cacheBuilds)
        rep.results
      }

    emit(results, sfDir, only, codeCacheMb, cacheBuildS, cacheBuilds)
  }

  /** Aggregate samples into the detail + one-line stdout contract —
    * identical output shape whether the samples came from one JVM or
    * four. `cacheBuildS` (once-per-session derived-relation fills
    * that min-of-N would otherwise exclude) is ADDED to the headline
    * `value` — the r12 verdict's honest-accounting item — and broken
    * out as its own field so the per-query minima stay comparable.
    */
  private def emit(results: Seq[QRes], sfDir: String,
      only: Option[Set[String]], codeCacheMb: Double,
      cacheBuildS: Double,
      cacheBuilds: Map[String, Double] = Map.empty): Unit = {
    val ok = results.filter(_.err.isEmpty)
    val qs = ok.map(q => s"\"" + q.name + "\":" + q.wall)
      .mkString("{", ",", "}")
    val sh = ok.map(q =>
      s"\"" + q.name + "\":" + f"${q.shMb}%.1f").mkString("{", ",", "}")
    val errsList = results.collect { case QRes(k, _, _, _, _, _, Some(e), _, _) =>
      // exception text can carry ANY control char (Netty/Hadoop
      // messages embed NULs and ESC) — strip the whole C0 range, not
      // just \n\r\t, or the one-line bench JSON stops parsing
      s"\"" + k + "\":\"" + e.replace("\\", "\\\\").replace("\"", "\\\"")
        .replaceAll("[\\x00-\\x1f]", " ") + "\""
    }
    val errs = errsList.mkString("{", ",", "}")
    // compact line: at most 5 errors so a mass failure can't push the
    // final line past the driver's tail window
    val errsCompact = errsList.take(5).mkString("{", ",", "}")
    val totalSpill = ok.map(_.spMb).sum
    val total = ok.map(_.wall).sum + cacheBuildS
    // regression tripwire: diff (wall, shuffle) against the PREVIOUS
    // committed detail — read before this run overwrites it, compared
    // only when the scale factor matches. Each SF keeps its OWN
    // detail snapshot (bench_detail_<sf>.json) so an sf1 run diffs
    // the last sf1 run even when sf0.1 ran in between (round-10
    // verdict: the sf1 gate compared only totals, so a 10×-scale
    // per-query regression could hide in the sum).
    val sfKey = new java.io.File(sfDir).getName
    def readFile(p: String): Option[String] = try {
      val src = scala.io.Source.fromFile(p)
      try Some(src.mkString) finally src.close()
    } catch { case _: Throwable => None }
    val prevRun = readFile(s"bench_detail_$sfKey.json")
      .orElse(readFile("bench_detail_last.json"))
    val prevMap = prevRun.filter(p => sfOf(p).contains(sfDir))
      .map(parseDetail).getOrElse(Map.empty)
    val curMap = ok.map(q =>
      // shuffle at the file's 0.1 MB grain
      q.name -> (q.wall, math.rint(q.shMb * 10) / 10)).toMap
    // subset runs skip the tripwire: every unrun query would read as
    // "gone" against the full baseline
    val regs =
      if (only.isDefined) Seq.empty else regressionsOf(prevMap, curMap)
    def regsJson(n: Int): String = regs.take(n).map { case (q, kind, p, c) =>
      s"""{"q":"$q","kind":"$kind","prev":${math.rint(p * 1000) / 1000},""" +
      s""""cur":${math.rint(c * 1000) / 1000}}"""
    }.mkString("[", ",", "]")
    // Full detail (per-query seconds + shuffle for every query) goes
    // to STDERR + a file, never stdout: it's >4 KB, and four rounds of
    // BENCH artifacts came back "parsed": null because stdout grew
    // past what the driver captures (r4's artifact shows the capture
    // cut mid-way through this very line). stdout carries exactly one
    // payload line — the compact JSON below — so no cap, tail window,
    // or footer can separate the parser from it.
    val cg = ok.map(q => s"\"" + q.name + "\":" + q.cgClasses)
      .mkString("{", ",", "}")
    val jit = ok.map(q => s"\"" + q.name + "\":" + q.jitMs)
      .mkString("{", ",", "}")
    // every timed sample in run order (detail-only): min hides the
    // variance the q39 JIT-replay probes need to see
    val runsJ = ok.map(q => s"\"" + q.name + "\":" +
      q.runs.map(t => math.rint(t * 1000) / 1000)
        .mkString("[", ",", "]"))
      .mkString("{", ",", "}")
    // per-run shuffle in run order (round 14): `shuffle_mb` above is
    // the WARM floor (min over runs) the regression gate keys on;
    // a one-time cache fill shows up here as runs[0] > the floor
    val shRunsJ = ok.map(q => s"\"" + q.name + "\":" +
      q.shRuns.map(v => math.rint(v * 10) / 10)
        .mkString("[", ",", "]"))
      .mkString("{", ",", "}")
    val detail =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""shuffle_mb":$sh,"shuffle_runs":$shRunsJ,""" +
      s""""spill_mb":${f"$totalSpill%.1f"},""" +
      s""""codegen_classes":$cg,"jit_ms":$jit,"runs":$runsJ,""" +
      s""""code_cache_mb":${f"$codeCacheMb%.1f"},""" +
      s""""cache_build_s":${f"$cacheBuildS%.3f"},""" +
      s""""cache_builds":${cacheBuilds.toSeq.sorted.map { case (k, v) =>
          "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")},""" +
      s""""errors":$errs,"regressions":${regsJson(8)},""" +
      s""""n_reg":${regs.size},"sf":"$sfDir"}"""
    Console.err.println(detail)
    // subset runs (SPARK_GRAFT_ONLY) never overwrite the committed
    // baselines — a 1-query detail would make every other query read
    // as "gone" on the next full run
    if (only.isEmpty) Seq("bench_detail_last.json",
        s"bench_detail_$sfKey.json").foreach { p =>
      try {
        val w = new java.io.PrintWriter(p)
        try w.println(detail) finally w.close()
      } catch { case _: Throwable => () }
    }
    // The LAST stdout line must carry the graded numbers on its own:
    // the driver keeps only a 2000-char tail, so this line stays
    // compact — total, slowest 12 queries (flagged `top12_only`: the
    // full per-query map is in the detail file), biggest 5 shuffles,
    // errors, sf — guaranteed well under 1500 chars, and it is the
    // ONLY line this process writes to stdout.
    def r3(v: Double) = math.rint(v * 1000) / 1000
    val slow = ok.sortBy(-_.wall).take(12)
      .map(q => s"\"" + q.name + "\":" + r3(q.wall))
      .mkString("{", ",", "}")
    val shTop = ok.sortBy(-_.shMb).take(5)
      .map(q => s"\"" + q.name + "\":" + f"${q.shMb}%.1f")
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec",""" +
      s""""n":${ok.size},"queries":$slow,"top12_only":true,""" +
      s""""shuffle_mb":$shTop,""" +
      s""""spill_mb":${f"$totalSpill%.1f"},""" +
      s""""cache_build_s":${f"$cacheBuildS%.3f"},"errors":$errsCompact,""" +
      s""""n_err":${errsList.size},"regressions":${regsJson(4)},""" +
      s""""n_reg":${regs.size},"sf":"$sfDir"}""")
  }
}
