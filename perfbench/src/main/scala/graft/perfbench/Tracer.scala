package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** The traced run's recorder. The benchmark opens a span at every
  * boundary it calls (workload → phase → unit → call); the listener,
  * which the benchmark registers itself, adds each Spark job and stage
  * as a child of the span that was open on the driver thread when the
  * job was submitted, tagged with the job's call site. Spans share one
  * trace id per unit. Everything stays in memory until [[dump]].
  */
final class Tracer(sc: SparkContext, cores: Int) extends SparkListener {
  import Tracer._

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 0
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  private def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Run `f` inside a new span; `kind` is workload, phase, unit or call. */
  def span[A](name: String, kind: String)(f: => A): A = {
    nextId += 1
    val parent = stack.headOption
    val trace = if (kind == "unit") nextId else parent.fold(0)(_.trace)
    val s = Span(nextId, parent.fold(0)(_.id), trace, name, kind, nowMs, gcMs)
    spans += s
    stack = s :: stack
    sc.setLocalProperty(SpanKey, s.id.toString)
    try f
    finally {
      s.endMs = nowMs
      s.gcEndMs = gcMs
      stack = stack.tail
      sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
    }
  }

  // ---- listener side (listener-bus thread) ----
  private val jobs = ArrayBuffer.empty[Job]
  private val stages = ArrayBuffer.empty[Stage]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val tasks = ArrayBuffer.empty[Task]

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(SpanKey))).fold(0)(_.toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the result stage carries the job's call site (short and long form)
    val result = e.stageInfos.sortBy(_.stageId).lastOption
    val short = result.fold("")(_.name)
    jobs += Job(e.jobId, spanOf(e.properties), short,
      moduleOf(result.fold("")(_.details)), e.time, Long.MaxValue,
      e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized { stageSpan(e.stageInfo.stageId) = spanOf(e.properties) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages += Stage(i.stageId, stageSpan.getOrElse(i.stageId, 0),
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.resultSize,
      if (m == null) 0L else m.inputMetrics.bytesRead)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime)
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  // ---- analysis (after drain) ----
  private lazy val children: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  private def subtree(id: Int): Set[Int] = {
    val out = mutable.Set(id)
    var frontier = Seq(id)
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(i => children.getOrElse(i, Nil)).map(_.id)
      out ++= frontier
    }
    out.toSet
  }

  def spansNamed(name: String): Seq[Span] = spans.toSeq.filter(_.name == name)

  def units: Seq[Span] = spans.toSeq.filter(_.kind == "unit")

  /** Per-unit layer split over `units` (spans), summed. */
  def unitStats(units: Seq[Span]): UnitStats = synchronized {
    var wall, driver, run, gc, shuffle, result, input = 0.0
    var nJobs = 0
    units.foreach { u =>
      val ids = subtree(u.id)
      val uj = jobs.filter(j => ids(j.span))
      val us = stages.filter(s => ids(s.span))
      val stageIds = us.map(_.id).toSet
      val busy = union(tasks.toSeq.filter(t => stageIds(t.stage))
        .map(t => (t.launchMs.toDouble, t.endMs.toDouble)), u.startMs, u.endMs)
      wall += u.wallS
      driver += u.wallS - busy / 1000
      run += us.map(_.runMs).sum / 1000.0
      gc += (u.gcEndMs - u.gcStartMs) / 1000.0
      shuffle += us.map(_.shuffleBytes).sum / 1e6
      result += us.map(_.resultBytes).sum / 1e6
      input += us.map(_.inputBytes).sum.toDouble
      nJobs += uj.length
    }
    UnitStats(wall, driver, if (wall > 0) run / (wall * cores) else 0.0,
      nJobs, gc, shuffle, result, input)
  }

  /** Wall of the jobs under `units`, grouped by job module/function
    * (overlapping jobs of one group counted once).
    */
  def jobWalls(units: Seq[Span]): Map[String, Double] = synchronized {
    units.flatMap { u =>
      val ids = subtree(u.id)
      jobs.filter(j => ids(j.span)).groupBy(_.module).map { case (m, js) =>
        m -> union(js.toSeq.map(j => (j.startMs.toDouble, j.endMs.toDouble)),
          u.startMs, u.endMs) / 1000
      }
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Self times inside one unit: at every instant the innermost open
    * node (benchmark span, job, or stage; the latest-started one on
    * ties) owns the time. The unit's own share is the residual no
    * child covers. The parts sum to the unit's wall by construction.
    */
  def selfTimes(u: Span): Map[String, Double] = synchronized {
    final case class Node(label: String, depth: Int, start: Double, end: Double)
    val ids = subtree(u.id)
    val depthOf = mutable.Map(u.id -> 0)
    spans.filter(s => ids(s.id)).sortBy(_.id).foreach { s =>
      if (s.id != u.id) depthOf(s.id) = depthOf.getOrElse(s.parent, 0) + 1
    }
    val benchNodes = spans.toSeq.filter(s => ids(s.id)).map(s =>
      Node(if (s.id == u.id) "residual" else s.name, depthOf(s.id), s.startMs, s.endMs))
    val jobNodes = jobs.toSeq.filter(j => ids(j.span)).flatMap { j =>
      val d = depthOf(j.span) + 1
      Node(s"job:${j.module}", d, j.startMs.toDouble, j.endMs.toDouble) +:
        stages.toSeq.filter(s => j.stageIds.contains(s.id) && s.span == j.span)
          .map(s => Node(s"stage:${j.module}", d + 1, s.submitMs.toDouble, s.endMs.toDouble))
    }
    val nodes = (benchNodes ++ jobNodes).map(n =>
      n.copy(start = math.max(n.start, u.startMs), end = math.min(n.end, u.endMs)))
      .filter(n => n.end > n.start)
    val cuts = nodes.flatMap(n => Seq(n.start, n.end)).distinct.sorted
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    cuts.sliding(2).foreach {
      case Seq(a, b) =>
        val live = nodes.filter(n => n.start <= a && n.end >= b)
        if (live.nonEmpty) {
          val owner = live.maxBy(n => (n.depth, n.start))
          out(owner.label) += (b - a) / 1000
        }
      case _ => ()
    }
    out.toMap
  }

  def dump(path: java.nio.file.Path): Unit = synchronized {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      spans.foreach { s =>
        w.write(Json.obj(Seq("type" -> Json.str("span"), "id" -> s.id.toString,
          "parent" -> s.parent.toString, "trace" -> s.trace.toString,
          "name" -> Json.str(s.name), "kind" -> Json.str(s.kind),
          "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs))))
        w.newLine()
      }
      jobs.foreach { j =>
        w.write(Json.obj(Seq("type" -> Json.str("job"), "id" -> j.id.toString,
          "parent" -> j.span.toString,
          "trace" -> spans.find(_.id == j.span).fold("0")(_.trace.toString),
          "site" -> Json.str(j.site), "module" -> Json.str(j.module),
          "start_ms" -> j.startMs.toString, "end_ms" -> j.endMs.toString)))
        w.newLine()
      }
      stages.foreach { s =>
        w.write(Json.obj(Seq("type" -> Json.str("stage"), "id" -> s.id.toString,
          "span" -> s.span.toString, "start_ms" -> s.submitMs.toString,
          "end_ms" -> s.endMs.toString, "run_ms" -> s.runMs.toString,
          "shuffle_bytes" -> s.shuffleBytes.toString,
          "result_bytes" -> s.resultBytes.toString)))
        w.newLine()
      }
    } finally w.close()
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  final case class Span(id: Int, parent: Int, trace: Int, name: String,
      kind: String, startMs: Double, gcStartMs: Long) {
    var endMs: Double = Double.NaN
    var gcEndMs: Long = gcStartMs
    def wallS: Double = (endMs - startMs) / 1000
  }
  final case class Job(id: Int, span: Int, site: String, module: String,
      startMs: Long, var endMs: Long, stageIds: Seq[Int])
  final case class Stage(id: Int, span: Int, submitMs: Long, endMs: Long,
      runMs: Long, shuffleBytes: Long, resultBytes: Long, inputBytes: Long)
  final case class Task(stage: Int, launchMs: Long, endMs: Long)
  final case class UnitStats(wallS: Double, driverS: Double, execShare: Double,
      jobs: Int, gcS: Double, shuffleMb: Double, resultMb: Double,
      inputBytes: Double)

  private val FileOpsFn = """graft\.sources\.FileOps\$\.(\w+)\(""".r
  private val GraftFrame = """graft\.(?:operators\.|sources\.(?:ftp\.|ssh\.)?)?(\w+?)\$?\.""".r

  /** Module a job belongs to: `fileops.<fn>` for the transfer layer,
    * else the innermost graft frame of the job's call site, lower-cased
    * (`relational`, `dedup`, `graph`, `perfbench` for an action the
    * benchmark itself ran…), else `spark` (jobs Spark submits from its
    * own threads, such as adaptive query stages).
    */
  def moduleOf(long: String): String =
    FileOpsFn.findFirstMatchIn(long).map(_.group(1)) match {
      case Some(fn) => "fileops." + fileOpsFn(fn)
      case None => GraftFrame.findFirstMatchIn(long).map(_.group(1).toLowerCase)
        .getOrElse("spark")
    }

  def fileOpsFn(method: String): String = method match {
    case "listRecursive" => "list"
    case "requireMatchesDF" | "planTransfersDF" | "matchFullPath" |
         "matchBasename" => "plan"
    case "bulkCopy" | "bulkCopyDF" => "copy"
    case "bulkMove" | "move" => "move"
    case "bulkDelete" | "bulkDeleteDF" => "delete"
    case other => other
  }

  /** Length (ms) of the union of `iv` clipped to [lo, hi]. */
  def union(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total, curA, curB = 0.0
    var open = false
    c.foreach { case (a, b) =>
      if (!open) { curA = a; curB = b; open = true }
      else if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (open) total += curB - curA
    total
  }
}
