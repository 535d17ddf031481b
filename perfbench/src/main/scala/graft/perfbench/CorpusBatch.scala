package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import Stats.medianOr0
import graft.{SessionCaches, SparkEntry}

/** `corpus_batch`: the nightly curation and graph jobs over local
  * tables, no connector. Each job runs in a fresh `newSession()`, so it
  * pays its session-cache fills once, as a nightly application does.
  * Operator-heavy: dedup, curation, search/RAG and graph, with
  * shuffles, driver-local arms and cache fills.
  */
final class CorpusBatch(ctx: Ctx) extends Workload {
  import CorpusBatch._

  private val dir = ctx.opts.sfDir
  private val jobs = if (ctx.opts.scale == "tiny") Jobs.map { case (k, v) => k -> v.take(1) } else Jobs
  private val jobWalls = mutable.Map.empty[String, ArrayBuffer[Double]]
  private val fills = mutable.Map.empty[String, ArrayBuffer[Double]]
  private val oneCore = mutable.Map.empty[String, Double]

  def setup(): Unit = ()

  /** None: a nightly application starts cold, and each timed job
    * pays its own session-cache fills. */
  def warmup(): Unit = ()

  def round(): Unit = Seq("curation", "graph").foreach(job(ctx.spark, _, timed = true))

  def stop(): Unit = ()

  /** One job: its queries in order in a fresh session. Returns wall s. */
  private def job(spark: SparkSession, name: String, timed: Boolean): Double = {
    val before = SessionCaches.buildBreakdownFor(dir)
    val t0 = System.nanoTime()
    ctx.span(name, "unit") {
      val session = spark.newSession()
      jobs(name).foreach { q =>
        ctx.op(s"op.$q", timed) {
          ResultHash(SparkEntry.queries(q)(session, dir))
        }(got => (ctx.checkHash(q, got), ()))
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    if (timed && ctx.tracing) {
      val after = SessionCaches.buildBreakdownFor(dir)
      CacheKinds.foreach { k =>
        fills.getOrElseUpdate(k, ArrayBuffer.empty) +=
          after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0)
      }
    }
    if (timed) jobWalls.getOrElseUpdate(name, ArrayBuffer.empty) += wall
    wall
  }

  /** The single-threaded baseline: each job once on a `local[1]` session. */
  def runOneCore(spark1: SparkSession): Unit =
    Seq("curation", "graph").foreach { j =>
      oneCore(j) = job(spark1, j, timed = false)
    }

  def named: Seq[Metric] = Seq(
    Metric("curation_job_s", "s", jobWalls.getOrElse("curation", ArrayBuffer.empty).toSeq),
    Metric("graph_job_s", "s", jobWalls.getOrElse("graph", ArrayBuffer.empty).toSeq))

  def layers(tr: Tracer): Seq[(String, Double)] = {
    val ops = Jobs.values.flatten.toSeq.map { q =>
      s"op.${q}_s" -> medianOr0(tr.spansNamed(s"op.$q").map(_.wallS))
    }
    val units = Seq("curation", "graph").flatMap { j =>
      val us = tr.spansNamed(j)
      val n = math.max(1, us.length).toDouble
      val st = tr.unitStats(us)
      Seq(s"$j.driver_s" -> st.driverS / n, s"$j.exec_share" -> st.execShare,
        s"$j.jobs" -> st.jobs / n, s"$j.gc_s" -> st.gcS / n,
        s"$j.shuffle_mb" -> st.shuffleMb / n, s"$j.result_mb" -> st.resultMb / n) ++
        oneCore.get(j).map(v => s"$j.one_core_s" -> v)
    }
    val caches = CacheKinds.map { k =>
      s"cache.${k}_fill_s" -> fills.get(k).fold(0.0)(v => medianOr0(v.toSeq))
    }
    ops ++ units ++ caches
  }

  def detail: Seq[(String, String)] = Seq(
    "sf_dir" -> Json.str(dir),
    "one_core_s" -> Json.obj(oneCore.map { case (k, v) => k -> Json.num(v) }))
}

object CorpusBatch {
  val Jobs: Map[String, Seq[String]] = Map(
    "curation" -> Seq("q38_clean_corpus", "q35_dup_clusters", "q36_cluster_rep",
      "q75_curation_pipeline", "q103_curation_pack", "q104_full_pipeline",
      "q102_perplexity_filter", "q39_lcs_dedup", "q76_fuzzy_match2",
      "q109_rag_pipeline"),
    "graph" -> Seq("q122_triangles", "q127_edge_jaccard", "q131_clustering",
      "q135_ktruss", "q129_kcore", "q130_coreness", "q121_pagerank",
      "q124_bfs_hops", "q126_hits"))
  val CacheKinds = Seq("verdicts", "ccLabels", "tri", "wsym")
}
