package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: Path,
    sfDir: String,
    scale: String,
    // test hook: "corrupt-hash" or "delete-dest" makes one check fail
    sabotage: String,
    expected: Map[String, String],
    launchMs: Long,
    cores: Int)

/** A named end-to-end sample series with its unit. */
final case class Metric(name: String, unit: String, samples: Seq[Double])

trait Workload {
  def setup(): Unit
  def warmup(): Unit
  def round(): Unit
  def stop(): Unit
  /** The workload's own end-to-end metrics (median over rounds). */
  def named: Seq[Metric]
  /** Per-layer values from the traced rounds. */
  def layers(tr: Tracer): Seq[(String, Double)]
  def detail: Seq[(String, String)]
}

/** Run state shared by the workloads: the session, the optional
  * tracer, and the operation ledger (attempted, failed, notes).
  */
final class Ctx(var spark: SparkSession, val opts: Opts) {
  var tracer: Option[Tracer] = None
  /** True while a timed round is traced. */
  var tracing = false
  var attempted = 0
  var failed = 0
  val notes = ArrayBuffer.empty[String]
  /** Per-call walls of the timed operations, by call name. */
  val callWalls = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]

  def work: Path = opts.work
  def seed: Long = opts.seed

  def note(s: String): Unit = if (notes.length < 50) notes += s

  /** Open a span when the current round is traced. */
  def span[A](name: String, kind: String)(f: => A): A = tracer match {
    case Some(t) if tracing => t.span(name, kind)(f)
    case _ => f
  }

  /** Time one operation — the call plus its action — then check its
    * output outside the timer. A throw or a failed check counts as a
    * failed operation when `timed`. Returns (wall s, check result).
    */
  def op[R, V](name: String, timed: Boolean, kind: String = "call")(
      call: => R)(check: Option[R] => (Option[String], V)): (Double, (Option[String], V)) = {
    val t0 = System.nanoTime()
    val r = try Some(span(name, kind)(call))
    catch { case NonFatal(e) => note(s"$name threw: $e"); None }
    val wall = (System.nanoTime() - t0) / 1e9
    val checked = check(r)
    if (timed) {
      callWalls.getOrElseUpdate(name, ArrayBuffer.empty) += wall
      attempted += 1
      if (r.isEmpty || checked._1.nonEmpty) {
        failed += 1
        checked._1.foreach(e => note(s"$name: $e"))
      }
    }
    (wall, checked)
  }

  /** Expected result hash for a query; the corrupt-hash test hook
    * flips the first one looked up.
    */
  private var corrupted = false
  def expected(query: String): Option[String] = {
    val key = s"${new java.io.File(opts.sfDir).getName}/$query"
    opts.expected.get(key).map { h =>
      if (opts.sabotage == "corrupt-hash" && !corrupted) { corrupted = true; h + "0" }
      else h
    }
  }

  def checkHash(query: String, got: Option[String]): Option[String] =
    (got, expected(query)) match {
      case (None, _) => Some("no result")
      case (_, None) => Some(s"no expected hash for $query")
      case (Some(g), Some(w)) if g != w => Some(s"hash $g != expected $w")
      case _ => None
    }
}

object ResultHash {
  /** Order-independent content hash of a result: row count and the
    * exact decimal sum of each row's xxhash64 over its columns taken
    * in name order. The aggregate runs distributed; only one row
    * reaches the driver.
    */
  def apply(df: DataFrame): String = {
    val h = xxhash64(df.columns.sorted.toSeq.map(c => col(s"`$c`")): _*)
    val r = df.select(count(lit(1)), sum(h.cast("decimal(38,0)")))
      .collect().head
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).fold("0")(_.toPlainString)}"
  }
}
