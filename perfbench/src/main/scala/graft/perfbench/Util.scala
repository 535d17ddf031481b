package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Minimal JSON writer: the harness prints flat objects only. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(items: Iterable[String]): String = items.mkString("[", ",", "]")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Median, or 0 for a call the run never made (a layer the
    * workload does not use reports 0). */
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  /** The highest percentile with at least ten samples beyond it, as
    * (percentile, value); None below eleven samples.
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val n = xs.length
    if (n < 11) None
    else {
      val p = math.floor(100.0 * (n - 10) / n).toInt
      val s = xs.sorted
      Some(p -> s(math.min(n - 1, math.ceil(p / 100.0 * n).toInt - 1)))
    }
  }

  /** `{"n":…,"median":…,"p<k>":…}` for a sample of walls. */
  def summary(xs: Seq[Double]): String = {
    val base = Seq("n" -> Json.num(xs.length.toDouble),
      "median" -> (if (xs.isEmpty) "null" else Json.num(median(xs))))
    Json.obj(base ++ tail(xs).map { case (p, v) => s"p$p" -> Json.num(v) })
  }
}

/** Filesystem helpers the checks and resets use; all local disk. */
object Disk {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toVector.reverse
    all.foreach(Files.delete)
  }

  def resetDir(p: Path): Path = { deleteTree(p); Files.createDirectories(p) }

  /** relative path → bytes of every regular file under `root`. */
  def snapshot(root: Path): Map[String, Array[Byte]] =
    if (!Files.isDirectory(root)) Map.empty
    else Files.walk(root).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(f => root.relativize(f).toString -> Files.readAllBytes(f)).toMap

  /** None when the tree under `root` holds exactly `want` (name →
    * bytes), else a one-line description of the first difference.
    */
  def diff(root: Path, want: Map[String, Array[Byte]]): Option[String] = {
    val got = snapshot(root)
    val missing = want.keySet -- got.keySet
    val extra = got.keySet -- want.keySet
    val changed = want.keySet.intersect(got.keySet)
      .filterNot(k => java.util.Arrays.equals(want(k), got(k)))
    if (missing.isEmpty && extra.isEmpty && changed.isEmpty) None
    else Some(s"$root: ${missing.size} missing, ${extra.size} extra, " +
      s"${changed.size} differ" +
      (missing.headOption.orElse(changed.headOption)
        .orElse(extra.headOption).fold("")(k => s" (e.g. $k)")))
  }

  def copyTree(src: Path, dst: Path): Unit =
    Files.walk(src).iterator().asScala.foreach { f =>
      val t = dst.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t)
    }
}
