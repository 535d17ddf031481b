package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

import graft.functions.{DotProductD, Fingerprint64}

/** Session extensions: registers graft's native expressions so plain
  * SQL (`SELECT fingerprint64(text), dot_d(a, b)`) works on any
  * session built with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((org.apache.spark.sql.catalyst.FunctionIdentifier("fingerprint64"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[Fingerprint64].getName, "fingerprint64"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        Fingerprint64(exprs.head)))
    e.injectFunction((org.apache.spark.sql.catalyst.FunctionIdentifier("dot_d"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[DotProductD].getName, "dot_d"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        DotProductD(exprs(0), exprs(1))))
    e.injectFunction((org.apache.spark.sql.catalyst.FunctionIdentifier("heavy_hitters"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.HeavyHitters].getName, "heavy_hitters"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.HeavyHitters(exprs(0), exprs(1))
          .toAggregateExpression()))
    e.injectFunction((org.apache.spark.sql.catalyst.FunctionIdentifier("collect_capped"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.CollectCapped].getName, "collect_capped"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.CollectCapped(exprs(0), exprs(1))
          .toAggregateExpression()))
    e.injectFunction((org.apache.spark.sql.catalyst.FunctionIdentifier("nfc_normalize"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.NfcNormalize].getName, "nfc_normalize"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.NfcNormalize(exprs.head)))
  }
}

/** Canonical session builder: the configuration every graft driver
  * (Verify, Bench, user apps) wants — AQE with skew handling, UTC,
  * sensible local shuffle parallelism and graft SQL extensions. The
  * gftp://, gftps:// and gsftp:// connectors need no session conf:
  * `META-INF/services` registers them with Hadoop.
  */
object GraftSession {
  def builder(master: String = "local[*]",
      shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // default 100 thrashes across a many-query workload — evicted
      // giant generated classes (64-agg signatures, struct explodes)
      // recompile in Janino at random, multi-second stalls
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // parquet timestamps written without a timezone (pandas/arrow
      // `timestamp[us]`, isAdjustedToUTC=false) must read as plain
      // UTC TIMESTAMP, not TIMESTAMP_NTZ: the engine contract is
      // "every timestamp is a UTC instant" and the DuckDB oracle
      // reads the same files as naive-UTC
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
}
