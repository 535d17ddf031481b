package graft.perfbench

/** `remote`: one [[Transfer]] cycle per protocol, then one
  * [[RemoteScan]] round, in one process. Both halves exercise the
  * connectors (streaming copies, then positioned parquet reads); the
  * blueprints, `FileOps` and `operators.Relational` run only here.
  */
final class Remote(ctx: Ctx) extends Workload {
  private val transfer = new Transfer(ctx)
  private val scan = new RemoteScan(ctx)

  def setup(): Unit = { transfer.setup(); scan.setup() }
  def warmup(): Unit = { transfer.warmup(); scan.warmup() }
  def round(): Unit = { transfer.round(); scan.round() }
  def stop(): Unit = { transfer.stop(); scan.stop() }
  def named: Seq[Metric] = transfer.named ++ scan.named
  def layers(tr: Tracer): Seq[(String, Double)] = transfer.layers(tr) ++ scan.layers(tr)
  def detail: Seq[(String, String)] = transfer.detail ++ scan.detail
}
