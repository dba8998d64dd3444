package prodbench

import org.apache.spark.sql.SparkSession

/** The live KB: one client's closed loop of the read side ([[KbServe]]:
  * lookups against a warehouse, an FTS store and an IVF-PQ index) and the
  * write side ([[WarehouseCommits]]: small commits, a view refresh and an
  * FTS plus dedup store append). Each round runs one of each lookup, then
  * one delta batch of commits. No parse.
  */
final class KbLive(spark: SparkSession, seed: Long) extends Workload {
  val name = "kb_live"
  private val serve = new KbServe(spark, seed)
  private val commits = new WarehouseCommits(spark, seed)

  def setup(dir: String): Unit = {
    serve.setup(s"$dir/serve")
    commits.setup(s"$dir/commits")
  }

  def round(ops: Ops, trace: Trace): Unit = {
    serve.round(ops, trace)
    commits.round(ops, trace)
  }

  def metrics(ops: Ops): Seq[(String, Double, String)] =
    serve.metrics(ops) ++ commits.metrics(ops)

  def layerCounts(ops: Ops, trace: Trace): Seq[(String, Double)] =
    serve.layerCounts(ops, trace) ++ commits.layerCounts(ops, trace)
}
