package perfbench

import org.apache.spark.sql.SparkSession

/** assembly_refresh: the declared `x85_assembly_refresh` over the seeded
  * corpus fixture. Corpus v2 arrives and the refresh re-gates, re-hashes
  * and cross-dedups only the delta against the standing v1 index; in the
  * same `Par.both` the from-scratch rebuild runs as the second leg, and
  * the query emits the rebuild's per-shard manifest with `incr_match`
  * flags. Set-up builds the standing v1 state (the query's own
  * per-(session, fixture) artifact) and runs one refresh as warm-up; each
  * measured operation repeats the refresh and collects the manifest.
  */
final class AssemblyRefresh(spark: SparkSession, fixture: String) extends Workload {
  val query = "x85_assembly_refresh"

  private def refresh(): java.util.Map[String, Any] = {
    val df = graft.SparkEntry.queries(query)(spark, fixture)
    val rows = df.collect().toSeq.map(r => df.columns.toSeq.map(r.getAs[Any]))
    J.obj("columns" -> df.columns.toSeq, "rows" -> rows)
  }

  def setup(): Seq[Double] = {
    val t0 = System.nanoTime()
    refresh()
    Seq((System.nanoTime() - t0) / 1e9)
  }

  def op(traced: Boolean): Any = refresh()

  override def finish(): Map[String, Any] = Map(
    "query" -> query, "oracle_sql" -> graft.SparkEntry.oracleSql(query),
    "documents" -> spark.read.parquet(s"$fixture/documents.parquet").count())
}
