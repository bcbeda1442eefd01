package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

/** Size-gated broadcast hints for unbounded id lists.
  *
  * The election/decontamination tails of the assembly pipelines join a
  * slim `(doc_id)` list (non-survivor cluster members, contaminated
  * ids, retired versions) left_anti against a corpus-sized frame. On
  * the fixtures those lists are tiny and the broadcast hint is exactly
  * right — without it the planner (blind to checkpoint-backed stats)
  * falls back to a SortMergeJoin that shuffles the whole corpus on
  * doc_id just to subtract a few thousand ids. But the list's size is
  * a property of the DATA, not the plan: on a real web crawl the
  * duplicate-drop side is 30–50 % of all documents (CCNet-class
  * corpora dedup away most of their input) — billions of ids, far
  * over the broadcast cap, a guaranteed driver OOM if hinted
  * unconditionally. So every such site routes through this gate:
  * verifiably small → hint; otherwise leave the join unhinted and let
  * AQE pick the strategy from runtime statistics.
  */
object Hints {

  /** Session-conf override for the gate — tests drive the
    * over-threshold fallback path by lowering it instead of crafting
    * multi-million-row fixtures.
    */
  val GateConfKey = "graft.hints.broadcastIdRows"

  /** Default gate: ~4 M packed longs ≈ 32 MB on the driver — far
    * under the 8 GB broadcast hard cap and a trivial collect, yet
    * large enough that every delta-sized refresh list on a healthy
    * corpus stays hinted.
    */
  val DefaultBroadcastIdRows: Long = 4L << 20

  def gate(spark: SparkSession): Long =
    spark.conf.getOption(GateConfKey).map(_.toLong)
      .getOrElse(DefaultBroadcastIdRows)

  /** True when the id frame is verifiably under the gate. Counting is
    * an action — callers pass MATERIALIZED (localCheckpoint'ed or
    * artifact-backed) frames so the count is a cached-partition scan,
    * not a plan replay.
    */
  def isSlim(ids: DataFrame): Boolean =
    counts(Seq(ids)).head <= gate(ids.sparkSession)

  /** Hint the frame for broadcast only when [[isSlim]]. */
  def hintIfSlim(ids: DataFrame): DataFrame =
    if (isSlim(ids)) broadcast(ids) else ids

  /** Gate TWO independent materialized frames with ONE Spark job (r19):
    * [[counts]] runs both frames' partitions as the tasks of a single
    * action, halving the per-gate job latency the refresh family pays
    * (guide §2.6 — actions are only sequential because driver code
    * calls them sequentially). Both frames materialize into their
    * caches exactly as two separate counts would (the count IS the
    * materializing action for lazy localCheckpoints).
    */
  def hintIfSlim2(a: DataFrame, b: DataFrame): (DataFrame, DataFrame) = {
    val out = hintIfSlimN(Seq(a, b))
    (out(0), out(1))
  }

  /** N-frame form of [[hintIfSlim2]] — one job, one gate decision per
    * frame.
    */
  def hintIfSlimN(frames: Seq[DataFrame]): Seq[DataFrame] = {
    val g = gate(frames.head.sparkSession)
    frames.zip(counts(frames)).map { case (f, n) =>
      if (n <= g) broadcast(f) else f
    }
  }

  /** A frame's rows as an RDD, for driver code that runs its own job
    * over them: a checkpointed frame (its plan a bare checkpoint scan)
    * yields its checkpoint RDD directly — no query plan, no generated
    * code, which a repeated pipeline would otherwise keep in the
    * codegen cache — any other frame its executed plan's rows.
    */
  private[ext] def rows(f: DataFrame)
    : org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
    f.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      case _ => f.queryExecution.toRdd
    }

  /** The row counts of N independent frames from ONE job — the
    * primitive under [[isSlim]] and [[hintIfSlimN]], for callers that
    * need a count (or a materialization) beside a gate decision. A
    * checkpointed frame (its plan a bare checkpoint scan) is counted on
    * its checkpoint RDD directly: no query plan, no generated code, no
    * shuffle — counting its partitions is also what materializes a
    * lazy checkpoint, exactly as `count()` would. Any other frame is
    * counted on the rows of its column-less projection. The per-frame
    * partitions run as the tasks of one job, so the counts overlap.
    */
  def counts(frames: Seq[DataFrame]): Seq[Long] = {
    require(frames.nonEmpty)
    val rdds = frames.map(f => f.queryExecution.analyzed match {
      case _: org.apache.spark.sql.execution.LogicalRDD => rows(f)
      case _ => rows(f.select())
    })
    val sc = frames.head.sparkSession.sparkContext
    // UnionRDD (not sc.union, which zips co-partitioned inputs) keeps
    // each frame's partitions contiguous and in order
    val perPartition = sc.runJob(new org.apache.spark.rdd.UnionRDD(sc, rdds),
      (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
        var n = 0L
        while (it.hasNext) { it.next(); n += 1 }
        n
      })
    val bounds = rdds.map(_.getNumPartitions).scanLeft(0)(_ + _)
    bounds.zip(bounds.tail).map { case (a, b) => perPartition.slice(a, b).sum }
  }

  /** For LAZILY-derived id lists (an election tail, a contamination
    * scan): materialize once, so the gate count AND every downstream
    * join read the checkpoint instead of re-running the derivation.
    * The checkpoint is LAZY (r18): the gate count itself materializes
    * it — one job instead of an eager-materialize job followed by a
    * count job, with identical caching afterwards.
    */
  def checkpointAndHint(ids: DataFrame): DataFrame =
    hintIfSlim(ids.localCheckpoint(eager = false))

  /** [[checkpointAndHint]] for an id list no longer than a DRIVER-LOCAL
    * frame `bound` (a local relation — e.g. the cluster map of
    * [[Dedup.dupClusters]]' driver path, which the drop list of an
    * election is a subset of): the bound's row count is known without
    * a job, so when it is under the gate the list is hinted as it
    * stands — no checkpoint, no count; the list is computed once,
    * inside the join that broadcasts it. Any other bound falls back to
    * [[checkpointAndHint]].
    */
  def hintBoundedBy(ids: DataFrame, bound: DataFrame): DataFrame =
    if (localUnderGate(bound).isDefined) broadcast(ids)
    else checkpointAndHint(ids)

  /** A DRIVER-LOCAL frame (a local relation) of `rows` under `schema` —
    * how the driver paths hand their results back (the cluster map of
    * [[Dedup.dupClusters]], the refresh's driver fold and manifest).
    */
  private[ext] def local(spark: SparkSession,
                         schema: org.apache.spark.sql.types.StructType,
                         rows: Seq[org.apache.spark.sql.Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  /** The rows of a DRIVER-LOCAL frame (a local relation, e.g. the
    * cluster map of [[Dedup.dupClusters]]' driver path) whose row count
    * is under the gate — known without a job — in the frame's column
    * order; None for any other frame.
    */
  private[ext] def localUnderGate(f: DataFrame)
    : Option[Seq[org.apache.spark.sql.catalyst.InternalRow]] =
    f.queryExecution.logical match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if l.data.length <= gate(f.sparkSession) => Some(l.data)
      case _ => None
    }
}
