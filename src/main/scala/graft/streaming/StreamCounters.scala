package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming counter plane: the reference's
  * `recordsProduced/recordsConsumed` tables and health monitor re-expressed
  * as Structured Streaming state (SURVEY §3.3, §2.5 A1, §2.4 J1, §2.3 F5).
  */
object StreamCounters {

  /** A1 streaming form: running count per (cluster, topic, partition) in
    * update mode — Spark keeps the running total in the state store; each
    * micro-batch shuffles only (key, partial count).
    */
  def runningCounts(records: DataFrame): DataFrame =
    records.groupBy("cluster", "topic", "partition").count()

  final case class CounterEvent(cluster: String, topic: String, partition: Int,
                                delta: Long, eventTimeMs: Long)

  final case class CounterKey(cluster: String, topic: String, partition: Int)

  /** Carried state per key: previous snapshot + last activity
    * (reference: CounterProgressCheck.java:30-31).
    */
  final case class ProgressState(count: Long, prevCount: Long, lastActivityMs: Long)

  final case class ProgressStatus(cluster: String, topic: String, partition: Int,
                                  count: Long, delta: Long, lastActivityMs: Long,
                                  stale: Boolean)

  val inactivityMs: Long = 5 * 60 * 1000L // reference CounterProgressCheck.java:80

  /** J1+F5 as `mapGroupsWithState`: exact snapshot-diff semantics — emits
    * per-key (count, delta-since-last-batch, staleness) each batch.
    *
    * With `enableTimeout` (production), state also times out after 5 min
    * without activity so the key re-emits a stale status with no input —
    * the reference's DOWN-at-5-min behavior. Tests pass
    * `enableTimeout=false` + a virtual `nowMs`: wall-clock
    * ProcessingTimeTimeout makes the engine run continuous no-data
    * batches, which busy-loops under `processAllAvailable()`.
    */
  def progressMonitor(events: Dataset[CounterEvent],
                      nowMs: () => Long = () => System.currentTimeMillis(),
                      enableTimeout: Boolean = true)
                     (implicit spark: org.apache.spark.sql.SparkSession): Dataset[ProgressStatus] = {
    import spark.implicits._
    val timeoutConf = if (enableTimeout) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(e => CounterKey(e.cluster, e.topic, e.partition))
      .mapGroupsWithState[ProgressState, ProgressStatus](timeoutConf) {
        case (key, batch, state: GroupState[ProgressState]) =>
          val prior = state.getOption.getOrElse(ProgressState(0L, 0L, 0L))
          def armTimeout(): Unit = if (enableTimeout) state.setTimeoutDuration(inactivityMs)
          if (state.hasTimedOut) {
            // no activity for > 5 min: report stale, keep the counter
            val next = prior.copy(prevCount = prior.count)
            state.update(next)
            armTimeout()
            ProgressStatus(key.cluster, key.topic, key.partition,
              next.count, 0L, prior.lastActivityMs, stale = true)
          } else {
            val deltas = batch.toSeq
            val added = deltas.map(_.delta).sum
            val lastActivity = if (deltas.isEmpty) prior.lastActivityMs
              else math.max(prior.lastActivityMs, deltas.map(_.eventTimeMs).max)
            val next = ProgressState(prior.count + added, prior.count, lastActivity)
            state.update(next)
            armTimeout()
            // strict >: the reference's isBefore(now - 5min) keeps a
            // partition UP at exactly the 5-minute mark
            // (CounterProgressCheck.java:87)
            val stale = nowMs() - lastActivity > inactivityMs
            ProgressStatus(key.cluster, key.topic, key.partition,
              next.count, next.count - next.prevCount, lastActivity, stale)
          }
      }
  }

  /** Event-time windowed counts with a watermark — the streaming form of
    * the rate-bucketing/time-window analyses (SURVEY §2.6): late data
    * beyond `lateness` is dropped and window state is reclaimed, which is
    * what makes the aggregation runnable indefinitely at scale.
    */
  def windowedCounts(records: DataFrame, tsCol: String,
                     window: String = "1 minute",
                     lateness: String = "5 minutes"): DataFrame =
    records
      .withWatermark(tsCol, lateness)
      .groupBy(functions.window(col(tsCol), window))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("wstart"), col("cnt"))

  private val functions = org.apache.spark.sql.functions
}
