package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.jdk.CollectionConverters._

/** JSON-ready values: nested java maps and lists, written with the
  * Jackson mapper Spark already ships.
  */
object J {
  def obj(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, conv(v)) }
    m
  }
  def conv(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(String.valueOf(k), conv(x)) }
      out
    case s: Iterable[_] => s.map(conv).toSeq.asJava
    case a: Array[_] => a.toSeq.map(conv).asJava
    case Some(x) => conv(x)
    case None => null
    case x => x
  }
  def write(path: String, value: Any): Unit =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValue(new java.io.File(path), value)
}

/** Start and end of every Spark job, always on: two timestamps per job
  * are the untraced run's only listener, used for the per-job latency
  * percentiles of the corpus workloads.
  */
final class JobClock extends SparkListener {
  private val starts = new ConcurrentHashMap[Int, java.lang.Long]()
  private val done = new ConcurrentLinkedQueue[(Int, Long, Long)]()
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    starts.put(e.jobId, e.time); ()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = starts.remove(e.jobId)
    if (s != null) done.add((e.jobId, s.longValue, e.time))
  }
  /** Jobs that ended since the last call, as [id, start_ms, end_ms]. */
  def take(): Seq[Seq[Long]] = {
    val out = Iterator.continually(done.poll()).takeWhile(_ != null)
      .map { case (id, s, e) => Seq(id.toLong, s, e) }.toSeq
    out.sortBy(_(1))
  }
}

/** Largest heap occupancy right after a GC, from the collectors' own
  * notifications (summed over the heap pools a collection reports).
  */
final class HeapMonitor extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ =>
  }
  override def handleNotification(n: Notification, hb: Any): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { if (used > peak) peak = used }
    }
  /** Peak MB since the previous reset. */
  def reset(): Double = synchronized {
    val r = peak / 1048576.0; peak = 0L; r
  }
}

/** The traced run's recorder: every job with its call site and SQL
  * execution, task totals per stage, and the SQL executions' own call
  * sites (jobs that AQE or a broadcast submits from a Spark thread carry
  * no program frame; their execution does). Kept in memory, dumped once.
  */
final class JobTrace extends SparkListener {
  private final class Stage {
    var tasks, failed = 0L
    var taskMs, delayMs, readB, writeB, spillB = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, java.util.Map[String, Any]]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[Int, Stage]()
  private val executions = new ConcurrentHashMap[Long, java.util.Map[String, Any]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    jobs.put(e.jobId, J.obj("id" -> e.jobId, "start_ms" -> e.time, "end_ms" -> null,
      "execution" -> prop("spark.sql.execution.id").map(_.toLong),
      "stack" -> site, "ok" -> null))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.put("end_ms", e.time)
      j.put("ok", e.jobResult == JobSucceeded)
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val st = stages.computeIfAbsent(e.stageId, _ => new Stage)
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    st.synchronized {
      st.tasks += 1
      if (!i.successful) st.failed += 1
      st.taskMs += i.duration
      m.foreach { t =>
        st.delayMs += math.max(0L, i.duration - t.executorRunTime -
          t.executorDeserializeTime - t.resultSerializationTime -
          (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
        st.readB += t.shuffleReadMetrics.remoteBytesRead + t.shuffleReadMetrics.localBytesRead
        st.writeB += t.shuffleWriteMetrics.bytesWritten
        st.spillB += t.diskBytesSpilled
      }
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      executions.put(s.executionId, J.obj("root" -> s.rootExecutionId.getOrElse(s.executionId),
        "stack" -> s.details))
    case _ =>
  }

  def dump(): java.util.Map[String, Any] = J.obj(
    "jobs" -> jobs.values.asScala.toSeq.sortBy(_.get("id").asInstanceOf[Int]),
    "stages" -> stages.asScala.toSeq.sortBy(_._1).map { case (id, s) =>
      J.obj("id" -> id, "job" -> Option(stageJob.get(id)), "tasks" -> s.tasks,
        "failed" -> s.failed, "task_ms" -> s.taskMs, "delay_ms" -> s.delayMs,
        "read_bytes" -> s.readB, "write_bytes" -> s.writeB, "spill_bytes" -> s.spillB)
    },
    "executions" -> executions.asScala.map { case (k, v) => k.toString -> v })
}

/** StreamingQueryProgress of every micro-batch that read input. */
final class ProgressLog extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[java.util.Map[String, Any]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      batches.add(J.obj("query" -> p.name, "batch" -> p.batchId, "rows" -> p.numInputRows,
        "duration_ms" -> d,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum))
    }
  }
}
