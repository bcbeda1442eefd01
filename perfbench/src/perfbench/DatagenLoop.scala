package perfbench

import graft.gen.RecordGen
import graft.health.{Liveness, ProgressBridge}
import graft.streaming.{StreamCounters, Truncation}
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import scala.collection.mutable

/** datagen_loop: the reference's generator → wire → consumer → counters →
  * progress monitor → liveness job as a closed loop over fresh queries.
  * The loop first generates all its batches in one job
  * (`RecordGen.records` → `toWire` → one parquet file per batch, the
  * stand-in for Kafka), then publishes them one at a time, each only
  * after both consumer queries have committed the previous one:
  *  - `counts`: `parseWire` → `StreamCounters.runningCounts` (state
  *    store), and per batch `Truncation.plan`/`execute` with a recording
  *    action;
  *  - `monitor`: the counters' per-batch deltas →
  *    `StreamCounters.progressMonitor` on a virtual clock, and per batch
  *    `ProgressBridge.update`/`check` and `Liveness.statusJson`.
  * A record whose key, timestamp or payload does not survive the
  * round-trip is counted under the cluster `parse-error`, so the counter
  * check also checks parsing. Every batch's counters, truncations and
  * liveness are recorded for the checks in `perfbench/checks.py`.
  */
final class DatagenLoop(spark: SparkSession, work: String, seed: Long,
                        batchesPerOp: Int) extends Workload {
  import DatagenLoop._

  private var runs = 0

  /** The loop's session: the benchmark profile, except that the counter
    * state (12 keys) lives in StatePartitions state-store partitions, not
    * one per core: each partition's commit is a fixed per-batch cost. */
  private val streams = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
    s
  }

  private val wireSchema =
    RecordGen.toWire(RecordGen.records(spark, 1L, numPartitions = 1)).schema

  /** Fresh directories, fresh queries. */
  private final class Loop(traced: Boolean) {
    runs += 1
    private val dir = s"$work/datagen/run$runs"
    private val wireDir = s"$dir/wire"
    Files.createDirectories(Paths.get(wireDir))
    private val clockMs = new AtomicLong(baseEpochSec * 1000L)
    @volatile private var current = -1
    @volatile private var publishedNs = 0L
    private val earliest = mutable.Map.empty[(String, Int), Long]
    private val prevCount = mutable.Map.empty[(String, String, Int), Long]
    val batches = mutable.ArrayBuffer.empty[java.util.Map[String, Any]]
    private def rec = batches(current)

    private val action = new Truncation.TruncateAction {
      def deleteRecords(topic: String, partition: Int, beforeOffset: Long): Unit = {
        rec.get("truncations").asInstanceOf[java.util.List[Any]]
          .add(J.conv(Seq(topic, partition, beforeOffset)))
        earliest((topic, partition)) = beforeOffset
      }
    }

    private def onCounts(df: DataFrame): Unit = {
      val rows = df.collect().map(r =>
        (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3))).toSeq
      rec.put("counts", J.conv(rows.map { case (c, t, p, n) => Seq(c, t, p, n) }))
      import spark.implicits._
      val offsets = rows.collect { case (`cluster`, t, p, n) =>
        (t, p, earliest.getOrElse((t, p), 0L), n, n)
      }.toDF("topic", "partition", "earliest", "latest", "currentOffset")
      val t0 = System.nanoTime()
      Truncation.execute(Truncation.plan(offsets), action)
      val t1 = System.nanoTime()
      rec.put("truncate_ms", (t1 - t0) / 1e6)
      rec.put("counters_ms", (t1 - publishedNs) / 1e6)
      // the monitor watches the counters move, as the reference's
      // CounterProgressCheck polls its counter tables
      counterDeltas.addData(rows.map { case (c, t, p, n) =>
        val d = n - prevCount.getOrElse((c, t, p), 0L)
        prevCount((c, t, p)) = n
        StreamCounters.CounterEvent(c, t, p, d, clockMs.get)
      })
    }

    private val bridge = new ProgressBridge
    private def onStatus(ds: Dataset[StreamCounters.ProgressStatus]): Unit = {
      val snap = ds.collect().toSeq
      val t0 = System.nanoTime()
      bridge.update(snap)
      val t1 = System.nanoTime()
      val check = bridge.check("consumer-progress")
      val json = Liveness.statusJson(Seq(check))
      val t2 = System.nanoTime()
      rec.put("health", J.obj("up" -> check.up,
        "status_up" -> json.startsWith("""{"status":"UP""""),
        "records" -> check.data("records").toLong,
        "partitions" -> check.data("partitions").toInt))
      rec.put("update_ms", (t1 - t0) / 1e6)
      rec.put("check_ms", (t2 - t1) / 1e6)
      rec.put("liveness_ms", (t2 - publishedNs) / 1e6)
    }

    private val progress = if (traced) Some(new ProgressLog) else None
    progress.foreach(streams.streams.addListener)

    private val counterDeltas = {
      implicit val ctx: org.apache.spark.sql.SQLContext = streams.sqlContext
      import streams.implicits._
      MemoryStream[StreamCounters.CounterEvent]
    }

    private val queries: Seq[StreamingQuery] = {
      val wire = streams.readStream.schema(wireSchema).parquet(wireDir)
      val keysOk = col("key.storeId").isNotNull && col("key.operatorId").isNotNull &&
        col("key.messageId").isNotNull
      val tsOk = to_timestamp(col("value.timestamp"), TsFormat).isNotNull
      val payloadOk = length(unbase64(col("value.payload"))) === PayloadBytes
      val consumed = RecordGen.parseWire(wire).withColumn("cluster",
        when(coalesce(keysOk && tsOk && payloadOk, lit(false)), lit(cluster))
          .otherwise(lit("parse-error")))
      val counts = StreamCounters.runningCounts(consumed)
        .select("cluster", "topic", "partition", "count")
        .writeStream.queryName("counts").outputMode("update")
        .option("checkpointLocation", s"$dir/ckpt-counts")
        .foreachBatch((df: DataFrame, _: Long) => onCounts(df))
        .start()
      val clock = clockMs // the task closure captures this serializable cell only
      val monitor = StreamCounters.progressMonitor(counterDeltas.toDS(), () => clock.get,
        enableTimeout = false)(streams)
        .writeStream.queryName("monitor").outputMode("update")
        .option("checkpointLocation", s"$dir/ckpt-monitor")
        .foreachBatch((ds: Dataset[StreamCounters.ProgressStatus], _: Long) => onStatus(ds))
        .start()
      Seq(counts, monitor)
    }

    private var staged: IndexedSeq[java.nio.file.Path] = IndexedSeq.empty

    /** Generate `n` batches in one job: `RecordGen.records` over ids
      * [0, n * RecordsPerBatch) in `Partitions` contiguous slices, each
      * slice written in files of RecordsPerBatch records, so file k holds
      * the ids of batch k (n is a multiple of `Partitions`). */
    def produce(n: Int): Unit = {
      require(n % Partitions == 0, s"$n batches do not split into $Partitions slices")
      val t0 = System.nanoTime()
      val out = s"$dir/stage"
      RecordGen.toWire(RecordGen.records(spark, n.toLong * RecordsPerBatch, seed = seed,
        numPartitions = Partitions, baseEpochSec = baseEpochSec))
        .write.option("maxRecordsPerFile", RecordsPerBatch.toLong).parquet(out)
      staged = Files.list(Paths.get(out)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.getFileName.toString)
        .toIndexedSeq
      require(staged.size == n, s"expected $n batch files, got ${staged.size}")
      produceMs = (System.nanoTime() - t0) / 1e6
    }
    var produceMs = 0.0

    /** Publish batch `b`, then wait until both queries have committed it.
      * The batch's latency runs from the publishing rename to the liveness
      * update that follows its counter update. */
    def step(b: Int): Unit = {
      val bytes = Files.size(staged(b))
      batches += J.obj("batch" -> b, "records" -> RecordsPerBatch, "wire_bytes" -> bytes,
        "truncations" -> new java.util.ArrayList[Any]())
      current = batches.size - 1
      clockMs.set((baseEpochSec + (b + 1L) * RecordsPerBatch) * 1000L)
      // one rename publishes the whole batch to the file source at once
      Files.move(staged(b), Paths.get(f"$wireDir/b$b%06d.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
      publishedNs = System.nanoTime()
      queries.foreach(_.processAllAvailable())
      rec.put("step_ms", (System.nanoTime() - publishedNs) / 1e6)
    }

    def stop(): java.util.Map[String, Any] = {
      queries.foreach(_.stop())
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      progress.foreach(streams.streams.removeListener)
      J.obj("produce_ms" -> produceMs, "batches" -> batches,
        "progress" -> progress.map(p => p.batches.toArray.toSeq))
    }

    def inputHash: Long = spark.read.schema(wireSchema).parquet(wireDir)
      .select(xxhash64(wireSchema.fieldNames.toIndexedSeq.map(col): _*).as("h"))
      .agg(expr("bit_xor(h)")).head().getLong(0)
  }

  private var last: Loop = _

  def setup(): Seq[Double] = (1 to SetupRounds).map { _ =>
    val t0 = System.nanoTime()
    val l = new Loop(traced = false)
    l.produce(Partitions)
    (0 until WarmBatches).foreach(l.step)
    l.stop()
    (System.nanoTime() - t0) / 1e9
  }

  def op(traced: Boolean): Any = {
    val l = new Loop(traced)
    l.produce(batchesPerOp)
    (0 until batchesPerOp).foreach(l.step)
    last = l
    l.stop()
  }

  override def finish(): Map[String, Any] = Map(
    "input_hash" -> java.lang.Long.toHexString(last.inputHash),
    "records_per_batch" -> RecordsPerBatch, "partitions" -> Partitions,
    "topics" -> RecordGen.topicNames(1, 1).take(3),
    "max_depth" -> Truncation.defaultMaxDepth, "cluster" -> cluster,
    "payload_bytes" -> PayloadBytes, "state_partitions" -> StatePartitions)
}

object DatagenLoop {
  val RecordsPerBatch = 2000
  val Partitions = 4
  val PayloadBytes = 500
  val SetupRounds = 3
  val WarmBatches = 1
  val StatePartitions = 1
  val baseEpochSec = 1704067200L
  val cluster = "bench"
  val TsFormat = "yyyy-MM-dd'T'HH:mm:ss'Z'"
}
