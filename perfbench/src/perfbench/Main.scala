package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** One workload of the benchmark, driven by [[Main]]. */
trait Workload {
  /** Set-up rounds (fixture reads, standing state, warm-up); seconds each. */
  def setup(): Seq[Double]
  /** One measured operation; returns its output for the result checks. */
  def op(traced: Boolean): Any
  /** Data recorded after measuring (input hash, totals). */
  def finish(): Map[String, Any] = Map.empty
}

/** JVM side of the benchmark: starts the session, runs one workload's
  * set-up and measured operations, and writes the raw record (times,
  * outputs, optional trace) as JSON for `perfbench/run.py` to check and
  * summarize.
  *
  * Args: --workload <name> --seed <n> --ops <n> --batches <n> --trace <0|1>
  *       --work <scratch dir> --fixture <dir> --out <file.json>
  */
object Main {

  def session(work: String, cores: Int): SparkSession = SparkSession.builder()
    .appName("perfbench")
    .master(s"local[$cores]")
    // the graft.Bench session profile
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "8k")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // keep every file the run writes inside its scratch dir
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .getOrCreate()

  private val volatileConf = Set("spark.app.id", "spark.app.startTime",
    "spark.app.submitTime", "spark.driver.host", "spark.driver.port",
    "spark.executor.id", "spark.driver.extraJavaOptions",
    "spark.executor.extraJavaOptions", "spark.local.dir", "spark.sql.warehouse.dir")

  def environment(spark: SparkSession): java.util.Map[String, Any] = {
    val rt = ManagementFactory.getRuntimeMXBean
    val conf = (spark.sparkContext.getConf.getAll.toMap ++ spark.conf.getAll)
      .filter { case (k, _) => !volatileConf(k) && !k.startsWith("spark.hadoop.") }
    J.obj(
      "cores" -> Runtime.getRuntime.availableProcessors,
      "master" -> spark.sparkContext.master,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "jvm_args" -> rt.getInputArguments.asScala.filterNot(_.startsWith("--add-opens")),
      "spark_conf" -> scala.collection.immutable.TreeMap(conf.toSeq: _*))
  }

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(o("work"), cores)
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val sc = spark.sparkContext
    val clock = new JobClock
    sc.addSparkListener(clock)
    val heap = new HeapMonitor
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val seed = o("seed").toLong
    val work: Workload = o("workload") match {
      case "datagen_loop" => new DatagenLoop(spark, o("work"), seed, o("batches").toInt)
      case "assembly_refresh" => new AssemblyRefresh(spark, o("fixture"))
      case w => sys.error(s"unknown workload $w")
    }

    val jit = ManagementFactory.getCompilationMXBean
    def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    def codegens = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    def measure(traced: Boolean): java.util.Map[String, Any] = {
      Bus.drain(sc); clock.take(); heap.reset()
      val (jit0, gc0, cg0) = (jit.getTotalCompilationTime, gcMs, codegens)
      val trace = if (traced) Some(new JobTrace) else None
      trace.foreach(sc.addSparkListener)
      val startMs = System.currentTimeMillis()
      val c0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      val out = work.op(traced)
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (os.getProcessCpuTime - c0) / 1e9
      Bus.drain(sc)
      trace.foreach(sc.removeSparkListener)
      val heapMb = heap.reset()
      J.obj("traced" -> traced, "wall_s" -> wall, "cpu_s" -> cpu,
        "start_ms" -> startMs, "end_ms" -> (startMs + (wall * 1e3).round),
        "heap_peak_mb" -> heapMb, "gc_s" -> (gcMs - gc0) / 1e3,
        "jit_s" -> (jit.getTotalCompilationTime - jit0) / 1e3, "codegens" -> (codegens - cg0),
        "jobs" -> clock.take(),
        "trace" -> trace.map(_.dump()), "output" -> out)
    }

    try {
      val rounds = work.setup()
      val n = o("ops").toInt
      // traced runs put each traced op between two untraced ones, so the
      // tracing overhead is not confounded with warm-up
      val ops = if (o("trace") == "1") (0 to 2 * n).map(i => measure(traced = i % 2 == 1))
        else (1 to n).map(_ => measure(traced = false))
      J.write(o("out"), J.obj(
        "workload" -> o("workload"), "seed" -> seed,
        "env" -> environment(spark),
        "session_s" -> sessionS, "setup_rounds_s" -> rounds,
        "ops" -> ops, "extra" -> work.finish()))
    } finally spark.stop()
  }
}
