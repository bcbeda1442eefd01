package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark main (driver contract): runs the declared queries on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Methodology (see BASELINE.md "Bench methodology"):
  *  - each query is timed to FULL materialization: the drain aggregates
  *    `xxhash64` over every output column, so Catalyst cannot prune the
  *    projections being measured (a bare `count()` reduces a map-only
  *    expression pipeline to scan+count — the r4 verdict's finding).
  *  - `load_sentinel_*` entries time a fixed reference computation at
  *    start / mid-suite / end; a sentinel far above its known-quiet
  *    value (BASELINE.md) marks the whole run as box-load-polluted.
  *  - `load_sentinel_par_*` (r15) additionally probe parallel CAPACITY
  *    with one long ALU task per core: contention that collapses
  *    many-way throughput while single-task latency stays quiet (the
  *    r13/r14 driver boxes) is visible here and invisible above.
  *  - `load_sentinel_bw_*` (r16) probe parallel memory BANDWIDTH (one
  *    thread per core streaming a shared >LLC array): the contention
  *    mode that inflated wall AND cpu through three rounds while both
  *    probes above read quiet is visible only on the memory bus.
  *  - `retimed` (r16): any query whose wall exceeded 2x its committed
  *    quiet baseline is re-timed ONCE at the end of the run and both
  *    figures reported — re-times-at-baseline self-adjudicates as
  *    contention (bench_compare.py consumes it).
  *  - `queries_cpu_sec` records per-query process-CPU seconds next to
  *    the wall figures: a wall spike without a matching CPU spike marks
  *    that single query as externally contended (BASELINE.md rule) —
  *    finer-grained than the 3-point sentinel.
  *  - `gen_8m_wire_p2`/`_p32` re-measure the generator's partition
  *    scaling (SCALE.md) every round; excluded from `value` (total).
  *  - `driver_max_heap_mb` / `storage_mem_mb` record the JVM heap and
  *    block-manager capacity so persist/spill behavior is comparable
  *    across runs.
  *
  * A synthetic generator-throughput entry (`gen_1m_wire`) times producing
  * 1M wire-format records — comparable against the reference's 630 rec/s
  * default topology (BASELINE.md).
  */
object Bench {

  /** Drain a result to completion with an all-column hash aggregate:
    * every output column feeds xxhash64, so column pruning cannot drop
    * the work being measured, and the single scalar keeps driver traffic
    * nil. (The presentation-sort Exchange can still be elided by the
    * aggregate — ordering work is not part of what the suite claims.)
    */
  private def drain(df: DataFrame): Unit =
    // bit_xor, not sum: ANSI mode makes a long sum of 64-bit hashes an
    // overflow error; xor is overflow-free and order-independent
    df.select(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*)).as("h"))
      .agg(expr("bit_xor(h)")).collect()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.profile(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // min of two timed runs per query: steady-state, robust to GC /
    // compile jitter in the shared JVM
    def timed2(f: => Unit): Double = math.min(time(f), time(f))

    // process-CPU clock (r7, per the r5 verdict): the 3-point sentinel
    // cannot adjudicate per-query wall-time deltas (external load can
    // strike BETWEEN samples). Recording process CPU time next to wall
    // per query makes each query self-diagnosing: external contention
    // steals cores, so wall rises while this process's CPU stays flat —
    // a wall spike WITHOUT a matching cpu spike marks that query
    // contended, not regressed (adjudication rule: BASELINE.md).
    val osBean = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    // min-wall of two runs, with the CPU seconds of the SAME run the
    // wall figure comes from (pairing them keeps the wall/cpu ratio
    // meaningful)
    def timed2Cpu(f: => Unit): (Double, Double) = {
      def one(): (Double, Double) = {
        val c0 = osBean.getProcessCpuTime
        val t0 = System.nanoTime()
        f
        ((System.nanoTime() - t0) / 1e9, (osBean.getProcessCpuTime - c0) / 1e9)
      }
      val a = one(); val b = one()
      if (a._1 <= b._1) a else b
    }

    // fixed reference computation: pure codegen'd arithmetic, no I/O, no
    // shuffle — its runtime depends only on available CPU, so it is a
    // clean probe for external box load (known-quiet value: BASELINE.md)
    def sentinel(): Double =
      timed2(spark.range(200000000L).select(sum(bit_count(col("id")))).collect())

    // parallel-CAPACITY sentinel (r15, per the r14 verdict): the probe
    // above finishes its ~70 ms tasks inside contention gaps and so
    // passed two driver runs whose parallel throughput had collapsed
    // 30x (gen_8m_wire_p32 87.5 s vs 2.89 s quiet while the sentinels
    // read in-band — r13/r14's seven false REGRESSION flags). This one
    // forces EXACTLY one long task per core (defaultParallelism
    // partitions, ~0.6 s/task quiet), so the wall can only be quiet if
    // every core runs CONCURRENTLY for the full window — a box with
    // quiet cores but collapsed parallelism/bandwidth reads far over
    // band (quiet band: BASELINE.md; bench_compare.py downgrades
    // REGRESSION to CONTENTION(capacity) when it is out of band).
    def sentinelPar(): Double = {
      val p = spark.sparkContext.defaultParallelism
      timed2(spark.range(0L, 50000000L * p, 1L, p)
        .select(sum(bit_count(col("id")))).collect())
    }

    // BANDWIDTH sentinel (r16, per the r15 verdict): the par probe above
    // is pure in-cache ALU, so it read in-band through a window where
    // the memory-bus-bound gen_8m_wire_p2 ran 5.4x over quiet (the
    // r13/r14/r15 contention mode — three rounds of false REGRESSION
    // flags). This probe runs one thread per core, each streaming a
    // shared 256 MB long array (>> LLC) at one-load-per-cache-line
    // stride: the wall is set by DRAM bandwidth, the resource the wire
    // generator and the shuffle-heavy queries actually contend on.
    // Plain JVM threads, not Spark tasks: the probe measures the BOX,
    // and scheduling noise would only blur it. Quiet band: BASELINE.md.
    // Each thread streams its OWN 64 MB slice of a 2 GB array (stride =
    // one load per cache line): disjoint slices keep threads from
    // hitting lines a sibling just pulled into shared L3, and the 2 GB
    // combined working set is far over any LLC — the probe reads DRAM.
    lazy val bwArray: Array[Long] = Array.tabulate(256 << 20)(_.toLong)
    def sentinelBw(): Double = {
      val p = spark.sparkContext.defaultParallelism
      val slice = bwArray.length / p
      val sink = new java.util.concurrent.atomic.AtomicLong
      timed2 {
        val threads = (0 until p).map { t =>
          new Thread(() => {
            val lo = t * slice
            val hi = lo + slice
            var s = 0L
            var pass = 0
            while (pass < 8) {
              var i = lo
              while (i < hi) { s += bwArray(i); i += 8 }
              pass += 1
            }
            sink.addAndGet(s) // defeat dead-code elimination
            ()
          })
        }
        threads.foreach(_.start()); threads.foreach(_.join())
      }
    }

    // Steady-state methodology (JMH-style): one untimed warm-up pass over
    // the target dir compiles all whole-stage-codegen classes and JITs the
    // hot paths (cold-vs-warm is ~7x on the expression-heavy dedup
    // queries, and AQE picks scale-dependent join plans, so the warm-up
    // must run at the measured scale); the second pass is the timed one.
    // opt-in iteration filter: SPARK_GRAFT_BENCH_ONLY=x61_ann_pq,x62_...
    // restricts the suite (and skips the generator-scaling legs) so a
    // single operator can be re-timed in seconds; unset = full suite
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def included(name: String): Boolean = only.forall(_.contains(name))

    spark.range(1000000L).select(sum(col("id"))).collect()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (included(name))
        try drain(fn(spark, sfDir)) catch { case _: Throwable => () }
    }
    gen.RecordGen.toWire(gen.RecordGen.records(spark, 100000L, numPartitions = cpus.toInt))
      .select(sum(length(col("value")))).collect()

    val sentinelStart = sentinel()
    val sentinelParStart = sentinelPar()
    val sentinelBwStart = sentinelBw()

    val names = SparkEntry.queries.keys.toSeq.filter(included).sorted
    val (firstHalf, secondHalf) = names.splitAt(names.length / 2)
    def run(ns: Seq[String]) = ns.map { name =>
      val fn = SparkEntry.queries(name)
      val (sec, cpu) = try timed2Cpu(drain(fn(spark, sfDir)))
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); (-1.0, -1.0) }
      name -> (sec, cpu)
    }
    val t1 = run(firstHalf)
    val sentinelMid = sentinel()
    val sentinelParMid = sentinelPar()
    val sentinelBwMid = sentinelBw()
    val t2 = run(secondHalf)
    val queryTimes = (t1 ++ t2).sortBy(_._1)

    val (genSec, genCpu) = timed2Cpu {
      gen.RecordGen.toWire(gen.RecordGen.records(spark, 1000000L, numPartitions = cpus.toInt))
        .select(sum(length(col("value")))).collect()
    }

    // generator partition-scaling datum (r7, per the r5 verdict): the
    // 8M-row 2-vs-32-partition linearity evidence (SCALE.md) re-measured
    // every round. Single pass each (JIT is warm from gen_1m above; the
    // p2 leg alone is ~23 s, min-of-2 would double that for no insight).
    // Emitted OUTSIDE `queries`/total — scaling evidence, not suite cost.
    def genScale(parts: Int): Double = time {
      gen.RecordGen.toWire(gen.RecordGen.records(spark, 8000000L, numPartitions = parts))
        .select(sum(length(col("value")))).collect()
    }
    val gen8p32 = if (only.isEmpty) genScale(32) else -1.0
    val gen8p2 = if (only.isEmpty) genScale(2) else -1.0
    val sentinelEnd = sentinel()
    val sentinelParEnd = sentinelPar()
    val sentinelBwEnd = sentinelBw()

    // AUTO RE-TIME (r16, per the r15 verdict): any query whose wall
    // exceeded 2x its committed quiet baseline gets ONE retry at the
    // end of the run, and BOTH figures are reported — a flagged query
    // that re-times at baseline is self-adjudicating contention (the
    // r13/r14/r15 pattern) and needs no judge rerun; one that stays
    // slow is a real regression with two witnesses. Baseline walls come
    // from the committed BENCH_BASELINE.json (override:
    // SPARK_GRAFT_BENCH_BASELINE); no file -> no retries.
    val baseWalls: Map[String, Double] = {
      val p = sys.env.getOrElse("SPARK_GRAFT_BENCH_BASELINE", "BENCH_BASELINE.json")
      try {
        import org.json4s._
        org.json4s.jackson.JsonMethods.parse(new java.io.File(p)) \ "queries" match {
          case JObject(fs) => fs.collect {
            case (k, JDouble(v)) => k -> v
            case (k, JInt(v)) => k -> v.toDouble
            case (k, JDecimal(v)) => k -> v.toDouble
          }.toMap
          case _ => Map.empty
        }
      } catch { case _: Throwable => Map.empty }
    }
    val retimed = queryTimes.collect {
      case (name, (w, _)) if w >= 0 &&
          baseWalls.get(name).exists(b => b >= 0.2 && w > 2 * b) =>
        val (rw, rc) = try timed2Cpu(drain(SparkEntry.queries(name)(spark, sfDir)))
          catch { case _: Throwable => (-1.0, -1.0) }
        name -> (w, rw, rc)
    }
    val retimedJson = retimed.map { case (k, (w, rw, rc)) =>
      "\"" + k + "\":[" + f"$w%.3f,$rw%.3f,$rc%.3f]"
    }.mkString("{", ",", "}")

    val all = queryTimes :+ ("gen_1m_wire" -> (genSec, genCpu))
    val qs = all.map { case (k, (w, _)) => "\"" + k + "\":" + f"$w%.3f" }
      .mkString("{", ",", "}")
    val qsCpu = all.map { case (k, (_, c)) => "\"" + k + "\":" + f"$c%.3f" }
      .mkString("{", ",", "}")
    // wall+cpu PAIRS for every query over 0.5 s (or errored), compact
    // enough to survive inside the driver's kept 2000-char tail alongside
    // the sentinels — so an expensive query's wall-vs-cpu adjudication
    // (the r8 x24 misread) never depends on the truncated full cpu map up
    // front (threshold lowered 1.0 -> 0.5 in r10 to widen adjudicable
    // coverage; the complete table is in BENCH_FULL.json regardless)
    val hot = all.filter { case (_, (w, _)) => w >= 0.5 || w < 0 }
      .map { case (k, (w, c)) => "\"" + k + "\":[" + f"$w%.3f,$c%.3f]" }
      .mkString("{", ",", "}")
    val total = all.map(_._2._1).filter(_ >= 0).sum
    val heapMb = Runtime.getRuntime.maxMemory / (1024 * 1024)
    val storageMb = spark.sparkContext.getExecutorMemoryStatus.values
      .map(_._1).sum / (1024 * 1024)
    // field order is TRUNCATION-SAFE (r7 verdict): the driver keeps only
    // the LAST 2000 chars of this line, so the adjudication-critical
    // fields come last — the per-query WALL map, then the sentinels,
    // then `total_sec` (duplicating `value`). The full wall map has
    // outgrown 2000 chars (109 queries ≈ 2.9k chars even at 2dp), so no
    // ordering fits ALL walls in the tail; two measures (r10, per the r9
    // brief item 6):
    //  1. the COMPLETE per-query wall+cpu table is WRITTEN UNTRUNCATED
    //     to BENCH_FULL.json next to the repo (path below) — a driver
    //     bench run leaves it in the worktree, the end-of-round commit
    //     picks it up, and the judge reads every entry from the repo;
    //  2. the printed wall map is sorted by DESCENDING wall, so what
    //     truncation drops is the cheapest (least adjudicable) rows, and
    //     the kept tail is the sub-second tail + sentinels + total —
    //     while every >=1 s query already rides in hot_wall_cpu with its
    //     cpu pair. The CPU map and metadata ride up front where
    //     truncation can only cost diagnostics, never invert a
    //     wall-vs-cpu reading (the r7 phantom-regression misread).
    val byCost = all.sortBy { case (_, (w, _)) => -w }
    val qsByCost = byCost.map { case (k, (w, _)) => "\"" + k + "\":" + f"$w%.3f" }
      .mkString("{", ",", "}")
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL",
      "BENCH_FULL.json")
    val fullJson = f"""{"metric":"total","value":$total%.3f,"unit":"sec","sf":"$sfDir","drain":"xxhash64_all_columns","driver_max_heap_mb":$heapMb,"storage_mem_mb":$storageMb,"gen_8m_wire_p2":$gen8p2%.3f,"gen_8m_wire_p32":$gen8p32%.3f,"load_sentinel_start":$sentinelStart%.3f,"load_sentinel_mid":$sentinelMid%.3f,"load_sentinel_end":$sentinelEnd%.3f,"load_sentinel_par_start":$sentinelParStart%.3f,"load_sentinel_par_mid":$sentinelParMid%.3f,"load_sentinel_par_end":$sentinelParEnd%.3f,"load_sentinel_bw_start":$sentinelBwStart%.3f,"load_sentinel_bw_mid":$sentinelBwMid%.3f,"load_sentinel_bw_end":$sentinelBwEnd%.3f,"retimed":$retimedJson,"queries":$qs,"queries_cpu_sec":$qsCpu}"""
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(fullPath),
      fullJson + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] full-map write failed: ${e.getMessage}") }
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","sf":"$sfDir","drain":"xxhash64_all_columns","full_map":"$fullPath","driver_max_heap_mb":$heapMb,"storage_mem_mb":$storageMb,"gen_8m_wire_p2":$gen8p2%.3f,"gen_8m_wire_p32":$gen8p32%.3f,"queries_cpu_sec":$qsCpu,"queries":$qsByCost,"hot_wall_cpu":$hot,"load_sentinel_start":$sentinelStart%.3f,"load_sentinel_mid":$sentinelMid%.3f,"load_sentinel_end":$sentinelEnd%.3f,"load_sentinel_par_start":$sentinelParStart%.3f,"load_sentinel_par_mid":$sentinelParMid%.3f,"load_sentinel_par_end":$sentinelParEnd%.3f,"load_sentinel_bw_start":$sentinelBwStart%.3f,"load_sentinel_bw_mid":$sentinelBwMid%.3f,"load_sentinel_bw_end":$sentinelBwEnd%.3f,"retimed":$retimedJson,"total_sec":$total%.3f}""")
    spark.stop()
  }
}
