package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.functions._

/** Per-job latency breakdown for one or more declared queries — the
  * measurement side of the optimization rounds (guide §1: find whether a
  * query's wall is a few big stages or many small sequential jobs).
  *
  * Run: sbt "runMain graft.tools.ProbeJobs <sfDir> <query>[,<query>...]"
  *
  * Methodology mirrors graft.Bench: same session profile, one untimed
  * warm-up drain (JIT + artifact builds), then ONE timed drain with a
  * listener recording every job's wall, task count and description.
  * Output: per-job rows (ordered by start), then the wall total vs the
  * sum of job walls (the gap ≈ driver-side planning/collect time).
  */
object ProbeJobs {

  private final case class JobRow(id: Int, start: Long, end: Long,
                                  tasks: Int, stages: Int, desc: String)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1).map(_.split(",").toSeq)
      .getOrElse(Seq("x121_web_ccnet_refresh"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.profile(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    def drain(df: org.apache.spark.sql.DataFrame): Unit =
      df.select(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*)).as("h"))
        .agg(expr("bit_xor(h)")).collect()

    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      drain(fn(spark, sfDir)) // warm-up: JIT + artifact memo fills

      val rows = new java.util.concurrent.ConcurrentHashMap[Int, JobRow]()
      val stageNames = new java.util.concurrent.ConcurrentHashMap[Int, String]()
      val stageTimes = new java.util.concurrent.ConcurrentHashMap[Int, Double]()
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int, String)]()
      val taskCounts = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicInteger]()
      val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
      val listener = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit = {
          val desc = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            // callSite.short survives Par-thread submission where the
            // stage name collapses to the FutureTask frame (r19)
            .orElse(Option(js.properties)
              .flatMap(p => Option(p.getProperty("callSite.short"))))
            .orElse(js.stageInfos.lastOption.map(_.name))
            .getOrElse("")
          js.stageInfos.foreach(si => stageNames.put(si.stageId,
            si.name + " | " + si.details.linesIterator
              .filter(l => l.contains("graft") && !l.contains("ProbeJobs"))
              .take(3).mkString(" <- ")))
          starts.put(js.jobId, (js.time, js.stageIds.size, desc))
          js.stageIds.foreach(sid => stageToJob.put(sid, js.jobId))
          taskCounts.put(js.jobId, new java.util.concurrent.atomic.AtomicInteger(0))
        }
        override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
          val j = stageToJob.get(te.stageId)
          val c = taskCounts.get(j)
          if (c != null) { c.incrementAndGet(); () }
          stageTimes.merge(te.stageId,
            te.taskInfo.duration / 1e3, (a, b) => a + b)
        }
        override def onJobEnd(je: SparkListenerJobEnd): Unit = {
          val (t0, nStages, desc) = starts.getOrDefault(je.jobId, (je.time, 0, ""))
          val n = Option(taskCounts.get(je.jobId)).map(_.get).getOrElse(0)
          rows.put(je.jobId, JobRow(je.jobId, t0, je.time, n, nStages, desc))
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      drain(fn(spark, sfDir))
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)

      import scala.jdk.CollectionConverters._
      val ordered = rows.values.asScala.toSeq.sortBy(_.start)
      println(s"== $name: wall=${f"$wall%.3f"}s jobs=${ordered.size}")
      val base = ordered.headOption.map(_.start).getOrElse(0L)
      ordered.foreach { r =>
        val d = (r.end - r.start) / 1e3
        val off = (r.start - base) / 1e3
        println(f"  job=${r.id}%4d +$off%7.2fs dur=$d%7.3fs stages=${r.stages}%2d tasks=${r.tasks}%4d ${r.desc.take(80)}")
      }
      println("  -- slowest stages by summed task time:")
      stageTimes.asScala.toSeq.sortBy(-_._2).take(8).foreach { case (sid, t) =>
        println(f"  stage=$sid%4d taskSum=$t%8.3fs ${stageNames.getOrDefault(sid, "").take(220)}")
      }
      val jobSum = ordered.map(r => (r.end - r.start) / 1e3).sum
      // serial gap: wall minus the union of job intervals (overlap-aware)
      val merged = ordered.map(r => (r.start, r.end)).sortBy(_._1)
        .foldLeft(List.empty[(Long, Long)]) {
          case (acc @ ((s0, e0) :: rest), (s, e)) =>
            if (s <= e0) (s0, math.max(e0, e)) :: rest else (s, e) :: acc
          case (Nil, iv) => iv :: Nil
        }
      val covered = merged.map { case (s, e) => (e - s) / 1e3 }.sum
      println(f"  job-wall sum=$jobSum%.3f s, covered=$covered%.3f s, driver gap=${wall - covered}%.3f s")
    }
    spark.stop()
  }
}
