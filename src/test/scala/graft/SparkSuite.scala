package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run
  * sequentially in sbt's forked test JVM).
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** `f`'s result and the number of Spark jobs it started. */
  def withJobCount[T](f: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val out = graft.tools.Executions.fenced(spark, new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (!graft.tools.Executions.isFence(e)) { jobs.incrementAndGet(); () }
    })(f)
    (out, jobs.get)
  }

  /** `f`'s result and the SQL executions it started (action and
    * physical plan), read after the listener bus delivered them all.
    */
  def withExecutions[T](f: => T): (T, Seq[graft.tools.Executions.Execution]) =
    graft.tools.Executions.captured(spark)(f)
}

object SparkSuite {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
