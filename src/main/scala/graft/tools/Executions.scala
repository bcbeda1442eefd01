package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** What a block of driver code ran, read back from the listener bus:
  * the SQL executions it started, with their physical plans. Plan gates
  * (PlanSpec, [[Plans]]) read these rather than a plan built only for
  * inspection, so an operator that checkpoints its result is gated on
  * the plan its checkpoint ran.
  */
object Executions {

  /** One SQL execution: its action (`localCheckpoint`, `collect`, …) and
    * the physical plan it ran.
    */
  final case class Execution(action: String, plan: SparkPlan)

  private val FenceKey = "graft.executions.fence"

  /** True for the start of the job [[fenced]] runs after its block;
    * listeners that count jobs skip it.
    */
  def isFence(e: SparkListenerJobStart): Boolean =
    Option(e.properties).exists(_.getProperty(FenceKey) != null)

  /** `f` with `listener` on the shared listener queue, returning once
    * the bus has delivered every event `f` caused. Events arrive
    * asynchronously but in order: once a marked job run after `f` is
    * seen, every earlier event has been delivered.
    */
  def fenced[T](spark: SparkSession, listener: SparkListener)(f: => T): T = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.CountDownLatch(1)
    val fence = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (isFence(e)) seen.countDown()
    }
    sc.addSparkListener(listener)
    sc.addSparkListener(fence)
    try {
      val out = f
      sc.setLocalProperty(FenceKey, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(FenceKey, null)
      require(seen.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus never delivered the fence job")
      out
    } finally {
      sc.removeSparkListener(fence)
      sc.removeSparkListener(listener)
    }
  }

  // the plans driver code ran as RDDs of their rows (`Hints.rows`: the
  // driver's bounded collects and counts), which post no SQL execution;
  // recorded while a capture is on
  private val rowRuns =
    new java.util.concurrent.atomic.AtomicReference[java.util.Queue[QueryExecution]]()

  /** Report a plan whose rows driver code runs in a job of its own. */
  private[graft] def ranRows(qe: QueryExecution): Unit = {
    val q = rowRuns.get
    if (q != null) q.add(qe)
  }

  /** `f`'s result and the SQL executions it started, in the order they
    * ended, then the plans it ran through `Hints.rows` (action `rows`),
    * in the order they were built. Eager and lazy `localCheckpoint` each
    * post one, carrying the whole plan the checkpoint ran.
    */
  def captured[T](spark: SparkSession)(f: => T): (T, Seq[Execution]) = {
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val outer = rowRuns.getAndSet(rows)
    val runs = new java.util.concurrent.ConcurrentLinkedQueue[Execution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        runs.add(Execution(action, qe.executedPlan))
      override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit =
        runs.add(Execution(action, qe.executedPlan))
    }
    // the execution listeners are served from the same shared queue as
    // the fence, so the fence also orders their deliveries
    spark.listenerManager.register(listener)
    try {
      val out = fenced(spark, new SparkListener {})(f)
      import scala.jdk.CollectionConverters._
      (out, runs.asScala.toSeq ++ rows.asScala.map(qe => Execution("rows", qe.executedPlan)))
    } finally {
      spark.listenerManager.unregister(listener)
      rowRuns.set(outer)
    }
  }

  /** Every node `plan` runs, pre-order with its depth: adaptive plans
    * are read in their initial form (before runtime re-planning, as
    * `explain` shows them), and a cached relation's scan is followed
    * into the plan that fills the cache.
    */
  def nodes(plan: SparkPlan): Seq[(Int, SparkPlan)] = {
    def walk(p: SparkPlan, depth: Int): Seq[(Int, SparkPlan)] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.initialPlan, depth)
      case r: ReusedExchangeExec => (depth, r) +: walk(r.child, depth + 1)
      case m: InMemoryTableScanExec =>
        (depth, m) +: walk(m.relation.cachedPlan, depth + 1)
      case _ => (depth, p) +: (p.children ++ p.subqueries)
        .flatMap(walk(_, depth + 1))
    }
    walk(plan, 0)
  }

  /** [[nodes]] as text, one indented `explain`-style line per node. */
  def text(plan: SparkPlan): String =
    nodes(plan).map { case (d, p) =>
      "   " * d + "+- " + p.simpleString(Int.MaxValue) + "\n"
    }.mkString
}
