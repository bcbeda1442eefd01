package graft.ext

/** Overlap independent Spark action chains from the driver (guide
  * §2.6: Spark happily runs several jobs at once inside one
  * application — actions are only sequential because driver code calls
  * them sequentially).
  *
  * The refresh-duality queries (x85/x112/x114/x121/x131/x136/x137) run
  * an INCREMENTAL leg and a FROM-SCRATCH REBUILD leg that are
  * independent until the final compare — the driver compare of the two
  * collected key-sized readouts (x85/x112/x114/x121/x131/x137), or a
  * distributed join of per-document rows (x136) — but each leg's
  * construction fires eager materializations (localCheckpoints, gate
  * counts, iterative cluster rounds) — built sequentially, the query's
  * wall is refresh + rebuild while most cores idle through each leg's
  * stage tails. Building the two legs on two driver threads overlaps
  * them: identical computations and results, wall ≈ max(refresh,
  * rebuild), the cluster back-fills one leg's idle capacity with the
  * other's tasks (measured r18: x121 19.2 → see OPTIMIZATION_r18.md).
  */
object Par {

  /** Evaluate `a` and `b` concurrently (b on a pooled thread, a on the
    * caller's), return both. Exceptions from either propagate.
    */
  def both[A, B](a: => A)(b: => B): (A, B) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fb = Future(b)
    val ra = a
    (ra, Await.result(fb, Duration.Inf))
  }
}
