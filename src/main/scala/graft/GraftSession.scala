package graft

import org.apache.spark.sql.SparkSession

/** The one session profile of the production entry points (Bench,
  * Verify, Smoke, ProbeJobs, Plans, ScaleCheck, BoundProbe), so what
  * Verify checks, what Plans writes, what ScaleCheck scales and what
  * Bench times run under the same settings.
  */
object GraftSession {

  /** A local session on `cpus` cores with as many shuffle partitions,
    * AQE on, the session time zone pinned to UTC (what the DuckDB
    * oracle uses) and no UI.
    *
    * The AQE coalescing floor keeps small post-shuffle stages PARALLEL:
    * the default 1 MB floor collapses the expression-heavy text stages
    * (LM scoring, extraction, encode) to 1-3 tasks on compressed sub-MB
    * fixture shuffles while each carries seconds of per-row CPU.
    * Scale-adaptive by construction: parallelismFirst sizes partitions
    * at totalBytes/parallelism, so on any real shuffle (>> 8 KB × cores)
    * this floor is inert. `SPARK_GRAFT_AQE_MIN_PARTITION` overrides it
    * for cluster profiles and floor A/B runs. r19: 64k -> 8k after the
    * refresh-family probe still showed 0.3-1.2 s single-task stages on
    * slim-but-CPU-heavy frames (A/B: x131 18.2 -> 12.4 s at 8k; 1k
    * measured WORSE — scheduling overhead passes the win).
    */
  def profile(cpus: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_AQE_MIN_PARTITION", "8k"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
