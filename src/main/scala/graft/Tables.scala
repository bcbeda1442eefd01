package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loader for the driver-provided parquet fixtures (TESTDATA.md). */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Normalizes `events.ts` to session-TZ TIMESTAMP regardless of the
    * fixture's physical encoding, so every downstream operator can rely on
    * `unix_micros(ts)` / `cast(ts as long)` being well-defined:
    *
    *  - parquet TIMESTAMP(NANOS): Spark 4 rejects it outright
    *    ([PARQUET_TYPE_ILLEGAL]); read nanos as long via the legacy flag and
    *    floor-divide to micros — identical to DuckDB's
    *    `timestamp_ns::timestamp` truncation.
    *  - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): arrives as
    *    TIMESTAMP_NTZ; cast to TIMESTAMP. Session TZ is pinned UTC
    *    (build.sbt), so the wall-clock reinterpretation is the identity and
    *    matches DuckDB's naive-timestamp reading bit-exactly.
    *  - parquet TIMESTAMP(MICROS, isAdjustedToUTC=true): already TIMESTAMP;
    *    pass through.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    val df = stamp(spark, path) match {
      case Some(st) =>
        val session = org.apache.spark.sql.GraftColumns.sessionUUID(spark)
          .getOrElse(String.valueOf(System.identityHashCode(spark)))
        spark.read.schema(schemas.computeIfAbsent((session, path, st),
          _ => spark.read.parquet(path).schema)).parquet(path)
      case None => spark.read.parquet(path)
    }
    if (name == "events") df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    } else df
  }

  /** Inferred parquet schemas by (session, path, [[stamp]]): inference
    * runs a footer-reading job, so a query that loads the same table
    * again skips it. A rewritten file changes its stamp and infers anew.
    */
  private val schemas = new java.util.concurrent.ConcurrentHashMap[
    (String, String, (Long, Long)), StructType]()

  /** (total bytes, latest modification time) of the files under `path`,
    * or None when it does not exist (the plain read then reports it).
    */
  private def stamp(spark: SparkSession, path: String): Option[(Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val files = fs.listFiles(p, true)
      var (bytes, mtime) = (0L, 0L)
      while (files.hasNext) {
        val f = files.next()
        bytes += f.getLen
        mtime = math.max(mtime, f.getModificationTime)
      }
      Some((bytes, mtime))
    }
  }
}
