package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (`tools/check_oracle.py`).
  * A query that throws is reported as `[verify] <name> failed: ...` and
  * the dump carries on; once oracle_sql.json is written the run prints
  * `[verify] FAILED: <names>` and exits 1.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.profile(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // opt-in filter (builder iteration): SPARK_GRAFT_VERIFY_ONLY=x78,...
    // dumps only the named queries; unset = the full declared catalog
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.forall(_.contains(name)))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          failed += name
        }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] FAILED: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
