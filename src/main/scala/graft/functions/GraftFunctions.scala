package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL registration for the engine's custom expressions, so
  * `spark.sql("SELECT cosine_sim(a, b) ...")` works:
  *
  *  - `GraftFunctions.register(spark)` — temp functions on an existing
  *    session (tests, notebooks);
  *  - `graft.GraftExtensions` via
  *    `spark.sql.extensions=graft.GraftExtensions` — injected at session
  *    build (production clusters).
  */
object GraftFunctions {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Number, _) => v.intValue()
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def boolLit(e: Expression, what: String): Boolean = e match {
    case Literal(v: Boolean, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be a boolean literal, got $other")
  }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> (args => CosineSimilarity(args(0), args(1))),
    "word_shingles" -> (args => WordShingles(args(0), intLit(args(1), "k"))),
    // the per-document curation / MinHash / LSH kernels
    "curation_scores" -> (args => CurationScores(args(0))),
    "minhash_signature" -> (args => MinhashSignature(args(0),
      intLit(args(1), "numHashes"),
      args.length > 2 && boolLit(args(2), "portable"))),
    "lsh_band_buckets" -> (args => LshBandBuckets(args(0),
      intLit(args(1), "bands"), intLit(args(2), "rowsPerBand"))),
    "simhash64" -> (args => SimHash64(args(0))),
    "media_probe" -> (args => MediaProbe(args(0))),
    "deterministic_base64" -> (args =>
      DeterministicBase64(args(0), args(1),
        if (args.length > 2) intLit(args(2), "numBytes") else 500)),
    // aggregates: the analyzer wraps AggregateFunctions automatically
    "top_k_by_score" -> (args => TopKByScore(args(0), args(1), args(2))),
    "greatest_row" -> (args => GreatestRow(args(0))),
    // frequent-items sketches (the family with no Spark built-in)
    "freq_sketch_agg" -> (args => FreqSketch.FreqSketchAgg(args(0),
      if (args.length > 1) intLit(args(1), "maxMapSize") else 1024)),
    "freq_merge_agg" -> (args => FreqSketch.FreqMergeAgg(args(0),
      if (args.length > 1) intLit(args(1), "maxMapSize") else 1024)),
    "freq_estimate" -> (args => FreqSketch.FreqEstimate(args(0), args(1))),
    "freq_max_error" -> (args => FreqSketch.FreqMaxError(args(0))),
    "freq_items" -> (args => FreqSketch.FreqItems(args(0))))

  /** Register as temp functions on an existing session. */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}
