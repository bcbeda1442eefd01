package graft.tools

import graft.Tables
import graft.ext.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Provenance probe for the property-oracle bounds (round 7): measures,
  * per fixture SF, the actual error/recall of every approximate operator
  * that the declared property queries bound-check, so the bounds in
  * `Declared` are chosen from measured data WITH margin — not reverse-
  * engineered from the system's own output at one SF (the circularity
  * ADVICE warns about). Output is cited in BASELINE.md ("Property-oracle
  * provenance").
  *
  * Usage: sbt "runMain graft.tools.BoundProbe" — on the `GraftSession`
  * profile with `SPARK_GRAFT_CPUS` cores (default 32).
  */
object BoundProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.profile(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")

    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      println(s"==== $sf ====")

      // x04: HLL++ (default rsd 0.05) relative error per event_type
      val ev = Tables.load(spark, dir, "events")
      val x04 = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("nd"),
          approx_count_distinct(col("user_id")).as("nda"))
        .withColumn("rel_err", abs(col("nda") - col("nd")) / col("nd"))
        .agg(max("rel_err")).collect()(0).getDouble(0)
      println(f"x04 max rel_err = $x04%.4f")

      // x57: DataSketches HLL (lgK=12) — roll-up (two-level) union vs
      // one-level union estimate equality (must be exact: register-wise
      // max is associative) and relative error vs the exact count, at
      // each SF. Also printed: the whole-corpus direct sketch, to
      // document the claim we do NOT make (at small cardinality a
      // direct sketch stays coupon-exact while the union gadget is
      // dense-HLL — both inside the error bound, not equal)
      val docsX57 = Tables.load(spark, dir, "documents")
        .filter(col("doc_id").isNotNull)
      val r57 = {
        val parts = graft.ext.Sketches.hllPerGroup(docsX57, "lang", "doc_id")
        parts.persist()
        val e1 = parts.agg(graft.ext.Sketches.hllUnionEstimate().as("e"))
          .collect()(0).getLong(0)
        val e2 = parts.groupBy((col("lang") < "f").as("shard"))
          .agg(graft.ext.Sketches.hllUnion().as("sketch"))
          .agg(graft.ext.Sketches.hllUnionEstimate().as("e"))
          .collect()(0).getLong(0)
        val ew = docsX57.agg(hll_sketch_estimate(
          hll_sketch_agg(col("doc_id"), lit(12))).as("e"))
          .collect()(0).getLong(0)
        val ex = docsX57.select(countDistinct(col("doc_id"))).collect()(0).getLong(0)
        parts.unpersist()
        (e1, e2, ew, ex)
      }
      println(f"x57 est_one=${r57._1} est_two=${r57._2} est_whole=${r57._3} " +
        f"exact=${r57._4} reagg_eq=${r57._1 == r57._2} " +
        f"rel_err=${math.abs(r57._1 - r57._4).toDouble / r57._4}%.4f")

      // x58: KLL quantile sketches (k=200) — worst rank deviation of the
      // one-level and two-level union quantiles vs the raw empirical CDF
      // (the declared bound is 0.02 + 2/n; KLL's own bound 1.65% @99%)
      {
        import graft.ext.Sketches
        val docs = docsX57.filter(col("n_chars").isNotNull)
        val n = docs.count().toDouble
        val parts = Sketches.kllPerGroup(docs, "lang", "n_chars").persist()
        val one = parts.agg(Sketches.kllUnion().as("sk"))
          .select(Sketches.kllQuantile("sk", 0.5), Sketches.kllQuantile("sk", 0.9))
          .collect()(0)
        val two = parts.groupBy((col("lang") < "f").as("shard"))
          .agg(Sketches.kllUnion().as("sk"))
          .agg(Sketches.kllUnion("sk").as("sk"))
          .select(Sketches.kllQuantile("sk", 0.5), Sketches.kllQuantile("sk", 0.9))
          .collect()(0)
        parts.unpersist()
        def dev(v: Double, target: Double): Double = {
          val r = docs.filter(col("n_chars") <= v).count() / n
          math.abs(r - target)
        }
        println(f"x58 dev_one50=${dev(one.getDouble(0), 0.5)}%.4f " +
          f"dev_one90=${dev(one.getDouble(1), 0.9)}%.4f " +
          f"dev_two50=${dev(two.getDouble(0), 0.5)}%.4f " +
          f"dev_two90=${dev(two.getDouble(1), 0.9)}%.4f bound=${0.02 + 2 / n}%.4f")
      }

      // x61: PQ ANN recall vs brute force at each SF (m=8, 16-entry
      // codebooks, refine=100 exact re-rank — declared bound 0.5)
      {
        import graft.ext.Similarity
        val e = Tables.load(spark, dir, "embeddings")
        val q = e.filter(col("vec_id") % 50 === 0)
        val pq = Similarity.pqTopK(q, e, k = 5, m = 8, dim = 64,
          codebookSize = 32, refine = 100)
        val bf = Similarity.bruteForceTopK(q, e, k = 5)
        val recall = bf.select("query_id", "neighbor_id")
          .join(pq.select("query_id", "neighbor_id"),
            Seq("query_id", "neighbor_id"), "left_semi")
          .count().toDouble / bf.count()
        println(f"x61 pq mean_recall=$recall%.4f")
        // x62: IVF-PQ composition at the declared defaults
        val ipq = Similarity.ivfPqTopK(q, e, k = 5)
        val recall2 = bf.select("query_id", "neighbor_id")
          .join(ipq.select("query_id", "neighbor_id"),
            Seq("query_id", "neighbor_id"), "left_semi")
          .count().toDouble / bf.count()
        println(f"x62 ivfpq mean_recall=$recall2%.4f")
      }

      // x15: approx_percentile(accuracy=1000) rank position per lang
      val docs = Tables.load(spark, dir, "documents")
      val ap = docs.groupBy("lang").agg(
        expr("approx_percentile(n_chars, 0.5, 1000)").as("p50"),
        expr("approx_percentile(n_chars, 0.9, 1000)").as("p90"))
      val ranks = docs.join(ap, "lang").groupBy("lang")
        .agg(
          (sum(when(col("n_chars") <= col("p50"), 1).otherwise(0)) / count(lit(1))).as("fle50"),
          (sum(when(col("n_chars") < col("p50"), 1).otherwise(0)) / count(lit(1))).as("flt50"),
          (sum(when(col("n_chars") <= col("p90"), 1).otherwise(0)) / count(lit(1))).as("fle90"),
          (sum(when(col("n_chars") < col("p90"), 1).otherwise(0)) / count(lit(1))).as("flt90"))
        .collect()
      ranks.foreach(r => println(f"x15 ${r.getString(0)} fle50=${r.getDouble(1)}%.4f flt50=${r.getDouble(2)}%.4f fle90=${r.getDouble(3)}%.4f flt90=${r.getDouble(4)}%.4f"))

      // x11: IVF (nlist=32, nprobe=8, sampled centroids) recall vs brute force
      val e = Tables.load(spark, dir, "embeddings")
      val q = e.filter(col("vec_id") % 50 === 0)
      def topkSet(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(2)))
          .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      val bf = topkSet(Similarity.bruteForceTopK(q, e, k = 5))
      val ivf = topkSet(Similarity.ivfTopK(q, e, k = 5, nlist = 32, nprobe = 8))
      val recalls = bf.map { case (qid, s) =>
        ivf.getOrElse(qid, Set.empty[Long]).intersect(s).size.toDouble / s.size }
      println(f"x11 n_queries=${bf.size} mean_recall=${recalls.sum / recalls.size}%.4f min_recall=${recalls.min}%.4f")

      // x29: blocked embedding near-dup (nlist=16, nprobe=4, trained) vs exact
      def pairSet(df: org.apache.spark.sql.DataFrame) =
        df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exactP = pairSet(Dedup.embeddingNearDupPairs(e, threshold = 0.45))
      val blockedP = pairSet(Dedup.embeddingNearDupPairsBlocked(
        e, threshold = 0.45, nlist = 16, nprobe = 4,
        centroids = Some(Similarity.kmeansCentroids(e, k = 16))))
      println(f"x29 n_exact=${exactP.size} n_blocked=${blockedP.size} subset=${blockedP.subsetOf(exactP)} recall=${if (exactP.isEmpty) 1.0 else exactP.intersect(blockedP).size.toDouble / exactP.size}%.4f")

      // x09: LSH pair set vs exact Jaccard pair set (k=3, t=0.2)
      val lsh = pairSet(Dedup.minhashLshPairs(docs, "text", "doc_id", k = 3, threshold = 0.2))
      val exJ = pairSet(Dedup.jaccardPairs(docs, "text", "doc_id", k = 3, threshold = 0.2))
      println(s"x09 n_lsh=${lsh.size} n_exact=${exJ.size} equal=${lsh == exJ}")

      // x36 blocked twin: cell-blocked semantic decontam vs exact, at
      // candidate (nlist, nprobe) budgets — exact-output match means the
      // twin can share x36's oracle (x25/x30 pattern)
      val corpus36 = e.filter(col("vec_id") % 37 =!= 0)
      val bench36 = e.filter(col("vec_id") % 37 === 0)
      def dset(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      val exact36 = dset(graft.ext.Curation.semanticDecontam(
        corpus36, bench36, threshold = 0.35))
      for ((nl, np) <- Seq((8, 4), (8, 6), (16, 8), (16, 4))) {
        val blocked36 = dset(graft.ext.Curation.semanticDecontamBlocked(
          corpus36, bench36, threshold = 0.35, nlist = nl, nprobe = np))
        val hit = exact36.intersect(blocked36).size
        println(f"x36 nlist=$nl nprobe=$np n_exact=${exact36.size} n_blocked=${blocked36.size} identical=${blocked36 == exact36} recall=${if (exact36.isEmpty) 1.0 else hit.toDouble / exact36.size}%.4f")
      }

      // x45: banded sign-LSH ANN recall vs brute force, at candidate
      // (bands, bitsPerBand) budgets — the declared query's bound must
      // hold with >= 2x margin at every SF
      // candidate budgets all within the 64-bit signature (bands*bits
      // > 64 now fails loudly — the packed-long wrap bug found in review)
      for ((nb, bpb) <- Seq((8, 6), (8, 8), (10, 6), (16, 4))) {
        val lshB = topkSet(Similarity.lshTopKBanded(q, e, k = 5,
          bands = nb, bitsPerBand = bpb, dim = 64))
        val rec = bf.map { case (qid, s) =>
          lshB.getOrElse(qid, Set.empty[Long]).intersect(s).size.toDouble / s.size }
        println(f"x45 bands=$nb bits=$bpb mean_recall=${rec.sum / rec.size}%.4f min_recall=${rec.min}%.4f")
      }

      // x45-capped: recall with the per-bucket candidate cap (r8) at
      // plausible cap sizes, plus the bucket-occupancy profile the cap
      // is sized against — expected occupancy is n / 2^bitsPerBand per
      // band, so cap/occupancy is the survival fraction inside a bucket
      // that saturates the cap
      locally {
        val nCorpus = e.count()
        println(f"x45cap corpus=$nCorpus avg_occ_16x4=${nCorpus / 16.0}%.0f")
        for (cap <- Seq(256, 1024, 4096)) {
          val lshC = topkSet(Similarity.lshTopKBanded(q, e, k = 5,
            bands = 16, bitsPerBand = 4, dim = 64, maxBucketSize = cap))
          val rec = bf.map { case (qid, s) =>
            lshC.getOrElse(qid, Set.empty[Long]).intersect(s).size.toDouble / s.size }
          println(f"x45cap bands=16 bits=4 cap=$cap mean_recall=${rec.sum / rec.size}%.4f min_recall=${rec.min}%.4f")
        }
      }

      // x44: int8 quantization worst-case reconstruction cosine (spec
      // bound 0.999) + worst |q| magnitude sanity
      val qstats = Similarity.quantizeInt8(e)
        .join(e.select(col("vec_id"), col("embedding").cast("array<double>").as("v")), "vec_id")
        .select(Similarity.cosine(col("v"),
          Similarity.dequantize(col("q"), col("scale"))).as("c"),
          array_max(transform(col("q"), x => abs(x))).as("mq"))
        .agg(min("c"), max("mq")).collect()(0)
      println(f"x44 min_recon_cos=${qstats.getDouble(0)}%.6f max_abs_q=${qstats.getInt(1)}")

      // x33: banded simhash pairs vs full n^2 hamming scan
      val banded = pairSet(Dedup.simhashPairs(docs, "text", "doc_id"))
      val fp = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("fp"))
      val a = fp.select(col("doc_id").as("id_a"), col("fp").as("fa"))
      val b = fp.select(col("doc_id").as("id_b"), col("fp").as("fb"))
      val scan = pairSet(a.join(b, col("id_a") < col("id_b") &&
        Dedup.hamming64(col("fa"), col("fb")) <= 3))
      println(s"x33 n_banded=${banded.size} n_scan=${scan.size} equal=${banded == scan}")

      // r14: the quantile-gate family's approx_percentile deployment
      // twin (x99 / x105 / x109) — measured kept-set drift vs the exact
      // estimator at each SF. Kept sets are nested in the threshold, so
      // |n_kept_a - n_kept_e| IS the membership drift; also printed:
      // max |thr_a - thr_e|. (accuracy 10000: rank error <= n/10000.)
      locally {
        import graft.ext.{Curation, TextStats}
        def drift(tag: String, exact: org.apache.spark.sql.DataFrame,
                  approxDf: org.apache.spark.sql.DataFrame,
                  keyCols: Seq[String], thrCol: String,
                  keptCol: String): Unit = {
          val e = exact.collect().map(r =>
            keyCols.map(r.getAs[Any]).mkString("|") ->
              (r.getAs[Double](thrCol), r.getAs[Long](keptCol))).toMap
          val g = approxDf.collect().map(r =>
            keyCols.map(r.getAs[Any]).mkString("|") ->
              (r.getAs[Double](thrCol), r.getAs[Long](keptCol))).toMap
          assert(e.keySet == g.keySet, s"$tag: group domains differ")
          val thrD = e.keys.map(k => math.abs(e(k)._1 - g(k)._1)).max
          val relD = e.keys.map { k =>
            math.abs(e(k)._2 - g(k)._2).toDouble / math.max(e(k)._2, 1L)
          }.max
          println(f"$tag max_thr_drift=$thrD%.4f max_kept_rel_drift=$relD%.4f")
        }
        val d99 = docs.filter(col("lang").isNotNull)
        def q99(a: Boolean) = Curation.quantileGate(d99, "lang", "doc_id",
          TextStats.qualityScore(col("text")),
          TextStats.tokenCount(col("text")), frac = 0.10, approx = a)
        drift("x99_approx_twin", q99(false), q99(true),
          Seq("lang"), "thr", "n_kept")

        val lm = TextStats.refLmTrain(docs, "text", "lang",
          col("source").isin("src0", "src1") && col("doc_id").isNotNull,
          numBuckets = 1024)
        def t105(a: Boolean) = TextStats.perplexityTiers(docs, "text",
            "lang", "doc_id", lm, approx = a)
          .filter(col("tier") =!= "tail")
          .groupBy("lang").agg(min("thr_lo").as("thr"),
            sum("n_docs").as("n_kept"))
        drift("x105_approx_twin", t105(false), t105(true),
          Seq("lang"), "thr", "n_kept")

        val emb = Tables.load(spark, dir, "embeddings")
        def g109(a: Boolean) = Curation.embeddingOutlierGate(emb, "label",
          "vec_id", "embedding", frac = 0.10, approx = a)
        drift("x109_approx_twin", g109(false), g109(true),
          Seq("label"), "thr", "n_kept")
      }
    }
    spark.stop()
  }
}
