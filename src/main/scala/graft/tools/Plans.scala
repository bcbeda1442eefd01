package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import java.nio.file.{Files, Paths}

/** Writes PLANS.md: the formatted physical plans of the headline queries,
  * as evidence that scans prune/push and joins broadcast where intended.
  * Run: sbt "runMain graft.tools.Plans [sfDir]"
  *
  * Capture mode, for the before/after plan pairs of a change:
  * sbt "runMain graft.tools.Plans <tag> <suffix> <query>[,<query>...] [sfDir]"
  * writes `plans/<tag>/<query>_<suffix>.txt`.
  */
object Plans {
  val headline = Seq(
    "q01_pricing_summary", "q03_revenue_by_nation", "q05_snapshot_delta",
    "x01_dedup_exact", "x03_cosine_topk_agg",
    "x14_ngram_freq", "x16_embedding_dups",
    "x20_decontam", "x29_embedding_dups_blocked", "x31_temperature_mix",
    "x34_media_probe", "x36_semantic_decontam", "x36_semantic_decontam_blocked",
    "x39_decontam_attribution", "x44_quantize_int8",
    "x45_ann_lsh_banded", "x45_ann_capped", "x47_asof_join",
    "x47_asof_salted", "x48_interval_join", "x48_interval_salted",
    "x49_asof_tolerance", "x50_rolling_stats", "x50_rolling_salted",
    "x51_session_window", "x51_session_salted", "x52_latest_compaction",
    "x53_epoch_shuffle", "x54_weighted_sample", "x55_corpus_diff",
    "x56_negative_sample", "x57_sketch_union", "x58_kll_quantiles",
    "x59_theta_overlap", "x60_heavy_hitters", "x61_ann_pq",
    "x62_ann_ivfpq", "x63_cut_spans", "x64_hybrid_rrf",
    "x65_mixture_sample", "x66_domain_cap", "x67_dsir_resample",
    "x68_dsir_score", "x69_corpus_merge", "x70_random_projection",
    "x71_nb_langid", "x73_vocab_oov", "x74_cdc_chunks",
    "x76_export_manifest", "x77_source_drift", "x80_bpe_segment",
    "x81_pmi_collocations", "x82_vocab_growth", "x84_bpe_encode",
    "x91_bpe_decode", "x92_token_fertility", "x93_freq_spectrum",
    "x94_cluster_balanced", "x95_gate_funnel", "x96_pack_efficiency",
    "x97_perceptual_dedup", "x98_quality_distill", "x99_quantile_gate",
    "x100_audio_dedup", "x102_normalized_dedup", "x103_pack_boundaries",
    "x104_dedup_funnel", "x105_perplexity_tiers", "x106_epoch_upsample",
    "x107_line_dedup", "x108_ccnet_e2e", "x109_embedding_outliers",
    "x110_assembly_ccnet", "x111_bpe_byte_encode", "x112_ccnet_refresh",
    "x113_html_extract", "x114_assembly_ccnet_refresh",
    "x115_lm_drift_trigger", "x116_packed_bytes", "x118_unigram_encode",
    "x119_web_ccnet_e2e", "x120_warc_ingest", "x121_web_ccnet_refresh",
    "x122_unigram_byte_encode", "x123_unigram_pruned_train",
    "x124_url_dedup", "x125_wordpiece_train", "x126_wordpiece_encode",
    "x127_warc_ccnet_e2e", "x128_wordpiece_byte_encode", "x129_wet_ingest",
    "x130_crawl_assembly_e2e", "x131_crawl_assembly_refresh",
    "x132_warcgz_ingest", "x134_xdoc_substr_cut",
    "x135_crawlgz_assembly_e2e", "x136_xdoc_substr_refresh",
    "x137_crawlgz_assembly_refresh")

  /** The declared form of these queries materializes eagerly (the pair
    * list is checkpointed — see the Dedup/Search materialization
    * policy), so their declared plan is just an ExistingRDD scan; the
    * informative plan is the operator's LAZY form, rebuilt here with
    * the declared parameters via `materialize = false`.
    */
  def lazyForms(spark: SparkSession, sfDir: String): Seq[(String, DataFrame)] = {
    val docs = graft.Tables.load(spark, sfDir, "documents")
    Seq(
      "x02_jaccard_pairs (lazy form)" -> graft.ext.Dedup.jaccardPairs(
        docs, "text", "doc_id", k = 3, threshold = 0.2, materialize = false),
      "x09_minhash_pairs (lazy form)" -> graft.ext.Dedup.minhashLshPairs(
        docs, "text", "doc_id", k = 3, threshold = 0.2, materialize = false),
      "x24_bm25 (lazy form)" -> graft.ext.Search.bm25TopK(
        docs, "text", "doc_id", Seq("spark", "vector", "stream"), k = 20,
        materialize = false),
      "x33_simhash_pairs (lazy form)" -> graft.ext.Dedup.simhashPairs(
        docs, "text", "doc_id", materialize = false)
        .orderBy(col("id_a"), col("id_b")),
      "x43_containment (lazy form)" -> graft.ext.Dedup.containmentPairs(
        docs, "text", "doc_id", k = 3, threshold = 0.3, materialize = false),
      "x42_boilerplate (lazy form)" -> graft.ext.Curation.boilerplateFraction(
        docs, "text", "doc_id", k = 3, minDf = 3, materialize = false),
      "x46_dup_ngram_coverage (lazy form)" -> graft.ext.Curation.dupNgramCoverage(
        docs, "text", "doc_id", n = 3, materialize = false),
      "x27_unigram_logprob (lazy form)" -> graft.ext.Curation.unigramLogProb(
        docs, "text", "doc_id", materialize = false),
      "x63_dup_spans (lazy form)" -> graft.ext.Curation.dupSpans(
        docs, "text", "doc_id", n = 5, materialize = false),
      "x133_xdoc_substr_spans (lazy form)" -> graft.ext.Curation.xdocSubstrSpans(
        docs, "text", "doc_id", n = 5, materialize = false),
      "x38_bigram_logprob (lazy form)" -> graft.ext.Curation.bigramLogProb(
        docs, "text", "doc_id", materialize = false),
      "x67_dsir_resample (lazy form)" -> graft.ext.TrainSet.dsirResample(
        docs, docs.filter(col("lang") === "en"), "text", "doc_id",
        k = 60, numBuckets = 1024, materialize = false),
      // budgetFillPlanShape, not budgetFill(materialize=false): the
      // executable form ALWAYS pins one evaluation of the range
      // partition (offsets correctness); this is the jobs-free twin
      // with the identical plan shape and placeholder offsets
      "x72_budget_fill (lazy form)" -> graft.ext.TrainSet.budgetFillPlanShape(
        docs.filter(col("text").isNotNull), "doc_id",
        graft.ext.TextStats.qualityScore(col("text")),
        graft.ext.TextStats.tokenCount(col("text")),
        budget = 15000L),
      // x75's clustering input is the eager iterative x23 pipeline; the
      // plan worth gating is the ELECTION itself — greatest_row hash agg
      // over the slim join, no membership window
      "x75_cluster_survivors (lazy election portion)" ->
        graft.ext.Dedup.clusterSurvivors(
          docs.select(col("doc_id"), (col("doc_id") % 10).as("cluster_id")),
          docs, "doc_id", graft.ext.TextStats.qualityScore(col("text"))),
      "x101_lsh_calibration (lazy form)" -> graft.ext.Dedup.lshCalibration(
        docs, "text", "doc_id", materialize = false),
      "x41_cross_dedup (lazy form)" -> graft.ext.Dedup.crossDupPairs(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0),
        "text", "doc_id", k = 3, threshold = 0.2, materialize = false),
      // x25/x30's gate portion: everything around the (separately shown)
      // pair-finding internals — gates map-only, drop-list join left_anti
      "x25_curation_e2e (lazy gate portion)" -> {
        val dropDups = graft.ext.Dedup.dupClusters(
          graft.ext.Dedup.jaccardPairs(docs, "text", "doc_id",
            k = 3, threshold = 0.2, maxDocFreq = Some(100)))
          .filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
        graft.queries.Declared.curationGates(docs, dropDups)
      },
      "x81_pmi_collocations (lazy form)" -> graft.ext.TextStats.pmiCollocations(
        docs, "text", minCount = 3L, k = 30, materialize = false),
      // x78's composed lazy prefix (merge -> survivor drop -> gates ->
      // decontam -> mixture): the declared query executes exactly this
      // before the eager budget fill; drop list crafted slim (plan
      // shape only — the real one is the memoized cluster artifact)
      "x78_assembly_e2e (composed lazy prefix)" -> {
        val union = graft.queries.Declared.assemblyUnion(docs)
        val merged = graft.queries.Declared.assemblyMerged(union)
        val drop = docs.select((col("doc_id") + 20000).as("doc_id")).limit(1)
        graft.queries.Declared.assemblyMixed(docs, merged, drop)
      },
      // the r7 declared x29/x36_blocked rows are verification
      // compositions (blocked vs exact full-outer) — the SCALE-path
      // internals worth gating are the raw operators' plans: equi-join
      // on cell, never a cartesian
      "x29 blocked pairs (operator raw form)" -> {
        val emb = graft.Tables.load(spark, sfDir, "embeddings")
        graft.ext.Dedup.embeddingNearDupPairsBlocked(
          emb, threshold = 0.45, nlist = 16, nprobe = 4)
      },
      "x36 blocked decontam (operator raw form)" -> {
        val emb = graft.Tables.load(spark, sfDir, "embeddings")
        graft.ext.Curation.semanticDecontamBlocked(
          emb.filter(col("vec_id") % 37 =!= 0),
          emb.filter(col("vec_id") % 37 === 0),
          threshold = 0.35, nlist = 16, nprobe = 8)
      },
      // x83's pair-finding prefix (the declared query's eager artifact
      // input): portable seeded cells — map-only nearest_cells_rounded
      // assignment, seeds as a codegen reference object — then the
      // within-cell equi-join; clustering/election are gated via
      // x75's election form above
      "x83_semantic_dedup (lazy pair prefix)" -> {
        val emb = graft.Tables.load(spark, sfDir, "embeddings")
        graft.ext.Dedup.semanticDedupPairs(
          graft.ext.Dedup.semanticCells(emb, nlist = 8, nprobe = 3),
          threshold = 0.4)
      },
      // r14: the declared x105/x108 forms persist the slim scored frame
      // (one scoring scan) + checkpoint the group-sized tiers, so their
      // declared plans are ExistingRDD scans; the scorer + tertile
      // broadcast shapes are gated on these lazy twins (model trained
      // small here — plan shape is model-size independent)
      "x105_perplexity_tiers (lazy form)" -> {
        val m = graft.ext.TextStats.refLmTrain(docs, "text", "lang",
          col("source").isin("src0", "src1") && col("doc_id").isNotNull,
          numBuckets = 256)
        graft.ext.TextStats.perplexityTiers(docs, "text", "lang", "doc_id",
          m, materialize = false)
      },
      // r15: x119's extraction-fed head — the x108 twin over the
      // extracted corpus (plan-shape model trained small)
      "x119_web_ccnet_e2e (lazy form)" -> {
        val web = docs.filter(col("doc_id").isNotNull)
          .withColumn("html",
            graft.ext.Extract.htmlWrap(col("doc_id"), col("text")))
          .withColumn("_bf", graft.ext.Extract.blockFeatures(col("html")))
          .select(col("doc_id"), col("source"),
            graft.ext.Extract.textOf(col("_bf")).as("text"))
        val cleaned = graft.queries.Declared.ccnetCleaned(web)
        val m = graft.ext.TextStats.refLmTrain(cleaned, "clean_text",
          "lang_pred",
          col("source").isin("src0", "src1") && col("doc_id").isNotNull,
          numBuckets = 256)
        graft.ext.TextStats.perplexityTiers(cleaned, "clean_text",
          "lang_pred", "doc_id", m, materialize = false)
      },
      "x108_ccnet_e2e (lazy form)" -> {
        val cleaned = graft.queries.Declared.ccnetCleaned(docs)
        val m = graft.ext.TextStats.refLmTrain(cleaned, "clean_text",
          "lang_pred",
          col("source").isin("src0", "src1") && col("doc_id").isNotNull,
          numBuckets = 256)
        graft.ext.TextStats.perplexityTiers(cleaned, "clean_text",
          "lang_pred", "doc_id", m, materialize = false)
      },
      // r15: the declared x68/x71/x98 forms spread a STARVED fixture
      // scan (spreadIfStarved); a sharded corpus arrives pre-spread and
      // takes exactly these plans — gated map-only (no text Exchange)
      "x68_dsir_score (lazy form)" -> {
        val (ratio, dflt) = graft.ext.TrainSet.dsirRatioMapTagged(
          docs, col("lang") === "en", "text", "doc_id", numBuckets = 1024)
        docs.filter(col("doc_id").isNotNull)
          .select(col("doc_id"),
            graft.ext.TrainSet.dsirGramCount(col("text")).as("n_grams"),
            org.apache.spark.sql.functions.round(graft.ext.TrainSet
              .dsirLogWeight(col("text"), ratio, dflt, 1024), 6)
              .as("log_weight"))
          .orderBy("doc_id")
      },
      "x71_nb_langid (lazy form)" -> {
        val model = graft.ext.TextStats.nbTrain(
          docs, "text", "lang", "doc_id", numBuckets = 1024)
        docs.filter(col("doc_id").isNotNull && col("lang").isNotNull)
          .select(col("doc_id"), col("lang").as("actual_lang"),
            graft.ext.TextStats.nbScores(
              graft.ext.TextStats.nbGramBuckets(col("text"), 1024), model)
              .as("_scores"))
          .select(col("doc_id"), col("actual_lang"),
            graft.ext.TextStats.nbBest(col("_scores"), model).as("p"))
          .select(col("doc_id"), col("actual_lang"),
            col("p.lang").as("pred_lang"))
          .orderBy("doc_id")
      },
      // r15: the declared x113 spreads a starved fixture scan; this is
      // the pre-spread corpus plan — map-only extraction, gated below
      "x113_html_extract (lazy form)" -> {
        val withBf = docs.filter(col("doc_id").isNotNull)
          .withColumn("html",
            graft.ext.Extract.htmlWrap(col("doc_id"), col("text")))
          .withColumn("_bf", graft.ext.Extract.blockFeatures(col("html")))
        withBf.select(col("doc_id"),
          graft.ext.Extract.blockCountOf(col("_bf")).cast("long").as("n_blocks"),
          graft.ext.Extract.keptCountOf(col("_bf")).cast("long").as("n_kept"),
          graft.ext.Extract.textOf(col("_bf")).as("clean_text"))
          .orderBy("doc_id")
      },
      "x98_quality_distill (lazy form)" -> {
        val labeled = graft.ext.Curation.splitAssign(
          docs.filter(col("doc_id").isNotNull).withColumn("teacher",
            graft.ext.Curation.teacherLabel(col("text"))),
          "doc_id", Seq("train" -> 0.8, "test" -> 0.2))
        val model = graft.ext.TextStats.nbTrain(
          labeled.filter(col("split") === "train"),
          "text", "teacher", "doc_id", numBuckets = 1024)
        labeled.filter(col("split") === "test")
          .select(col("doc_id"), col("teacher"),
            graft.ext.TextStats.nbScores(
              graft.ext.TextStats.nbGramBuckets(col("text"), 1024), model)
              .as("_s"))
          .select(col("doc_id"), col("teacher"),
            graft.ext.TextStats.nbBest(col("_s"), model)
              .getField("lang").as("student"))
          .groupBy("teacher", "student")
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n_docs"))
          .orderBy("teacher", "student")
      },
      "x109_embedding_outliers (lazy form)" -> {
        val emb = graft.Tables.load(spark, sfDir, "embeddings")
        graft.ext.Curation.embeddingOutlierGate(emb, "label", "vec_id",
          "embedding", frac = 0.10, materialize = false)
      },
      // r14: the x110 CCNet-extended assembly's composed lazy prefix
      // (merge -> line dedup -> langid -> perplexity keep-gate ->
      // gates -> decontam -> mixture) — the declared query executes
      // exactly this before the eager budget fill; small plan-shape LM,
      // crafted slim drop list (the x78 gate's convention)
      "x110_assembly_ccnet (composed lazy prefix)" -> {
        val cleaned = graft.queries.Declared.ccnetAssemblyCleaned(docs)
        val m = graft.ext.TextStats.refLmTrain(cleaned, "clean_text",
          "lang_pred",
          col("src") === "curated" && col("doc_id").isNotNull,
          numBuckets = 256)
        val kept = graft.ext.TextStats.perplexityKeep(cleaned, "clean_text",
          "lang_pred", "doc_id", m, materialize = false)
        val corpus = cleaned.join(kept.select("doc_id"), Seq("doc_id"))
          .select(col("doc_id"), col("clean_text").as("text"), col("src"))
        val drop = docs.select((col("doc_id") + 20000).as("doc_id")).limit(1)
        // pin = false: the plan-shape form (see assemblyMixed)
        graft.queries.Declared.assemblyMixed(docs, corpus, drop, pin = false)
      })
  }

  /** Stabilize a plan's run-dependent tokens so regeneration only
    * diffs plans whose QUERY changed (the r14 verdict's #6: one new
    * registry line used to re-number every expression id in the 2.3 MB
    * file — a 16,912-line diff for a one-line change):
    *  - expression ids (`#123`) renumber per-plan in first-appearance
    *    order — they are session-global counters, so any earlier query
    *    shifts every later plan's ids;
    *  - per-run temp paths (artifact stores, checkpoints) and AQE
    *    plan_ids collapse to placeholders.
    */
  private[tools] def normalize(plan: String): String = {
    val ids = scala.collection.mutable.LinkedHashMap[String, Int]()
    val renumbered = "#(\\d+)".r.replaceAllIn(plan, m =>
      "#" + ids.getOrElseUpdate(m.group(1), ids.size + 1))
    renumbered
      .replaceAll("file:/tmp/[^\\]\\s,)]*", "file:<tmp>")
      .replaceAll("/tmp/[^\\]\\s,)]*", "<tmp>")
      .replaceAll("plan_id=\\d+", "plan_id=<id>")
      // JVM object identities: lambda class counters and toString
      // hashcodes (reference-object model tables, primitive arrays)
      .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+", "Lambda\\$<n>")
      .replaceAll("@[0-9a-f]{6,}", "@<ref>")
      // checkpoint-backed frames: session-global RDD counters
      .replaceAll("RDD\\[\\d+\\]", "RDD[<n>]")
      // higher-order-function lambda variables carry a session-global
      // name counter next to the (already renumbered) expression id
      .replaceAll("lambda ([A-Za-z0-9]+)_\\d+#", "lambda $1_<n>#")
  }

  private def fileName(name: String): String =
    name.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("_+$", "") + ".md"

  def main(argv: Array[String]): Unit = {
    // capture mode takes three leading arguments; the fixture dir follows
    val (captureArgs, args) = argv.splitAt(if (argv.length >= 3) 3 else 0)
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    captureArgs match {
      case Array(tag, suffix, names) =>
        capture(spark, tag, suffix, names.split(",").toSeq, sfDir)
      case _ => index(spark, sfDir)
    }
    spark.stop()
  }

  private def planOf(df: DataFrame): String =
    normalize(df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))

  /** Capture mode: one plan file per query under `plans/<tag>/`. */
  private def capture(spark: SparkSession, tag: String, suffix: String,
                      names: Seq[String], sfDir: String): Unit = {
    val dir = Paths.get("plans", tag)
    Files.createDirectories(dir)
    names.foreach { name =>
      Files.writeString(dir.resolve(s"${name}_$suffix.txt"),
        planOf(graft.SparkEntry.queries(name)(spark, sfDir)))
      println(s"wrote plans/$tag/${name}_$suffix.txt")
    }
  }

  private def index(spark: SparkSession, sfDir: String): Unit = {
    val dir = Paths.get("plans")
    Files.createDirectories(dir)
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of headline queries (auto-generated index)\n\n")
    sb.append(s"Generated by `graft.tools.Plans` against `$sfDir`. One file per\n")
    sb.append("query under `plans/` (expression ids renumbered per-plan and temp\n")
    sb.append("paths collapsed, so regeneration diffs only plans whose query\n")
    sb.append("changed). Things to check per plan: `PushedFilters`/`ReadSchema`\n")
    sb.append("on scans (pruning + pushdown), `BroadcastHashJoin` for dimension\n")
    sb.append("joins, partial `HashAggregate` before each `Exchange`.\n\n")
    val frames = headline.map(n =>
      n -> graft.SparkEntry.queries(n)(spark, sfDir)) ++ lazyForms(spark, sfDir)
    frames.foreach { case (name, df) =>
      val f = fileName(name)
      Files.writeString(dir.resolve(f),
        s"## $name\n\n```\n${planOf(df)}```\n")
      sb.append(s"- [$name](plans/$f)\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md + ${frames.size} plan files under plans/")
  }
}
