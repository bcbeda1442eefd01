package graft.tools

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Writes PLANS.md: the physical plans the headline queries run, as
  * evidence that scans prune/push and joins broadcast where intended.
  * Each query's file holds the plan of every SQL execution its
  * construction ran (an operator that checkpoints its result runs its
  * whole plan there, see [[Executions]]) followed by the returned
  * frame's own plan.
  * Run: sbt "runMain graft.tools.Plans [sfDir]"
  *
  * Capture mode, for the before/after plan pairs of a change:
  * sbt "runMain graft.tools.Plans <tag> <suffix> <query>[,<query>...] [sfDir]"
  * writes `plans/<tag>/<query>_<suffix>.txt`.
  */
object Plans {
  val headline = Seq(
    "q01_pricing_summary", "q03_revenue_by_nation", "q05_snapshot_delta",
    "x01_dedup_exact", "x02_jaccard_pairs", "x03_cosine_topk_agg",
    "x09_minhash_pairs", "x14_ngram_freq", "x16_embedding_dups",
    "x20_decontam", "x24_bm25", "x25_curation_e2e", "x27_unigram_logprob",
    "x29_embedding_dups_blocked", "x31_temperature_mix",
    "x33_simhash_pairs", "x34_media_probe", "x36_semantic_decontam",
    "x36_semantic_decontam_blocked", "x38_bigram_logprob",
    "x39_decontam_attribution", "x41_cross_dedup", "x42_boilerplate",
    "x43_containment", "x44_quantize_int8", "x45_ann_capped",
    "x45_ann_lsh_banded", "x46_dup_ngram_coverage", "x47_asof_join",
    "x47_asof_salted", "x48_interval_join", "x48_interval_salted",
    "x49_asof_tolerance", "x50_rolling_salted", "x50_rolling_stats",
    "x51_session_salted", "x51_session_window", "x52_latest_compaction",
    "x53_epoch_shuffle", "x54_weighted_sample", "x55_corpus_diff",
    "x56_negative_sample", "x57_sketch_union", "x58_kll_quantiles",
    "x59_theta_overlap", "x60_heavy_hitters", "x61_ann_pq", "x62_ann_ivfpq",
    "x63_cut_spans", "x63_dup_spans", "x64_hybrid_rrf",
    "x65_mixture_sample", "x66_domain_cap", "x67_dsir_resample",
    "x68_dsir_score", "x69_corpus_merge", "x70_random_projection",
    "x71_nb_langid", "x72_budget_fill", "x73_vocab_oov", "x74_cdc_chunks",
    "x75_cluster_survivors", "x76_export_manifest", "x77_source_drift",
    "x78_assembly_e2e", "x80_bpe_segment", "x81_pmi_collocations",
    "x82_vocab_growth", "x83_semantic_dedup", "x84_bpe_encode",
    "x91_bpe_decode", "x92_token_fertility", "x93_freq_spectrum",
    "x94_cluster_balanced", "x95_gate_funnel", "x96_pack_efficiency",
    "x97_perceptual_dedup", "x98_quality_distill", "x99_quantile_gate",
    "x100_audio_dedup", "x101_lsh_calibration", "x102_normalized_dedup",
    "x103_pack_boundaries", "x104_dedup_funnel", "x105_perplexity_tiers",
    "x106_epoch_upsample", "x107_line_dedup", "x108_ccnet_e2e",
    "x109_embedding_outliers", "x110_assembly_ccnet",
    "x111_bpe_byte_encode", "x112_ccnet_refresh", "x113_html_extract",
    "x114_assembly_ccnet_refresh", "x115_lm_drift_trigger",
    "x116_packed_bytes", "x118_unigram_encode", "x119_web_ccnet_e2e",
    "x120_warc_ingest", "x121_web_ccnet_refresh",
    "x122_unigram_byte_encode", "x123_unigram_pruned_train",
    "x124_url_dedup", "x125_wordpiece_train", "x126_wordpiece_encode",
    "x127_warc_ccnet_e2e", "x128_wordpiece_byte_encode", "x129_wet_ingest",
    "x130_crawl_assembly_e2e", "x131_crawl_assembly_refresh",
    "x132_warcgz_ingest", "x133_xdoc_substr_spans", "x134_xdoc_substr_cut",
    "x135_crawlgz_assembly_e2e", "x136_xdoc_substr_refresh",
    "x137_crawlgz_assembly_refresh")

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
    val spark = graft.GraftSession.profile(8)
    spark.sparkContext.setLogLevel("ERROR")
    captureArgs match {
      case Array(tag, suffix, names) =>
        capture(spark, tag, suffix, names.split(",").toSeq, sfDir)
      case _ => index(spark, sfDir)
    }
    spark.stop()
  }

  /** The plans `name`'s construction ran, then its returned frame's
    * plan, each normalized, as markdown sections.
    */
  private def plansOf(spark: SparkSession, name: String, sfDir: String): String = {
    val (df, runs) = Executions.captured(spark)(
      graft.SparkEntry.queries(name)(spark, sfDir))
    val sections = runs.zipWithIndex.map { case (r, i) =>
      s"execution ${i + 1}: ${r.action}" -> r.plan
    } :+ ("returned frame" -> df.queryExecution.executedPlan)
    sections.map { case (title, plan) =>
      s"### $title\n\n```\n${normalize(Executions.text(plan))}```\n"
    }.mkString("\n")
  }

  /** Capture mode: one plan file per query under `plans/<tag>/`. */
  private def capture(spark: SparkSession, tag: String, suffix: String,
                      names: Seq[String], sfDir: String): Unit = {
    val dir = Paths.get("plans", tag)
    Files.createDirectories(dir)
    names.foreach { name =>
      Files.writeString(dir.resolve(s"${name}_$suffix.txt"),
        plansOf(spark, name, sfDir))
      println(s"wrote plans/$tag/${name}_$suffix.txt")
    }
  }

  private def index(spark: SparkSession, sfDir: String): Unit = {
    val dir = Paths.get("plans")
    Files.createDirectories(dir)
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of headline queries (auto-generated index)\n\n")
    sb.append(s"Generated by `graft.tools.Plans` against `$sfDir`. One file per\n")
    sb.append("query under `plans/`: the plan of each SQL execution the query's\n")
    sb.append("construction ran, then its returned frame's plan (adaptive plans in\n")
    sb.append("their initial form, cached relations expanded; expression ids\n")
    sb.append("renumbered per-plan and temp paths collapsed, so regeneration diffs\n")
    sb.append("only plans whose query changed). Things to check per plan:\n")
    sb.append("`PushedFilters`/`ReadSchema` on scans (pruning + pushdown),\n")
    sb.append("`BroadcastHashJoin` for dimension joins, partial `HashAggregate`\n")
    sb.append("before each `Exchange`.\n\n")
    headline.foreach { name =>
      val f = fileName(name)
      Files.writeString(dir.resolve(f),
        s"## $name\n\n${plansOf(spark, name, sfDir)}")
      sb.append(s"- [$name](plans/$f)\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md + ${headline.size} plan files under plans/")
  }
}
