package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data curation operators (SURVEY §2.9 north-star family):
  * PII redaction, repetition-based quality, benchmark decontamination,
  * deterministic weighted sampling, and sequence packing.
  *
  * Scale design (100 TB of documents):
  *  - redaction / repetition / sampling are pure column expressions —
  *    map-only, codegen'd, no shuffle at any scale.
  *  - decontamination joins the corpus against the *benchmark* shingle
  *    set, which is small by construction (benchmarks are ~10^3..10^5
  *    items) — always a broadcast join; the corpus is never shuffled.
  *  - packing orders within a partition column (lang/source shard), so
  *    the window is parallel across shards; no global sort.
  */
object Curation {

  // RE2-safe patterns (no backrefs/lookahead) so Spark (java.util.regex)
  // and the DuckDB oracle (RE2) agree.
  val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val ssnRe = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"
  val phoneRe = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"

  /** Redact emails, SSNs and phone numbers with typed placeholders.
    * SSN before phone: the patterns are disjoint (3-2-4 vs 3-3-4 digit
    * groups) but a fixed order keeps the output deterministic anyway.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailRe, "<EMAIL>"),
        ssnRe, "<SSN>"),
      phoneRe, "<PHONE>")

  /** Per-class PII hit counts (audit metric for a redaction pass). */
  def piiCounts(text: Column): Seq[(String, Column)] = Seq(
    "n_emails" -> regexp_count(text, lit(emailRe)),
    "n_ssns" -> regexp_count(text, lit(ssnRe)),
    "n_phones" -> regexp_count(text, lit(phoneRe)))

  /** URLs (web-corpus cleaning): RE2-safe pattern, count + strip. */
  val urlRe = "https?://[a-zA-Z0-9./_%?&=#~-]+"

  def urlCount(text: Column): Column = regexp_count(text, lit(urlRe))

  def stripUrls(text: Column): Column = regexp_replace(text, urlRe, "<URL>")

  /** Token-level repetition ratio: 1 - distinct/total tokens, rounded to
    * 6 decimals (null for null text). High values flag boilerplate /
    * degenerate documents (C4-style repetition filter).
    */
  def repetitionRatio(text: Column): Column =
    TextStats.scores(text).getField("rep_ratio")

  /** WITHIN-doc duplicated n-gram coverage (the Gopher-family
    * "fraction of characters in duplicate n-grams" rule, token-level):
    * per document, the share of token positions covered by at least one
    * n-gram that occurs >= 2 times in that document. Catches a document
    * that repeats a whole phrase/paragraph twice — [[repetitionRatio]]'s
    * distinct-token ratio barely moves on those, and a degenerate
    * "spam spam spam" doc maxes BOTH (the two metrics gate different
    * failure modes; CurationSpec holds the contrast).
    *
    * Relational formulation so the per-row cost stays linear (a pure
    * column expression needs an O(len^2) duplicate scan per row): the
    * corpus is tokenized ONCE into a persisted (doc_id, tokens) frame
    * (the unigramLogProb policy); from it, the position frame explodes
    * to (doc_id, pos, 64-bit shingle hash) — slim rows, never text —
    * duplicated shingles come from one (doc_id, h) count, covered
    * positions from re-joining the position frame and exploding each
    * hit to its n token indices, distinct-ed. Every shuffle is keyed by
    * doc_id (+hash) and carries longs/ints; all aggregations partial
    * map-side. Docs with fewer than n tokens surface with zero
    * coverage. Checkpoint-backed result caveat applies.
    */
  def dupNgramCoverage(docs: DataFrame, textCol: String, idCol: String,
                       n: Int = 3): DataFrame = {
    // coalesce null text (the chunkWithOverlap policy): size(null) = -1
    // would otherwise leak n_tokens = -1 instead of the documented 0
    val base0 = docs.select(col(idCol).as("doc_id"),
      Dedup.tokens(coalesce(col(textCol), lit(""))).as("w"))
    Dedup.materialized(base0) { base =>
      val toks = base.select(col("doc_id"), size(col("w")).as("n_tokens"))
      // ALL shingle positions (not distinct — multiplicity is the point)
      val pos = base.filter(size(col("w")) >= n)
        .select(col("doc_id"), posexplode(transform(
          sequence(lit(0), size(col("w")) - n),
          i => xxhash64(concat_ws(" ", slice(col("w"), i + 1, lit(n)))))))
        .toDF("doc_id", "pos", "h")
      val dup = pos.groupBy("doc_id", "h")
        .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 2)
        .select("doc_id", "h")
      val covered = pos.join(dup, Seq("doc_id", "h"))
        .select(col("doc_id"),
          explode(sequence(col("pos"), col("pos") + (n - 1))).as("j"))
        .distinct()
        .groupBy("doc_id").agg(count(lit(1)).as("n_covered"))
      toks.join(covered, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_covered"), lit(0L)).as("n_covered"))
        .withColumn("dup_frac",
          round(col("n_covered").cast("double") /
            greatest(col("n_tokens"), lit(1L)), 6))
    }
  }

  /** CROSS-document boilerplate fraction: per document, the share of its
    * distinct k-shingles whose corpus-wide document frequency is
    * >= `minDf` — the Gopher/RefinedWeb-style "fraction of characters in
    * duplicated n-grams" rule lifted to shingle granularity. The
    * cross-corpus complement of [[repetitionRatio]] (which only sees
    * WITHIN-doc repetition): navigation chrome, license footers and
    * template headers repeat across documents, not inside one.
    *
    * Scale (100 TB): the corpus is shingled ONCE — the exploded
    * (doc_id, 64-bit hash) frame is persisted with lineage and both the
    * df table and the per-doc counts derive from it (the unigramLogProb
    * policy; without the persist the expensive shingle expression runs
    * twice, once per consumer). Both shuffles carry (id, long) /
    * (long, count) rows only — document bodies never shuffle. A
    * stop-shingle with df = 10^9 adds ONE row to the df frame and
    * multiplies nothing (each pair row matches exactly one df row), so
    * there is no skew blowup by construction. Output is one slim row per
    * document; docs with fewer than k tokens surface with zero counts
    * rather than dropping out. The checkpoint-backed result frame caveat
    * from the Dedup materialization policy applies.
    */
  def boilerplateFraction(docs: DataFrame, textCol: String, idCol: String,
                          k: Int = 3, minDf: Int = 3): DataFrame = {
    val pairs0 = docs.select(col(idCol).as("doc_id"),
      explode(Dedup.shingles(col(textCol), k)).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("h"))
    Dedup.materialized(pairs0) { pairs =>
      val df = pairs.groupBy("h").agg(count(lit(1)).as("df"))
      val perDoc = pairs.join(df, Seq("h"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          count(when(col("df") >= minDf, 1)).as("n_common"))
      docs.select(col(idCol).as("doc_id"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
          coalesce(col("n_common"), lit(0L)).as("n_common"))
        .withColumn("boiler_frac",
          round(col("n_common").cast("double") /
            greatest(col("n_shingles"), lit(1L)), 6))
    }
  }

  /** Batch half of the streaming boilerplate gate
    * (graft.streaming.StreamCurate.applyBoilerplateGate): the
    * corpus-common shingle hashes (df >= minDf, the same df table
    * [[boilerplateFraction]] computes) aggregated into Spark's own bloom
    * sketch — a few MB for 10^8 keys, vs an unboundable literal array.
    * No false negatives, so a stream-side document's measured common
    * fraction can only be inflated (by the fp rate), never deflated —
    * the gate fails CLOSED (drops more eagerly), never leaks boilerplate
    * past it. Deterministic end to end (seedless sketch hashing).
    */
  def commonShingleBloom(docs: DataFrame, textCol: String,
                         k: Int = 3, minDf: Int = 3): Array[Byte] = {
    val pairs = docs.select(explode(Dedup.shingles(col(textCol), k)).as("s"))
      .select(xxhash64(col("s")).as("h"))
    // persisted across the two actions (sizing count + bloom agg) so the
    // corpus-wide shingle pass runs once — the frame itself is only
    // df-table sized
    val common = pairs.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf).select("h")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = math.max(common.count(), 1L)
      // Spark's BloomFilterAggregate silently CLAMPS estimatedNumItems
      // to spark.sql.optimizer.runtime.bloomFilter.maxNumItems (default
      // 4M): past it the fp rate quietly explodes and the stream gate
      // would mass-drop clean documents. Fail loudly and name the knob.
      val cap = docs.sparkSession.conf
        .get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000")
        .toLong
      require(n <= cap,
        s"common-shingle set ($n keys) exceeds the bloom sizing cap " +
          s"($cap): raise spark.sql.optimizer.runtime.bloomFilter." +
          s"maxNumItems/maxNumBits or raise minDf")
      common.agg(graft.functions.BloomGate.bloom_agg(col("h"), n))
        .collect()(0).getAs[Array[Byte]](0)
    } finally common.unpersist()
  }

  /** Benchmark decontamination: per corpus document, the number of
    * distinct k-shingles shared with any benchmark document. Docs with
    * `n_overlap >= minOverlap` should be dropped from training data.
    *
    * The benchmark side is collapsed to its distinct shingle set and
    * broadcast — the (100 TB) corpus side stays map-local: explode,
    * broadcast-semi-join, partial count. No corpus shuffle before the
    * per-doc aggregation, and that shuffle carries (doc_id, count) only.
    */
  def contaminationOverlap(corpus: DataFrame, benchmark: DataFrame,
                           textCol: String, idCol: String,
                           k: Int = 3, minOverlap: Int = 5): DataFrame = {
    val benchShingles = benchmark
      .select(explode(Dedup.shingles(col(textCol), k)).as("s"))
      .distinct()
    corpus
      .select(col(idCol), explode(Dedup.shingles(col(textCol), k)).as("s"))
      .join(broadcast(benchShingles), "s")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_overlap")) // shingles are distinct per doc
      .filter(col("n_overlap") >= minOverlap)
  }

  /** Corpus-statistical quality score (CCNet-style): per-document mean
    * unigram log-probability under the corpus's own term distribution.
    * Degenerate/rare-token documents score low; fluent ones high — the
    * statistical complement to the heuristic [[TextStats.qualityScore]].
    *
    * Scale: the term-frequency table is a standard shuffle aggregate
    * (partial map-side combine), re-joined to the postings on term —
    * both sides shuffle (term, counts)-shaped rows only; the per-doc
    * score is one more (doc_id, partial-avg) aggregation. In a real
    * pipeline the frequency table is trained once and reused.
    *
    * The corpus is TOKENIZED ONCE: the (doc_id, tokens) frame feeds both
    * the frequency aggregation and the probe side, so it's persisted
    * with lineage (the [[Dedup]] materialization policy — recomputable
    * on executor loss, released in finally); left unpersisted, the plan
    * re-evaluates the regexp tokenizer per consumer, a 3× corpus-scan
    * regression at 100 TB. The eagerly-driven per-doc score result is localCheckpoint'd
    * so it survives the unpersist, but (like every checkpointed result
    * frame — see the Dedup policy note) is NOT fault-tolerant past job
    * completion.
    */
  def unigramLogProb(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val base0 = docs.select(col(idCol).as("doc_id"),
      Dedup.tokens(col(textCol)).as("toks"))
    Dedup.materialized(base0) { base =>
      val toks = base.select(col("doc_id"), explode(col("toks")).as("term"))
      val freq = toks.groupBy("term").agg(count(lit(1)).as("tf"))
      // grand total derived from freq (vocabulary-sized), not the corpus
      val tot = freq.agg(sum("tf").cast("double").as("tot"))
      toks.join(freq, "term")
        .crossJoin(broadcast(tot))
        .withColumn("lp", log(col("tf").cast("double") / col("tot")))
        .groupBy("doc_id")
        .agg(round(avg(col("lp")), 6).as("avg_logp"),
          count(lit(1)).as("n_tok"))
    }
  }

  /** Bigram conditional log-probability quality (the KenLM-style step up
    * from [[unigramLogProb]]): per document, the mean of
    * ln(c(w1 w2) / c(w1 ·)) over its SEQUENTIAL bigrams under the
    * corpus's own bigram distribution. Fluent word ORDER scores high even
    * when [[unigramLogProb]] can't tell shuffled text from prose —
    * degenerate/boilerplate n-gram soup scores low.
    *
    * Scale (same contract as unigram): the corpus is tokenized ONCE into
    * the (doc_id, bigram-sequence) frame (persisted with lineage,
    * released in finally — the Dedup materialization policy); bigram and
    * prefix counts are standard partial-agg shuffles carrying
    * (term-pair, count) rows only; the per-doc score is one more
    * (doc_id, partial-avg) aggregation. The prefix denominator c(w1 ·)
    * is derived FROM the bigram frame (not a second tokenize), so the
    * MLE identity sum_w2 c(w1 w2) = c(w1 ·) holds exactly. Documents
    * with fewer than 2 tokens have no bigrams and drop out (same
    * convention both engines).
    */
  def bigramLogProb(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = Dedup.tokens(col(textCol))
    val bg0 = docs
      .select(col(idCol).as("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("w1"),
          element_at(col("toks"), i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
    Dedup.materialized(bg0) { bg =>
      val cb = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      val cu = bg.groupBy("w1").agg(count(lit(1)).as("cu"))
      bg.join(cb, Seq("w1", "w2")).join(cu, Seq("w1"))
        .withColumn("lp", log(col("cb").cast("double") / col("cu")))
        .groupBy("doc_id")
        .agg(round(avg(col("lp")), 6).as("avg_logp"),
          count(lit(1)).as("n_bigrams"))
    }
  }

  /** Deterministic hash-gate for weighted sampling: keep a row iff the
    * first `width` hex chars of md5(salt || key) are below the per-row
    * threshold (rate = parseInt(threshold,16) / 16^width). md5 hex is
    * identical across engines, making sampled sets oracle-checkable —
    * unlike `rand()`. Map-only at any scale.
    *
    * SALT DISCIPLINE: two hash decisions composed in one pipeline MUST
    * use different salts — with a shared salt the second gate sees a
    * population pre-filtered on the same md5 prefix order and its
    * realized rate skews silently (e.g. a 2-hex "c0" sample gate
    * followed by a same-salt 4-hex gate keeps thr/0xc000, not
    * thr/0x10000). The library's own decisions are salt-separated:
    * "graft" (sample gates), "graft-temp" (temperature mixing),
    * "graft-mix" (recipe mixing), "graft-split" (split assignment),
    * "graft-epoch" (fractional-epoch upsampling).
    */
  def hashKeep(key: Column, thresholdHex: Column, salt: String = "graft",
               width: Int = 2): Column = {
    // lower(): md5 hex is lowercase, and an uppercase threshold ('C0')
    // sorts below all lowercase a-f by ASCII — it would silently skew the
    // sampling rate instead of meaning parseInt(threshold, 16)/256
    val thr = lower(thresholdHex)
    // a threshold whose width doesn't match `width` would silently skew
    // the realized rate via lexicographic prefix comparison (e.g. 'c0'
    // with width=4 reads as c0/65536, not c0/256) — fail loudly instead.
    // Null thresholds pass through: the comparison yields null, which
    // callers gate with `thr.isNull || ...` (= keep-all rows).
    val checked = when(thr.isNull || length(thr) === width, thr)
      .otherwise(raise_error(concat(
        lit(s"graft hashKeep: threshold width mismatch (expected $width hex chars): "),
        thresholdHex)))
    substring(md5(concat(lit(salt), key.cast("string"))), 1, width) < checked
  }

  /** The standard curation gate sequence (the x25/x30 composition minus
    * the batch-global near-dup drop): deterministic hash sample ->
    * language gate -> quality + repetition filters. Every gate is a pure
    * column expression — map-only at 100 TB, and equally valid on a
    * STREAMING DataFrame (see graft.streaming.StreamCurate), so the
    * batch and streaming paths cannot drift apart.
    */
  def standardGates(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text",
                    sampleThr: String = "c0"): DataFrame = {
    val s = TextStats.scores(col(textCol))
    docs
      .filter(hashKeep(col(idCol), lit(sampleThr)) && s.getField("lang") === "en" &&
        s.getField("quality") >= 0.8 && s.getField("rep_ratio") <= 0.6)
      .withColumns(scala.collection.immutable.ListMap("lang_pred" -> s.getField("lang"),
        "quality" -> s.getField("quality"), "rep_ratio" -> s.getField("rep_ratio")))
  }

  /** X7j: the CONTENT-ONLY teacher label for gate-chain distillation —
    * "keep" iff the document clears the language + quality + repetition
    * gates (the [[standardGates]] sequence minus the hash sample, which
    * is id-based noise a content classifier must not learn). This is
    * the CCNet / fastText-filter pattern: the expensive-at-ingest gate
    * chain is the TEACHER; a bucketed Naive-Bayes student (see
    * [[TextStats.nbTrain]]) distills it into one map-only scoring fold
    * that runs at wire speed on streams and never re-tokenizes through
    * the full gate expressions. Pure column expression — map-only.
    */
  def teacherLabel(text: Column): Column = {
    val s = TextStats.scores(text)
    when(s.getField("lang") === "en" && s.getField("quality") >= 0.8 &&
      s.getField("rep_ratio") <= 0.6, "keep").otherwise("drop")
  }

  /** X7l: per-group ADAPTIVE quantile gate (the FineWeb-family "drop the
    * bottom decile per language" rule): instead of one global threshold —
    * which over-prunes low-scoring languages and under-prunes high-scoring
    * ones — each group's cutoff is its own `frac` quantile of `score`, and
    * a document survives iff `score >= threshold(group)`.
    *
    * Returns the per-group gate readout: (group, n_docs, thr, n_kept,
    * kept_tokens, kept_xor) where `kept_xor` is the bit-xor of the kept
    * ids' portable 60-bit md5 hashes — a SEALED membership witness that is
    * both bounded state (one long per group, unlike a collect_list) and
    * engine-replayable (md5, not xxhash64), so moving ANY document across
    * the gate changes its group's xor.
    *
    * Scale: two corpus scans by construction (the quantile must be known
    * before the gate can run — the DSIR two-pass shape); the threshold
    * frame is group-sized and broadcast into the gating scan. The exact
    * `percentile` buffers each group's scores in the aggregate (the x15
    * trade, kept here for oracle parity); at 100 TB pass
    * `approx = true` — the gate and readout are unchanged, only the
    * cutoff estimator moves to `approx_percentile` (bounded sketch
    * state; kept-set drift vs the exact form is MEASURED, not assumed:
    * ExtSpec bounds it at every fixture SF with BoundProbe provenance
    * in BASELINE.md, and the estimator's rank error is <= n/accuracy,
    * i.e. <= 0.01% of each group at accuracy 10000).
    */
  def quantileGate(docs: DataFrame, groupCol: String, idCol: String,
                   score: Column, tokens: Column,
                   frac: Double = 0.10,
                   approx: Boolean = false): DataFrame = {
    require(frac > 0 && frac < 1, s"frac must be in (0,1) (got $frac)")
    val base = docs.select(col(groupCol), col(idCol).as("_id"),
      score.as("_score"), tokens.cast("long").as("_tok"))
    val est = if (approx) s"approx_percentile(_score, $frac, 10000)"
      else s"percentile(_score, $frac)"
    val thr = base.groupBy(groupCol).agg(
      round(expr(est), 4).as("thr"),
      count(lit(1)).as("n_docs"))
    val keptAgg = base.join(broadcast(thr.select(col(groupCol), col("thr"))),
        Seq(groupCol))
      .filter(col("_score") >= col("thr"))
      .groupBy(groupCol).agg(
        count(lit(1)).as("n_kept"),
        sum("_tok").as("kept_tokens"),
        bit_xor(conv(substring(md5(col("_id").cast("string")), 1, 15), 16, 10)
          .cast("long")).as("kept_xor"))
    thr.join(keptAgg, Seq(groupCol), "left")
      .select(col(groupCol), col("n_docs"), col("thr").cast("double").as("thr"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        coalesce(col("kept_xor"), lit(0L)).as("kept_xor"))
      .orderBy(groupCol)
  }

  /** X7m (r13): embedding-space OUTLIER gate — the semantic sibling of
    * [[quantileGate]] (X7l) and the flip side of X7h's dense-region
    * flattening: within each group, vectors farthest from the group's
    * OWN centroid (lowest cosine) are the mis-clustered / off-topic /
    * garbled tail — drop the bottom `frac` of each group, cutoff = the
    * group's own score quantile, so sparse groups aren't over-pruned
    * by a global radius.
    *
    * Engine-portable end-to-end: the centroid folds every dimension as
    * EXACT scaled longs (sum of round(v·1e6) — a float sum would be
    * partition-order-dependent, the x105 mean lesson), one double
    * division at the end; similarities are the native
    * [[graft.functions.CosineSimilarity]] rounded 6dp (the x83
    * convention — DuckDB replays with `list_cosine_similarity`);
    * cutoffs are `percentile` rounded 4dp (the x99 boundary
    * discipline).
    *
    * Scale: the centroid pass is one explode to (group, dim) partial
    * aggs (≤ groups × dim slim keys); centroid arrays rebuild
    * deterministically via array_sort over (dim, c) structs — a
    * group-sized frame that BROADCASTS into the map-only scoring scan;
    * the cutoff is the X7l two-pass shape (swap `percentile` for
    * `approx_percentile` at 100 TB, gate unchanged). Returns one row
    * per group: (groupCol, n_vecs, thr, n_kept, kept_xor).
    */
  def embeddingOutlierGate(emb: DataFrame, groupCol: String, idCol: String,
                           vecCol: String, frac: Double = 0.10,
                           approx: Boolean = false): DataFrame = {
    require(frac > 0 && frac < 1, s"frac must be in (0,1) (got $frac)")
    val base = emb.filter(col(idCol).isNotNull && col(groupCol).isNotNull &&
        col(vecCol).isNotNull)
      .select(col(groupCol).as("_g"), col(idCol).as("_id"),
        col(vecCol).cast("array<double>").as("_v"))
    val cent = base
      .select(col("_g"), posexplode(col("_v")))
      .toDF("_g", "dim", "v")
      .groupBy("_g", "dim")
      .agg(sum(round(col("v") * 1e6, 0).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .select(col("_g"), struct(col("dim"),
        (col("s").cast("double") / 1e6 / col("n")).as("c")).as("dc"))
      .groupBy("_g")
      .agg(array_sort(collect_list(col("dc"))).as("dcs"))
      .select(col("_g"), transform(col("dcs"), x => x.getField("c")).as("cent"))
    // the slim (_g, _id, sim) frame feeds BOTH the cutoff aggregate and
    // the kept rollup: persist it so the centroid join + cosine run once
    // (the refLmTrain persist-in-finally discipline; the group-sized
    // result is checkpointed eagerly so the persist can be released).
    val scored0 = base.join(broadcast(cent), Seq("_g"))
      .select(col("_g"), col("_id"),
        round(graft.functions.CosineSimilarity.cosine_sim(
          col("_v"), col("cent")), 6).as("sim"))
    Dedup.materialized(scored0) { scored =>
      val est = if (approx) s"approx_percentile(sim, $frac, 10000)"
        else s"percentile(sim, $frac)"
      val thr = scored.groupBy("_g").agg(
        round(expr(est), 4).as("thr"),
        count(lit(1)).as("n_vecs"))
      val kept = scored.join(broadcast(thr.select(col("_g"), col("thr"))),
          Seq("_g"))
        .filter(col("sim") >= col("thr"))
        .groupBy("_g").agg(count(lit(1)).as("n_kept"),
          bit_xor(conv(substring(md5(col("_id").cast("string")), 1, 15), 16, 10)
            .cast("long")).as("kept_xor"))
      thr.join(kept, Seq("_g"), "left")
        .select(col("_g").as(groupCol), col("n_vecs"),
          col("thr").cast("double").as("thr"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("kept_xor"), lit(0L)).as("kept_xor"))
        .orderBy(groupCol)
    }
  }

  /** Training-mixture temperature reweighting (data mixing): per-group
    * keep-rates that flatten the corpus distribution toward uniform.
    * Group g with share p_g gets weight p_g^alpha (alpha < 1 boosts
    * under-represented groups; alpha = 1 is proportional); the total kept
    * volume targets `budgetFrac` of the corpus, capped at rate 1 per
    * group.
    *
    * Returns one row per group: (groupCol, n_docs, rate, thr) where
    * `thr` is the 4-hex-char md5 gate threshold realizing `rate` (null =
    * keep everything). The gate floors the realized rate to a multiple of
    * 1/65536, so any group with 0 < rate < 1/65536 is dropped entirely —
    * the minimum representable keep-rate. Scale: two tiny aggregate
    * frames (one row per
    * group / one scalar) cross-joined broadcast — the corpus is scanned
    * once for counts; nothing group-shaped ever funnels.
    *
    * alpha = 0.5 uses sqrt (IEEE-correctly-rounded in every engine, so
    * thresholds are reproducible cross-engine); other alphas use pow.
    */
  def temperatureRates(docs: DataFrame, groupCol: String,
                       alpha: Double = 0.5,
                       budgetFrac: Double = 0.5): DataFrame = {
    val counts = docs.groupBy(groupCol).agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(sum("n_docs").cast("double").as("tot"))
    def weight(share: Column): Column =
      if (alpha == 0.5) sqrt(share)
      else if (alpha == 1.0) share
      else pow(share, lit(alpha))
    val weighted = counts.crossJoin(broadcast(tot))
      .withColumn("w", weight(col("n_docs") / col("tot")))
      .localCheckpoint(true) // tiny (one row per group); leak-free reuse
    val wsum = weighted.agg(sum("w").as("wsum"))
    weighted.crossJoin(broadcast(wsum))
      .withColumn("rate",
        least(lit(1.0), col("w") / col("wsum") * col("tot") * budgetFrac / col("n_docs")))
      .withColumn("thr",
        when(col("rate") >= 1.0, lit(null).cast("string"))
          .otherwise(format_string("%04x", floor(col("rate") * 65536).cast("int"))))
      .select(col(groupCol), col("n_docs"), col("rate"), col("thr"))
  }

  /** Apply [[temperatureRates]]: deterministic per-group hash-gate
    * sampling of the corpus (md5 gate — see [[hashKeep]] — so the kept
    * set is exact-reproducible and oracle-checkable). The rates frame is
    * group-sized, always broadcast; the corpus side is map-only.
    */
  def temperatureSample(docs: DataFrame, groupCol: String, idCol: String,
                        alpha: Double = 0.5,
                        budgetFrac: Double = 0.5): DataFrame = {
    val rates = temperatureRates(docs, groupCol, alpha, budgetFrac)
      .select(col(groupCol), col("thr"))
    docs.join(broadcast(rates), Seq(groupCol))
      // "graft-temp", not the default salt: the corpus may already have
      // passed a "graft"-salted sample gate (standardGates) — a shared
      // salt would make this gate's realized rate thr/0xc000 instead of
      // thr/0x10000 on the gated population (see hashKeep's salt note)
      .filter(col("thr").isNull ||
        hashKeep(col(idCol), col("thr"), salt = "graft-temp", width = 4))
      .drop("thr")
  }

  /** X7f: explicit mixture-recipe execution over TOKEN mass — the
    * data-mixing primitive that runs a published recipe (Pile/DoReMi
    * style target shares) against a corpus: group g with target share
    * w_g and token mass T_g gets keep-rate
    * `min(1, w_g * budgetTokens / T_g)` so the SAMPLED corpus's token
    * mixture approaches the recipe, bounded by each group's supply
    * (a group that undershoots its target keeps rate 1 — the budget is
    * a target, not a redistribution; DoReMi-style re-allocation of
    * unused budget is a policy layered on top). Groups absent from the
    * recipe get rate 0 (dropped). Distinct from [[temperatureRates]] on
    * both axes: targets are EXPLICIT (not derived from corpus shares)
    * and accounting is token mass, not document count.
    *
    * Returns one row per group present in the corpus: (groupCol,
    * n_docs, n_tokens, target_w, rate, thr) — thr is the 4-hex md5 gate
    * threshold ([[hashKeep]] semantics; null = keep all, "0000" = drop
    * all). Scale: one corpus scan for the (group, count, token-sum)
    * aggregate — map-side partial, group-sized result — and the recipe
    * rides as a broadcast literal frame. Salt "graft-mix" (see the salt
    * discipline note on [[hashKeep]]).
    */
  def mixtureRates(docs: DataFrame, groupCol: String, textCol: String,
                   targets: Seq[(String, Double)],
                   budgetTokens: Long): DataFrame =
    mixtureRatesBy(docs, groupCol,
      size(Dedup.tokens(coalesce(col(textCol), lit("")))),
      targets, budgetTokens)

  /** [[mixtureRates]] with the token mass supplied as a COLUMN — the
    * slim-state form (r15): a refresh that stores per-doc token counts
    * (x114's docMeta) prices its recipe without re-tokenizing text.
    * The textCol overload delegates here, so the two cannot drift.
    */
  def mixtureRatesBy(docs: DataFrame, groupCol: String, tokenCol: Column,
                     targets: Seq[(String, Double)],
                     budgetTokens: Long): DataFrame = {
    require(targets.nonEmpty && targets.forall(_._2 >= 0) &&
      math.abs(targets.map(_._2).sum - 1.0) < 1e-9,
      s"mixture target shares must be >= 0 and sum to 1 (got $targets)")
    require(budgetTokens > 0, s"budgetTokens must be positive (got $budgetTokens)")
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = docs.groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCol).cast("long").as("n_tokens"))
    val recipe = broadcast(targets.toDF(groupCol, "target_w"))
    counts.join(recipe, Seq(groupCol), "left")
      .withColumn("target_w", coalesce(col("target_w"), lit(0.0)))
      .withColumn("rate", least(lit(1.0),
        col("target_w") * budgetTokens /
          greatest(col("n_tokens").cast("double"), lit(1.0))))
      .withColumn("thr",
        when(col("rate") >= 1.0, lit(null).cast("string"))
          .otherwise(format_string("%04x", floor(col("rate") * 65536).cast("int"))))
      .select(col(groupCol), col("n_docs"), col("n_tokens"),
        col("target_w"), col("rate"), col("thr"))
  }

  /** Apply [[mixtureRates]]: deterministic md5-gate sampling realizing
    * the recipe (the [[temperatureSample]] plumbing with the "graft-mix"
    * salt). Rates frame is group-sized, always broadcast; the corpus
    * side stays map-only.
    */
  def mixtureSample(docs: DataFrame, groupCol: String, textCol: String,
                    idCol: String, targets: Seq[(String, Double)],
                    budgetTokens: Long): DataFrame =
    applyMixtureRates(docs,
      mixtureRates(docs, groupCol, textCol, targets, budgetTokens),
      groupCol, idCol)

  /** [[mixtureSample]] over a precomputed token-mass column (r15 —
    * see [[mixtureRatesBy]]). */
  def mixtureSampleBy(docs: DataFrame, groupCol: String, tokenCol: Column,
                      idCol: String, targets: Seq[(String, Double)],
                      budgetTokens: Long): DataFrame =
    applyMixtureRates(docs,
      mixtureRatesBy(docs, groupCol, tokenCol, targets, budgetTokens),
      groupCol, idCol)

  private def applyMixtureRates(docs: DataFrame, ratesFull: DataFrame,
                                groupCol: String, idCol: String): DataFrame = {
    val rates = ratesFull.select(col(groupCol), col("thr"))
    docs.join(broadcast(rates), Seq(groupCol))
      .filter(col("thr").isNull ||
        hashKeep(col(idCol), col("thr"), salt = "graft-mix", width = 4))
      .drop("thr")
  }

  /** X7k (r13): fractional-EPOCH upsampling rates — the data-recipe
    * primitive the published LLM mixes actually run ("2.3 epochs of
    * wiki, 0.4 epochs of web": Llama/Pile-style recipes): group g with
    * target share w_g and token supply T_g under token budget B gets
    *
    *   repeats_g = w_g * B / T_g            (UNCAPPED — > 1 upsamples)
    *
    * realized as floor(repeats) full copies of every document plus one
    * extra copy of the deterministic md5-gated `frac = repeats - floor`
    * slice ([[hashKeep]] semantics, salt "graft-epoch" — the salt
    * discipline). The expectation of emitted token mass is exactly
    * w_g * B, bounded-variance, and the emitted multiset is
    * reproducible in (salt, id) across engines, runs and retries —
    * unlike `rand()` epoch sampling. [[mixtureRates]] is the capped
    * (downsample-only) sibling; this is the complement that may REPEAT
    * data, which a mixture that overshoots supply requires.
    *
    * Returns one row per group present in the corpus: (groupCol,
    * n_docs, n_tokens, target_w, repeats, n_full, thr) — groups absent
    * from the recipe get repeats 0 (emitted nowhere); thr is ALWAYS a
    * 4-hex gate ("0000" = no fractional copy), never null: unlike the
    * sampling rates frames, "keep all" is expressed by n_full, not by
    * an absent gate. Scale: one corpus scan for the (group, count,
    * token-sum) aggregate; the recipe rides broadcast.
    */
  def epochRates(docs: DataFrame, groupCol: String, textCol: String,
                 targets: Seq[(String, Double)],
                 budgetTokens: Long): DataFrame = {
    require(targets.nonEmpty && targets.forall(_._2 >= 0) &&
      math.abs(targets.map(_._2).sum - 1.0) < 1e-9,
      s"mixture target shares must be >= 0 and sum to 1 (got $targets)")
    require(budgetTokens > 0, s"budgetTokens must be positive (got $budgetTokens)")
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = docs.filter(col(groupCol).isNotNull)
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"),
        sum(size(Dedup.tokens(coalesce(col(textCol), lit("")))))
          .cast("long").as("n_tokens"))
    val recipe = broadcast(targets.toDF(groupCol, "target_w"))
    counts.join(recipe, Seq(groupCol), "left")
      .withColumn("target_w", coalesce(col("target_w"), lit(0.0)))
      .withColumn("repeats", col("target_w") * budgetTokens /
        greatest(col("n_tokens").cast("double"), lit(1.0)))
      .withColumn("n_full", floor(col("repeats")).cast("long"))
      .withColumn("thr", format_string("%04x",
        floor((col("repeats") - col("n_full")) * 65536).cast("int")))
      .select(col(groupCol), col("n_docs"), col("n_tokens"),
        col("target_w"), col("repeats"), col("n_full"), col("thr"))
  }

  /** Apply [[epochRates]]: emit (document × copy) training instances —
    * every document n_full times plus the md5-gated extra copy, `copy`
    * numbered 0.. per document. The rates frame is group-sized
    * (broadcast); the corpus side is one map-only pass whose output
    * scales with the emitted mass, never more (explode of an empty
    * sequence emits nothing — a repeats-0 group vanishes here but
    * keeps its report row). At 100 TB the caller selects the slim
    * (group, id, copy) projection and joins payloads back by id — the
    * [[graft.ext.TrainSet.epochShuffle]] index discipline.
    */
  def epochUpsample(docs: DataFrame, groupCol: String, idCol: String,
                    textCol: String, targets: Seq[(String, Double)],
                    budgetTokens: Long): DataFrame = {
    val rates = epochRates(docs, groupCol, textCol, targets, budgetTokens)
      .select(col(groupCol), col("n_full"), col("thr"))
    val extra = when(hashKeep(col(idCol), col("thr"),
      salt = "graft-epoch", width = 4), 1).otherwise(0)
    val nCopies = (col("n_full") + extra).cast("int")
    docs.filter(col(idCol).isNotNull && col(groupCol).isNotNull)
      .join(broadcast(rates), Seq(groupCol))
      .withColumn("copy", explode(when(nCopies > 0,
        sequence(lit(0), nCopies - 1)).otherwise(array().cast("array<int>"))))
      .drop("n_full", "thr")
  }

  /** X7k report: one row per group reconciling recipe against realized
    * emission — (n_docs, n_tokens, repeats, n_full, emitted_docs,
    * emitted_tokens, inst_xor) where inst_xor seals the exact
    * (document, copy) instance multiset. A group the recipe drops
    * (repeats 0) reports zeros rather than disappearing.
    */
  def epochUpsampleReport(docs: DataFrame, groupCol: String, idCol: String,
                          textCol: String, targets: Seq[(String, Double)],
                          budgetTokens: Long): DataFrame = {
    val rates = epochRates(docs, groupCol, textCol, targets, budgetTokens)
    val inst = epochUpsample(docs, groupCol, idCol, textCol, targets,
        budgetTokens)
      .select(col(groupCol), col(idCol).as("_id"), col("copy"),
        size(Dedup.tokens(coalesce(col(textCol), lit("")))).cast("long")
          .as("_tok"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("emitted_docs"),
        sum("_tok").as("emitted_tokens"),
        bit_xor(conv(substring(md5(concat(col("_id").cast("string"),
          lit(":"), col("copy").cast("string"))), 1, 15), 16, 10)
          .cast("long")).as("inst_xor"))
    rates.join(broadcast(inst), Seq(groupCol), "left")
      .select(col(groupCol), col("n_docs"), col("n_tokens"),
        round(col("repeats"), 6).as("repeats"), col("n_full"),
        coalesce(col("emitted_docs"), lit(0L)).as("emitted_docs"),
        coalesce(col("emitted_tokens"), lit(0L)).as("emitted_tokens"),
        coalesce(col("inst_xor"), lit(0L)).as("inst_xor"))
      .orderBy(groupCol)
  }

  /** X7g: per-group frequency cap — keep at most `cap` documents per
    * group, chosen by a deterministic pseudorandom priority (the
    * RefinedWeb/C4-style "at most N pages per domain" step that stops a
    * handful of giant domains from dominating a web corpus). The kept
    * set is the `cap` smallest md5-derived uniforms per group — i.e. a
    * uniform without-replacement subsample, reproducible in (salt, id)
    * across engines, runs and retries.
    *
    * Returns the slim index form (groupCol, rank, idCol, priority);
    * join back to the payload by id ([[graft.ext.TrainSet.epochShuffle]]
    * convention). `priority` is the uniform rounded to 6dp; rank 1 is
    * the most-preferred survivor.
    *
    * Scale: this is NOT the window+row_number plan (which shuffles and
    * sorts every row of a hot domain into one partition). The per-group
    * top-cap runs through the bounded-heap
    * [[graft.functions.TopKByScore]] aggregate: map-side partial
    * aggregation reduces every task's contribution to <= cap rows per
    * group BEFORE the shuffle, so a 100M-page domain crosses the wire
    * as (tasks x cap) slim rows, never as 100M — the hot-domain skew
    * that motivates the cap cannot hurt the cap itself.
    */
  def capPerGroup(df: DataFrame, groupCol: String, idCol: String, cap: Int,
                  salt: String = "graft-cap"): DataFrame = {
    require(cap > 0, s"cap must be positive (got $cap)")
    import graft.functions.TopKByScore.top_k_by_score
    // (v + 1) / 2^32 over v in [0, 2^32): u in (0, 1], ties impossible
    // short of a 32-bit md5-prefix collision (id tiebreak covers even
    // that, in the heap and in the oracle's ORDER BY)
    val u = (conv(substring(md5(concat(lit(salt), lit(":"),
      col(idCol).cast("string"))), 1, 8), 16, 10).cast("long") + 1) /
      lit(4294967296.0)
    df.filter(col(idCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol), col(idCol), (-u).as("_s"))
      .groupBy(groupCol)
      .agg(top_k_by_score(col("_s"), col(idCol), cap).as("topk"))
      .select(col(groupCol), posexplode(col("topk")).as(Seq("pos", "t")))
      .select(col(groupCol), (col("pos") + 1).cast("long").as("rank"),
        col("t.id").as(idCol), round(-col("t.score"), 6).as("priority"))
  }

  /** X7i (r12): gate FUNNEL — per-document first-failing-gate
    * attribution over [[standardGates]]' chain in its declared order
    * (sample hash → language → quality → repetition), rolled up to one
    * row per stage with doc and token mass. This is the "where did my
    * data go" observability report every curation pipeline ships next
    * to its output: the e2e rows (x25/x30) prove WHAT survives, the
    * funnel proves WHY everything else left. Reconciliation
    * (spec-pinned): the kept row equals [[standardGates]]' survivor
    * count exactly; the e2e output is that minus the batch-global
    * near-dup drop — corpus-relative, not a per-document gate, so
    * deliberately not a funnel stage.
    *
    * The gates are independent per-document expressions, so ONE
    * map-only pass evaluates all four and classifies (a CASE in
    * declared gate order — no re-scan per stage, unlike the naive
    * "run the pipeline N times" funnel); the rollup is one
    * partial-agg'd shuffle of ≤ 5 slim rows per task, and the total
    * rides the 1-row broadcast scalar. At 100 TB this costs exactly
    * one corpus scan.
    */
  def gateFunnel(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text",
                 sampleThr: String = "c0"): DataFrame =
    funnelFromCounts(funnelCounts(docs, idCol, textCol, sampleThr))

  /** The per-document first-failing-gate classification (declared gate
    * order) — one pure column expression, shared by the batch funnel
    * and the streaming journal delta so the two cannot drift.
    */
  private[graft] def gateStage(idCol: String, textCol: String,
                               sampleThr: String): Column = {
    val s = TextStats.scores(col(textCol))
    when(!hashKeep(col(idCol), lit(sampleThr)), lit("sample"))
      .when(s.getField("lang") =!= "en", lit("langid"))
      .when(s.getField("quality") < 0.8, lit("quality"))
      .when(s.getField("rep_ratio") > 0.6, lit("repetition"))
      .otherwise(lit("kept"))
  }

  /** One pass's slim (stage, n_docs, n_tokens) rollup — the batch
    * funnel aggregates exactly this; a streaming micro-batch appends it
    * as its journal delta (integer counts fold exactly by addition).
    */
  def funnelCounts(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text",
                   sampleThr: String = "c0"): DataFrame =
    docs.select(gateStage(idCol, textCol, sampleThr).as("stage"),
        TextStats.tokenCount(col(textCol)).cast("long").as("nt"))
      .groupBy("stage")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))

  /** The ONE shared report core: fold (stage, n_docs, n_tokens) count
    * rows (one batch pass's, or a journal's many) into the ordered
    * funnel with shares — so the batch report and the journal
    * fold-on-read are bit-identical over the same counts.
    */
  def funnelFromCounts(counts: DataFrame): DataFrame = {
    val agg = counts.groupBy("stage")
      .agg(sum("n_docs").as("n_docs"), sum("n_tokens").as("n_tokens"))
      // q18/x28 pattern: checkpoint the ≤5-row frame so the 1-row total
      // folds from it instead of re-running the upstream pass (for the
      // batch funnel that upstream is the full gate-expression corpus
      // scan — evaluating langid/quality/repetition twice is the exact
      // double-scan this kills; for a journal fold it is just a re-read)
      .localCheckpoint(true)
    val tot = agg.agg(sum("n_docs").cast("double").as("n"))
    agg.crossJoin(broadcast(tot))
      .select(
        when(col("stage") === "sample", 0L)
          .when(col("stage") === "langid", 1L)
          .when(col("stage") === "quality", 2L)
          .when(col("stage") === "repetition", 3L)
          .otherwise(4L).as("stage_ord"),
        col("stage"), col("n_docs"), col("n_tokens"),
        round(col("n_docs") / col("n"), 6).as("doc_share"))
      .orderBy("stage_ord")
  }

  /** X7h (r12): cluster-balanced diversity sampling — assign every
    * embedding to its single nearest engine-portable cell
    * ([[Dedup.semanticCells]] at nprobe=1: md5-seeded, rounded-cosine
    * ranked) and keep at most `cap` vectors per cell by the
    * deterministic md5 priority ([[capPerGroup]]'s uniform). This is
    * the embedding-space twin of the per-source domain cap: a corpus
    * dominated by one dense region (boilerplate re-renders, template
    * families) gets flattened toward uniform cluster coverage before
    * training — the DiverseSample/cluster-capped curation step.
    *
    * Output is the per-cell coverage report with the kept membership
    * sealed in `kept_md5` (doc ids space-joined in priority-rank
    * order — any membership or order drift flips the hash).
    *
    * Scale: cell assignment is MAP-ONLY (seeds ride as a codegen
    * reference object); the cap is the bounded-heap pre-shuffle
    * aggregate (<= cap rows per cell per task cross the wire, so the
    * dense cell that motivates the cap cannot hurt it); the report is
    * nlist slim rows. Size nlist ~ sqrt(n) at deployment; the kept id
    * LIST stays driver-free — it lives in the hash, and the sampled
    * subset itself is the `capPerGroup` frame joined back by id.
    */
  def clusterBalancedSample(embeddings: DataFrame, nlist: Int, cap: Int,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding",
                            seeds: Option[Array[Array[Double]]] = None): DataFrame = {
    import graft.functions.TopKByScore.top_k_by_score
    val cells = Dedup.semanticCells(embeddings, nlist, nprobe = 1,
      idCol = idCol, vecCol = vecCol, seeds = seeds).select("doc_id", "cell")
    // ONE aggregation computes both the cell total and the capped
    // survivor heap (same uniform + heap as [[capPerGroup]] — the
    // bounded ObjectHashAggregate partial), so the corpus is scanned
    // and cell-assigned exactly once and there is no join at all; the
    // heap's position order IS the priority-rank order, so the
    // membership hash folds straight off the struct array.
    val u = (conv(substring(md5(concat(lit("graft-cap"), lit(":"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long") + 1) /
      lit(4294967296.0)
    cells.select(col("cell"), col("doc_id"), (-u).as("_s"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_total"),
        top_k_by_score(col("_s"), col("doc_id"), cap).as("topk"))
      .select(col("cell").cast("long").as("cell"), col("n_total"),
        size(col("topk")).cast("long").as("n_kept"),
        round(size(col("topk")).cast("double") / col("n_total"), 6)
          .as("coverage"),
        md5(concat_ws(" ", transform(col("topk"),
          x => x.getField("id").cast("string")))).as("kept_md5"))
      .orderBy("cell")
  }

  /** Sequence packing (pretraining batch prep): concatenate documents in
    * a deterministic order within each shard and split at `capacity`
    * tokens — chunk_id = floor(preceding_tokens / capacity). Running sum
    * is per-shard, so shards pack in parallel; no global ordering is
    * required at scale.
    *
    * Parallelism: the shard key is `(partitionCol, shard)` where `shard =
    * portable_md5(orderCol) % nShards` — with the default `nShards = 1`
    * the window is per-`partitionCol` only, which caps concurrency at the
    * number of distinct values (5 languages = 5 tasks at 100 TB: wrong).
    * Set `nShards` so that (#partitionCol values x nShards) comfortably
    * exceeds the cluster's cores AND each shard's rows fit one task;
    * deterministic, engine-portable (md5), and chunks remain capacity-
    * bounded per shard — packing semantics are unchanged, chunk ids just
    * become per-(shard) instead of per-(partitionCol).
    */
  def packChunks(docs: DataFrame, partitionCol: String, orderCol: String,
                 tokens: Column, capacity: Int, nShards: Int = 1): DataFrame = {
    val shard =
      if (nShards <= 1) lit(0L)
      else graft.operators.Routing.assignByKey(
        col(orderCol), nShards, graft.operators.Routing.portableHash)
    val w = Window.partitionBy(col(partitionCol), col("shard"))
      .orderBy(col(orderCol))
    docs
      .withColumn("shard", shard)
      .withColumn("tok", tokens)
      .withColumn("cum", sum(col("tok")).over(w))
      .withColumn("chunk_id", floor((col("cum") - col("tok")) / capacity))
  }

  /** X22c (r12): packing-efficiency report — the capacity-selection
    * readout next to [[packChunks]]: for each candidate context length,
    * how many chunks the corpus packs into, the padding a trainer pays
    * (capacity − chunk tokens on under-full chunks) and the overflow it
    * must split (tokens past capacity when a single document straddles
    * the boundary), with `fill` = tokens / (chunks × capacity). A
    * pipeline reads this ONCE per corpus to pick the context length /
    * packing budget; semantics per chunk are exactly [[packChunks]]'
    * start-offset assignment.
    *
    * Scale: the expensive part — the per-shard running-sum window —
    * runs ONCE; capacities are then an explode over the slim
    * (shard, tok, cum) frame (|capacities|× row multiplication of
    * three longs, not of documents), and the rollups are two
    * partial-agg'd shuffles bounded by chunk counts. The naive form
    * (one packChunks pass per capacity) pays the window sort
    * |capacities| times.
    */
  def packEfficiency(docs: DataFrame, partitionCol: String, orderCol: String,
                     tokens: Column, capacities: Seq[Int],
                     nShards: Int = 1): DataFrame = {
    require(capacities.nonEmpty && capacities.forall(_ > 0),
      s"capacities must be positive (got $capacities)")
    val pre = packChunks(docs, partitionCol, orderCol, tokens,
        capacities.head, nShards)
      .select(col(partitionCol), col("shard"), col("tok"), col("cum"))
    val caps = array(capacities.map(c => lit(c.toLong)): _*)
    pre
      .select(col(partitionCol), col("shard"), col("tok"), col("cum"),
        explode(caps).as("capacity"))
      .withColumn("chunk_id",
        floor((col("cum") - col("tok")) / col("capacity")))
      .groupBy(col("capacity"), col(partitionCol), col("shard"),
        col("chunk_id"))
      .agg(sum("tok").as("chunk_toks"))
      .groupBy("capacity")
      .agg(count(lit(1)).as("n_chunks"), sum("chunk_toks").as("n_tokens"),
        sum(greatest(lit(0L), col("capacity") - col("chunk_toks")))
          .as("padding"),
        sum(greatest(lit(0L), col("chunk_toks") - col("capacity")))
          .as("overflow"),
        sum(when(col("chunk_toks") > col("capacity"), 1L).otherwise(0L))
          .as("n_overflow_chunks"))
      .select(col("capacity"), col("n_chunks"), col("n_tokens"),
        col("padding"), col("overflow"), col("n_overflow_chunks"),
        round(col("n_tokens").cast("double") /
          (col("n_chunks") * col("capacity")), 6).as("fill"))
      .orderBy("capacity")
  }

  /** X22d: per-chunk DOCUMENT-BOUNDARY manifest — the piece a trainer
    * needs next to the packed chunks themselves: within each chunk, the
    * start offset of every document in the chunk's token stream (offset
    * = running-sum start − chunk_id·capacity, always in [0, capacity)),
    * in document order. These offsets are what builds the block-diagonal
    * attention mask / sequence separators when packed chunks feed a
    * trainer — without them, cross-document attention leaks.
    *
    * Output: one row per (group, shard, chunk) with (n_docs, n_tokens,
    * bounds_str = space-joined offsets in order-key order, docs_md5 =
    * sealed chunk membership).
    *
    * Scale: [[packChunks]]' one window pass plus one partial-agg'd
    * rollup keyed by chunk; the collect_list is chunk-bounded (a chunk
    * holds at most capacity documents), never corpus-bounded.
    */
  def packBoundaries(docs: DataFrame, partitionCol: String, orderCol: String,
                     tokens: Column, capacity: Int,
                     nShards: Int = 1): DataFrame =
    packChunks(docs, partitionCol, orderCol, tokens, capacity, nShards)
      .withColumn("off", col("cum") - col("tok") - col("chunk_id") * capacity)
      .groupBy(col(partitionCol), col("shard"), col("chunk_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok")).as("n_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col(orderCol).as("o"),
            col("off").as("off")))),
          x => x.getField("off").cast("string"))).as("bounds_str"),
        md5(concat_ws(" ", transform(array_sort(collect_list(col(orderCol))),
          x => x.cast("string")))).as("docs_md5"))
      .orderBy(partitionCol, "shard", "chunk_id")

  /** [[packChunks]] with `nShards` DERIVED instead of defaulted — the
    * `nShards = 1` default is a documented scale trap (5 distinct
    * partitionCol values = 5 window tasks at 100 TB). Two lower bounds,
    * take the max:
    *  - parallelism: (#groups × nShards) >= 2 × `defaultParallelism`, so
    *    the window stage can occupy every core even with skewed groups
    *    (the 2× headroom lets the scheduler balance uneven shards);
    *  - memory: the LARGEST group splits into shards of at most
    *    `targetRowsPerShard` rows, so one window task's sort buffer stays
    *    bounded no matter how skewed the group distribution is.
    * Costs one extra aggregate scan for the per-group counts (cheap next
    * to the window sort; at 100 TB cache/reuse the stats frame if the
    * same corpus packs repeatedly). Shard count, and therefore chunk
    * ids, depend on the cluster — for the cross-engine-reproducible form
    * pin `nShards` explicitly (the declared x22 queries do).
    */
  def packChunksAuto(docs: DataFrame, partitionCol: String, orderCol: String,
                     tokens: Column, capacity: Int,
                     targetRowsPerShard: Long = 4000000L): DataFrame = {
    val stats = docs.groupBy(partitionCol).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("groups"), max("n").as("maxn")).collect()(0)
    val nGroups = math.max(stats.getLong(0), 1L)
    val maxGroup = if (stats.isNullAt(1)) 0L else stats.getLong(1)
    val byParallelism =
      math.ceil(2.0 * docs.sparkSession.sparkContext.defaultParallelism / nGroups)
    val bySize = math.ceil(maxGroup.toDouble / targetRowsPerShard)
    val nShards = math.max(1L, math.max(byParallelism, bySize).toLong)
      .min(Int.MaxValue).toInt
    packChunks(docs, partitionCol, orderCol, tokens, capacity, nShards)
  }

  /** Context-window chunking with overlap (the other chunking op a
    * pretraining/RAG pipeline needs besides [[packChunks]]): split each
    * document into windows of `chunkTokens` tokens starting every
    * `stride` tokens (stride < chunkTokens ⇒ overlapping windows), tail
    * kept. Chunk count = floor((max(n - chunkTokens, 0) + stride - 1) /
    * stride) + 1, so every token is covered and a short/empty document
    * yields exactly one chunk.
    *
    * Scale: pure per-row work — tokenize, slice, explode; no shuffle at
    * any corpus size, and chunk rows carry only their own window.
    */
  def chunkWithOverlap(docs: DataFrame, textCol: String, idCol: String,
                       chunkTokens: Int, stride: Int): DataFrame = {
    require(chunkTokens > 0 && stride > 0 && stride <= chunkTokens,
      s"need 0 < stride <= chunkTokens (got chunk=$chunkTokens stride=$stride)")
    // null text behaves exactly like empty text (one empty chunk,
    // n_tok = 0) — without the coalesce, size(tokens(null)) = -1 leaks
    // a degenerate n_tok = -1 row
    val toks = Dedup.tokens(coalesce(col(textCol), lit("")))
    val n = size(toks)
    val nChunks = (floor((greatest(n - chunkTokens, lit(0)) + stride - 1)
      .cast("double") / stride) + 1).cast("int")
    docs
      .select(col(idCol).as("doc_id"), toks.as("w"), nChunks.as("nc"))
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), col("nc") - 1),
        i => slice(col("w"), i * stride + 1, lit(chunkTokens)))))
      .select(col("doc_id"), col("pos").as("chunk_no"),
        concat_ws(" ", col("col")).as("chunk_text"),
        size(col("col")).as("n_tok"))
  }

  /** X9b: content-defined chunking (the storage-dedup/CDC formulation,
    * token-level): a chunk boundary falls AFTER token position i
    * wherever the rolling `window`-gram ending at i hashes to
    * `0 mod modulus` — so boundaries are CONTENT-anchored: inserting or
    * deleting tokens reshapes only the neighboring chunks, never the
    * rest of the stream (the LBFS/restic gear-hash property that makes
    * chunk-hash dedup robust to edits, which fixed windows like
    * [[chunkWithOverlap]] provably are not). Expected chunk length ≈
    * `modulus` tokens.
    *
    * Output: (doc_id, chunk_id, start_pos 0-based, n_tokens,
    * chunk_hash) — the chunk-hash set IS the shareable dedup state two
    * corpus versions compare. Entirely per-row array arithmetic
    * (sequence/filter/slice + md5): map-only, zero shuffles at any
    * corpus size, streams unchanged. A doc with < window tokens is one
    * unbroken chunk; a tokenless doc yields no rows.
    */
  def cdcChunks(docs: DataFrame, textCol: String, idCol: String,
                window: Int = 4, modulus: Int = 64): DataFrame = {
    require(window > 0, s"window must be positive (got $window)")
    require(modulus > 0, s"modulus must be positive (got $modulus)")
    val toks = Dedup.tokens(coalesce(col(textCol), lit("")))
    docs.filter(col(idCol).isNotNull)
      .select(col(idCol).as("doc_id"), toks.as("w"))
      // boundary positions (1-based, ascending): md5 bucket of the
      // trailing window-gram == 0; the sequence guard keeps short docs
      // out of sequence()'s descending-range trap
      .withColumn("bnds", when(size(col("w")) >= window,
        filter(sequence(lit(window), size(col("w"))), i =>
          conv(substring(md5(concat_ws(" ",
            slice(col("w"), i - window + 1, lit(window)))), 1, 8), 16, 10)
            .cast("long") % modulus === 0))
        .otherwise(array().cast("array<int>")))
      // chunk k spans starts(k)..ends(k); only the TAIL pair can be
      // empty (boundary exactly at the last token), dropped by s <= e
      .withColumn("starts",
        concat(array(lit(1)), transform(col("bnds"), b => b + 1)))
      .withColumn("ends", concat(col("bnds"), array(size(col("w")))))
      .select(col("doc_id"), col("w"),
        posexplode(filter(
          zip_with(col("starts"), col("ends"),
            (s, e) => struct(s.as("s"), e.as("e"))),
          p => p("s") <= p("e"))).as(Seq("ci", "p")))
      .select(col("doc_id"),
        (col("ci") + 1).cast("long").as("chunk_id"),
        (col("p.s") - 1).cast("long").as("start_pos"),
        (col("p.e") - col("p.s") + 1).cast("long").as("n_tokens"),
        md5(concat_ws(" ",
          slice(col("w"), col("p.s"), col("p.e") - col("p.s") + 1)))
          .as("chunk_hash"))
  }

  /** Semantic decontamination (the embedding sibling of
    * [[contaminationOverlap]]): flag corpus vectors whose max cosine
    * against ANY benchmark vector reaches `threshold` — catches
    * paraphrased benchmark leakage that shingle overlap misses.
    *
    * Scale: the benchmark set is small by construction (10^3..10^5
    * items) and broadcast; the corpus side is one map-only scan doing m
    * cosines per row with a PARTIAL max before the shuffle, which then
    * carries only (id, max_sim). For very large benchmarks, block the
    * benchmark side with [[Similarity.ivfTopK]]-style cells first.
    */
  def semanticDecontam(corpus: DataFrame, benchmark: DataFrame,
                       threshold: Double,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val bench = benchmark.select(col(vecCol).cast("array<double>").as("vb"))
    corpus.select(col(idCol), col(vecCol).cast("array<double>").as("va"))
      .crossJoin(broadcast(bench))
      // round per-pair BEFORE max (the x16-proven 6dp cross-engine
      // agreement point), so the aggregated max is engine-identical
      .withColumn("sim", round(Similarity.cosine(col("va"), col("vb")), 6))
      .groupBy(idCol)
      .agg(max(col("sim")).as("max_sim"))
      .filter(col("max_sim") >= threshold)
  }

  /** Decontamination ATTRIBUTION (forensics for [[semanticDecontam]]):
    * for every flagged corpus vector, also report WHICH benchmark item
    * it leaked from — the argmax-similarity benchmark id, ties broken to
    * the smallest id so the answer is deterministic and cross-engine
    * reproducible.
    *
    * Scale shape — two passes, both streaming HashAggregates:
    *  1. [[semanticDecontam]]'s map-only scan finds the flagged
    *     (id, max_sim) set (plain `max` partial-aggregates BEFORE the
    *     shuffle, no buffering);
    *  2. the flagged set — small by design, contamination is the
    *     exception — broadcasts back onto the corpus, and only flagged
    *     rows recompute their m cosines to take `min(bench_id)` at the
    *     max: extra compute ≈ flagged_fraction × m.
    * The tempting one-pass `max(struct(sim, -bench_id))` is NOT used:
    * struct-max falls back to SortAggregate, which buffers and sorts the
    * whole corpus×benchmark joined stream per partition — the exact
    * blow-up this operator family exists to avoid (verified via
    * `.explain`; the two-pass form keeps every aggregate hash-based).
    * If a corpus is ever so contaminated the flagged set won't
    * broadcast, the deployment problem is the corpus, not the plan.
    */
  def decontamAttribution(corpus: DataFrame, benchmark: DataFrame,
                          threshold: Double,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    val bench = benchmark.select(col(idCol).as("bench_id"),
      col(vecCol).cast("array<double>").as("vb"))
    val flagged = semanticDecontam(corpus, benchmark, threshold, idCol, vecCol)
    corpus.select(col(idCol), col(vecCol).cast("array<double>").as("va"))
      .join(broadcast(flagged), Seq(idCol))
      .crossJoin(broadcast(bench))
      // round per-pair BEFORE comparing — see semanticDecontam; rounding
      // first also makes the tie SET identical cross-engine
      .withColumn("sim", round(Similarity.cosine(col("va"), col("vb")), 6))
      .filter(col("sim") === col("max_sim"))
      .groupBy(col(idCol), col("max_sim"))
      .agg(min(col("bench_id")).as("leak_src"))
      .select(col(idCol), col("max_sim"), col("leak_src"))
  }

  /** Cell-blocked semantic decontamination (the large-benchmark form of
    * [[semanticDecontam]], promised by its docstring): at 10^6+ benchmark
    * items the m-cosines-per-corpus-row scan stops scaling, so the
    * BENCHMARK is clustered into `nlist` IVF cells (spherical k-means via
    * [[Similarity.kmeansCentroids]] — the benchmark is the small side, so
    * training is cheap) and each corpus vector scores only the benchmark
    * vectors in its `nprobe` nearest cells: ~m·nprobe/nlist cosines per
    * row instead of m.
    *
    * Plan shape (same scale contract as [[semanticDecontam]]): benchmark
    * cells broadcast, corpus side map-only (explode ×nprobe, broadcast
    * equi-join on cell, partial max) — the only corpus-wide shuffle
    * carries (id, max_sim). Each (corpus, benchmark) pair is scored at
    * most once (a benchmark vector lives in exactly one cell), so no
    * distinct is needed. Approximate by construction: the reported
    * max_sim is exact iff the true argmax benchmark vector's cell is
    * probed (blocked max <= true max, never above — no false flags with
    * a wrong-side error). Recall vs the exact form is spec-asserted
    * (CurationSpec) and the declared x36_blocked budget reproduces the
    * exact output on the fixtures (BoundProbe provenance, BASELINE.md);
    * nprobe = nlist is exhaustive by construction.
    */
  def semanticDecontamBlocked(corpus: DataFrame, benchmark: DataFrame,
                              threshold: Double,
                              nlist: Int = 8, nprobe: Int = 4,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding",
                              centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    import graft.functions.NearestCells.nearest_cells
    val cents = centroids.getOrElse(
      Similarity.kmeansCentroids(benchmark, nlist, idCol = idCol, vecCol = vecCol))
    val bench = benchmark.select(col(vecCol).cast("array<double>").as("vb"))
      .withColumn("cell", element_at(nearest_cells(col("vb"), cents, 1), 1))
    val probed = corpus
      .select(col(idCol), col(vecCol).cast("array<double>").as("va"))
      .withColumn("cell", explode(nearest_cells(col("va"), cents, nprobe)))
    probed.join(broadcast(bench), Seq("cell"))
      // round per-pair BEFORE max — see semanticDecontam
      .withColumn("sim", round(Similarity.cosine(col("va"), col("vb")), 6))
      .groupBy(idCol)
      .agg(max(col("sim")).as("max_sim"))
      .filter(col("max_sim") >= threshold)
  }

  /** Deterministic train/val/test split assignment: md5-bucket the id
    * into 65536 buckets and carve them by cumulative fraction —
    * reproducible across engines and runs (unlike `rand()`-based
    * splits), stable under corpus growth (a document's split never
    * changes when other documents are added), map-only at any scale.
    */
  def splitAssign(df: DataFrame, idCol: String,
                  fracs: Seq[(String, Double)] =
                    Seq("train" -> 0.98, "val" -> 0.01, "test" -> 0.01),
                  // NOT the sample-gate salt: a corpus that passed a
                  // "graft"-salted hashKeep gate has md5 prefixes capped
                  // below the gate threshold — with a shared salt every
                  // survivor's bucket sits below the train bound and
                  // val/test come out EMPTY (see hashKeep's salt note)
                  salt: String = "graft-split"): DataFrame = {
    require(fracs.nonEmpty && math.abs(fracs.map(_._2).sum - 1.0) < 1e-9,
      s"split fractions must sum to 1 (got $fracs)")
    val bucket = conv(substring(
      md5(concat(lit(salt), col(idCol).cast("string"))), 1, 4), 16, 10)
      .cast("int")
    val bounds = fracs.scanLeft(0.0)(_ + _._2).tail.init
      .map(c => math.floor(c * 65536).toInt)
    val assigned = fracs.init.zip(bounds) match {
      case Seq() => lit(fracs.last._1)
      case pairs =>
        pairs.map { case ((label, _), b) => (label, b) }
          .foldLeft(Option.empty[Column]) {
            case (None, (label, b)) => Some(when(bucket < b, label))
            case (Some(e), (label, b)) => Some(e.when(bucket < b, label))
          }.get.otherwise(fracs.last._1)
    }
    df.withColumn("split", assigned)
  }

  /** X7e: CROSS-document exact duplicated-substring spans — the
    * suffix-array-family "deduplicating training data" rule
    * (Lee et al. 2022) re-expressed relationally: a token position is
    * duplicated when some n-gram covering it occurs at >= 2 (doc, pos)
    * sites CORPUS-WIDE (a verbatim quote shared across documents, or a
    * passage pasted twice into one); the output is each document's
    * MAXIMAL runs of duplicated positions — one row per span:
    * (doc_id, span_id, start_pos, end_pos, span_len), 0-based inclusive
    * token indices, span_id numbered by start. The spans are what a
    * dedup pass CUTS (see [[cutDupSpans]]); x46's within-doc coverage
    * and x42's boilerplate fraction only ever score documents.
    *
    * Scale (100 TB): the corpus tokenizes ONCE into a persisted frame
    * (the unigramLogProb policy); anchors explode to (doc_id, pos,
    * 64-bit gram hash) — slim rows, never text. The corpus-wide gram
    * count is one map-side-partial aggregation; marking anchors is one
    * equi-join where each anchor row matches exactly one df row (no
    * multiplication by construction — the x42 argument; a stop-gram's
    * anchors land on one partition, AQE skew-split covers it). Span
    * merging never explodes covered positions: a per-doc window
    * (running max of anchor end) finds island breaks directly on the
    * anchor rows, so the merge shuffles only duplicated anchors.
    */
  def dupSpans(docs: DataFrame, textCol: String, idCol: String,
               n: Int = 5): DataFrame = {
    val base0 = docs.select(col(idCol).as("doc_id"),
      Dedup.tokens(coalesce(col(textCol), lit(""))).as("w"))
    Dedup.materialized(base0) { base =>
      val pos = base.filter(size(col("w")) >= n)
        .select(col("doc_id"), posexplode(transform(
          sequence(lit(0), size(col("w")) - n),
          i => xxhash64(concat_ws(" ", slice(col("w"), i + 1, lit(n)))))))
        .toDF("doc_id", "pos", "h")
      val dupGrams = pos.groupBy("h")
        .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 2)
        .select("h")
      val anchors = pos.join(dupGrams, Seq("h"))
        .select(col("doc_id"), col("pos"))
      // island merge on intervals [pos, pos+n-1]: break when this
      // anchor starts past the running coverage end + 1
      mergeAnchorSpans(anchors, n)
    }
  }

  /** The cut: rebuild each document with its duplicated spans removed —
    * the transform [[dupSpans]] exists for. Output is one row per input
    * document: (doc_id, n_tokens, n_cut, clean_text) where clean_text
    * joins the surviving tokens (token-level normalization: lowercased,
    * punctuation collapsed — mapping spans back to raw character
    * offsets needs an offset-preserving tokenizer, a documented
    * boundary). Documents with no duplicated span pass through with
    * n_cut = 0.
    *
    * Scale: document text never shuffles — the slim span frame
    * aggregates per doc (a few ints) and broadcasts back onto the
    * corpus via a left join keyed by doc_id; the cut itself is one
    * map-side filter-by-index lambda over the token array, inside
    * whole-stage codegen.
    */
  def cutDupSpans(docs: DataFrame, textCol: String, idCol: String,
                  n: Int = 5): DataFrame =
    applySpanCut(docs, textCol, idCol, dupSpans(docs, textCol, idCol, n))

  /** X7e-b (r18): cross-document EXACT-SUBSTRING dedup with a KEPT
    * occurrence — the suffix-array-family rule of Lee et al. 2021
    * ("Deduplicating Training Data Makes Language Models Better":
    * substrings repeated across the corpus are removed until one
    * occurrence remains), in relational form. An n-token window whose
    * text occurs >= 2 times anywhere in the corpus is a duplicated
    * substring; its KEEPER is the lexicographically first occurrence
    * (min doc_id, then min pos), and every OTHER occurrence marks its
    * n positions; marked positions merge into maximal per-document
    * spans (the [[dupSpans]] island rule). The difference from
    * [[dupSpans]] is the survivor: dupSpans is the no-keeper coverage
    * REPORT (it feeds quality gates, so every occurrence counts),
    * this is the destructive dedup transform — exactly one copy of
    * every repeated substring survives the cut, which is what the
    * published pipelines apply to the training corpus itself.
    *
    * Window identity is the xxhash64 of the window text (the
    * [[dupSpans]] discipline — the oracle compares window STRINGS, so
    * a 64-bit collision is the declared, fixture-checked risk); the
    * keeper tie-break is total because (doc_id, pos) is a key.
    *
    * Scale: document text never shuffles — the exploded frame is slim
    * (hash, doc, pos) rows; keeper election is one partial-agg'd
    * groupBy on the 64-bit hash; the mark join is a hash-to-hash
    * equi-join of those slim rows; the island merge is a per-document
    * window (corpus-partitioned, no global sort). A stop-window df
    * cap is unnecessary: hot windows cost one grouped count here, not
    * a quadratic pair join. (No reference citation — the reference
    * engine has no dedup surface.)
    */
  def xdocSubstrSpans(docs: DataFrame, textCol: String, idCol: String,
                      n: Int = 5): DataFrame = {
    val pos0 = xdocPosFrame(docs, textCol, idCol, n)
    Dedup.materialized(pos0) { pos =>
      val keep = pos.groupBy("h")
        .agg(count(lit(1)).as("cnt"),
          min(struct(col("doc_id"), col("pos"))).as("kp"))
        .filter(col("cnt") >= 2)
        .select(col("h"), col("kp.doc_id").as("kd"), col("kp.pos").as("kpos"))
      val anchors = pos.join(keep, Seq("h"))
        .filter(!(col("doc_id") === col("kd") && col("pos") === col("kpos")))
        .select(col("doc_id"), col("pos"))
      mergeAnchorSpans(anchors, n)
    }
  }

  /** The cut for [[xdocSubstrSpans]] — each document rebuilt with its
    * NON-KEEPER duplicated spans removed (token-level, the
    * [[cutDupSpans]] output contract: (doc_id, n_tokens, n_cut,
    * clean_text)). Keeper occurrences stay in place, so joining the
    * cut corpus back together still contains every repeated substring
    * exactly once.
    */
  def cutXdocSubstr(docs: DataFrame, textCol: String, idCol: String,
                    n: Int = 5): DataFrame =
    applySpanCut(docs, textCol, idCol,
      xdocSubstrSpans(docs, textCol, idCol, n))

  /** The slim positional window frame shared by [[xdocSubstrSpans]]
    * and its incremental refresh ([[Refresh.xdocRefresh]]): one
    * (doc_id, pos, h) row per n-token window, h = the xxhash64 of the
    * window text (the x63/x133 window-identity discipline — the
    * oracle compares window STRINGS, so a 64-bit collision is the
    * declared, fixture-checked risk). Documents shorter than n tokens
    * contribute no rows.
    */
  private[ext] def xdocPosFrame(docs: DataFrame, textCol: String,
                                idCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        Dedup.tokens(coalesce(col(textCol), lit(""))).as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), size(col("w")) - n),
        i => xxhash64(concat_ws(" ", slice(col("w"), i + 1, lit(n)))))))
      .toDF("doc_id", "pos", "h")

  /** Island-merge a slim (doc_id, pos) anchor frame (each anchor
    * covering [pos, pos+n-1]) into maximal disjoint spans — shared by
    * [[dupSpans]], [[xdocSubstrSpans]] and [[Refresh.xdocRefresh]].
    */
  private[ext] def mergeAnchorSpans(anchors: DataFrame, n: Int): DataFrame = {
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    val prevEnd = max(col("pos") + (n - 1))
      .over(byPos.rowsBetween(Window.unboundedPreceding, -1))
    anchors
      .withColumn("brk",
        when(prevEnd.isNull || col("pos") > prevEnd + 1, 1).otherwise(0))
      .withColumn("island", sum(col("brk")).over(byPos))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("start_pos"),
        (max(col("pos")) + (n - 1)).as("end_pos"))
      .select(col("doc_id"), col("island").cast("long").as("span_id"),
        col("start_pos").cast("long").as("start_pos"),
        col("end_pos").cast("long").as("end_pos"),
        (col("end_pos") - col("start_pos") + 1).cast("long").as("span_len"))
  }

  /** Rebuild each document minus a span frame's positions — the shared
    * cut ([[cutDupSpans]] / [[cutXdocSubstr]]): the slim span frame
    * aggregates per doc and joins back by doc_id; the cut itself is
    * one map-side filter-by-index lambda inside whole-stage codegen.
    */
  private[ext] def applySpanCut(docs: DataFrame, textCol: String, idCol: String,
                                spanFrame: DataFrame): DataFrame = {
    val spans = spanFrame
      .groupBy("doc_id")
      .agg(collect_list(struct(col("start_pos"), col("end_pos"))).as("spans"))
    docs.select(col(idCol).as("doc_id"),
        Dedup.tokens(coalesce(col(textCol), lit(""))).as("w"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"),
        coalesce(aggregate(col("spans"), lit(0L),
          (acc, sp) => acc + sp.getField("end_pos") -
            sp.getField("start_pos") + 1), lit(0L)).as("n_cut"),
        concat_ws(" ", filter(col("w"), (_, i) =>
          !coalesce(exists(col("spans"), sp =>
            i.cast("long") >= sp.getField("start_pos") &&
              i.cast("long") <= sp.getField("end_pos")), lit(false))))
          .as("clean_text"))
  }
}
