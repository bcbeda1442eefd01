package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-set assembly operators (SURVEY §2.9 north-star family):
  * the two order-sensitive steps between a curated corpus and a training
  * run — a deterministic epoch shuffle (what ORDER do the examples arrive
  * in) and a weight-proportional subsample (WHICH examples make the mix).
  *
  * Both derive every random decision from md5 over (salt/seed, id) — the
  * [[Curation.splitAssign]] / `hashKeep` convention — so results are
  * identical across engines, runs, executors and retries, and an epoch or
  * sample is re-drawn by changing one string, never by mutable RNG state.
  *
  * Scale design (100 TB of documents):
  *  - epochShuffle's plan is ONE hash exchange on the shard id plus an
  *    in-shard sort — rows never pass through a global range sort, and
  *    the md5 shard assignment is balanced by construction (~n/numShards
  *    per shard, no skew for any id distribution).
  *  - weightedSample is a per-stratum top-K, which Spark plans with a
  *    WindowGroupLimit below the exchange: every input partition keeps at
  *    most K rows per stratum map-side, so the shuffle carries
  *    O(partitions x strata x K) rows — not the corpus.
  */
object TrainSet {

  /** Deterministic epoch shuffle: every row gets a pseudorandom
    * (shard, pos) drawn from md5(seed ":" id). Changing `seed` (e.g. the
    * epoch number) redraws the whole permutation; keeping it fixes the
    * exact global training order, reproducible on any cluster.
    *
    * `pos` ranks the full md5 hex within the shard (id as tiebreak, so
    * even a 128-bit collision stays deterministic). A trainer streams
    * shard files in shard order and rows in pos order; the concatenation
    * is a uniform random permutation of the corpus.
    *
    * Output: (shard, pos, id-column) — join back to the payload by id, or
    * select extra columns before calling.
    */
  def epochShuffle(df: DataFrame, idCol: String, seed: String,
                   numShards: Int): DataFrame = {
    require(numShards > 0, s"numShards must be positive (got $numShards)")
    val h = md5(concat(lit(seed), lit(":"), col(idCol).cast("string")))
    // first 8 hex chars < 2^32, so the conv result is non-negative and
    // plain % is already a bucket in [0, numShards)
    val w = Window.partitionBy("shard").orderBy(col("_h"), col(idCol))
    df.filter(col(idCol).isNotNull)
      .withColumn("_h", h)
      .withColumn("shard",
        conv(substring(col("_h"), 1, 8), 16, 10).cast("long") % numShards)
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("shard"), col("pos"), col(idCol))
  }

  /** Weight-proportional sample WITHOUT replacement, K per stratum
    * (Efraimidis–Spiridakis exponential race, the one-pass distributed
    * formulation): row i draws priority -ln(u_i) / w_i with u_i an
    * md5-derived uniform in (0, 1]; the K smallest priorities per stratum
    * win. Distributionally identical to K sequential weighted draws
    * without replacement — the quality-weighted subsample a mixture
    * builder runs per (lang, source) stratum — but embarrassingly
    * parallel and, via the md5 uniforms, deterministic in (salt, id).
    *
    * Rows with null or non-positive weight are excluded (a document with
    * no mass cannot be drawn). Output: (stratum, rank, id, priority
    * rounded to 6dp); rank 1 is the most favoured draw.
    */
  def weightedSample(df: DataFrame, stratumCol: String, idCol: String,
                     weightCol: String, k: Int,
                     salt: String = "graft-wsample"): DataFrame = {
    require(k > 0, s"k must be positive (got $k)")
    // (v + 1) / 2^32 over v in [0, 2^32): u in (0, 1], so ln(u) is finite
    val u = (conv(substring(md5(concat(lit(salt), lit(":"),
      col(idCol).cast("string"))), 1, 8), 16, 10).cast("long") + 1) /
      lit(4294967296.0)
    val w = Window.partitionBy("stratum").orderBy(col("_pri"), col(idCol))
    df.filter(col(idCol).isNotNull && col(stratumCol).isNotNull &&
        col(weightCol).isNotNull && col(weightCol) > 0)
      .select(col(stratumCol).as("stratum"), col(idCol),
        (-log(u) / col(weightCol).cast("double")).as("_pri"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("stratum"), col("rank"), col(idCol),
        round(col("_pri"), 6).as("priority"))
  }

  /** Hashed n-gram feature buckets (the DSIR feature space): one row per
    * unigram AND sequential-bigram occurrence, bucketed by
    * md5(gram) % numBuckets. Tokenization is the corpus-wide
    * [[Dedup.tokens]] convention; bucketing is pure md5 arithmetic, so
    * DuckDB reproduces the exact feature stream. Documents with no
    * tokens produce no rows (explode of an empty array) and therefore
    * drop out of any downstream scoring — the same convention both
    * engines. Map-only at any scale.
    */
  def hashedNgramBuckets(df: DataFrame, textCol: String, idCol: String,
                         numBuckets: Int): DataFrame = {
    require(numBuckets > 0, s"numBuckets must be positive (got $numBuckets)")
    val toks = graft.ext.Dedup.tokens(coalesce(col(textCol), lit("")))
    val base = df.filter(col(idCol).isNotNull)
      .select(col(idCol).as("_id"), toks.as("toks"))
    val uni = base.select(col("_id"), explode(col("toks")).as("gram"))
    val bi = base.filter(size(col("toks")) >= 2)
      .select(col("_id"), explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => concat(element_at(col("toks"), i), lit(" "),
          element_at(col("toks"), i + 1)))).as("gram"))
    uni.unionByName(bi).select(col("_id"),
      (conv(substring(md5(col("gram")), 1, 8), 16, 10).cast("long")
        % numBuckets).as("bucket"))
  }

  /** X18: DSIR-style importance resampling (Data Selection via
    * Importance Resampling, Xie et al. 2023 — the published
    * hashed-n-gram formulation): select k documents from a raw corpus
    * whose feature distribution matches a small TARGET corpus (e.g.
    * curated reference text), by importance weighting + Gumbel top-k.
    *
    *  1. features: hashed unigram+bigram buckets
    *     ([[hashedNgramBuckets]]);
    *  2. bucket distributions: Laplace-smoothed
    *     p(b) = (count(b) + 1) / (total + numBuckets) for target and
    *     raw; per-bucket log-ratio lr(b) = ln p_t(b) - ln p_r(b);
    *  3. per-doc log importance weight = sum of lr over the doc's
    *     feature OCCURRENCES (a bucket hit twice counts twice);
    *  4. Gumbel-top-k resampling: key_i = logw_i + g_i with
    *     g_i = -ln(-ln(u_i)) and u_i an md5-derived uniform in (0,1) —
    *     distributionally identical to k sequential draws without
    *     replacement ∝ exp(logw), but embarrassingly parallel and
    *     deterministic in (salt, id).
    *
    * Output: (rank, idCol, log_weight, gumbel_key), rank 1 = first
    * draw; log_weight/gumbel_key rounded to 6dp.
    *
    * Scale (100 TB raw corpus, MB-scale target): the target side is
    * tiny by construction; the raw corpus is featurized ONCE (persisted
    * with lineage, released in `finally` — the Dedup materialization
    * policy) and re-read for the two raw passes (bucket histogram,
    * per-doc sum). The log-ratio table is at most numBuckets rows and
    * rides as a BROADCAST join — the corpus never shuffles by bucket.
    * The global top-k runs through the bounded-heap
    * [[graft.functions.TopKByScore]] aggregate: map-side partial
    * aggregation caps every task's contribution at k slim rows, so no
    * window, no global sort, no single-partition stage at any corpus
    * size. `logw` is recovered from the heap's key as key − g(id)
    * (pure arithmetic in the id — no join back to the corpus).
    */
  def dsirResample(raw: DataFrame, target: DataFrame, textCol: String,
                   idCol: String, k: Int, numBuckets: Int = 1024,
                   salt: String = "graft-dsir"): DataFrame = {
    require(k > 0, s"k must be positive (got $k)")
    import graft.functions.TopKByScore.top_k_by_score
    // k-row result: checkpoint eagerly so the featurization runs once
    // while `feats` is cached (the Dedup materialization policy)
    Dedup.materialized(hashedNgramBuckets(raw, textCol, idCol, numBuckets)) { feats =>
      val ct = hashedNgramBuckets(target, textCol, idCol, numBuckets)
        .groupBy("bucket").agg(count(lit(1)).as("ct"))
      val cr = feats.groupBy("bucket").agg(count(lit(1)).as("cr"))
      val tTot = ct.agg(sum(col("ct")).cast("double").as("tt"))
      val rTot = cr.agg(sum(col("cr")).cast("double").as("tr"))
      val ratio = cr.join(ct, Seq("bucket"), "left")
        .crossJoin(broadcast(tTot)).crossJoin(broadcast(rTot))
        .select(col("bucket"),
          (log((coalesce(col("ct"), lit(0L)) + 1) / (col("tt") + numBuckets))
            - log((col("cr") + 1) / (col("tr") + numBuckets))).as("lr"))
      // gumbel perturbation, deterministic in (salt, id): u in (0, 1)
      // strictly — (v + 0.5)/2^32 keeps both logs finite at the edges
      def gumbel(id: Column): Column = -log(-log(
        (conv(substring(md5(concat(lit(salt), lit(":"), id.cast("string"))),
          1, 8), 16, 10).cast("long") + 0.5) / lit(4294967296.0)))
      val keyed = feats.join(broadcast(ratio), Seq("bucket"))
        .groupBy("_id").agg(sum(col("lr")).as("logw"))
        .select(col("_id"), (col("logw") + gumbel(col("_id"))).as("key"))
      keyed
        .agg(top_k_by_score(col("key"), col("_id"), k).as("topk"))
        .select(posexplode(col("topk")).as(Seq("pos", "t")))
        .select((col("pos") + 1).cast("long").as("rank"),
          col("t.id").as(idCol),
          round(col("t.score") - gumbel(col("t.id")), 6).as("log_weight"),
          round(col("t.score"), 6).as("gumbel_key"))
    }
  }

  /** The DSIR "train" artifact: the full per-bucket smoothed log-ratio
    * table ln p_target(b) − ln p_raw(b) over the UNION of observed
    * buckets (full-outer on the two histograms; a bucket unseen on one
    * side keeps its Laplace floor). At most numBuckets rows — a
    * kilobyte-scale artifact built once per (raw snapshot, target)
    * pair and reused by every scoring pass, batch or streaming.
    */
  def dsirLogRatios(raw: DataFrame, target: DataFrame, textCol: String,
                    idCol: String, numBuckets: Int = 1024): DataFrame = {
    val ct = hashedNgramBuckets(target, textCol, idCol, numBuckets)
      .groupBy("bucket").agg(count(lit(1)).as("ct"))
    val cr = hashedNgramBuckets(raw, textCol, idCol, numBuckets)
      .groupBy("bucket").agg(count(lit(1)).as("cr"))
    val tTot = ct.agg(coalesce(sum(col("ct")), lit(0L)).cast("double").as("tt"))
    val rTot = cr.agg(coalesce(sum(col("cr")), lit(0L)).cast("double").as("tr"))
    cr.join(ct, Seq("bucket"), "full_outer")
      .crossJoin(broadcast(tTot)).crossJoin(broadcast(rTot))
      .select(col("bucket"),
        (log((coalesce(col("ct"), lit(0L)) + 1) / (col("tt") + numBuckets))
          - log((coalesce(col("cr"), lit(0L)) + 1) / (col("tr") + numBuckets)))
          .as("lr"))
  }

  /** [[dsirLogRatios]] collected to a driver-side lookup (the
    * codebook/centroid precedent: a kilobyte artifact that rides into
    * map-only scoring as a literal). Returns (bucket → log-ratio,
    * default) where `default` is the both-sides-unseen Laplace floor
    * ln((Tr + B) / (Tt + B)) — the value any bucket absent from the
    * map must score (possible only for documents the raw histogram
    * never saw, e.g. new streaming arrivals).
    */
  def dsirRatioMap(raw: DataFrame, target: DataFrame, textCol: String,
                   idCol: String, numBuckets: Int = 1024): (Map[Long, Double], Double) = {
    def hist(df: DataFrame): Map[Long, Long] =
      hashedNgramBuckets(df, textCol, idCol, numBuckets)
        .groupBy("bucket").agg(count(lit(1)).as("c"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // one corpus pass per side; the [[dsirLogRatios]] formula replayed
    // in driver arithmetic over the <= numBuckets-entry histograms
    val ct = hist(target)
    val cr = hist(raw)
    val tt = ct.values.sum.toDouble
    val tr = cr.values.sum.toDouble
    val m = (ct.keySet ++ cr.keySet).iterator.map { b =>
      b -> (math.log((ct.getOrElse(b, 0L) + 1) / (tt + numBuckets))
        - math.log((cr.getOrElse(b, 0L) + 1) / (tr + numBuckets)))
    }.toMap
    (m, math.log((tr + numBuckets) / (tt + numBuckets)))
  }

  /** [[dsirRatioMap]] for the common case where the target corpus is a
    * PREDICATE SLICE of the raw corpus (e.g. lang = 'en'): ONE featurize
    * scan builds both histograms — the target flag rides the gram explode
    * as a boolean and the per-bucket aggregate counts (all, flagged) in
    * the same partial-agg'd pass. Halves the training scans; identical
    * arithmetic, bit-identical output to the two-frame form.
    */
  def dsirRatioMapTagged(raw: DataFrame, targetPred: Column, textCol: String,
                         idCol: String, numBuckets: Int = 1024): (Map[Long, Double], Double) = {
    require(numBuckets > 0, s"numBuckets must be positive (got $numBuckets)")
    val toks = graft.ext.Dedup.tokens(coalesce(col(textCol), lit("")))
    val base = raw.filter(col(idCol).isNotNull)
      .select(targetPred.as("tgt"), toks.as("toks"))
    val uni = base.select(col("tgt"), explode(col("toks")).as("gram"))
    val bi = base.filter(size(col("toks")) >= 2)
      .select(col("tgt"), explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => concat(element_at(col("toks"), i), lit(" "),
          element_at(col("toks"), i + 1)))).as("gram"))
    val hist = uni.unionByName(bi)
      .select(col("tgt"),
        (conv(substring(md5(col("gram")), 1, 8), 16, 10).cast("long")
          % numBuckets).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cr"),
        count(when(col("tgt"), lit(1))).as("ct"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val tr = hist.valuesIterator.map(_._1).sum.toDouble
    val tt = hist.valuesIterator.map(_._2).sum.toDouble
    val m = hist.map { case (b, (cr, ct)) =>
      b -> (math.log((ct + 1) / (tt + numBuckets))
        - math.log((cr + 1) / (tr + numBuckets)))
    }
    (m, math.log((tr + numBuckets) / (tt + numBuckets)))
  }

  /** Map-only per-row DSIR log importance weight: the sum of
    * [[dsirRatioMap]] log-ratios over the row's unigram+bigram
    * occurrences, evaluated entirely inside the row via higher-order
    * array functions — NO join, NO aggregation, NO shuffle, so it runs
    * identically over a batch frame or per micro-batch on a stream
    * (the applyTemperature train/apply discipline: one expression, two
    * planes, zero drift). A tokenless document scores 0.0 over 0 grams.
    */
  def dsirLogWeight(text: Column, ratio: Map[Long, Double],
                    defaultLr: Double, numBuckets: Int): Column = {
    require(numBuckets > 0, s"numBuckets must be positive (got $numBuckets)")
    // bucket_lookup, not element_at-on-a-literal-map: the latter linear-
    // scans all numBuckets entries per gram occurrence
    def lr(g: Column): Column = graft.functions.BucketLookup.bucket_lookup(
      conv(substring(md5(g), 1, 8), 16, 10).cast("long") % numBuckets,
      ratio, defaultLr)
    val toks = graft.ext.Dedup.tokens(coalesce(text, lit("")))
    val uniSum = aggregate(toks, lit(0.0), (acc, w) => acc + lr(w))
    val biSum = aggregate(
      when(size(toks) >= 2, transform(sequence(lit(1), size(toks) - 1),
        i => concat(element_at(toks, i), lit(" "),
          element_at(toks, i + 1))))
        .otherwise(array().cast("array<string>")),
      lit(0.0), (acc, g) => acc + lr(g))
    uniSum + biSum
  }

  /** The gram count behind [[dsirLogWeight]]: 2·len − 1 unigram+bigram
    * occurrences for len ≥ 1 tokens, 0 for a tokenless document. */
  def dsirGramCount(text: Column): Column = {
    val len = size(graft.ext.Dedup.tokens(coalesce(text, lit(""))))
    greatest(len * 2 - 1, lit(0)).cast("long")
  }

  /** X19: token-budget corpus selection — the assembly step "fill the
    * training mix with the best documents until the token budget is
    * spent": greedy fill in (rank desc, id asc) order; a document is
    * kept iff any budget remains when its turn comes (`cum_before <
    * budget`, exclusive running sum — so the LAST kept document may
    * cross the budget, the standard greedy-fill convention).
    *
    * Scale shape (100 TB): the corpus never passes a global sort and
    * text never shuffles. A slim (id, rank, tokens) projection
    * RANGE-partitions on the greedy order (global order ACROSS
    * partitions, slim longs on the wire), each partition windows its own
    * exclusive running sum, and the cross-partition offsets come from a
    * driver prefix over the ≤ numPartitions per-partition totals (the
    * [[corpusSlotIndex]] pattern — cluster-metadata-sized, never data),
    * riding back in through the codegen'd
    * [[graft.functions.BucketLookup]] (token sums < 2^53 stay exact in
    * its double). Output is the slim selection index (id, rank,
    * n_tokens, cum_before) — at 100 TB you'd write it out and join
    * payloads back by id.
    */
  def budgetFill(df: DataFrame, idCol: String, rankCol: Column,
                 tokenCol: Column, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive (got $budget)")
    // ALWAYS persist the range-partitioned frame before reading it
    // twice (per-partition totals collect + window query):
    // RangePartitioner boundaries come from seeded sampling tied to RDD
    // identity, so two independent evaluations can legally assign rows
    // to DIFFERENT _pid partitions — the driver offsets would then
    // apply to the wrong partitions and cum_before would be silently
    // wrong. Pinning one evaluation is a correctness requirement here,
    // not a performance knob; the selection is checkpointed eagerly
    // while `parted` is cached (the Dedup materialization policy — the
    // index is slim).
    val parted0 = df.filter(col(idCol).isNotNull)
      .select(col(idCol).as("_id"), rankCol.cast("double").as("_rank"),
        tokenCol.cast("long").as("_tok"))
      .filter(col("_rank").isNotNull && col("_tok").isNotNull)
      .repartitionByRange(col("_rank").desc, col("_id").asc)
      .withColumn("_pid", spark_partition_id().cast("long"))
    Dedup.materialized(parted0) { parted =>
      // driver prefix over per-partition token totals: result size =
      // shuffle partition count, and an empty partition simply
      // contributes nothing to the running offsets
      val totals = parted.groupBy("_pid").agg(sum(col("_tok")).as("t"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
      var acc = 0L
      val offsets = totals.map { case (p, t) =>
        val o = acc; acc += t; p -> o.toDouble
      }.toMap
      val w = Window.partitionBy("_pid")
        .orderBy(col("_rank").desc, col("_id").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      parted
        .withColumn("cum_before",
          coalesce(sum(col("_tok")).over(w), lit(0L)) +
            graft.functions.BucketLookup.bucket_lookup(
              col("_pid"), offsets, 0.0).cast("long"))
        .filter(col("cum_before") < budget)
        .select(col("_id").as(idCol), col("_rank").as("rank"),
          col("_tok").as("n_tokens"), col("cum_before"))
    }
  }

  /** X21: sharded-export manifest — the delivery bookkeeping of a
    * training-data export: for each md5 shard of the [[epochShuffle]]
    * assignment (same `md5(seed:id)` arithmetic, so the manifest
    * describes exactly the shards a shuffled export writes), the doc
    * count, token mass, and an ORDER-INSENSITIVE 60-bit id checksum
    * (bit_xor of md5-derived id words) — enough for a consumer to
    * verify a delivered shard's membership without re-reading it in
    * order, on any engine (md5 + xor are universal).
    *
    * One map-only projection of slim longs + one numShards-row partial
    * aggregate: scan-linear at any corpus size, output cluster-metadata
    * sized.
    */
  def exportManifest(df: DataFrame, idCol: String, tokenCol: Column,
                     seed: String, numShards: Int): DataFrame =
    manifestKeys(df, idCol, tokenCol, seed, numShards)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("_tok")).as("token_mass"),
        bit_xor(col("_w")).as("id_xor"))

  /** The per-row keys every [[exportManifest]] sum is taken over: the
    * non-null-id rows of `df` as the `carry` columns followed by
    * (shard, _tok, _w) — the md5 shard, the token count and the 60-bit
    * id word. The one definition of that arithmetic: the driver-resident
    * manifest tail ([[Refresh.manifestFromClusters]]) reads it too, so
    * both tails total bit-identical values.
    */
  def manifestKeys(df: DataFrame, idCol: String, tokenCol: Column,
                   seed: String, numShards: Int, carry: Column*): DataFrame = {
    require(numShards > 0, s"numShards must be positive (got $numShards)")
    val h = md5(concat(lit(seed), lit(":"), col(idCol).cast("string")))
    df.filter(col(idCol).isNotNull)
      .select(carry :+
        (conv(substring(h, 1, 8), 16, 10).cast("long") % numShards).as("shard") :+
        tokenCol.cast("long").as("_tok") :+
        conv(substring(h, 9, 15), 16, 10).cast("long").as("_w"): _*)
  }

  /** [[exportManifest]]'s output schema, for manifests totalled
    * elsewhere (the driver-resident tail of
    * [[Refresh.manifestFromClusters]]).
    */
  val manifestSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("shard", LongType),
      StructField("n_docs", LongType, nullable = false),
      StructField("token_mass", LongType), StructField("id_xor", LongType)))
  }

  /** Deterministic uniform negative sampling for contrastive training:
    * each anchor draws `k` pseudorandom corpus documents (the classic
    * in-batch-negatives replacement when batches must be reproducible).
    *
    * Two-step arithmetic-join formulation:
    *  1. the corpus is indexed ONCE into contiguous global slots 1..N in
    *     pseudorandom order — [[epochShuffle]] shards + a driver-side
    *     prefix sum over the 32 per-SHARD counts (cluster-metadata-sized,
    *     never data; the [[graft.operators.Routing.assignByIndex]]
    *     zipWithIndex pattern) — so no global sort at any corpus size,
    *     and the index is reusable across anchor batches;
    *  2. each anchor explodes to k draws with slot_j =
    *     md5(salt:anchor:j) % N + 1, and negatives resolve via ONE hash
    *     equi-join on slot over slim (slot, id) rows.
    *
    * Draws are independent across j (with replacement): a duplicate
    * negative for one anchor is possible at probability ~k²/2N —
    * vanishing for real corpora. Self-matches (anchor drew itself,
    * ~k/N) are dropped, so an anchor very occasionally carries k-1
    * negatives; re-draw chains would make every draw depend on corpus
    * membership, destroying slot-arithmetic reproducibility. Output:
    * (anchor_id, j, neg_id).
    */
  def negativeSample(anchors: DataFrame, anchorIdCol: String,
                     corpus: DataFrame, corpusIdCol: String,
                     k: Int, salt: String = "graft-negs"): DataFrame = {
    val idx = corpusSlotIndex(corpus, corpusIdCol, salt)
    negativeSampleIndexed(anchors, anchorIdCol, idx, k, salt)
  }

  /** The reusable corpus slot index: (slot, neg_id) with contiguous
    * pseudorandom slots 1..N. Build once per (corpus version, salt) —
    * persist or write it out — and serve every anchor batch (batch or
    * streaming) from [[negativeSampleIndexed]]; at 100 TB the index is a
    * one-off bucketed write, not a per-batch recompute. N is
    * `slot`'s max; the driver-side work here is one 32-row count
    * collect.
    */
  def corpusSlotIndex(corpus: DataFrame, corpusIdCol: String,
                      salt: String = "graft-negs"): DataFrame = {
    val idx = epochShuffle(corpus, corpusIdCol, salt, numShards = 32)
    val counts = idx.groupBy("shard").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    require(counts.nonEmpty, "corpus is empty")
    var acc = 0L
    val offsets = counts.map { case (s, c) =>
      val off = acc; acc += c; s -> off
    }.toMap
    idx.withColumn("slot",
        element_at(typedLit(offsets), col("shard")) + col("pos"))
      .select(col("slot"), col(corpusIdCol).as("neg_id"))
  }

  /** Draw against a prebuilt [[corpusSlotIndex]]. Stream-friendly: with a
    * STREAMING anchors frame this is a stateless stream-static equi-join
    * (the StreamSimilarity batch-index/stream-probe pattern) — tested for
    * batch/stream equality in StreamingSpec. N comes from one scalar agg
    * over the index (constant-folded once per batch plan).
    */
  def negativeSampleIndexed(anchors: DataFrame, anchorIdCol: String,
                            slotIndex: DataFrame, k: Int,
                            salt: String = "graft-negs"): DataFrame = {
    require(k > 0, s"k must be positive (got $k)")
    val n = slotIndex.agg(max(col("slot"))).collect()(0).getLong(0)
    require(n > 0, "corpus is empty")
    val draws = anchors.filter(col(anchorIdCol).isNotNull)
      .select(col(anchorIdCol).as("anchor_id"))
      .withColumn("j", explode(sequence(lit(1), lit(k))))
      // 48-bit md5 prefix: modulo bias ~n/2^48, immaterial for any corpus
      .withColumn("slot", conv(substring(md5(concat(lit(salt), lit(":"),
        col("anchor_id").cast("string"), lit(":"), col("j").cast("string"))),
        1, 12), 16, 10).cast("long") % n + 1)
    draws.join(slotIndex, Seq("slot"))
      .filter(col("neg_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("j").cast("long").as("j"), col("neg_id"))
  }

  /** X24 (r12): sharded training-set DELIVERY — the step
    * [[exportManifest]]'s checksums exist for. Writes the standing
    * corpus as hive-partitioned parquet (`shard=N/` directories, the
    * same `md5(seed:id)` routing as the manifest), id-sorted within
    * each shard for reproducible trainer iteration. One `repartition`
    * on the shard column gives one file group per shard; at deployment
    * scale each shard is a bounded independent file set and shard
    * count scales with the corpus, so no partition outgrows an
    * executor.
    */
  def exportShards(standing: DataFrame, idCol: String, textCol: String,
                   seed: String, numShards: Int, path: String): Unit = {
    require(numShards > 0, s"numShards must be positive (got $numShards)")
    val h = md5(concat(lit(seed), lit(":"), col(idCol).cast("string")))
    val sharded = standing.filter(col(idCol).isNotNull)
      .select(col(idCol), col(textCol),
        (conv(substring(h, 1, 8), 16, 10).cast("long") % numShards)
          .as("shard"))
      .repartition(numShards, col("shard"))
      .sortWithinPartitions(col("shard"), col(idCol))
    graft.sources.FileSources.writeParquet(sharded, path,
      layoutCols = Seq("shard"))
  }

  /** The delivery verification pass: re-derive every manifest checksum
    * FROM THE DELIVERED FILES ALONE — token mass recounted from the
    * delivered text (never trusted metadata), membership hashes
    * recomputed from the delivered ids, shard placement rechecked
    * against the routing hash — and join the results against the
    * manifest. Any lost, duplicated, corrupted or misplaced row flips
    * `delivered_match` (or `placed_ok`) to false; a shard present on
    * only one side survives the full-outer join as a false row rather
    * than vanishing. One scan of the delivered files, one slim
    * numShards-row join.
    */
  def verifyDelivery(manifest: DataFrame, delivered: DataFrame,
                     idCol: String, textCol: String, seed: String,
                     numShards: Int): DataFrame = {
    val h = md5(concat(lit(seed), lit(":"), col(idCol).cast("string")))
    val re = delivered.select(col("shard").cast("long").as("shard"),
        TextStats.tokenCount(coalesce(col(textCol), lit("")))
          .cast("long").as("_tok"),
        conv(substring(h, 9, 15), 16, 10).cast("long").as("_w"),
        ((conv(substring(h, 1, 8), 16, 10).cast("long") % numShards) ===
          col("shard").cast("long")).as("_placed"))
      .groupBy("shard")
      .agg(count(lit(1)).as("d_n_docs"), sum(col("_tok")).as("d_token_mass"),
        bit_xor(col("_w")).as("d_id_xor"), min(col("_placed")).as("placed_ok"))
    manifest.as("m").join(re.as("d"), Seq("shard"), "full_outer")
      .select(col("shard"),
        col("d.d_n_docs").as("n_docs"),
        col("d.d_token_mass").as("token_mass"),
        col("d.d_id_xor").as("id_xor"),
        coalesce(col("d.placed_ok"), lit(false)).as("placed_ok"),
        (col("m.n_docs") <=> col("d.d_n_docs") &&
          col("m.token_mass") <=> col("d.d_token_mass") &&
          col("m.id_xor") <=> col("d.d_id_xor")).as("delivered_match"))
  }
}
