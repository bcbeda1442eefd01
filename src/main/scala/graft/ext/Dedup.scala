package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators X1/X2 (SURVEY §2.9) for training-data pipelines.
  *
  * Scale design (100 TB of documents):
  *  - exact dedup groups on a 256-bit content hash, never on the raw text
  *    — the shuffle carries 32 bytes + doc_id per row instead of the
  *    document body.
  *  - near-dup goes shingles -> MinHash signature (one pass, map-only)
  *    -> LSH band buckets (explode b bands) -> self-join per bucket.
  *    The self-join key space is (band, bandHash): uniform, small values,
  *    and candidate pairs per bucket are bounded; only candidates get the
  *    exact-Jaccard verification. Hot shingles can be capped via
  *    `maxDocFreq` to bound worst-case bucket sizes (skew guard).
  *
  * Materialization policy (every operator that goes through
  * [[materialized]], here and in [[Search]], [[Curation]], [[TextStats]]
  * and [[TrainSet]]): the corpus-sized intermediate is persisted WITH
  * lineage (MEMORY_AND_DISK) so a lost executor recomputes its blocks;
  * the small result is driven eagerly and returned as a
  * `localCheckpoint(true)` frame so the cache can be released in
  * `finally`. NOTE the returned frame itself is NOT fault-tolerant past
  * job completion — its lineage is truncated, so result partitions lost
  * AFTER the operator returns (e.g. preempted executors between jobs)
  * are irrecoverable. The results are pair-list / top-k sized, so on
  * preemptible infra either consume them promptly, write them to a sink,
  * or collect them driver-side. The eager checkpoint posts one SQL
  * execution carrying the whole plan (the persisted intermediate
  * included), which is what PlanSpec's shape gates read.
  */
object Dedup {

  /** The materialization policy above, stated once: `base` persists,
    * `result` is built over the persisted frame and checkpointed
    * eagerly, and the cache is released before returning.
    */
  private[graft] def materialized(base: DataFrame)(
      result: DataFrame => DataFrame): DataFrame =
    withPersisted(base)(cached => result(cached).localCheckpoint(true))

  /** `f` over `base` persisted (MEMORY_AND_DISK), released in `finally`;
    * `f` must drive whatever it needs from the cache before returning.
    */
  private[graft] def withPersisted[T](base: DataFrame)(f: DataFrame => T): T = {
    val cached = base.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try f(cached) finally cached.unpersist()
  }

  /** Lower-cased word tokens; empty strings filtered on both the Spark and
    * oracle side so tokenization is engine-agnostic.
    */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= "")

  /** Distinct k-word shingles of `text` (X2 building block) — native
    * single-pass expression (see graft.functions.WordShingles for why the
    * built-ins form is quadratic per row).
    */
  def shingles(text: Column, k: Int): Column =
    graft.functions.WordShingles.word_shingles(text, k)

  /** Built-ins-only shingles (zero custom surface). NOTE: the
    * tokenization re-evaluates inside the lambda — O(len * shingles) per
    * row; prefer `shingles`.
    */
  def shinglesBuiltins(text: Column, k: Int): Column = {
    val w = tokens(text)
    when(size(w) >= k,
      array_distinct(transform(
        sequence(lit(0), size(w) - k),
        i => concat_ws(" ", slice(w, i + 1, lit(k))))))
      .otherwise(array().cast("array<string>"))
  }

  /** X1: exact dedup — survivor (min id) per distinct content.
    * Groups by sha2(text) so the shuffle never carries document bodies.
    */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** X1 incremental form (the exact half of a corpus REFRESH, next to
    * [[crossDupPairs]]'s near-dup half): drop incoming rows whose exact
    * content already exists in the corpus. Both sides reduce to 32-byte
    * content hashes before the anti-join — the join never carries
    * document bodies, and at 100 TB the existing side's distinct-hash
    * frame is precomputed once and reused across refreshes.
    */
  def dropExactKnown(incoming: DataFrame, existing: DataFrame,
                     textCol: String, idCol: String): DataFrame = {
    val known = existing.select(sha2(col(textCol), 256).as("known_hash")).distinct()
    // null-SAFE anti-join: sha2(null) is null, and a plain equi-join
    // would let every null-text row through even when the corpus has
    // null-text rows — diverging from [[exact]], whose groupBy treats
    // the null hash as a real key
    incoming.withColumn("content_hash", sha2(col(textCol), 256))
      .join(known, col("content_hash") <=> col("known_hash"), "left_anti")
      .drop("content_hash")
  }

  /** X1c: multi-source corpus merge with source precedence — the
    * assembly step that unions N source corpora (curated books > web
    * crawl > mirror dumps ...) into one training corpus keeping exactly
    * ONE document per distinct content: the copy from the
    * highest-priority source; within a priority level the smallest id
    * wins. Sources absent from `priority` rank below every listed one
    * (-1) but still merge — a merge must never silently drop content
    * just because its source wasn't ranked.
    *
    * Output: (content_hash, source, idCol, n_copies, n_sources) — the
    * surviving copy plus the provenance counts an ablation needs.
    *
    * Scale: the [[exact]] plan shape — the shuffle carries a 32-byte
    * hash + a 4-field struct per row, never document bodies; the
    * survivor argmax is the bounded `greatest_row` aggregate
    * (ObjectHashAggregate with map-side partials), NOT a window over
    * the union, so the hot key (a boilerplate page shared by every
    * source) reduces map-side to one struct per task. Null ids are
    * excluded up front ((priority, -id) must be a total order for the
    * survivor to be well-defined).
    */
  def mergeByPrecedence(docs: DataFrame, textCol: String, idCol: String,
                        sourceCol: String,
                        priority: Map[String, Int]): DataFrame = {
    require(priority.values.forall(_ >= 0),
      "listed priorities must be >= 0 (unlisted sources take -1)")
    val prio = priority.toSeq.sortBy(_._1).foldLeft(lit(-1)) {
      case (acc, (s, p)) => when(col(sourceCol) === s, lit(p)).otherwise(acc)
    }
    docs.filter(col(idCol).isNotNull)
      .groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(
        graft.functions.GreatestRow.greatest_row(struct(
          prio.as("prio"), (-col(idCol)).cast("long").as("negid"),
          col(sourceCol).as("source"), col(idCol).cast("long").as("id")))
          .as("w"),
        count(lit(1)).as("n_copies"),
        countDistinct(col(sourceCol)).as("n_sources"))
      .select(col("content_hash"), col("w.source").as("source"),
        col("w.id").as(idCol), col("n_copies"), col("n_sources"))
  }

  /** X2 (exact form, the oracle): all pairs with k-shingle Jaccard >=
    * threshold. Inverted-index self-join on shingle — the classic
    * "exact near-dup" plan. Quadratic per shingle bucket; use
    * `maxDocFreq` to drop stop-shingles at scale.
    */
  def jaccardPairs(docs: DataFrame, textCol: String, idCol: String,
                   k: Int, threshold: Double,
                   maxDocFreq: Option[Int] = None): DataFrame = {
    // shingle extraction is the expensive expression: materialize it ONCE
    // (hashed to 64-bit so the self-join shuffles longs, not strings —
    // at 100 TB the shuffle carries (id, hash) pairs only)
    val sh0 = docs.select(col(idCol).as("doc_id"),
      explode(shingles(col(textCol), k)).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("h"))
    val capped = maxDocFreq.fold(sh0) { cap =>
      val hot = sh0.groupBy("h").count().filter(col("count") > cap).select("h")
      sh0.join(broadcast(hot), Seq("h"), "left_anti")
    }
    // the exploded-shingle frame is CORPUS-sized (~10x corpus rows) and
    // the pair list orders of magnitude smaller: the policy's shape
    materialized(capped) { sh =>
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val a = sh.as("a"); val b = sh.as("b")
      val common = a.join(b, col("a.h") === col("b.h") &&
          col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(count(lit(1)).as("common"))
      common
        .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn("jaccard",
          round(col("common").cast("double") /
            (col("sz_a") + col("sz_b") - col("common")), 6))
        .filter(col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    }
  }

  /** X2d: DIRECTIONAL containment near-dup pairs — `(id_a, id_b)` where
    * `|shingles(a) ∩ shingles(b)| / |shingles(a)| >= threshold`, i.e.
    * document `a` is (mostly) CONTAINED in `b`. The asymmetric sibling of
    * [[jaccardPairs]]: a short quote/excerpt embedded in a long document
    * has low Jaccard (the union is dominated by the long side) but
    * containment ≈ 1 — exactly the subset-duplicate class a symmetric
    * threshold misses. Standard training-data hygiene for catching
    * wrapper pages, quoted reposts, and doc-in-doc concatenations.
    *
    * Scale: identical plan shape to [[jaccardPairs]]'s exact path — the
    * inverted-index self-join shuffles (id, 64-bit shingle hash) longs
    * only, `maxDocFreq` caps stop-shingle buckets, and the candidate
    * aggregation carries (id_a, id_b, common). Both directions of each
    * unordered candidate pair are scored from ONE joined row (no second
    * self-join); output rows are pair-list sized. Same materialization
    * policy as [[jaccardPairs]].
    */
  def containmentPairs(docs: DataFrame, textCol: String, idCol: String,
                       k: Int, threshold: Double,
                       maxDocFreq: Option[Int] = None): DataFrame = {
    val sh0 = docs.select(col(idCol).as("doc_id"),
      explode(shingles(col(textCol), k)).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("h"))
    val capped = maxDocFreq.fold(sh0) { cap =>
      val hot = sh0.groupBy("h").count().filter(col("count") > cap).select("h")
      sh0.join(broadcast(hot), Seq("h"), "left_anti")
    }
    materialized(capped) { sh =>
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val a = sh.as("a"); val b = sh.as("b")
      val common = a.join(b, col("a.h") === col("b.h") &&
          col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_lo"), col("b.doc_id").as("id_hi"))
        .agg(count(lit(1)).as("common"))
      val sized = common
        .join(sizes.withColumnRenamed("doc_id", "id_lo").withColumnRenamed("sz", "sz_lo"), "id_lo")
        .join(sizes.withColumnRenamed("doc_id", "id_hi").withColumnRenamed("sz", "sz_hi"), "id_hi")
      // one row per unordered candidate -> up to two directional rows
      sized.select(explode(array(
          struct(col("id_lo").as("id_a"), col("id_hi").as("id_b"),
            col("common"), col("sz_lo").as("sz_a")),
          struct(col("id_hi").as("id_a"), col("id_lo").as("id_b"),
            col("common"), col("sz_hi").as("sz_a")))).as("d"))
        .select(col("d.id_a"), col("d.id_b"),
          round(col("d.common").cast("double") / col("d.sz_a"), 6)
            .as("containment"))
        .filter(col("containment") >= threshold)
    }
  }

  /** MinHash signature: for each of `numHashes` hash families i, the min
    * `xxhash64(s, i)` over the shingle set. Map-only, one native
    * expression ([[graft.functions.MinhashSignature]], codegen'd: each
    * shingle's bytes are hashed once, then one `hashInt` per index).
    */
  def minhashSignature(shingleArr: Column, numHashes: Int): Column =
    graft.functions.MinhashSignature.minhash_signature(shingleArr, numHashes, portable = false)

  /** (doc_id, shingles, signature) frame — the expensive front half of
    * the LSH pair-finders (numHashes × |shingles| hashing per doc).
    * `portable = true` swaps the xxhash64 hash family for the md5
    * [[minhashSignaturePortable]] one, making the banding recall
    * REPLAYABLE by an oracle engine (same signatures, same band
    * collisions, same candidate set) — the r18 crawl-family contract;
    * the xxhash64 default stays the scale path.
    */
  private[graft] def sigFrame(docs: DataFrame, textCol: String, idCol: String,
                              k: Int, numHashes: Int,
                              portable: Boolean = false): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      shingles(col(textCol), k).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", signatureOf(col("sh"), numHashes, portable))

  /** The MinHash signature of a shingle-array column in the chosen hash
    * family — the one place the `portable` switch is made.
    */
  private[graft] def signatureOf(sh: Column, numHashes: Int,
                                 portable: Boolean): Column =
    graft.functions.MinhashSignature.minhash_signature(sh, numHashes, portable)

  /** One SLIM row per (doc, band): the LSH join must shuffle only
    * (band, bucket, id) — shingle arrays are re-joined after the
    * candidate pairs are deduplicated, never carried through the
    * quadratic part of the plan.
    */
  private[graft] def bandedFrame(withSig: DataFrame, bands: Int,
                          rowsPerBand: Int): DataFrame =
    withSig.select(col("doc_id"),
        explode(bandBuckets(col("sig"), bands, rowsPerBand)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bucket"))

  /** A MinHash signature's LSH band buckets — per band b, the struct
    * (band = b, bucket = xxhash64 of b and the band's `rowsPerBand`
    * signature values): the one banding rule, which [[bandedFrame]]
    * explodes and the refresh's driver fold reads as an array. One
    * native expression, [[graft.functions.LshBandBuckets]].
    */
  private[graft] def bandBuckets(sig: Column, bands: Int,
                                 rowsPerBand: Int): Column =
    graft.functions.LshBandBuckets.lsh_band_buckets(sig, bands, rowsPerBand)

  /** Exact-Jaccard verification of a candidate (id_a, id_b) frame against
    * the shingle sets in `shA`/`shB` (each (doc_id, sh)).
    */
  private[graft] def verifyJaccard(cand: DataFrame, shA: DataFrame, shB: DataFrame,
                                   threshold: Double): DataFrame =
    cand
      .join(shA.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(shB.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", round(col("common").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("common")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** A shingle array as [[jaccardKeeps]] reads it, built once per
    * document: its length (Spark's `size`) and its distinct shingles.
    */
  private[graft] final class Shingled(a: Array[String]) {
    val size: Int = a.length
    val distinct: Set[String] = a.toSet
  }

  /** [[verifyJaccard]]'s rule for one pair of shingle sets on the driver,
    * bit for bit: the distinct common shingles (`array_intersect`) over
    * `size(a) + size(b) - common`, rounded HALF_UP to 6 decimals the way
    * Spark's `round` rounds a double (through its shortest decimal
    * string), then `>= threshold`. PropertySpec holds the two equal.
    */
  private[graft] def jaccardKeeps(a: Shingled, b: Shingled,
                                  threshold: Double): Boolean = {
    val (small, large) =
      if (a.distinct.size <= b.distinct.size) (a.distinct, b.distinct)
      else (b.distinct, a.distinct)
    val common = small.count(large)
    val j = common.toDouble / (a.size + b.size - common)
    java.math.BigDecimal.valueOf(j)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue >= threshold
  }

  /** X1b: CCNet-family text NORMALIZATION — lowercase, strip everything
    * outside [a-z0-9 ], collapse whitespace runs, trim. The canonical
    * pre-hash cleanup that makes casing/punctuation/spacing variants of
    * one document hash-equal. Pure column expression — map-only,
    * streaming-safe.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(coalesce(text, lit(""))), "[^a-z0-9 ]+", " "),
      " +", " "))

  /** X1b: normalized-exact dedup — the rung between [[exact]] (byte
    * identity) and the minhash family (token-set similarity): group by
    * sha2 of the [[normalizeText]] form, so re-cased / re-punctuated /
    * re-spaced variants collapse while genuinely different text stays
    * apart. Output one row per normalized group: (norm_sha, n_docs,
    * n_raw = distinct RAW texts merged — the count byte-exact dedup
    * would have left apart, min_id, ids_md5 sealed membership).
    *
    * Scale: the [[exact]] shape — every shuffle carries 32-byte hashes,
    * never bodies. n_raw's distinct-count expands to Spark's two-phase
    * distinct aggregation (one extra hash exchange keyed by
    * (norm_sha, raw_sha)) — still a single scan, still hash-only
    * shuffles (PlanSpec-gated).
    */
  def normalizedDedup(docs: DataFrame, textCol: String,
                      idCol: String): DataFrame =
    docs
      .select(col(idCol).as("_id"),
        sha2(normalizeText(col(textCol)), 256).as("norm_sha"),
        sha2(coalesce(col(textCol), lit("")), 256).as("raw_sha"))
      .groupBy("norm_sha")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("raw_sha")).as("n_raw"),
        min("_id").as("min_id"),
        md5(concat_ws(" ",
          sort_array(collect_list(col("_id"))).cast("array<string>")))
          .as("ids_md5"))
      .orderBy("norm_sha")

  /** X1e (r13): corpus-wide LINE-level dedup drops — the C4/RefinedWeb
    * line-dedup rule: a line whose exact content appears in >= `minDocs`
    * DISTINCT documents is removed everywhere except its first corpus
    * occurrence, ordered by (doc_id, pos). This is the keep-ONE policy
    * a boilerplate-ridden web corpus wants (nav bars, cookie banners,
    * license footers collapse to a single surviving site) — the
    * complement of X7e's span cut, which removes duplicated runs from
    * ALL sites and keys on token n-grams rather than whole lines. A
    * line repeated only WITHIN one document is not a cross-doc
    * duplicate and stays (intra-doc repetition is X7e/x19's job).
    *
    * `linesCol` is the caller's line view (an `array<string>` column
    * over the doc — real `split(text, "\n")` lines, sentences, or any
    * deterministic re-chunking), so the policy composes with whatever
    * segmentation the corpus carries.
    *
    * Returns the slim per-doc drop list: (doc_id, drop_pos
    * array<int>) for affected docs only. Scale: line TEXT never
    * shuffles — the corpus reduces map-side to (doc_id, pos, 60-bit
    * md5 line hash); the histogram + first-owner election is one
    * partial-agg'd groupBy of the hash domain (min over the (doc_id,
    * pos) struct — no window over occurrence lists); the drop list is
    * per-doc bounded by the doc's own line count.
    */
  def lineDrops(docs: DataFrame, idCol: String, linesCol: Column,
                minDocs: Int = 2): DataFrame = {
    val lf = lineFrame(docs, idCol, linesCol)
    lineDropsAgainst(lf, lineHistogram(lf), minDocs)
  }

  /** The slim (doc_id, pos, 60-bit md5 line hash) view [[lineDrops]]
    * and the streaming journal share — line text never leaves the map
    * side.
    */
  private[graft] def lineFrame(docs: DataFrame, idCol: String,
                               linesCol: Column): DataFrame =
    docs.filter(col(idCol).isNotNull)
      .select(col(idCol).as("doc_id"), posexplode(linesCol))
      .toDF("doc_id", "pos", "_line")
      .select(col("doc_id"), col("pos"),
        conv(substring(md5(col("_line")), 1, 15), 16, 10).cast("long")
          .as("lh"))

  /** Per-line-hash state: (lh, n_docs = distinct owning documents,
    * first_id/first_pos = the (doc_id, pos)-min occurrence). This is
    * the EXACTLY-foldable shape the streaming journal appends per
    * batch: with each document arriving whole in one batch, distinct
    * counts add and firsts min across batches.
    */
  private[graft] def lineHistogram(lf: DataFrame): DataFrame =
    lf.groupBy("lh")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
      .select(col("lh"), col("n_docs"), col("first.doc_id").as("first_id"),
        col("first.pos").as("first_pos"))

  /** The election against a standing histogram (one code path for the
    * batch form and the journal-folded streaming form, the
    * crossDupProbe discipline).
    */
  private[graft] def lineDropsAgainst(lf: DataFrame, hist: DataFrame,
                                      minDocs: Int): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2 (got $minDocs)")
    lf.join(hist.filter(col("n_docs") >= minDocs)
        .select(col("lh"), col("first_id"), col("first_pos")), Seq("lh"))
      .filter(!(col("doc_id") === col("first_id") &&
        col("pos") === col("first_pos")))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("drop_pos"))
  }

  /** Apply [[lineDrops]]: one row per input document — (doc_id,
    * n_lines, n_dropped, clean_text) with the surviving lines rejoined
    * by `sep` (clean docs pass through, n_dropped 0). The cut itself is
    * the [[graft.ext.Curation.cutDupSpans]] discipline: the slim drop
    * frame (affected docs × a few ints) joins back by doc_id and the
    * filter-by-index lambda runs map-side inside codegen — document
    * bodies cross the join, never the line histogram.
    */
  def lineDedupRewrite(docs: DataFrame, idCol: String, linesCol: Column,
                       minDocs: Int = 2, sep: String = "\n"): DataFrame =
    lineRewriteWith(docs, idCol, linesCol,
      lineDrops(docs, idCol, linesCol, minDocs), sep)

  /** The rewrite-APPLY half of [[lineDedupRewrite]], against a caller-
    * supplied drop frame — the seam the incremental refresh needs
    * (drops computed by [[lineDropsAgainst]] a STANDING histogram for
    * the affected/fresh docs only, never a subset-local election).
    */
  private[graft] def lineRewriteWith(docs: DataFrame, idCol: String,
                                     linesCol: Column, drops: DataFrame,
                                     sep: String = "\n"): DataFrame =
    docs.filter(col(idCol).isNotNull)
      .select(col(idCol).as("doc_id"), linesCol.as("_ls"))
      .join(drops, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("_ls")).cast("long").as("n_lines"),
        coalesce(size(col("drop_pos")), lit(0)).cast("long").as("n_dropped"),
        concat_ws(sep, filter(col("_ls"), (_, i) =>
          !coalesce(array_contains(col("drop_pos"), i), lit(false))))
          .as("clean_text"))

  /** X1d: dedup-tier FUNNEL — the "where did my duplicates go" readout
    * over the dedup ladder, the dedup analogue of the curation gate
    * funnel (X7i): apply byte-exact → normalized-exact → near-dup
    * (jaccard clusters) survivor election IN SEQUENCE and report the
    * surviving (n_docs, n_tokens) after each tier. This is the number a
    * corpus owner reads to decide which tiers pay for themselves at
    * their corpus's redundancy profile.
    *
    * Tier semantics (each tier sees only the previous tier's
    * survivors, so the counts partition the drops by the CHEAPEST tier
    * that catches them): exact keeps min-id per sha2(text); normalized
    * keeps min-id per sha2([[normalizeText]]); near-dup drops cluster
    * non-survivors from [[dupClusters]] over [[jaccardPairs]] at
    * `threshold` (min-id election, the x23/x25 convention).
    *
    * Scale: the text hashes ONCE into a persisted slim (id, tok, 2×32B)
    * frame; tier elections are hash groupBys + slim id semi-joins over
    * it; tier 3 is the priced x23 chain over the already-thinned
    * survivor set (the one extra text scan, for shingles); the report
    * folds from ONE labeling pass — each doc classified to the cheapest
    * tier that drops it — rolled up to a checkpointed ≤4-row frame
    * (the x95 funnel shape), so no tier re-scans the corpus.
    */
  def dedupFunnel(docs: DataFrame, textCol: String, idCol: String,
                  tokens: Column, k: Int = 3,
                  threshold: Double = 0.2,
                  spread: DataFrame => DataFrame = identity): DataFrame = {
    // `spread` (r19): caller-supplied starved-scan guard applied to the
    // TIER-3 shingle input only (the slim survivor slice with text) —
    // the r18 front spread pushed full text through both union branches
    // and regressed; carving here parallelizes the one expensive
    // expression stage (shingle explode + jaccard verify, measured 13
    // task-seconds on a single starved task) without touching the slim
    // keyed tiers. Identity at cluster scale; integer-count outputs, so
    // no float-summation-order hazard.
    val base = docs.select(col(idCol).as("doc_id"),
      col(textCol).as("_text"), tokens.cast("long").as("_tok"))
    // ONE hashing pass over the text, persisted slim (id, tok, 2×32-byte
    // hashes) — the x95 single-classification shape: every tier decision
    // below works off this frame or slim id lists, the corpus text is
    // scanned once more only for tier 3's shingles
    val keyed = base.select(col("doc_id"), col("_tok"),
        sha2(col("_text"), 256).as("h_ex"),
        sha2(normalizeText(col("_text")), 256).as("h_nm"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val exKeep = keyed.groupBy("h_ex").agg(min("doc_id").as("doc_id"))
        .select("doc_id")
      val s1 = keyed.join(exKeep, Seq("doc_id"), "left_semi")
      val nmKeep = s1.groupBy("h_nm").agg(min("doc_id").as("doc_id"))
        .select("doc_id")
      val s2ids = s1.join(nmKeep, Seq("doc_id"), "left_semi").select("doc_id")
      val nonSurv = dupClusters(jaccardPairs(
          spread(base.join(s2ids, Seq("doc_id"), "left_semi")
            .select(col("doc_id"), col("_text"))),
          "_text", "doc_id", k, threshold))
        .filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
      // one labeling pass: each doc gets the CHEAPEST tier that drops it
      // (the when-chain order encodes the sequential-tier semantics —
      // a doc dropped at exact never reaches the normalized election,
      // and nmKeep/nonSurv were computed on exactly the surviving sets)
      val counts = keyed
        .join(exKeep.withColumn("_ex", lit(1)), Seq("doc_id"), "left")
        .join(nmKeep.withColumn("_nm", lit(1)), Seq("doc_id"), "left")
        .join(nonSurv.withColumn("_nd", lit(1)), Seq("doc_id"), "left")
        .select(col("_tok"),
          when(col("_ex").isNull, 1L).when(col("_nm").isNull, 2L)
            .when(col("_nd").isNotNull, 3L).otherwise(4L).as("dropped_at"))
        .groupBy("dropped_at")
        .agg(count(lit(1)).as("n"), coalesce(sum("_tok"), lit(0L)).as("t"))
        .localCheckpoint(true) // ≤ 4 rows — the tier folds below reread
                               // this, never the corpus
      def tier(ord: Long, name: String): DataFrame =
        counts.agg(
            coalesce(sum(when(col("dropped_at") > ord, col("n"))), lit(0L))
              .as("n_docs"),
            coalesce(sum(when(col("dropped_at") > ord, col("t"))), lit(0L))
              .as("n_tokens"))
          .select(lit(ord).as("tier_ord"), lit(name).as("tier"),
            col("n_docs"), col("n_tokens"))
      tier(0L, "corpus")
        .unionByName(tier(1L, "exact"))
        .unionByName(tier(2L, "normalized"))
        .unionByName(tier(3L, "neardup"))
        .orderBy("tier_ord")
        .localCheckpoint(true) // 4 rows; frees `keyed` for the unpersist
    } finally keyed.unpersist()
  }

  /** X2g: engine-PORTABLE minhash signature — per-seed min of the 60-bit
    * md5 hash `('0x' || substr(md5(i || ':' || s), 1, 15))::BIGINT`
    * (the [[graft.operators.Routing.portableHash]] family, seeded by
    * prefixing the seed index), so signatures — and hence band
    * collisions — are bit-identical in any engine that has md5. The
    * xxhash64 [[minhashSignature]] stays the scale path: it hashes each
    * shingle's bytes once, where this family takes numHashes md5
    * digests per shingle. This variant exists so LSH DESIGN DECISIONS
    * (x101's S-curve) are independently replayable. One native
    * expression, [[graft.functions.MinhashSignature]] with
    * `portable = true`.
    */
  def minhashSignaturePortable(shingleArr: Column, numHashes: Int): Column =
    graft.functions.MinhashSignature.minhash_signature(shingleArr, numHashes, portable = true)

  /** X2g: LSH band-calibration report — the MMDS S-curve MEASURED on
    * the corpus instead of assumed: for every candidate (bands,
    * rows-per-band) split of a `numHashes`-wide minhash signature and
    * every exact-Jaccard decile bucket, the fraction of true pairs at
    * least one band would catch. This is how `bands`/`rowsPerBand` for
    * [[minhashLshPairs]] get CHOSEN — theory says detection ≈
    * 1-(1-j^r)^b; this report says what the corpus actually does, with
    * the false-negative tail per bucket made visible.
    *
    * Output: (bands, rows_per_band, jbucket, n_pairs, n_detected,
    * det_rate), jbucket = min(9, floor(jaccard·10)).
    *
    * Scale: calibration is a SAMPLE-scale tool by design — the exact
    * pair list it scores against is the quadratic-ish [[jaccardPairs]]
    * path (inverted-index join on 64-bit shingle hashes), so run it on
    * a corpus sample (the deterministic [[graft.ext.Curation.hashKeep]]
    * gate) and apply the chosen (b, r) at full scale. The signature
    * pass itself is map-only; the config explode multiplies the slim
    * PAIR frame (|configs|×), never the corpus.
    */
  def lshCalibration(docs: DataFrame, textCol: String, idCol: String,
                     k: Int = 3, numHashes: Int = 12,
                     configs: Seq[(Int, Int)] =
                       Seq((12, 1), (6, 2), (4, 3), (3, 4), (2, 6), (1, 12)),
                     minJaccard: Double = 0.05): DataFrame = {
    require(configs.nonEmpty &&
      configs.forall { case (b, r) => b > 0 && r > 0 && b * r == numHashes },
      s"every (bands, rowsPerBand) must factor numHashes=$numHashes: $configs")
    require(configs.map(_._1).distinct.size == configs.size,
      s"band counts must be distinct (they key the config dispatch): $configs")
    val pairs = jaccardPairs(docs, textCol, idCol, k, minJaccard)
    // signatures only for PAIR PARTICIPANTS: the report consults no other
    // doc's signature, and the md5-per-(shingle × seed) pass is the
    // expensive leg — pruning it to the pair-doc set (broadcast semi-join
    // on the checkpointed pair list) cut the sf0.1 wall ~40x of its
    // hashing work (590 pairs ⇒ ≤1180 sig rows vs 47k corpus docs)
    val pairDocs = pairs.select(col("id_a").as("doc_id"))
      .unionByName(pairs.select(col("id_b").as("doc_id"))).distinct()
    val sigs = docs.select(col(idCol).as("doc_id"),
        shingles(col(textCol), k).as("sh"))
      .join(broadcast(pairDocs), Seq("doc_id"), "left_semi")
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"),
        minhashSignaturePortable(col("sh"), numHashes).as("sig"))
    def bandMatch(sa: Column, sb: Column, bands: Int, rpb: Int): Column =
      exists(sequence(lit(0), lit(bands - 1)),
        b => forall(sequence(lit(0), lit(rpb - 1)),
          j => element_at(sa, b * rpb + j + 1) === element_at(sb, b * rpb + j + 1)))
    val cfgArr = array(configs.map { case (b, r) =>
      struct(lit(b.toLong).as("bands"), lit(r.toLong).as("rpb")) }: _*)
    val det = configs.tail.foldLeft(
      when(col("c.bands") === configs.head._1,
        bandMatch(col("sig_a"), col("sig_b"), configs.head._1, configs.head._2))) {
      case (w, (b, r)) =>
        w.when(col("c.bands") === b, bandMatch(col("sig_a"), col("sig_b"), b, r))
    }.otherwise(lit(false))
    pairs
      .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("jaccard"), explode(cfgArr).as("c"),
        col("sig_a"), col("sig_b"))
      .select(col("c.bands").as("bands"), col("c.rpb").as("rows_per_band"),
        least(lit(9L), floor(col("jaccard") * 10)).cast("long").as("jbucket"),
        det.cast("int").as("det"))
      .groupBy("bands", "rows_per_band", "jbucket")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("det")).cast("long").as("n_detected"))
      .withColumn("det_rate",
        round(col("n_detected").cast("double") / col("n_pairs"), 6))
      .orderBy(col("bands").desc, col("jbucket"))
  }

  /** X2 (scale form): MinHash + LSH banding candidate pairs, verified with
    * exact Jaccard. `numHashes = bands * rowsPerBand`.
    */
  def minhashLshPairs(docs: DataFrame, textCol: String, idCol: String,
                      k: Int, threshold: Double,
                      bands: Int = 16, rowsPerBand: Int = 4,
                      portable: Boolean = false): DataFrame =
    // (id, shingles, signature) is corpus-sized (shingles + signature
    // per doc) and the verified pair list small: the policy's shape
    materialized(sigFrame(docs, textCol, idCol, k, bands * rowsPerBand,
      portable))(lshPairsOfSig(_, threshold, bands, rowsPerBand))

  /** [[minhashLshPairs]]' banding + verification over a PREBUILT
    * (doc_id, sh, sig) frame (every row with a non-empty shingle set) —
    * for callers that derive the signature once and feed it to several
    * consumers ([[Refresh]]'s per-document frame). Lazy; the frame is
    * read through four branches, so pass a materialized one.
    */
  private[graft] def lshPairsOfSig(withSig: DataFrame, threshold: Double,
                                   bands: Int, rowsPerBand: Int): DataFrame = {
    val banded = bandedFrame(withSig, bands, rowsPerBand)
    val a = banded.as("a"); val b = banded.as("b")
    val cand = a.join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    verifyJaccard(cand,
      withSig.select("doc_id", "sh"), withSig.select("doc_id", "sh"), threshold)
  }

  /** Incremental / cross-corpus near-dup (the op every training-data
    * REFRESH runs): pairs (id_new, id_old, jaccard) where an incoming
    * document near-duplicates one already in the corpus. Only CROSS-side
    * pairs are computed — the existing corpus is banded without any
    * self-join (its internal dups were handled when it was built), and
    * the incoming batch joins against those buckets: candidate volume is
    * |new|-proportional, not |corpus|², which is the whole point when
    * |new| << |corpus|. At 100 TB the existing side's (band, bucket, id)
    * index and signature frame are precomputed once and reused across
    * refreshes (write them out instead of passing `existing` raw).
    *
    * Same banding/verification as [[minhashLshPairs]] (candidates
    * exact-verified, precision 1), so recall behavior is identical.
    * Caller contract: id spaces of the two sides are disjoint.
    */
  def crossDupPairs(incoming: DataFrame, existing: DataFrame,
                    textCol: String, idCol: String,
                    k: Int, threshold: Double,
                    bands: Int = 16, rowsPerBand: Int = 4,
                    portable: Boolean = false): DataFrame =
    withPersisted(sigFrame(existing, textCol, idCol, k, bands * rowsPerBand,
        portable)) { oldSig =>
      crossDupPairsPrebuilt(incoming,
        bandedFrame(oldSig, bands, rowsPerBand),
        oldSig.select("doc_id", "sh"),
        textCol, idCol, k, threshold, bands, rowsPerBand, portable)
    }

  /** The precomputed existing-side LSH index for incremental refreshes —
    * the crossDupPairs docstring's "write them out instead of passing
    * `existing` raw" policy made concrete: one slim (doc_id, band,
    * bucket) row per (doc, band). At 100 TB this (plus [[shingleFrame]])
    * is a one-off `partitionBy(band)` write reused by every refresh and
    * by the streaming probe (graft.streaming.StreamDedup.crossDupProbe).
    */
  def minhashBandIndex(docs: DataFrame, textCol: String, idCol: String,
                       k: Int, bands: Int = 16, rowsPerBand: Int = 4,
                       portable: Boolean = false): DataFrame =
    bandedFrame(sigFrame(docs, textCol, idCol, k, bands * rowsPerBand,
      portable), bands, rowsPerBand)

  /** The (doc_id, sh) shingle table — [[minhashBandIndex]]'s verification
    * companion (candidates are exact-Jaccard-verified against it).
    */
  def shingleFrame(docs: DataFrame, textCol: String, idCol: String,
                   k: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"), shingles(col(textCol), k).as("sh"))
      .filter(size(col("sh")) > 0)

  /** [[crossDupPairs]] against a PREBUILT existing-side index + shingle
    * table — the refresh/streaming form; the from-raw overload delegates
    * here, so the two cannot drift. Only the incoming side is hashed:
    * per-refresh (or per-micro-batch) cost is |new|-proportional.
    */
  def crossDupPairsPrebuilt(incoming: DataFrame,
                            oldIndex: DataFrame, oldShingles: DataFrame,
                            textCol: String, idCol: String,
                            k: Int, threshold: Double,
                            bands: Int = 16, rowsPerBand: Int = 4,
                            portable: Boolean = false): DataFrame =
    materialized(sigFrame(incoming, textCol, idCol, k, bands * rowsPerBand,
      portable))(crossPairsOfSig(_, oldIndex, oldShingles, threshold,
        bands, rowsPerBand))

  /** [[crossDupPairsPrebuilt]] over a PREBUILT incoming (doc_id, sh, sig)
    * frame — the [[lshPairsOfSig]] counterpart. Lazy; pass a
    * materialized frame (it is read through two branches).
    */
  private[graft] def crossPairsOfSig(newSig: DataFrame, oldIndex: DataFrame,
                                     oldShingles: DataFrame, threshold: Double,
                                     bands: Int, rowsPerBand: Int): DataFrame = {
    val a = bandedFrame(newSig, bands, rowsPerBand).as("a")
    val b = oldIndex.as("b")
    // no id ordering constraint — sides are distinct by contract
    val cand = a.join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    verifyJaccard(cand, newSig.select("doc_id", "sh"), oldShingles, threshold)
      .withColumnRenamed("id_a", "id_new")
      .withColumnRenamed("id_b", "id_old")
  }

  /** SimHash 64-bit fingerprint over the token sequence: bit b of the
    * result is the majority vote of bit b across token hashes; near-dup
    * = hamming distance <= d on the fingerprints. Native single-pass
    * expression — see graft.functions.SimHash64 for why the built-ins
    * form is 64x more expensive per row.
    */
  def simhash(text: Column): Column =
    graft.functions.SimHash64.simhash64(text)

  /** Built-ins-only simhash (zero custom surface). NOTE: each of the 64
    * vote expressions re-evaluates the token-hash lambda — Catalyst
    * does not CSE across lambda boundaries; prefer [[simhash]].
    */
  def simhashBuiltins(text: Column): Column = {
    val hashes = transform(tokens(text), t => xxhash64(t))
    val n = size(hashes)
    (0 until 64).map { b =>
      val ones = size(filter(hashes, h => shiftright(h, b).bitwiseAND(lit(1L)) === 1L))
      when(ones * 2 > n, shiftleft(lit(1L), b).cast("long")).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Engine-PORTABLE SimHash, split in two so the md5 evaluates once per
    * token: [[simhashPortableHashes]] materializes the per-token 60-bit
    * md5 hash array (the [[graft.operators.Routing.portableHash]] family
    * — `('0x' || substr(md5(t), 1, 15))::BIGINT` in DuckDB), then
    * [[simhashPortableVote]] takes the per-bit majority over that ARRAY
    * COLUMN. Materializing the array between the two steps matters:
    * inlining the hash lambda into the 60 vote expressions would
    * re-evaluate md5 60x per token (the [[simhashBuiltins]] trap);
    * Catalyst keeps a non-cheap multi-referenced alias as its own
    * projection, so the votes read the computed array.
    *
    * This is the ORACLE-portable sibling of [[simhash]]: same majority
    * semantics, but every ingredient (regex tokenize, md5, bit shifts)
    * is reproducible in DuckDB SQL, so the fingerprints themselves
    * hash-match cross-engine (declared x10_simhash_portable). The native
    * xxhash64 [[simhash]] stays the scale path (one pass, codegen'd).
    */
  def simhashPortableHashes(text: Column): Column =
    // single-sourced on Routing.portableHash — the x10_portable and
    // routing DuckDB oracles encode the same hash family; two inline
    // copies could drift apart without a compile-time signal
    transform(tokens(text), t => graft.operators.Routing.portableHash(t))

  /** Per-bit majority vote over a materialized token-hash array column —
    * see [[simhashPortableHashes]]. Empty token array → fingerprint 0.
    */
  def simhashPortableVote(hashes: Column, bits: Int = 60): Column = {
    val n = size(hashes)
    (0 until bits).map { b =>
      val ones = size(filter(hashes,
        h => shiftright(h, b).bitwiseAND(lit(1L)) === 1L))
      when(ones * 2 > n, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
  }

  /** X2 (SimHash form): ALL pairs with hamming(simhash) <= `maxHamming`
    * — EXACT by pigeonhole, not approximate: the 64-bit fingerprint
    * splits into `bands` equal chunks; two fingerprints within hamming
    * distance d differ in at most d chunks, so with bands > d they must
    * agree on at least one chunk — every qualifying pair collides in
    * some band bucket and is then verified with the real bit_count.
    * The default (d = 3, 4 x 16-bit bands) is the classic web-scale
    * near-dup table design.
    *
    * Scale: the fingerprint is one map-only pass — the whole dedup
    * state is 16 bytes per doc; the candidate join shuffles
    * (band, chunk, id, fp) only, bucketed by 16-bit chunk values within
    * each band (65536 buckets per band); verification is a codegen'd
    * bit_count inside the join condition, so only qualifying pairs
    * materialize. Unlike [[minhashLshPairs]] there is no shingle set to
    * re-join — the fingerprint IS the verifier.
    */
  def simhashPairs(docs: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3, bands: Int = 4): DataFrame = {
    require(bands > maxHamming,
      s"pigeonhole completeness needs bands > maxHamming (got bands=$bands, maxHamming=$maxHamming)")
    require(64 % bands == 0, s"bands must divide 64 (got $bands)")
    val w = 64 / bands
    val mask = if (w == 64) -1L else (1L << w) - 1L
    // materialize the fingerprint: the simhash expression is a 64-vote
    // tree — left lazy, the join condition would re-evaluate it PER
    // CANDIDATE PAIR (low-entropy corpora collide heavily on 16-bit
    // chunks, so candidates >> output pairs; measured 12s -> ~1s at
    // sf0.1). Slim (id, long) but corpus-row-sized: the policy's shape.
    materialized(docs.select(col(idCol).as("doc_id"),
        simhash(col(textCol)).as("fp"))) { fp =>
      // bands unrolled statically (bands is a plan-time constant), so
      // the chunk extraction stays in whole-stage codegen
      val bandStructs = (0 until bands).map { bi =>
        struct(lit(bi).as("band"),
          shiftrightunsigned(col("fp"), bi * w).bitwiseAND(lit(mask)).as("chunk"))
      }
      val banded = fp
        .select(col("doc_id"), col("fp"), explode(array(bandStructs: _*)).as("bc"))
        .select(col("doc_id"), col("fp"), col("bc.band"), col("bc.chunk"))
      val a = banded.as("a"); val b = banded.as("b")
      a.join(b,
          col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
            col("a.doc_id") < col("b.doc_id") &&
            hamming64(col("a.fp"), col("b.fp")) <= maxHamming)
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          hamming64(col("a.fp"), col("b.fp")).as("hamming"))
        .distinct()
    }
  }

  /** Duplicate-cluster resolution: connected components over a near-dup
    * pair list (the step that turns pair-finding into an actual dedup —
    * keep `min(doc_id)` per cluster, drop the rest).
    *
    * Iterative min-label propagation: every node starts labeled with its
    * own id; each round a node takes the min label among itself and its
    * neighbors; fixpoint = every node holds the min id of its component.
    * Rounds needed = graph diameter, and near-dup components are
    * star/clique shaped (diameter 2-4) — so a handful of rounds even at
    * 100 TB. Each round shuffles only (node, label) long pairs;
    * `localCheckpoint` truncates the lineage so plans stay flat across
    * iterations. (The large-star/small-star algorithm halves round count
    * for pathological chain graphs; not needed for dedup graphs.)
    */
  /** X2e: quality-aware survivor election over duplicate clusters — the
    * removal POLICY step after [[dupClusters]]: instead of the implicit
    * "min-id survives", each cluster keeps its best member by
    * (score desc, id asc). `clusters` is the (id, cluster_id) frame;
    * `docs` supplies the score. Output: one row per cluster
    * (cluster_id, survivor_id, survivor_score, n_members).
    *
    * Scale: both inputs reduce to slim (id, cluster, score) rows before
    * the hash equi-join on id, and the election is the bounded
    * `greatest_row` ObjectHashAggregate — map-side partials reduce every
    * task to ONE struct per cluster before the shuffle, never a window
    * over the cluster's membership (the x69 survivor discipline).
    */
  def clusterSurvivors(clusters: DataFrame, docs: DataFrame, idCol: String,
                       scoreCol: Column): DataFrame = {
    import graft.functions.GreatestRow.greatest_row
    val slim = docs.filter(col(idCol).isNotNull)
      .select(col(idCol).as("doc_id"), scoreCol.cast("double").as("_score"))
    clusters.join(slim, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(greatest_row(struct(col("_score"), (-col("doc_id")).as("_negid"),
        col("doc_id").as("id"))).as("w"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), col("w.id").as("survivor_id"),
        round(col("w._score"), 6).as("survivor_score"), col("n_members"))
  }

  /** Session-conf gate for the driver-local connected-components path
    * (r19), in BYTES of collected ids: a pair list whose rows × id
    * width (two ids a row) is verifiably under it is collected and
    * labeled with a driver union-find — ONE job plus O(E α(E)) local
    * work — instead of the iterative join-per-round min-label
    * propagation, whose per-round jobs (join + groupBy + change-count
    * collect, each an AQE stage cascade) dominate the refresh family's
    * wall at fixture scale. The id width is 8 bytes for LongType (4 / 2 /
    * 1 for Integer / Short / Byte) and the measured UTF-8 length for StringType,
    * so a string-id graph is charged what it actually costs the driver
    * — a row gate admits gigabytes of long string ids. The default,
    * 16 MiB, is the former gate of 2M directed long-id edges. Identical
    * labels by construction: both paths compute, per node, the minimum
    * id reachable in its component (PropertySpec pins the equivalence
    * on random graphs over BOTH paths). Above the gate — the 100 TB
    * crawl case, where the pair list is billions of rows — the
    * iterative path runs unchanged. The x85 refresh's driver fold
    * ([[Refresh.delta]]) draws its collects on the same budget.
    */
  val CcDriverEdgeBytesKey = "graft.cc.driverEdgeBytes"
  val DefaultCcDriverEdgeBytes: Long = 16L << 20

  /** Driver union-find over a collected edge list, min-id labels. Only
    * id types whose driver ordering provably matches Spark's `min`
    * semantics take this path (integral numerics; strings compare as
    * unsigned UTF-8 bytes — UTF8String's binary order).
    */
  private def driverMinOrdering(dt: org.apache.spark.sql.types.DataType)
    : Option[Ordering[Any]] = dt match {
    case _ if integralId(dt) =>
      Some(Ordering.by((x: Any) => x.asInstanceOf[Number].longValue))
    case org.apache.spark.sql.types.StringType =>
      Some(new Ordering[Any] {
        def compare(a: Any, b: Any): Int = {
          val x = a.asInstanceOf[String]
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val y = b.asInstanceOf[String]
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          var i = 0
          val n = math.min(x.length, y.length)
          while (i < n) {
            val c = (x(i) & 0xff) - (y(i) & 0xff)
            if (c != 0) return c
            i += 1
          }
          x.length - y.length
        }
      })
    case _ => None
  }

  private def driverUnionFind(src: Array[Any], dst: Array[Any],
                              ord: Ordering[Any]): Seq[(Any, Any)] = {
    val index = new java.util.HashMap[Any, Integer]()
    def idOf(v: Any): Int = {
      val got = index.get(v)
      if (got != null) got.intValue()
      else { val i = index.size(); index.put(v, i); i }
    }
    val srcIdx = src.map(idOf)
    val dstIdx = dst.map(idOf)
    val n = index.size()
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var root = x
      while (parent(root) != root) root = parent(root)
      var cur = x
      while (parent(cur) != root) { val nxt = parent(cur); parent(cur) = root; cur = nxt }
      root
    }
    var r = 0
    while (r < srcIdx.length) {
      val (ra, rb) = (find(srcIdx(r)), find(dstIdx(r)))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      r += 1
    }
    // min member VALUE per component root
    val values = new Array[Any](n)
    val it0 = index.entrySet().iterator()
    while (it0.hasNext) { val e = it0.next(); values(e.getValue) = e.getKey }
    val minOf = new java.util.HashMap[Int, Any]()
    var i = 0
    while (i < n) {
      val root = find(i)
      val cur = minOf.get(root)
      if (cur == null || ord.lt(values(i), cur)) minOf.put(root, values(i))
      i += 1
    }
    (0 until n).map(i => values(i) -> minOf.get(find(i)))
  }

  /** The byte gate of the driver-local paths ([[CcDriverEdgeBytesKey]]):
    * the cluster stage's collected ids, and the refresh's driver fold
    * ([[Refresh.delta]]).
    */
  private[ext] def driverEdgeBytes(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption(CcDriverEdgeBytesKey).map(_.toLong)
      .getOrElse(DefaultCcDriverEdgeBytes)

  /** A pair row's two ids and their byte charge, for [[collectUnder]]:
    * 8 bytes per long id (4 / 2 / 1 for Integer / Short / Byte), the
    * UTF-8 length of a string id. A null id charges more than any budget — the
    * iterative path owns null semantics. Built outside the job so the
    * task closure captures only what it reads.
    */
  private def pairRow(dt: org.apache.spark.sql.types.DataType)
    : org.apache.spark.sql.catalyst.InternalRow => Option[((Any, Any), Long)] = {
    val (read, width): ((org.apache.spark.sql.catalyst.InternalRow, Int) => Any,
                        (org.apache.spark.sql.catalyst.InternalRow, Int) => Long) =
      if (integralId(dt)) {
        val (at, back, w) = (longIdAt(dt), idOfLong(dt), dt.defaultSize.toLong)
        ((r, i) => back(at(r, i)), (_, _) => w)
      } else ((r, i) => r.getUTF8String(i).toString,
        (r, i) => r.getUTF8String(i).numBytes().toLong)
    r => Some(
      if (r.isNullAt(0) || r.isNullAt(1)) (null, Long.MaxValue)
      else ((read(r, 0), read(r, 1)), width(r, 0) + width(r, 1)))
  }

  /** Whether `dt` is an integral id type — ids the driver paths hold as
    * longs, which order exactly as Spark orders the column.
    */
  private[ext] def integralId(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    Seq(LongType, IntegerType, ShortType, ByteType).contains(dt)
  }

  /** An [[integralId]] column's reader: the value at an ordinal as a long. */
  private[ext] def longIdAt(dt: org.apache.spark.sql.types.DataType)
    : (org.apache.spark.sql.catalyst.InternalRow, Int) => Long = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, ShortType}
    dt match {
      case IntegerType => (r, i) => r.getInt(i).toLong
      case ShortType => (r, i) => r.getShort(i).toLong
      case ByteType => (r, i) => r.getByte(i).toLong
      case _ => (r, i) => r.getLong(i)
    }
  }

  /** [[longIdAt]]'s inverse: a long id back as a value of its integral
    * column type.
    */
  private[ext] def idOfLong(dt: org.apache.spark.sql.types.DataType): Long => Any = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, ShortType}
    dt match {
      case IntegerType => _.toInt
      case ShortType => _.toShort
      case ByteType => _.toByte
      case _ => x => x
    }
  }

  /** The values `read` takes from `rows`, on the driver, while their byte
    * charges stay within `gateBytes` — ONE job. `read` maps a row to
    * `Some((value, bytes))` to keep it and None to skip it; a row the
    * driver cannot take charges `Long.MaxValue`. Each task stops
    * buffering at its byte budget (the gate, and at most half of
    * `spark.driver.maxResultSize` split over the partitions, so a
    * many-partition frame can never abort the job on result size); the
    * driver drops what it holds the moment the running total passes the
    * gate. Returns the kept values and their total charge, or None over
    * the gate. Pass a checkpoint's or a plan's rows ([[Hints.rows]]).
    */
  private[ext] def collectUnder[T: scala.reflect.ClassTag](
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      gateBytes: Long)(
      read: org.apache.spark.sql.catalyst.InternalRow => Option[(T, Long)])
    : Option[(Array[T], Long)] = {
    val sc = rows.sparkContext
    val parts = rows.getNumPartitions
    val maxResult = sc.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    val budget =
      if (maxResult > 0) math.min(gateBytes, maxResult / 2 / math.max(parts, 1))
      else gateBytes
    val got = new Array[Array[T]](parts)
    var total = 0L
    var over = false
    type Part = Option[(Array[T], Long)]
    sc.runJob[org.apache.spark.sql.catalyst.InternalRow, Part](rows,
      partitionUnder(read, budget),
      (i: Int, res: Part) => res match {
        case Some((vs, n)) if !over && n <= gateBytes - total =>
          total += n; got(i) = vs
        case _ => over = true; got.indices.foreach(got(_) = null)
      })
    if (over) None else Some((got.flatMap(_.iterator), total))
  }

  /** One task of [[collectUnder]]: the partition's kept values and their
    * charge, or None as soon as the charge passes `budget`.
    */
  private def partitionUnder[T: scala.reflect.ClassTag](
      read: org.apache.spark.sql.catalyst.InternalRow => Option[(T, Long)],
      budget: Long)
    : Iterator[org.apache.spark.sql.catalyst.InternalRow] => Option[(Array[T], Long)] =
    it => {
      val out = Array.newBuilder[T]
      var bytes = 0L
      var ok = true
      while (ok && it.hasNext) read(it.next()).foreach { case (v, n) =>
        ok = n <= budget - bytes
        if (ok) { out += v; bytes += n }
      }
      if (ok) Some((out.result(), bytes)) else None
    }

  def dupClusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
                  maxIter: Int = 20): DataFrame = {
    val ids = if (pairs.columns.toSeq == Seq(idA, idB)) pairs
      else pairs.select(idA, idB)
    val dt = ids.schema.fields(0).dataType
    // size-gated driver path (scaladoc above): the union-find takes the
    // pair list as it stands — duplicates and one direction per pair
    // are fine — so only the iterative path builds the edge frame
    driverMinOrdering(dt).flatMap(ord =>
        collectUnder(Hints.rows(ids), driverEdgeBytes(pairs.sparkSession))(
          pairRow(dt)).map(got => ord -> got._1)) match {
      case Some((ord, edges)) =>
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id", dt),
          org.apache.spark.sql.types.StructField("cluster_id", dt)))
        Hints.local(pairs.sparkSession, schema,
          driverUnionFind(edges.map(_._1), edges.map(_._2), ord)
            .map { case (a, b) => org.apache.spark.sql.Row(a, b) })
      case None =>
        // both directions of every pair from ONE read of `pairs`: a
        // lazily derived pair list upstream is then computed once per
        // action, where a two-branch union would compute it twice
        val edges = ids.select(explode(array(
            struct(col(idA).as("src"), col(idB).as("dst")),
            struct(col(idB).as("src"), col(idA).as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
          .distinct().persist()
        dupClustersIterative(edges, maxIter)
    }
  }

  /** The distributed min-label propagation loop — the 100 TB path; the
    * driver union-find above must agree with it exactly (PropertySpec).
    * Takes the already-persisted bidirectional edge frame and
    * unpersists it on exit.
    */
  private def dupClustersIterative(edges: DataFrame, maxIter: Int): DataFrame = {
    var labels = edges.select(col("src").as("node"), col("src").as("label")).distinct()
    val idType = edges.schema.fields(0).dataType
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      // each label row carries its value as `prev`, a neighbor's offer
      // carries none: one aggregate yields the node's new label AND its
      // old one, so "no label moved" is counted exactly, for any id
      // type (a sum-of-labels signature cannot add strings and
      // overflows on hash-sized longs), without a self-join diff
      val nbr = edges
        .join(labels.select(col("node").as("dst"), col("label")), "dst")
        .select(col("src").as("node"), col("label"),
          lit(null).cast(idType).as("prev"))
      // LAZY checkpoint + change-count collect = ONE job per round (r18):
      // the collect materializes the round's labels into the checkpoint
      // cache, so the eager variant's separate materialization job was
      // pure scheduling latency (the refresh family runs this loop 2-3
      // times per invocation)
      val next = labels.select(col("node"), col("label"), col("label").as("prev"))
        .union(nbr)
        .groupBy("node").agg(min("label").as("label"), min("prev").as("prev"))
        .localCheckpoint(false)
      // empty label frame (a corpus with NO near-dup pairs — real at
      // small carves): the sum is NULL, nothing moved
      val moved = next.agg(sum(when(col("label") =!= col("prev"), 1L)))
        .collect()(0)
      done = moved.isNullAt(0) || moved.getLong(0) == 0L
      labels = next.select("node", "label")
      iter += 1
    }
    edges.unpersist()
    if (!done)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"dupClusters did not converge within maxIter=$maxIter rounds — a " +
          "component with diameter > maxIter yields split clusters; raise " +
          "maxIter (near-dup graphs converge in a handful of rounds, so " +
          "this usually indicates a pathological chain-shaped pair list)")
    labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Embedding-cosine near-dup pairs: all (a, b) with cosine >= threshold.
    * Exact form: self-join on a coarse sign-LSH prefix bucket would prune
    * at scale; for the oracle the join is full n^2 over the (small)
    * embedding dimension table. At 100 TB use
    * [[Similarity.ivfTopK]]-style cell assignment first and run the
    * pairwise check within cells only.
    */
  def embeddingNearDupPairs(embeddings: DataFrame, threshold: Double,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    val a = embeddings.select(col(idCol).as("id_a"),
      col(vecCol).cast("array<double>").as("va"))
    val b = embeddings.select(col(idCol).as("id_b"),
      col(vecCol).cast("array<double>").as("vb"))
    // the threshold lives INSIDE the join condition: the nested-loop join
    // then evaluates cosine on a zero-copy JoinedRow and only MATCHING
    // pairs are materialized — vs. filtering after the join, which copies
    // both embedding arrays into every one of the n^2/2 output rows.
    // (id_a < id_b first: And short-circuits, halving cosine evals.)
    val sim = round(Similarity.cosine(col("va"), col("vb")), 6)
    a.join(b, col("id_a") < col("id_b") && sim >= threshold)
      .select(col("id_a"), col("id_b"), sim.as("sim"))
  }

  /** Embedding near-dup pairs, cell-blocked (the 100 TB form of
    * [[embeddingNearDupPairs]]): every vector is assigned to its `nprobe`
    * nearest IVF cells (multi-probe hedges pairs straddling a cell
    * boundary) and the pairwise cosine check runs WITHIN cells only — an
    * equi-join on cell instead of the n² nested loop, so candidate volume
    * is ~n²·nprobe²/nlist and each cell's block is independent work.
    *
    * Scale notes:
    *  - the join shuffles (cell, id, vector) and partitions by cell, so
    *    parallelism is bounded by nlist: size nlist ~ sqrt(n) (and train
    *    centroids with [[Similarity.kmeansCentroids]]) as the corpus
    *    grows, keeping per-cell blocks bounded.
    *  - the threshold lives inside the join condition (zero-copy
    *    JoinedRow — see [[embeddingNearDupPairs]]); only matching pairs
    *    materialize, then multi-probe duplicates collapse via distinct
    *    over (id_a, id_b, sim) — sim is deterministic per pair.
    *  - recall < 1 is the price of blocking: a pair is found iff the two
    *    vectors share one of their nprobe cells. Near-dup pairs (high
    *    sim) rank cells near-identically, so recall concentrates exactly
    *    where dedup needs it (verified in ExtSpec + Smoke vs the exact
    *    form; full-probe nprobe = nlist is exhaustive by construction).
    */
  /** X2f (r11): SemDeDup-family semantic self-dedup cells — every vector
    * assigned to its `nprobe` nearest of `nlist` seeded cells, ranked by
    * ROUNDED cosine against the seed vectors (multi-probe hedges pairs
    * straddling a cell boundary, the [[embeddingNearDupPairsBlocked]]
    * recall lever — measured 0.92-0.94 pair recall at nlist=8/nprobe=3
    * on the fixtures vs 0.24-0.31 single-probe).
    *
    * The cells are ENGINE-PORTABLE by construction (unlike
    * [[Similarity.kmeansCentroids]], whose Lloyd means are Spark-side
    * float folds no other engine replays bit-for-bit):
    *  - seeds are the `nlist` corpus vectors with the smallest
    *    (md5(id-as-string), id) — the [[Curation.splitAssign]] hashing
    *    discipline, deterministic and identical in any engine;
    *  - ranking uses cosine ROUNDED to 6dp (HALF_UP — the shared
    *    cross-engine float contract), ties to the lowest seed index —
    *    so an independent SQL replay (`ORDER BY round(sim,6) DESC, idx`)
    *    lands every vector in the same cells.
    *
    * Scale: the seed sample is one orderBy-limit job (nlist rows to the
    * driver — a kilobyte artifact, persistable via
    * [[Artifacts.saveMatrix]]); assignment is MAP-ONLY — the seeds ride
    * as a codegen reference object inside
    * [[graft.functions.NearestCells]]'s rounded variant, no join, no
    * shuffle, ×nprobe explode of slim (id, cell) alongside the vector.
    * Size nlist ~ sqrt(n) as the corpus grows to bound within-cell pair
    * volume.
    */
  def semanticCells(embeddings: DataFrame, nlist: Int, nprobe: Int = 3,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    seeds: Option[Array[Array[Double]]] = None): DataFrame = {
    import graft.functions.NearestCells.nearest_cells_rounded
    require(nlist > 0, s"nlist must be positive (got $nlist)")
    require(nprobe > 0 && nprobe <= nlist,
      s"nprobe must be in [1, nlist] (got $nprobe of $nlist)")
    val e = embeddings.filter(col(idCol).isNotNull)
      .select(col(idCol).as("doc_id"), col(vecCol).cast("array<double>").as("v"))
    val sd = seeds.getOrElse(portableSeeds(embeddings, nlist, idCol, vecCol))
    e.withColumn("cell",
      explode(nearest_cells_rounded(col("v"), sd, nprobe)))
  }

  /** The deterministic engine-portable seed sample of [[semanticCells]]:
    * the `nlist` vectors with the smallest (md5(id-as-string), id).
    */
  def portableSeeds(embeddings: DataFrame, nlist: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): Array[Array[Double]] =
    embeddings.filter(col(idCol).isNotNull)
      .select(col(idCol), col(vecCol).cast("array<double>"))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .limit(nlist).collect()
      .map(_.getSeq[Double](1).toArray)

  /** X2f: the full SemDeDup report — cluster the corpus's own
    * embeddings into [[semanticCells]], find within-cell cosine
    * near-dup pairs, connect them into duplicate clusters and elect ONE
    * survivor per cluster by the declared quality policy (score desc,
    * id asc — [[clusterSurvivors]], the x75 election). This is the
    * embedding sibling of the lexical x23+x75 chain: it prunes
    * SEMANTIC redundancy (paraphrases, re-renders, translations-of-
    * boilerplate) that shingle overlap can't see.
    *
    * Output: one row per document that belongs to a near-dup cluster —
    * (doc_id, cluster_id, survivor_id, kept); documents outside any
    * cluster are implicitly kept and not reported (the drop list is
    * `kept = false`).
    *
    * Scale: within-cell pairing bounds candidate volume to
    * Σ|cell|² ≈ n²/nlist (never the all-pairs n²); the pair predicate
    * (id order + threshold) lives INSIDE the join condition so only
    * matching pairs materialize (see [[embeddingNearDupPairs]]);
    * clustering and election run over the slim pair/cluster frames
    * ([[dupClusters]]' (node, label) shuffles, [[clusterSurvivors]]'
    * bounded greatest_row). Approximation contract: a pair is found
    * iff both members share a cell — near-dups rank cells
    * near-identically, so recall concentrates where dedup needs it
    * (ExtSpec measures it against the exact all-pairs form).
    */
  def semanticDedup(embeddings: DataFrame, docs: DataFrame,
                    threshold: Double, nlist: Int = 8, nprobe: Int = 3,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    docIdCol: String = "doc_id",
                    scoreCol: Column = null): DataFrame = {
    val pairs = semanticDedupPairs(
      semanticCells(embeddings, nlist, nprobe, idCol, vecCol), threshold)
    semanticDedupReport(dupClusters(pairs), docs, docIdCol, scoreCol)
  }

  /** The election + report tail of [[semanticDedup]], split out so a
    * pipeline that memoizes the cluster frame as a per-refresh artifact
    * (the x23/x75 sharing discipline) feeds it directly.
    */
  def semanticDedupReport(clusters: DataFrame, docs: DataFrame,
                          docIdCol: String = "doc_id",
                          scoreCol: Column = null): DataFrame = {
    val score = Option(scoreCol).getOrElse(TextStats.qualityScore(col("text")))
    val survivors = clusterSurvivors(clusters, docs, docIdCol, score)
    clusters.join(survivors.select(col("cluster_id"), col("survivor_id")),
        Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("survivor_id"),
        (col("doc_id") === col("survivor_id")).as("kept"))
      .orderBy("doc_id")
  }

  /** Within-cell near-dup pairs over a [[semanticCells]] frame: an
    * equi-join on cell with (id_a < id_b, rounded cosine >= threshold)
    * inside the join condition — zero-copy evaluation, only matching
    * pairs materialize; multi-probe duplicates (a pair sharing two
    * probed cells) collapse via distinct over (id_a, id_b, sim) — sim
    * is deterministic per pair, so distinct carries no float risk.
    */
  private[graft] def semanticDedupPairs(cells: DataFrame,
                                        threshold: Double): DataFrame = {
    val a = cells.select(col("cell"), col("doc_id").as("id_a"), col("v").as("va"))
    val b = cells.select(col("cell").as("cell_b"), col("doc_id").as("id_b"),
      col("v").as("vb"))
    val sim = round(Similarity.cosine(col("va"), col("vb")), 6)
    a.join(b, col("cell") === col("cell_b") &&
        col("id_a") < col("id_b") && sim >= threshold)
      .select(col("id_a"), col("id_b"), sim.as("sim"))
      .distinct()
  }

  def embeddingNearDupPairsBlocked(embeddings: DataFrame, threshold: Double,
                                   nlist: Int = 32, nprobe: Int = 2,
                                   idCol: String = "vec_id",
                                   vecCol: String = "embedding",
                                   centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    import graft.functions.NearestCells.nearest_cells
    val cents = centroids.getOrElse(
      Similarity.sampledCentroids(embeddings, nlist, idCol, vecCol))
    val cells = embeddings
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("cell", explode(nearest_cells(col("v"), cents, nprobe)))
    val a = cells.select(col("cell"), col("id").as("id_a"), col("v").as("va"))
    val b = cells.select(col("cell"), col("id").as("id_b"), col("v").as("vb"))
    val sim = round(Similarity.cosine(col("va"), col("vb")), 6)
    a.as("a").join(b.as("b"),
        col("a.cell") === col("b.cell") &&
          col("id_a") < col("id_b") && sim >= threshold)
      .select(col("id_a"), col("id_b"), sim.as("sim"))
      .distinct()
  }
}
