package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** X5/X6: text analysis for training-data pipelines (SURVEY §2.9) —
  * token counting, quality scoring, language ID, fingerprinting.
  * Everything is a per-row Column expression: map-only at any scale.
  * Token count, quality and language ID are fields of ONE native
  * expression ([[graft.functions.CurationScores]], codegen'd, one
  * tokenize pass). The helpers built on `filter`/`transform` lambdas
  * (`subwordCount`, `stopwordRatio`, the n-gram buckets) are
  * higher-order functions, which Spark 4.1 evaluates interpreted
  * (`CodegenFallback`) and keeps out of whole-stage codegen.
  */
object TextStats {

  /** The per-document curation features (lang, quality, rep_ratio,
    * n_toks) of `text` as one struct — see
    * [[graft.functions.CurationScores]].
    */
  def scores(text: Column): Column =
    graft.functions.CurationScores.curation_scores(text)

  /** Whitespace-ish token count (empty tokens excluded, engine-agnostic):
    * `size` of [[Dedup.tokens]], null for null text.
    */
  def tokenCount(text: Column): Column = scores(text).getField("n_toks")

  /** BPE-ish subword count heuristic: word chunks + digit runs +
    * punctuation marks each count as a token.
    */
  def subwordCount(text: Column): Column =
    size(filter(split(lower(text), "[^a-z0-9.,;:!?']+"), t => t =!= "")) +
      length(regexp_replace(text, "[^.,;:!?]", ""))

  def punctRatio(text: Column): Column =
    round(length(regexp_replace(text, "[^.,;:!?]", "")).cast("double") /
      greatest(length(text), lit(1)), 6)

  val englishStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "from", "this")

  /** Fraction of tokens that are (English) stopwords — a standard
    * quality-filter feature (Gopher/C4-style heuristics).
    */
  def stopwordRatio(text: Column): Column = {
    val toks = Dedup.tokens(text)
    round(size(array_intersect_keepdup(toks)).cast("double") /
      greatest(size(toks), lit(1)), 6)
  }

  // stopword membership with duplicates preserved (array_intersect dedups)
  private def array_intersect_keepdup(toks: Column): Column =
    filter(toks, t => t.isin(englishStopwords: _*))

  /** Composite quality score in [0,1]: length band (0.5 for 100–20000
    * chars, 0.25 for 20–99) + 0.3 when [[stopwordRatio]] >= 0.05 + 0.2
    * - 0.2 when [[punctRatio]] > 0.1, rounded to 6 decimals.
    * Deterministic, SQL-expressible.
    */
  def qualityScore(text: Column): Column = scores(text).getField("quality")

  private[graft] val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "that", "for", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "que", "pour", "dans"),
    "es" -> Seq("el", "la", "los", "que", "es", "para", "con", "una"))

  /** Per-language stopword lists (r17 — the multilingual extraction
    * seam: CCNet is multilingual, so the jusText-style stopword-density
    * rescue leg must key its list by the page language, not assume
    * English). ASCII-only by construction: the engine's token view is
    * `[a-z0-9]+`, so accented function words (für, où, más) never
    * survive tokenization and would be dead weight in the lists.
    * Languages without a shipped list (zh — stopword density over
    * a-z0-9 tokens is meaningless there — and 'und') fall back to the
    * English list, which preserves the pre-r17 behavior exactly.
    */
  val stopwordLists: Map[String, Seq[String]] = Map(
    "en" -> englishStopwords,
    "de" -> Seq("der", "die", "das", "und", "oder", "zu", "in", "ist",
      "es", "dass", "auf", "mit", "als", "bei", "von", "nicht", "ein",
      "eine", "aus"),
    "fr" -> Seq("le", "la", "les", "et", "ou", "de", "a", "en", "est",
      "il", "que", "pour", "sur", "avec", "par", "ce", "dans", "ne",
      "pas"),
    "es" -> Seq("el", "la", "los", "las", "y", "o", "de", "a", "en",
      "es", "que", "para", "con", "por", "un", "una", "no", "se", "al"))

  /** [[langId]] as oracle SQL over a token-list expression `toks` and
    * the raw-text expression `txt` (the CJK probe) — GENERATED from
    * [[langMarkers]] so Scala and SQL can never desync (the keepSql
    * discipline). Tie semantics mirror `greatest(struct(score, lang))`:
    * ties break toward the lexicographically greatest language, which
    * the CASE encodes by testing languages in descending name order
    * with >= against every later one.
    */
  def langIdSql(toks: String, txt: String): String = {
    val langs = langMarkers.keys.toSeq.sorted.reverse
    val score = langs.map(l => l ->
      (s"len(list_filter($toks, x -> list_contains(" +
        langMarkers(l).mkString("['", "','", "']") + ", x)))")).toMap
    val whens = langs.zipWithIndex.map { case (l, i) =>
      val geLater = langs.drop(i + 1)
        .map(m => s"AND ${score(l)} >= ${score(m)} ").mkString
      s"WHEN ${score(l)} > 0 $geLater THEN '$l'"
    }
    s"CASE WHEN regexp_matches($txt, '[\\x{4e00}-\\x{9fff}]') THEN 'zh' " +
      whens.mkString(" ") + " ELSE 'und' END"
  }

  /** The language-keyed stopword list as oracle SQL over a language
    * expression `lang` — generated from [[stopwordLists]] (missing
    * language → the English list, matching the Scala fallback).
    */
  def stopwordListSql(lang: String): String = {
    val whens = stopwordLists.toSeq.sortBy(_._1)
      .filter(_._1 != "en")
      .map { case (l, ws) =>
        s"WHEN $lang = '$l' THEN ${ws.mkString("['", "','", "']")}"
      }
    s"CASE ${whens.mkString(" ")} ELSE " +
      s"${englishStopwords.mkString("['", "','", "']")} END"
  }

  /** Heuristic language ID: CJK codepoint presence, else the language
    * whose stopword marker set scores highest on the token list
    * (ties -> lexicographic, 'und' = undetermined when nothing matches).
    * The `lang` field of [[scores]].
    */
  def langId(text: Column): Column = scores(text).getField("lang")

  /** The hashed unigram+bigram bucket stream of one document as an
    * in-row array (doc order; the per-row form of
    * [[TrainSet.hashedNgramBuckets]]'s exploded corpus frame — same
    * md5-bucket convention, so models trained on one featurization
    * score through the other). Null text → 0 grams.
    */
  def nbGramBuckets(text: Column, numBuckets: Int): Column = {
    require(numBuckets > 0, s"numBuckets must be positive (got $numBuckets)")
    val toks = Dedup.tokens(coalesce(text, lit("")))
    val bi = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))
    transform(concat(toks, bi),
      g => conv(substring(md5(g), 1, 8), 16, 10).cast("long") % numBuckets)
  }

  /** X5c: trained multiclass Naive-Bayes text classifier over hashed
    * n-gram buckets (the trained complement to [[langId]]'s fixed
    * marker heuristic — language ID is the canonical use, but any
    * label column trains: source, quality tier, topic).
    *
    * `labels` sorted ascending; per-label Laplace-smoothed bucket
    * log-likelihoods ln((c_{l,b}+1)/(T_l+B)) and log priors
    * ln(n_l/N). A bucket unseen by label l scores the same formula at
    * c=0 (`defaults(l)`), so train and apply share one smoothing rule.
    * The whole model is ≤ labels × numBuckets doubles — kilobytes,
    * riding into the scoring plan as [[graft.functions.BucketLookup]]
    * reference arrays.
    */
  case class NbModel(labels: Array[String], logPriors: Array[Double],
                     tables: Array[Map[Long, Double]],
                     defaults: Array[Double], numBuckets: Int)

  /** Train [[NbModel]] from a labeled corpus: ONE featurize pass
    * (slim (id, bucket) rows joined to the (id, label) frame — the
    * join never carries text), one (label, bucket) count aggregate,
    * collected at ≤ labels × numBuckets rows. Rows with null id or
    * null label are excluded from training.
    */
  def nbTrain(docs: org.apache.spark.sql.DataFrame, textCol: String,
              labelCol: String, idCol: String,
              numBuckets: Int = 1024): NbModel = {
    val lab = docs.filter(col(idCol).isNotNull && col(labelCol).isNotNull)
    val perLabel = lab.groupBy(col(labelCol).as("_lab"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val labels = perLabel.keys.toArray.sorted
    val nTotal = perLabel.values.sum.toDouble
    // label rides the gram explode (a short string per slim row), so the
    // (label, bucket) histogram needs NO join back to the doc frame —
    // one scan, one partial-agg'd shuffle of <= labels x numBuckets keys
    val toks = Dedup.tokens(coalesce(col(textCol), lit("")))
    val base = lab.select(col(labelCol).as("_lab"), toks.as("toks"))
    val uni = base.select(col("_lab"), explode(col("toks")).as("gram"))
    val bi = base.filter(size(col("toks")) >= 2)
      .select(col("_lab"), explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => concat(element_at(col("toks"), i), lit(" "),
          element_at(col("toks"), i + 1)))).as("gram"))
    val hist = uni.unionByName(bi)
      .select(col("_lab"),
        (conv(substring(md5(col("gram")), 1, 8), 16, 10).cast("long")
          % numBuckets).as("bucket"))
      .groupBy("_lab", "bucket").agg(count(lit(1)).as("c"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val totals = labels.map(l =>
      hist.collect { case ((`l`, _), c) => c }.sum.toDouble)
    val tables = labels.zipWithIndex.map { case (l, i) =>
      hist.collect { case ((`l`, b), c) =>
        b -> math.log((c + 1) / (totals(i) + numBuckets)) }.toMap
    }
    NbModel(labels,
      labels.map(l => math.log(perLabel(l) / nTotal)),
      tables,
      totals.map(t => math.log(1.0 / (t + numBuckets))),
      numBuckets)
  }

  /** All L per-label log-posteriors of one document in ONE codegen'd
    * loop over the gram array ([[graft.functions.NbScoreVec]]): the
    * accumulator is the length-L score array seeded with the log priors,
    * each gram occurrence adds its dense likelihood row in place — one
    * O(1) table probe per gram, ONE array allocation per row, no
    * interpreted higher-order lambdas (the r9 built-ins fold spent ~70
    * cpu-sec at sf0.1 on `aggregate`/`zip_with` dispatch + per-gram
    * array churn; see [[nbScoresBuiltins]], kept as the spec oracle).
    *
    * Callers that consume the scores more than once (argmax = 3
    * references) should still land this in its OWN projection so the
    * fold runs once per row instead of once per reference.
    */
  def nbScores(buckets: Column, model: NbModel): Column =
    graft.functions.NbScoreVec.nb_score_vec(buckets, model.tables,
      model.defaults, model.logPriors, model.numBuckets)

  /** The built-ins-only formulation of [[nbScores]] (zero custom
    * expression surface): `aggregate` over the gram array `zip_with`-
    * adding `bucket_lookup_vec` probe slices. Interpreted (higher-order
    * lambdas bypass codegen) and allocation-heavy — kept as the
    * independent equality oracle for the codegen'd fold (FunctionsSpec),
    * not for hot paths.
    */
  def nbScoresBuiltins(buckets: Column, model: NbModel): Column =
    aggregate(buckets,
      array(model.logPriors.map(lit(_)): _*),
      (acc, b) => zip_with(acc,
        graft.functions.BucketLookupVec.bucket_lookup_vec(
          b, model.tables, model.defaults, model.numBuckets),
        (a, v) => a + v))

  /** Argmax over a MATERIALIZED [[nbScores]] array (an attribute, not the
    * fold itself — see nbScores). Returns struct(lang, score); ties take
    * the FIRST label in ascending order (array_position semantics). A
    * gramless document scores priors only → the largest-prior label.
    */
  def nbBest(scores: Column, model: NbModel): Column = {
    val idx = array_position(scores, array_max(scores)).cast("int")
    struct(element_at(typedLit(model.labels.toSeq), idx).as("lang"),
      array_max(scores).as("score"))
  }

  /** Map-only NB inference over a [[nbGramBuckets]] array: no join, no
    * aggregation, no shuffle; streams unchanged. Convenience composition
    * of [[nbScores]] + [[nbBest]] — hot paths should materialize the
    * scores in their own projection and call the two halves directly.
    */
  def nbPredict(buckets: Column, model: NbModel): Column =
    nbBest(nbScores(buckets, model), model)

  /** X5d: corpus vocabulary artifact — the top `v` terms by total
    * occurrence count, ties lexicographically ascending. One gram
    * explode with map-side partial counts, then a
    * TakeOrderedAndProject of slim (count, term) pairs; ≤ v short
    * strings reach the driver and ride into scoring as a static
    * `isin` set (hash probe, codegen'd). Real tokenizer vocabularies
    * are 30k-100k entries — still kilobytes, still broadcast-shaped.
    */
  def topVocab(docs: org.apache.spark.sql.DataFrame, textCol: String,
               v: Int): Array[String] = {
    require(v > 0, s"v must be positive (got $v)")
    docs.select(explode(Dedup.tokens(coalesce(col(textCol), lit("")))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("t").asc).limit(v)
      .collect().map(_.getString(0))
  }

  /** Map-only vocab-coverage counts of one document against a fixed
    * vocabulary: struct(n_tokens, n_oov), OOV counted per token
    * OCCURRENCE (the tokenizer-coverage convention — a frequent unknown
    * term should hurt more than a rare one). One filter pass over the
    * token array; no join, no shuffle; streams unchanged.
    */
  def oovCounts(text: Column, vocab: Seq[String]): Column = {
    val toks = Dedup.tokens(coalesce(text, lit("")))
    struct(size(toks).cast("long").as("n_tokens"),
      size(filter(toks, t => !t.isin(vocab: _*))).cast("long").as("n_oov"))
  }

  /** X5e: per-group distribution drift vs the whole corpus — KL(P_g ‖ Q)
    * over Laplace-smoothed hashed-unigram bucket distributions (the
    * DSIR feature space turned into a MONITORING metric: DSIR scores
    * documents against a target, this reports how far each
    * source/day/snapshot has drifted from the corpus mixture — the
    * standard ingest-health dashboard number).
    *
    * Scale: ONE corpus scan feeds a slim (group, bucket) partial-agg'd
    * shuffle (≤ groups × numBuckets rows survive); everything after —
    * the full bucket domain (groups × numBuckets rows via one array
    * explode), both smoothed distributions, the per-group KL sum — is
    * group-metadata-sized relational arithmetic. Laplace smoothing
    * keeps every bucket positive, so KL is finite and the sum runs over
    * the ENTIRE domain including buckets a group never saw.
    */
  def sourceDrift(docs: org.apache.spark.sql.DataFrame, textCol: String,
                  groupCol: String,
                  numBuckets: Int = 1024): org.apache.spark.sql.DataFrame = {
    require(numBuckets > 0, s"numBuckets must be positive (got $numBuckets)")
    val base = docs.filter(col(groupCol).isNotNull)
    val gh = groupBucketHistogram(base, textCol, groupCol, numBuckets)
    val nd = base.groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n_docs"))
    driftFromHistogram(gh, nd, numBuckets)
      .withColumnRenamed("grp", groupCol)
  }

  /** The slim (grp, bucket, c) hashed-unigram histogram behind
    * [[sourceDrift]] — additive integer state, so per-batch deltas fold
    * EXACTLY by summation in any order (the streaming journal's merge;
    * contrast the sketch blobs, whose merge is approximate-but-bounded).
    */
  def groupBucketHistogram(docs: org.apache.spark.sql.DataFrame,
                           textCol: String, groupCol: String,
                           numBuckets: Int): org.apache.spark.sql.DataFrame = {
    require(numBuckets > 0, s"numBuckets must be positive (got $numBuckets)")
    val toks = Dedup.tokens(coalesce(col(textCol), lit("")))
    docs.filter(col(groupCol).isNotNull)
      .select(col(groupCol).as("grp"), explode(toks).as("gram"))
      .select(col("grp"),
        (conv(substring(md5(col("gram")), 1, 8), 16, 10).cast("long")
          % numBuckets).as("bucket"))
      .groupBy("grp", "bucket").agg(count(lit(1)).as("c"))
  }

  /** The KL arithmetic of [[sourceDrift]] over an already-folded
    * (grp, bucket, c) histogram + (grp, n_docs) frame — shared by the
    * batch report and the journal's fold-on-read so the two planes
    * cannot drift. Output: (grp, n_docs, n_grams, kl_vs_corpus).
    */
  def driftFromHistogram(gh: org.apache.spark.sql.DataFrame,
                         nd: org.apache.spark.sql.DataFrame,
                         numBuckets: Int): org.apache.spark.sql.DataFrame = {
    val gt = gh.groupBy("grp").agg(sum(col("c")).as("tg"))
    val ch = gh.groupBy("bucket").agg(sum(col("c")).as("cc"))
    val ct = ch.agg(sum(col("cc")).as("tc"))
    // full (group x bucket) domain so zero-count buckets still carry
    // their Laplace term — groups x numBuckets rows, metadata-sized
    val domain = gt.select(col("grp"), col("tg"),
      explode(sequence(lit(0L), lit(numBuckets - 1L))).as("bucket"))
    val terms = domain
      .join(gh, Seq("grp", "bucket"), "left")
      .join(broadcast(ch), Seq("bucket"), "left")
      .crossJoin(broadcast(ct))
      .select(col("grp"), col("tg"),
        ((coalesce(col("c"), lit(0L)) + 1) / (col("tg") + numBuckets)).as("p"),
        ((coalesce(col("cc"), lit(0L)) + 1) / (col("tc") + numBuckets)).as("q"))
    terms.groupBy("grp")
      .agg(sum(col("p") * log(col("p") / col("q"))).as("kl"),
        max(col("tg")).as("n_grams"))
      .join(nd, Seq("grp"))
      .select(col("grp"), col("n_docs"), col("n_grams"),
        round(col("kl"), 6).as("kl_vs_corpus"))
  }

  /** X5f: BPE tokenizer training (r10 — the Sennrich et al. 2015
    * byte-pair-encoding formulation, the canonical "train a subword
    * vocabulary on the corpus" pipeline step): iteratively merge the
    * most frequent adjacent symbol pair, starting from characters.
    *
    * Semantics (declared exactly; engine-portable):
    *  - the unit is the DISTINCT WORD weighted by corpus frequency
    *    ([[Dedup.tokens]] tokenization), symbols start as its ASCII
    *    characters — no end-of-word marker (a documented variant:
    *    merges never cross word boundaries here, so the marker would
    *    only distinguish suffix merges);
    *  - pair counts sum `freq(word) × adjacent occurrences` (every
    *    adjacent position counts — "aaa" contributes 2 to (a,a), the
    *    reference get_stats convention);
    *  - the winning pair is (count desc, left asc, right asc) — a
    *    total order, so training is deterministic on any engine;
    *  - each merge applies GREEDY LEFT-TO-RIGHT, non-overlapping
    *    ("aaaa" + (a,a) → [aa, aa]) — [[bpeMergeStep]]'s fold; training
    *    stops early when no pair occurs at least `minCount` times.
    *
    * Scale (100 TB): ONE corpus scan builds the (word, freq) table —
    * everything after runs on DISTINCT WORDS (millions of rows at web
    * scale — a metadata-sized frame next to the corpus). Each of the
    * `numMerges` iterations is one partial-agg'd pair count over that
    * frame + a 1-row argmax collect + one map-only rebuild; the corpus
    * itself is never touched again. The result is a kilobyte merge
    * list — persist with [[Artifacts]], apply with [[bpeSegmentCount]]
    * (map-only, streams unchanged) or via a segmentation-table join.
    */
  /** X5f-c (r15): UNIGRAM-LM tokenizer training — the OTHER published
    * subword algorithm next to BPE (Kudo 2018, the SentencePiece
    * unigram model), stated as the r14 verdict's stretch. DECLARED
    * engine-portable simplification of the published recipe:
    *
    *  - candidate vocabulary seeds with every substring occurrence of
    *    the distinct-word frame up to `maxPieceLen` chars, weighted by
    *    word frequency; multi-char pieces need `minCount` seed mass,
    *    single characters always stay (the published
    *    never-prune-characters rule). The candidate SET is fixed after
    *    seeding; only counts move.
    *  - HARD EM (Viterbi counts, the published algorithm's E-step with
    *    1-best instead of expected counts): each round segments every
    *    distinct word under the current piece costs
    *    (`cost(x) = round(ln((T + |V|) / (c(x) + 1)), 6)` — add-one
    *    smoothed, 6dp-rounded so the DP's argmin never hinges on a
    *    last-ulp ln difference; ties broken by fewer pieces, then the
    *    lexicographically smallest piece path — see
    *    [[graft.functions.UnigramSegment]]), then re-estimates counts
    *    as frequency-weighted piece uses. Zero-use candidates keep the
    *    maximal smoothed cost instead of being pruned (a fixed-rounds
    *    variant of the published prune schedule — the declared rule).
    *
    * Per round: ONE distributed segmentation pass over the slim
    * distinct-word frame (the [[bpeTrain]] discipline — corpus text is
    * touched once to build it), one partial-agg'd count fold collected
    * at vocabulary size. Returns the final (piece, count) table sorted
    * by (count desc, piece asc) — id order.
    */
  def unigramTrain(docs: org.apache.spark.sql.DataFrame, textCol: String,
                   maxPieceLen: Int = 4, minCount: Long = 2L,
                   rounds: Int = 3,
                   wordsCol: Option[Column] = None,
                   targetVocab: Option[Int] = None): Array[(String, Long)] = {
    require(maxPieceLen >= 1 && rounds >= 1 && minCount >= 1,
      s"bad unigram params ($maxPieceLen, $minCount, $rounds)")
    // default word view: the [a-z0-9] tokenizer; byte-level training
    // passes wordsCol = Some(byteWords(col(textCol))) — the bpeTrain
    // seam, so the unigram path gets the same totality surface
    val wf = docs
      .select(explode(wordsCol.getOrElse(
        Dedup.tokens(coalesce(col(textCol), lit(""))))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .localCheckpoint(true) // distinct words: slim, reused every round
    val seeds = wf.select(col("freq"), explode(expr(
        s"flatten(transform(sequence(1, length(w)), i -> " +
          s"transform(sequence(1, least($maxPieceLen, length(w) - i + 1)), " +
          s"l -> substring(w, i, l))))")).as("piece"))
      .groupBy("piece").agg(sum(col("freq")).as("c"))
      .filter(length(col("piece")) === 1 || col("c") >= minCount)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    var candidates = seeds.map(_._1).sorted // fixed unless targetVocab prunes
    var counts: Map[String, Long] = seeds.toMap
    for (_ <- 1 to rounds) {
      val (cs, unk) = unigramCosts(candidates, counts)
      val used = wf.select(col("freq"),
          explode(graft.functions.UnigramSegment.unigram_pieces(
            array(col("w")), candidates, cs, unk, maxPieceLen)).as("piece"))
        .groupBy("piece").agg(sum(col("freq")).as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      counts = candidates.iterator.map(p => p -> used.getOrElse(p, 0L)).toMap
      // prune schedule (r16, the r15 stretch — Kudo 2018's actual loop,
      // declared form): under the freshly recounted model, each
      // multi-char piece's EM-loss contribution is its use mass times
      // (best self-free segmentation cost − its own cost); keep the
      // top max(targetVocab − singles, ⌊3·multis/4⌋) multis by
      // (6dp loss desc, piece asc) — ≤25% shrink per round, converging
      // toward targetVocab. Single chars are never pruned (the
      // published rule — also what keeps every alt path alive).
      targetVocab.foreach { tv =>
        val (cs2, _) = unigramCosts(candidates, counts)
        val costOf = candidates.zip(cs2).toMap
        val (singles, multis) = candidates.partition(_.length == 1)
        val keepN = math.max(math.max(tv - singles.length, 0),
          multis.length * 3 / 4)
        if (multis.length > keepN) {
          val loss: Map[String, Double] = multis.iterator.map { p =>
            p -> BigDecimal(counts(p) *
                (altSegCost(p, costOf, maxPieceLen) - costOf(p)))
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          }.toMap
          // + 0.0 normalizes -0.0 to 0.0: the SQL replay's ORDER BY
          // treats them as one tie-class, so the Scala sort must too
          val kept = multis.sortBy(p => (-loss(p) + 0.0, p))(
            Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.String))
            .take(keepN)
          candidates = (singles ++ kept).sorted
          counts = candidates.iterator.map(p => p -> counts(p)).toMap
        }
      }
    }
    counts.toArray.sortBy { case (p, c) => (-c, p) }
  }

  /** The cheapest segmentation of `w` under `costOf` with the
    * single-piece path (w itself) EXCLUDED — the prune schedule's loss
    * approximation: what the corpus would pay per use of `w` if the
    * piece were dropped. Always finite when every single char of `w`
    * is in the model (seeded single chars are never pruned).
    */
  private[graft] def altSegCost(w: String, costOf: Map[String, Double],
                                maxPieceLen: Int): Double = {
    val n = w.length
    val best = Array.fill(n + 1)(Double.PositiveInfinity)
    best(0) = 0.0
    var j = 1
    while (j <= n) {
      var l = 1
      val lMax = math.min(maxPieceLen, j)
      while (l <= lMax) {
        val i = j - l
        if (!(i == 0 && j == n) && best(i) < Double.PositiveInfinity) {
          costOf.get(w.substring(i, j)).foreach { c =>
            if (best(i) + c < best(j)) best(j) = best(i) + c
          }
        }
        l += 1
      }
      j += 1
    }
    best(n)
  }

  /** The add-one-smoothed 6dp-rounded piece costs of a count table over
    * the FIXED candidate set (sorted ascending — the binary-search
    * order), plus the virtual unseen-single-char cost (count 0). Spark
    * rounds HALF_UP like both engines' SQL `round` on positives.
    */
  private[graft] def unigramCosts(candidates: Array[String],
                                  counts: Map[String, Long]): (Array[Double], Double) = {
    val t = counts.valuesIterator.sum.toDouble
    val v = candidates.length
    def cost(c: Long): Double =
      BigDecimal(math.log((t + v) / (c + 1)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    (candidates.map(p => cost(counts.getOrElse(p, 0L))), cost(0L))
  }

  /** Viterbi-encode `text` to unigram piece ids under a trained table
    * (ids = rank by (count desc, piece asc), [[unigramTrain]]'s output
    * order) — one codegen'd segmentation + a literal-map id lookup,
    * map-only at any scale.
    */
  def unigramEncodeIds(text: Column, table: Array[(String, Long)],
                       maxPieceLen: Int = 4,
                       wordsCol: Option[Column] = None): Column = {
    val byPiece = table.sortBy(_._1)
    val candidates = byPiece.map(_._1)
    val (cs, unk) = unigramCosts(candidates, table.toMap)
    val idOf: Map[String, Int] = table.map(_._1).zipWithIndex.toMap
    val pieces = graft.functions.UnigramSegment.unigram_pieces(
      wordsCol.getOrElse(Dedup.tokens(coalesce(text, lit("")))),
      candidates, cs, unk, maxPieceLen)
    transform(pieces, p =>
      coalesce(element_at(typedLit(idOf), p), lit(table.length)).cast("long"))
  }

  /** X5f-c byte edition (r16 — the unigram twin of [[bpeVocabBytes]]):
    * a trained byte-level unigram table extended with every base byte
    * symbol it didn't learn, at count 0 — production SentencePiece's
    * byte-fallback rule. With all 256 single-byte symbols in the
    * candidate set the Viterbi DP always has a path (any word is a
    * sequence of mapped byte chars), so encoding is TOTAL: the unk id
    * (`table.length` after extension) is reserved and provably dead,
    * and the declared row asserts n_unk == 0 on planted multi-byte
    * UTF-8 exactly as x111 does for BPE. Count-0 entries cost the
    * smoothed maximum ([[unigramCosts]]' add-one floor) — the trained
    * pieces still win wherever they apply.
    */
  def unigramTableBytes(table: Array[(String, Long)]): Array[(String, Long)] = {
    val have = table.map(_._1).toSet
    val extras = (0 until 256)
      .map(b => String.valueOf(graft.functions.ByteMapTokens.byteToChar(b)))
      .filterNot(have).map(_ -> 0L)
    (table ++ extras).sortBy { case (p, c) => (-c, p) }
  }

  def bpeTrain(docs: org.apache.spark.sql.DataFrame, textCol: String,
               numMerges: Int, minCount: Long = 2L,
               wordsCol: Option[Column] = None): Array[(String, String, Long)] = {
    require(numMerges > 0, s"numMerges must be positive (got $numMerges)")
    import org.apache.spark.sql.DataFrame
    // default word view: the [a-z0-9] tokenizer; byte-level training
    // passes wordsCol = Some(byteWords(col(textCol))) — symbols are
    // still "one char each": the byte map emits one BMP char per byte
    val wordFreq = docs
      .select(explode(wordsCol.getOrElse(
        Dedup.tokens(coalesce(col(textCol), lit(""))))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .localCheckpoint(true) // distinct words: slim, reused every iteration
    var words: DataFrame = wordFreq
      .select(col("freq"), regexp_extract_all(col("w"), lit("."), lit(0)).as("syms"))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var done = false
    var step = 0
    while (!done && step < numMerges) {
      val pairs = words.filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(transform(
          sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("l"),
            element_at(col("syms"), i + 1).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("c"))
        .orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (pairs.isEmpty || pairs(0).getLong(2) < minCount) done = true
      else {
        val (a, b, c) = (pairs(0).getString(0), pairs(0).getString(1),
          pairs(0).getLong(2))
        merges += ((a, b, c))
        // flat plans across iterations (the dupClusters discipline)
        words = words.select(col("freq"),
          bpeMergeStep(col("syms"), a, b).as("syms")).localCheckpoint(true)
        step += 1
      }
    }
    merges.toArray
  }

  /** One BPE merge applied to a symbol array: greedy left-to-right,
    * non-overlapping — the fold appends each symbol unless the
    * accumulator's LAST element is `a` and the incoming is `b`, in
    * which case the pair collapses to `a+b`. A just-merged `a+b` can
    * never re-match as `a` (b is non-empty), so overlap is impossible
    * by construction: "aaaa" + (a,a) → [aa, aa], "aaa" → [aa, a].
    */
  def bpeMergeStep(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) => when(size(acc) > 0 &&
          element_at(acc, -1) === a && x === b,
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** X5f-e (r16): WORDPIECE tokenizer training — the THIRD published
    * subword family next to BPE (x79) and unigram-LM (x117): Schuster &
    * Nakajima 2012's likelihood-gain merge rule, the algorithm behind
    * BERT's vocabulary. Identical loop discipline to [[bpeTrain]]
    * (ONE corpus scan builds the distinct-word frame; each round is one
    * partial-agg'd count pass + a 1-row argmax collect + a map-only
    * greedy left-to-right rebuild), with two DECLARED differences:
    *
    *  - symbols carry the word-position distinction: a word's first
    *    character is the bare symbol, every later character is
    *    `##`-prefixed (BERT's continuation convention), and merging
    *    (l, r) yields l + r-without-its-`##` — the prefix marks
    *    position, not content;
    *  - the winning pair maximizes the LIKELIHOOD GAIN
    *    `round(ln c(l,r) − ln c(l) − ln c(r), 6)` (pair count
    *    normalized by both symbols' occurrence mass — the published
    *    criterion; BPE's raw-count argmax is the degenerate
    *    unnormalized form), 6dp-rounded so the argmax never hinges on
    *    a last-ulp ln difference (the [[unigramCosts]] discipline);
    *    ties break (l asc, r asc). Pairs still need `minCount` raw
    *    occurrences — a pure-ratio rule would promote hapax pairs of
    *    hapax symbols (score 0, the ratio maximum) over every real
    *    collocation.
    *
    * Returns the merge table in step order: (left, right, pair_count,
    * score). Training state is the slim distinct-word frame; the
    * per-round symbol-count side is vocabulary-sized and broadcast.
    */
  def wordPieceTrain(docs: org.apache.spark.sql.DataFrame, textCol: String,
                     numMerges: Int, minCount: Long = 2L,
                     wordsCol: Option[Column] = None): Array[(String, String, Long, Double)] = {
    require(numMerges > 0, s"numMerges must be positive (got $numMerges)")
    import org.apache.spark.sql.DataFrame
    // default word view: the [a-z0-9] tokenizer; byte-level training
    // passes wordsCol = Some(byteWords(col(textCol))) — the bpeTrain
    // seam, so the WordPiece path gets the same totality surface
    val wordFreq = docs
      .select(explode(wordsCol.getOrElse(
        Dedup.tokens(coalesce(col(textCol), lit(""))))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .localCheckpoint(true)
    var words: DataFrame = wordFreq.select(col("freq"), expr(
      "transform(sequence(1, length(w)), i -> CASE WHEN i = 1 " +
        "THEN substring(w, 1, 1) ELSE '##' || substring(w, i, 1) END)")
      .as("syms"))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long, Double)]
    var done = false
    var step = 0
    while (!done && step < numMerges) {
      val symCounts = words
        .select(col("freq"), explode(col("syms")).as("sym"))
        .groupBy("sym").agg(sum(col("freq")).as("sc"))
      val best = words.filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(transform(
          sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("l"),
            element_at(col("syms"), i + 1).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("c"))
        .filter(col("c") >= minCount)
        .join(broadcast(symCounts.select(col("sym").as("l"),
          col("sc").as("cl"))), Seq("l"))
        .join(broadcast(symCounts.select(col("sym").as("r"),
          col("sc").as("cr"))), Seq("r"))
        .select(col("l"), col("r"), col("c"),
          round(log(col("c")) - log(col("cl")) - log(col("cr")), 6)
            .as("score"))
        .orderBy(col("score").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (best.isEmpty) done = true
      else {
        val (a, b) = (best(0).getString(0), best(0).getString(1))
        merges += ((a, b, best(0).getLong(2), best(0).getDouble(3)))
        words = words.select(col("freq"),
          wpMergeStep(col("syms"), a, b).as("syms")).localCheckpoint(true)
        step += 1
      }
    }
    merges.toArray
  }

  /** One WordPiece merge applied to a symbol array: [[bpeMergeStep]]'s
    * greedy left-to-right non-overlapping fold, with the merged symbol
    * being `a + b-without-its-##` (position prefixes mark position,
    * not content).
    */
  def wpMergeStep(syms: Column, a: String, b: String): Column = {
    val merged = a + b.stripPrefix("##")
    aggregate(syms, array().cast("array<string>"),
      (acc, x) => when(size(acc) > 0 &&
          element_at(acc, -1) === a && x === b,
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
        .otherwise(concat(acc, array(x))))
  }

  /** The WordPiece vocabulary as a rank-ordered token list (ids are
    * positions — the [[bpeVocab]] construction adapted to the
    * position-prefix alphabet):
    *  1. the distinct single characters of the tokenized corpus,
    *     ascending, as word-initial pieces;
    *  2. the same characters `##`-prefixed, ascending (every character
    *     can continue a word — the HF WordPiece alphabet rule);
    *  3. each merge's output in step order;
    *  4. first-occurrence dedup (two merges can produce one string).
    */
  def wordPieceVocab(docs: org.apache.spark.sql.DataFrame, textCol: String,
                     merges: Seq[(String, String, Long, Double)]): Seq[String] = {
    val chars = docs
      .select(explode(Dedup.tokens(coalesce(col(textCol), lit("")))).as("w"))
      .select(explode(regexp_extract_all(col("w"), lit("."), lit(0))).as("c"))
      .distinct().orderBy("c").collect().map(_.getString(0))
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    chars.foreach(seen += _)
    chars.foreach(c => seen += ("##" + c))
    merges.foreach(m => seen += (m._1 + m._2.stripPrefix("##")))
    seen.toSeq
  }

  /** Greedy-encode `text` to WordPiece piece ids under a trained
    * vocabulary — one codegen'd maximal-munch segmentation
    * ([[graft.functions.WordPieceSegment]], vocabulary as a reference
    * object) + a literal-map id lookup; map-only at any scale. A word
    * the vocabulary cannot cover emits the single reserved id
    * `vocab.length` (BERT's whole-word [UNK] rule).
    */
  def wordPieceEncodeIds(text: Column, vocab: Seq[String],
                         wordsCol: Option[Column] = None): Column = {
    val sortedVocab = vocab.toArray.sorted
    val maxLen = vocab.iterator
      .map(p => if (p.startsWith("##")) p.length - 2 else p.length).max
    val idOf: Map[String, Int] = vocab.zipWithIndex.toMap
    val pieces = graft.functions.WordPieceSegment.wordpiece_pieces(
      wordsCol.getOrElse(Dedup.tokens(coalesce(text, lit("")))),
      sortedVocab, maxLen)
    transform(pieces, p =>
      coalesce(element_at(typedLit(idOf), p), lit(vocab.length)).cast("long"))
  }

  /** X5f-e byte edition (r16 — the WordPiece twin of [[bpeVocabBytes]]
    * and [[unigramTableBytes]]): ids 0..255 are the 256 base symbols in
    * BYTE order as word-initial pieces, 256..511 their `##` continuation
    * forms, then the merge outputs in step order, first-occurrence
    * dedup. On '#'-free corpora a merge output (≥ 2 content chars)
    * can never collide with a base form; over '#'-bearing byte corpora
    * a merge chain CAN emit a "##"+basechar string (e.g. l="#",
    * r="###c" → "##c") or even a bare "##" — those dedup to the
    * earlier base-form id (ids stay consistent), and the pos-0
    * position-type rule in [[graft.functions.WordPieceSegment.greedy]]
    * keeps the encoder and the oracle agreeing on which entries are
    * admissible where (a bare "##" entry is dead on both sides: pos 0
    * rejects the `##` shape, pos > 0 requires non-empty content).
    * With BOTH forms of every base byte in
    * the vocabulary, greedy maximal munch can always take a single-byte
    * piece at any position — encoding is TOTAL, the whole-word [UNK]
    * branch (and its reserved id `vocab.length`) is provably dead, and
    * the declared row asserts `n_unk == 0` on planted multi-byte UTF-8
    * exactly as x111 (BPE) and x122 (unigram) do.
    */
  def wordPieceVocabBytes(merges: Seq[(String, String, Long, Double)]): Seq[String] = {
    val base = (0 until 256).map(b =>
      String.valueOf(graft.functions.ByteMapTokens.byteToChar(b)))
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    base.foreach(seen += _)
    base.foreach(c => seen += ("##" + c))
    merges.foreach(m => seen += (m._1 + m._2.stripPrefix("##")))
    seen.toSeq
  }

  /** Map-only BPE application: per-document (n_words, n_subwords) under
    * an ordered merge list — the merge rules ride as codegen reference
    * objects and the whole per-word segmentation runs as ONE codegen'd
    * expression ([[graft.functions.BpeSegment]] — plain JVM loops; the
    * k-nested interpreted `aggregate` formulation cost 10.7 s at sf0.1,
    * see [[bpeSegmentCountBuiltins]], kept as the spec oracle). No
    * join, no shuffle — the identical expression gates streams per
    * micro-batch; the batch alternative is a join against the
    * distinct-word segmentation table, which is what the DuckDB oracle
    * replays — independent formulations, hash-compared.
    */
  def bpeSegmentCount(text: Column, merges: Seq[(String, String)]): Column = {
    val toks = Dedup.tokens(coalesce(text, lit("")))
    struct(size(toks).cast("long").as("n_words"),
      graft.functions.BpeSegment.bpe_subwords(toks, merges).as("n_subwords"))
  }

  /** X5f (r11): the BPE VOCABULARY as a rank-ordered token list — ids
    * are positions. Declared construction (engine-portable, so the
    * oracle rebuilds it exactly):
    *  1. the distinct single characters of the tokenized corpus,
    *     lexicographically ascending (binary order — tokens are
    *     [a-z0-9], so every engine agrees);
    *  2. then each merge's output string (left||right) in merge order;
    *  3. first-occurrence dedup (two merges CAN produce the same
    *     string — e.g. (a,bc) and (ab,c) — and a merge output could
    *     collide with nothing else; the earlier id wins).
    * The char scan is one distinct-aggregate over the corpus's
    * character set (≤ tens of rows); the result is a kilobyte artifact
    * ([[Artifacts.saveVocab]]).
    */
  def bpeVocab(docs: org.apache.spark.sql.DataFrame, textCol: String,
               merges: Seq[(String, String, Long)]): Seq[String] = {
    val chars = docs
      .select(explode(Dedup.tokens(coalesce(col(textCol), lit("")))).as("w"))
      .select(explode(regexp_extract_all(col("w"), lit("."), lit(0))).as("c"))
      .distinct().orderBy("c").collect().map(_.getString(0))
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    chars.foreach(seen += _)
    merges.foreach(m => seen += (m._1 + m._2))
    seen.toSeq
  }

  /** X5f apply (r11): per-document BPE token-id sequence under a
    * trained merge list + vocabulary — the map-only rank-based
    * [[graft.functions.BpeEncode]] expression (merge ranks and vocab
    * ids ride as one codegen reference object; no join, no shuffle,
    * streams unchanged). The k-pass segmentation ([[bpeSegmentCount]])
    * stays as the independent equality oracle; the batch alternative
    * is the distinct-word segmentation-table join the DuckDB oracle
    * replays.
    */
  def bpeEncodeIds(text: Column, merges: Seq[(String, String)],
                   vocab: Seq[String]): Column =
    graft.functions.BpeEncode.bpe_encode(
      Dedup.tokens(coalesce(text, lit(""))), merges, vocab)

  /** X5f byte-level word view (r14): ASCII-whitespace-split words with
    * every UTF-8 byte mapped onto the fixed 256-char GPT-2 alphabet
    * ([[graft.functions.ByteMapTokens]]) — feed to [[bpeTrain]] via
    * `words = Some(byteWords(...))` and to [[bpeEncodeIdsBytes]].
    */
  def byteWords(text: Column): Column =
    graft.functions.ByteMapTokens.byte_map_tokens(coalesce(text, lit("")))

  /** X5f byte-level vocabulary (r14): ids 0..255 are the 256 base
    * symbols IN BYTE ORDER — every possible input byte, before any
    * merge, which is what makes byte-level encoding TOTAL — then the
    * merge outputs in merge order (distinct by [[bpeTrain]]
    * construction, enforced loudly by [[graft.functions.BpeEncode]];
    * a merge output is >= 2 chars so it can never collide with a base
    * symbol).
    */
  def bpeVocabBytes(merges: Seq[(String, String, Long)]): Seq[String] =
    (0 until 256).map(b =>
      String.valueOf(graft.functions.ByteMapTokens.byteToChar(b))) ++
      merges.map(m => m._1 + m._2)

  /** X5f byte-level encode (r14): arbitrary UTF-8 text → token ids
    * under a byte-level model. `unkId = vocab.length` is RESERVED and
    * PROVABLY DEAD: segmentation only emits base chars (all 256 in the
    * vocab) or merge outputs (in the vocab by construction) — the
    * declared row asserts n_unk == 0 on text with planted multi-byte
    * UTF-8, making the totality claim driver-visible rather than
    * assumed.
    */
  def bpeEncodeIdsBytes(text: Column, merges: Seq[(String, String)],
                        vocab: Seq[String]): Column =
    graft.functions.BpeEncode.bpe_encode(
      byteWords(text), merges, vocab, unkId = vocab.length.toLong)

  /** X5f unseen-text encode (r12): same encoder with the declared
    * out-of-vocabulary policy — genuinely novel characters (the only
    * possible unknown symbols; see [[graft.functions.BpeEncode]])
    * encode as the RESERVED id `vocab.length`, the first id past the
    * trained space. Self-corpus encodes keep the 3-arg form.
    */
  def bpeEncodeIdsUnk(text: Column, merges: Seq[(String, String)],
                      vocab: Seq[String]): Column =
    graft.functions.BpeEncode.bpe_encode(
      Dedup.tokens(coalesce(text, lit(""))), merges, vocab,
      unkId = vocab.length.toLong)

  /** X5f decode (r12): token-id sequence → text, the inverse surface a
    * trained tokenizer ships next to encode (detokenization for
    * inspection, eval-sample rendering, decontamination of packed
    * batches). The vocabulary rides as ONE array literal (a reference
    * object — Catalyst never inlines it per-row) and the lookup is a
    * codegen'd `transform` + `element_at`: map-only, no join, no
    * shuffle, streams unchanged.
    *
    * Policy (declared): ids in `[0, vocab.length)` decode to their
    * vocabulary string; anything else — the reserved unk id
    * `vocab.length` from [[bpeEncodeIdsUnk]], or a corrupt id — decodes
    * to `unkToken`. BPE merges never cross the tokenizer's word
    * boundaries, so decode restores the NORMALIZED text exactly
    * (lowercased tokens, separators collapsed): the round-trip claim is
    * `decode(encode(text)) == concat(tokens(text))`, whitespace-modulo
    * losslessness — exactly what the id sequence preserves. Unk ids are
    * declared lossy (the novel character is gone; x86's contract).
    */
  def bpeDecode(ids: Column, vocab: Seq[String],
                unkToken: String = "<unk>"): Column = {
    val vlit = lit(vocab.toArray)
    concat_ws("", transform(ids, i =>
      when(i >= 0 && i < vocab.length,
        element_at(vlit, (i + 1).cast("int"))).otherwise(lit(unkToken))))
  }

  /** X5f fertility (r12): per-group tokenizer fertility (ids per word)
    * and compression (chars per id) under a trained model — the
    * standard tokenizer-evaluation readout (a pipeline reads it per
    * language to see who pays more context budget per word). Map-only
    * encode + ONE partial-agg'd groupBy: the corpus never shuffles,
    * only #groups slim rows do. Ratios are 6dp-rounded sums-of-longs
    * quotients (the engine-portable discipline); an all-empty group
    * reports NULL ratios rather than NaN/∞ on either engine.
    */
  def tokenFertility(docs: org.apache.spark.sql.DataFrame, textCol: String,
                     groupCol: String, merges: Seq[(String, String)],
                     vocab: Seq[String]): org.apache.spark.sql.DataFrame = {
    val toks = Dedup.tokens(coalesce(col(textCol), lit("")))
    docs.select(col(groupCol),
        size(bpeEncodeIds(col(textCol), merges, vocab))
          .cast("long").as("n_ids"),
        size(toks).cast("long").as("n_words"),
        length(concat_ws("", toks)).cast("long").as("n_chars"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"), sum("n_words").as("n_words"),
        sum("n_ids").as("n_ids"), sum("n_chars").as("n_chars"))
      .select(col(groupCol), col("n_docs"), col("n_words"),
        col("n_ids"), col("n_chars"),
        when(col("n_words") > 0, round(
          col("n_ids").cast("double") / col("n_words"), 6))
          .as("fertility"),
        when(col("n_ids") > 0, round(
          col("n_chars").cast("double") / col("n_ids"), 6))
          .as("chars_per_token"))
      .orderBy(groupCol)
  }

  /** X5i (r12): term-frequency SPECTRUM — frequency-of-frequencies
    * (for each corpus frequency f: how many distinct terms occur
    * exactly f times, and how much token mass they carry). The
    * Good-Turing input and the "how heavy is the tail" readout: the
    * hapax row (f=1) vs the head drives vocabulary-size and min-count
    * choices. Two partial-agg'd SLIM shuffles — (term, count) at
    * vocabulary size, then (freq, n_terms) at spectrum size — the
    * corpus token stream reduces once and never shuffles; the 1-row
    * total rides a broadcast cross join (the x81 scalar allowance).
    * `log2_bucket` is the INTEGER-exact log-scale bucket
    * (`length(bin(freq)) - 1` — the binary-string trick; no
    * floor(log(x)/log(2)) double-boundary hazard on either engine).
    */
  def freqSpectrum(docs: org.apache.spark.sql.DataFrame,
                   textCol: String): org.apache.spark.sql.DataFrame = {
    val uni = docs
      .select(explode(Dedup.tokens(coalesce(col(textCol), lit("")))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
    val spec = uni.groupBy(col("c").as("freq"))
      .agg(count(lit(1)).as("n_terms"))
      .select(col("freq"),
        (length(bin(col("freq"))) - 1).cast("long").as("log2_bucket"),
        col("n_terms"), (col("freq") * col("n_terms")).as("mass"))
      // q18/x28 pattern: checkpoint the tiny spectrum frame so the
      // 1-row total derives from it rather than re-running the corpus
      // tokenize+count chain a second time (one corpus scan, not two)
      .localCheckpoint(true)
    val tot = spec.agg(sum("mass").cast("double").as("total"))
    spec.crossJoin(broadcast(tot))
      .select(col("freq"), col("log2_bucket"), col("n_terms"), col("mass"),
        round(col("mass") / col("total"), 6).as("mass_share"))
      .orderBy("freq")
  }

  /** The built-ins-only formulation of [[bpeSegmentCount]] (zero custom
    * expression surface): k nested interpreted `aggregate` folds per
    * word. Kept as the independent equality oracle for the codegen'd
    * segmenter (ExtSpec), not for hot paths.
    */
  def bpeSegmentCountBuiltins(text: Column, merges: Seq[(String, String)]): Column = {
    val toks = Dedup.tokens(coalesce(text, lit("")))
    val segmented = transform(toks, w => merges.foldLeft(
      regexp_extract_all(w, lit("."), lit(0))) {
      case (syms, (a, b)) => bpeMergeStep(syms, a, b)
    })
    struct(size(toks).cast("long").as("n_words"),
      aggregate(segmented, lit(0L), (acc, s) => acc + size(s)).as("n_subwords"))
  }

  /** X5g: PMI collocation mining (r10 — the standard corpus-analysis
    * step "which word pairs co-occur far above chance" — multiword
    * expressions, named entities, domain jargon; the association-score
    * complement to x38's conditional bigram probability and x60's raw
    * heavy hitters, which both rank by FREQUENCY, not association):
    * pointwise mutual information of each sequential bigram,
    * pmi(a,b) = ln(p(a,b)) − ln(p(a)) − ln(p(b)) with p from the
    * corpus's own bigram/unigram streams, reported for pairs seen at
    * least `minCount` times (the classic low-frequency-PMI-explosion
    * guard), top `k` by (rounded pmi desc, pair asc).
    *
    * Arithmetic is the literal three-ln form in a declared operand
    * order, so any engine reproduces the doubles bit-for-bit before
    * the shared 6dp round; ordering is by the ROUNDED score (the
    * x24/x64 engine-portability discipline).
    *
    * Scale: the corpus tokenizes ONCE (persisted, released in
    * finally — the bigramLogProb policy); unigram and bigram counts
    * are partial-agg'd slim (term, count) shuffles; the totals are two
    * broadcast scalars; the count join is vocabulary-sized on both
    * sides; top-k plans as TakeOrderedAndProject. The corpus itself
    * never shuffles.
    */
  def pmiCollocations(docs: org.apache.spark.sql.DataFrame, textCol: String,
                      minCount: Long = 3L, k: Int = 30): org.apache.spark.sql.DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1 (got $minCount)")
    require(k > 0, s"k must be positive (got $k)")
    val base0 = docs.select(
      Dedup.tokens(coalesce(col(textCol), lit(""))).as("w"))
    Dedup.materialized(base0) { base =>
      pmiFromCounts(unigramCounts(base), bigramCounts(base),
        minCount, k)
    }
  }

  /** The (t, cu) unigram count frame of a tokenized (w: array) frame. */
  private[graft] def unigramCounts(base: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    base.select(explode(col("w")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("cu"))

  /** The (a, b, cb) sequential-bigram count frame. */
  private[graft] def bigramCounts(base: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    base.filter(size(col("w")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("w")) - 1),
        i => struct(element_at(col("w"), i).as("a"),
          element_at(col("w"), i + 1).as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("cb"))

  /** The PMI arithmetic over already-folded count frames — ONE core
    * shared by the batch report and the streaming count journal's
    * fold-on-read ([[graft.streaming.StreamCollocations]]), so the two
    * planes cannot drift: identical counts in, bit-identical report out.
    */
  def pmiFromCounts(uni: org.apache.spark.sql.DataFrame,
                    bi: org.apache.spark.sql.DataFrame,
                    minCount: Long, k: Int): org.apache.spark.sql.DataFrame = {
    val nTot = uni.agg(sum(col("cu")).cast("double").as("n"))
    val bTot = bi.agg(sum(col("cb")).cast("double").as("nb"))
    bi.filter(col("cb") >= minCount)
      .join(uni.select(col("t").as("a"), col("cu").as("ca")), Seq("a"))
      .join(uni.select(col("t").as("b"), col("cu").as("cb_u")), Seq("b"))
      .crossJoin(broadcast(nTot)).crossJoin(broadcast(bTot))
      .select(col("a").as("term_a"), col("b").as("term_b"),
        col("cb").as("pair_count"),
        round(log(col("cb") / col("nb")) - log(col("ca") / col("n"))
          - log(col("cb_u") / col("n")), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("term_a"), col("term_b"))
      .limit(k)
  }

  /** X5h: vocabulary-growth (Heaps-curve) report (r10 — the standard
    * corpus-analysis question "how fast does the vocabulary grow as the
    * corpus grows": distinct terms, token mass and doc count at each
    * id-ordered corpus-prefix checkpoint k/`steps`. The raw curve is
    * reported rather than a fitted Heaps exponent — a cross-engine
    * float regression is summation-order-unstable, the curve is exact
    * integers).
    *
    * FIRST-OCCURRENCE formulation (r11 — the r10 verdict's scale note:
    * the original broadcast-`<`-join form multiplied the full token
    * stream ×steps before a per-checkpoint countDistinct; it survives
    * as the independent spec oracle, [[vocabGrowthMultiplied]]). A term
    * is in checkpoint k's vocabulary iff its FIRST occurrence (min doc
    * id) falls below the cutoff, and token/doc mass are prefix sums of
    * per-doc counts — so the token stream reduces ONCE, at any `steps`:
    *  - one slim (term, min_id) shuffle (partial min per map task —
    *    vocabulary-sized, not corpus-sized);
    *  - one slim (_id, n_toks) shuffle (partial count per map task —
    *    doc-count-sized);
    *  - each then joins the broadcast ≤`steps`-row checkpoint frame and
    *    folds to ≤`steps` rows. Identical output to the multiplied form
    *    (a row per checkpoint with ≥1 token below its cutoff — the two
    *    legs' row sets coincide, so the equi-join is exact).
    * Exact distinct counts by design (the approximate refresh form is
    * x57's HLL union journal).
    *
    * Cutoff arithmetic is 64-bit integer `div` end-to-end (r10 advice:
    * the double `floor(x / steps)` form silently loses exactness past
    * 2^53); Spark's `div` and DuckDB's `//` both truncate toward zero,
    * so the engines agree at every id sign.
    */
  def vocabGrowth(docs: org.apache.spark.sql.DataFrame, textCol: String,
                  idCol: String, steps: Int = 5): org.apache.spark.sql.DataFrame = {
    require(steps > 0, s"steps must be positive (got $steps)")
    val cps = growthCheckpoints(docs, idCol, steps)
    val toks = docs.filter(col(idCol).isNotNull)
      .select(col(idCol).as("_id"),
        explode(Dedup.tokens(coalesce(col(textCol), lit("")))).as("term"))
    val vocabAt = toks.groupBy("term").agg(min(col("_id")).as("first_id"))
      .join(broadcast(cps), col("first_id") < col("cutoff"))
      .groupBy("k", "cutoff").agg(count(lit(1)).as("vocab"))
    val massAt = toks.groupBy("_id").agg(count(lit(1)).as("n_toks"))
      .join(broadcast(cps), col("_id") < col("cutoff"))
      .groupBy("k", "cutoff").agg(sum(col("n_toks")).as("n_tokens"),
        count(lit(1)).as("n_docs"))
    vocabAt.join(massAt, Seq("k", "cutoff"))
      .select(col("k"), col("cutoff"), col("vocab"), col("n_tokens"),
        col("n_docs"))
      .orderBy("k")
  }

  /** The ≤`steps`-row checkpoint frame: k → cutoff, where checkpoint k
    * covers ids < ((mx + 1) * k) div steps (step `steps` covers all).
    */
  private def growthCheckpoints(docs: org.apache.spark.sql.DataFrame,
                                idCol: String, steps: Int): org.apache.spark.sql.DataFrame =
    docs.filter(col(idCol).isNotNull)
      .agg(max(col(idCol)).cast("long").as("mx"))
      .select(explode(sequence(lit(1), lit(steps))).as("k"), col("mx"))
      .select(col("k").cast("long").as("k"),
        expr(s"((mx + 1) * k) div $steps").cast("long").as("cutoff"))

  /** The original ×steps broadcast-join formulation of [[vocabGrowth]] —
    * kept as the independent spec oracle (ExtSpec asserts equality on
    * the fixtures): the token stream joins every checkpoint whose
    * cutoff exceeds its doc id and recounts distinct terms per
    * checkpoint. Correct, but the join multiplies corpus token rows by
    * up to ×steps before the shuffle — the first-occurrence form above
    * is the deployment shape.
    */
  private[graft] def vocabGrowthMultiplied(docs: org.apache.spark.sql.DataFrame,
                                           textCol: String, idCol: String,
                                           steps: Int = 5): org.apache.spark.sql.DataFrame = {
    require(steps > 0, s"steps must be positive (got $steps)")
    val cps = growthCheckpoints(docs, idCol, steps)
    val toks = docs.filter(col(idCol).isNotNull)
      .select(col(idCol).as("_id"),
        explode(Dedup.tokens(coalesce(col(textCol), lit("")))).as("term"))
    toks.join(broadcast(cps), col("_id") < col("cutoff"))
      .groupBy("k", "cutoff")
      .agg(countDistinct(col("term")).as("vocab"),
        count(lit(1)).as("n_tokens"),
        countDistinct(col("_id")).as("n_docs"))
      .orderBy("k")
  }

  /** X5k: reference-corpus bigram language model (the CCNet-style
    * perplexity-filter step — Wenzek et al. 2020: train an LM on a
    * trusted reference slice, score the whole corpus, split each
    * language into head/middle/tail perplexity tiers). The reference
    * formulation uses a KenLM 5-gram; the engine-portable declared
    * semantics here are an add-one-smoothed HASHED-bigram conditional
    * model per language:
    *
    *   lp(w2 | w1) = ln((cb[lang, b(w1 + ' ' + w2)] + 1)
    *                  / (cu[lang, b(w1)] + numBuckets))
    *
    * where `b` is the corpus-wide md5 bucket convention (see
    * [[TrainSet.hashedNgramBuckets]]) and cb/cu are bigram / prefix
    * occurrence counts from the REFERENCE slice only. Unseen bigrams
    * and unseen languages fall out of the same formula at count 0, so
    * train and apply share one smoothing rule (the [[NbModel]]
    * discipline). The whole model is ≤ 2 × |langs| × numBuckets
    * doubles — kilobytes, riding into the scoring plan as
    * [[graft.functions.BucketLookup]] reference arrays: scoring is
    * MAP-ONLY at any scale and streams unchanged.
    */
  case class RefLm(langs: Array[String], cb: Map[Long, Double],
                   cu: Map[Long, Double], numBuckets: Int) {
    require(numBuckets > 0, s"numBuckets must be positive (got $numBuckets)")
    private[graft] def langIdx: Map[String, Int] = langs.zipWithIndex.toMap
  }

  /** Train [[RefLm]] on the `refPred` slice of the corpus: ONE
    * tokenize+explode pass builds the slim (lang, prefix-bucket,
    * bigram-bucket) frame (persisted with lineage, released in
    * finally — the [[graft.ext.Dedup]] materialization policy); the two
    * histograms are partial-agg'd shuffles of ≤ |langs| × numBuckets
    * keys each, collected at model size. Documents with a null lang or
    * < 2 tokens contribute no bigrams (the x38 convention).
    */
  def refLmTrain(docs: org.apache.spark.sql.DataFrame, textCol: String,
                 langCol: String, refPred: Column,
                 numBuckets: Int = 1024): RefLm = {
    require(numBuckets > 0, s"numBuckets must be positive (got $numBuckets)")
    val toks = Dedup.tokens(coalesce(col(textCol), lit("")))
    val base = docs.filter(refPred && col(langCol).isNotNull)
      .select(col(langCol).as("_lang"), toks.as("toks"))
      .filter(size(col("toks")) >= 2)
    val bg0 = base.select(col("_lang"), explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("w1"),
          concat(element_at(col("toks"), i), lit(" "),
            element_at(col("toks"), i + 1)).as("g")))).as("b"))
      .select(col("_lang"),
        (conv(substring(md5(col("b.w1")), 1, 8), 16, 10)
          .cast("long") % numBuckets).as("b1"),
        (conv(substring(md5(col("b.g")), 1, 8), 16, 10)
          .cast("long") % numBuckets).as("b2"))
    val bg = bg0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val langs = bg.select("_lang").distinct().collect()
        .map(_.getString(0)).sorted
      val lidx = langs.zipWithIndex.toMap
      def hist(keyCol: String): Map[Long, Double] =
        bg.groupBy("_lang", keyCol).agg(count(lit(1)).as("c")).collect()
          .map(r => (lidx(r.getString(0)).toLong * numBuckets +
            r.getLong(1)) -> r.getLong(2).toDouble).toMap
      RefLm(langs, hist("b2"), hist("b1"), numBuckets)
    } finally bg.unpersist()
  }

  /** Mean reference-LM bigram log-probability of one document (the
    * quantity CCNet thresholds; perplexity = exp(-this)) — ONE native
    * codegen'd expression ([[graft.functions.RefLmScore]]): tokenize
    * once, two binary-searched model probes per bigram, no join, no
    * shuffle, identical on a streaming frame. Unseen languages (and
    * null lang, scored as unseen) degrade to ln(1/numBuckets) per
    * bigram — one smoothing rule, no special case (mirrored by the
    * oracle's LEFT JOIN + coalesce(0)). Sub-2-token documents yield
    * NaN (no mean exists) — callers filter with `isnan` or a
    * token-count predicate. The built-ins `aggregate`-fold form this
    * replaces ran its lambda interpreted — 42.8 cpu-sec to score
    * sf0.1 vs ~4 for the native pass.
    */
  def refLmAvgLogProb(text: Column, lang: Column, model: RefLm): Column = {
    val cb = model.cb.toArray.sortBy(_._1)
    val cu = model.cu.toArray.sortBy(_._1)
    val table = new graft.functions.RefLmScore.Table(model.langs,
      cb.map(_._1), cb.map(_._2), cu.map(_._1), cu.map(_._2),
      model.numBuckets)
    graft.functions.RefLmScore.ref_lm_score(
      coalesce(text, lit("")), coalesce(lang, lit("")), table)
  }

  /** X5e composed onto the frozen head (r15): the RE-BASELINE TRIGGER —
    * per-language KL divergence of the CURRENT cleaned corpus's
    * hashed-BIGRAM distribution against the FROZEN [[RefLm]]'s training
    * distribution, answering "when must the frozen LM re-baseline"
    * (the x112/x114 contract freezes LM + thresholds *between
    * re-baselines* but nothing computed when the freeze has expired).
    * Both sides share the LM's own bucket space (md5(bigram) %
    * numBuckets), add-one smoothed over the full bucket domain.
    *
    * The trigger is two-legged: `rebaseline = NOT frozen_lang OR
    * kl > klThreshold`. The membership leg is load-bearing, not a
    * convenience — a language absent from the frozen model fails
    * CLOSED at the kept-gate (x112: thr null, n_kept 0), so onboarding
    * it requires a re-baseline by definition; and its KL reading
    * cannot carry that signal, because a small new-language sample is
    * add-one smoothed toward uniform while the absent frozen side IS
    * uniform — smoothed KL reads deceptively LOW exactly when the
    * language is newest. Output one row per current-corpus language:
    * (lang, n_docs, n_bigrams, kl_vs_frozen, frozen_lang, rebaseline).
    *
    * Scale: ONE tokenize+explode pass folds the current corpus to a
    * ≤ langs×numBuckets histogram (partial-agg'd); the frozen side is
    * rebuilt from the kilobyte model driver-side and broadcast; the KL
    * fold runs over the langs×numBuckets domain — metadata-sized.
    */
  def refLmDriftReport(docs: org.apache.spark.sql.DataFrame, textCol: String,
                       langCol: String, lm: RefLm,
                       klThreshold: Double): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val nb = lm.numBuckets
    val toks = Dedup.tokens(coalesce(col(textCol), lit("")))
    val base = docs.filter(col(langCol).isNotNull)
      .select(col(langCol).as("lang"), toks.as("toks"))
    val nd = base.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val cur = base.filter(size(col("toks")) >= 2)
      .select(col("lang"), explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => concat(element_at(col("toks"), i), lit(" "),
          element_at(col("toks"), i + 1)))).as("g"))
      .select(col("lang"),
        (conv(substring(md5(col("g")), 1, 8), 16, 10).cast("long") % nb)
          .as("bucket"))
      .groupBy("lang", "bucket").agg(count(lit(1)).as("c"))
    // the frozen training histogram, rebuilt from the kilobyte model
    val qSparse = lm.cb.toSeq.map { case (k, v) =>
      (lm.langs((k / nb).toInt), k % nb, v) }
    val q = broadcast(qSparse.toDF("lang", "bucket", "qc"))
    val tqMap = qSparse.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val tq = coalesce(element_at(typedLit(tqMap), col("lang")), lit(0.0))
    val tg = cur.groupBy("lang").agg(sum(col("c")).as("tg"))
    // full (lang x bucket) domain so zero-count buckets carry their
    // Laplace terms on BOTH sides (the driftFromHistogram discipline)
    val domain = tg.select(col("lang"), col("tg"),
      explode(sequence(lit(0L), lit(nb - 1L))).as("bucket"))
    val terms = domain
      .join(cur, Seq("lang", "bucket"), "left")
      .join(q, Seq("lang", "bucket"), "left")
      .select(col("lang"), col("tg"),
        ((coalesce(col("c"), lit(0L)) + 1) / (col("tg") + nb)).as("p"),
        ((coalesce(col("qc"), lit(0.0)) + 1) / (tq + nb)).as("qp"))
    val frozenLang = col("lang").isin(lm.langs.toIndexedSeq: _*)
    val klAgg = terms.groupBy("lang")
      .agg(sum(col("p") * log(col("p") / col("qp"))).as("kl"),
        max(col("tg")).as("n_bigrams"))
    // LEFT join FROM nd (r16, per the r15 advice): a language whose
    // docs ALL have < 2 tokens emits no bigram row — exactly the
    // brand-new tiny-doc language the membership leg exists to catch.
    // It must surface (kl null, n_bigrams 0) and FAIL CLOSED
    // (rebaseline true: unknown language, or a frozen one whose drift
    // is unmeasurable), never vanish from the report.
    nd.join(klAgg, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(col("kl"), 6).as("kl_vs_frozen"),
        frozenLang.as("frozen_lang"),
        (!frozenLang || col("kl").isNull ||
          round(col("kl"), 6) > klThreshold).as("rebaseline"))
  }

  /** X5k report: per-language head/middle/tail perplexity tiers under
    * [[RefLm]] — tier thresholds are the exact tertiles of the
    * 6dp-rounded per-doc mean log-prob (rounded to 4dp, the x99
    * quantile-gate rounding discipline, so both engines agree on every
    * boundary), head = highest log-prob (lowest perplexity). One
    * map-only scoring pass over the corpus, persisted as the slim
    * (lang, id, n_bigrams, lp) frame so the tertile aggregate and the
    * tier rollup both read the materialized rows (never re-scoring —
    * the [[refLmTrain]] persist-in-finally discipline; the group-sized
    * result is checkpointed eagerly so the persist can be released
    * before returning). The ≥ 2-token filter is `isnan(lp)` AFTER
    * materialization — the scorer's NaN sentinel is exactly the
    * "no mean exists" set, so filtering costs no extra tokenize.
    * Output one row per (lang, tier) with doc/bigram mass, mean
    * perplexity and the doc-set xor witness.
    *
    * Rounding note: lp is the scorer's sequential left-to-right float
    * sum rounded 6dp, while the oracle averages the same bigram terms
    * in its own order — a doc within an ulp of a 6dp boundary could in
    * principle round apart cross-engine (the x83 accepted risk class;
    * avg_ppl, where partition order varies RUN-TO-RUN in one engine,
    * folds exact scaled longs instead — that failure mode is
    * nondeterminism, not a fixed cross-engine ulp, so it is the one
    * that must be exact).
    */
  def perplexityTiers(docs: org.apache.spark.sql.DataFrame, textCol: String,
                      langCol: String, idCol: String, model: RefLm,
                      approx: Boolean = false)
    : org.apache.spark.sql.DataFrame = {
    val scored0 = docs
      .filter(col(idCol).isNotNull && col(langCol).isNotNull)
      .select(col(langCol).as("lang"), col(idCol).as("_id"),
        (size(Dedup.tokens(coalesce(col(textCol), lit("")))) - 1)
          .cast("long").as("n_bigrams"),
        round(refLmAvgLogProb(col(textCol), col(langCol), model), 6)
          .as("lp"))
    // group-sized result (langs × 3 rows): pin eagerly, then release the scan
    Dedup.materialized(scored0) { cached =>
      val scored = cached.filter(!isnan(col("lp")))
      def est(q: Double): String =
        if (approx) s"approx_percentile(lp, $q, 10000)"
        else s"percentile(lp, $q)"
      val thr = scored.groupBy("lang").agg(
        round(expr(est(1.0 / 3)), 4).as("thr_lo"),
        round(expr(est(2.0 / 3)), 4).as("thr_hi"))
      scored.join(broadcast(thr), Seq("lang"))
        .withColumn("tier", when(col("lp") >= col("thr_hi"), "head")
          .when(col("lp") >= col("thr_lo"), "middle").otherwise("tail"))
        .groupBy("lang", "tier", "thr_lo", "thr_hi")
        .agg(count(lit(1)).as("n_docs"), sum("n_bigrams").as("n_bigrams"),
          // mean perplexity folds the 4dp-rounded per-doc values as EXACT
          // scaled longs (one double division at the end): a plain avg()
          // combines partition sums in task-completion order, and a
          // boundary value (….xxxx5) then flips its last digit run-to-run
          sum(round(round(exp(-col("lp")), 4) * 10000, 0).cast("long"))
            .as("_ppl_sum"),
          bit_xor(conv(substring(md5(col("_id").cast("string")), 1, 15),
            16, 10).cast("long")).as("doc_xor"))
        // the 4dp round of S/(10^4·n) is EXACTLY round(S/n)/10^4, so
        // compute the half-up integer round in exact long arithmetic —
        // a double round() here lands on a true ….5 boundary whenever
        // 2n | S·2, and engines then disagree on the inexact double's
        // last digit (found at r17 when the de-corpus average hit one)
        .withColumn("avg_ppl",
          expr("(2 * _ppl_sum + n_docs) div (2 * n_docs)")
            .cast("double") / 10000.0)
        .select(col("lang"), col("tier"), col("thr_lo").cast("double"),
          col("thr_hi").cast("double"), col("n_docs"), col("n_bigrams"),
          col("avg_ppl"), col("doc_xor"))
        .orderBy("lang", "tier")
    }
  }

  /** X5k gate form — the filter CCNet actually deploys (Wenzek et al.
    * 2020 §4.4: drop the worst-perplexity tercile per language): keep
    * the head+middle tiers, i.e. documents whose 6dp-rounded mean
    * bigram log-prob clears their own language's tail tertile
    * (`lp >= thr_lo`, the same >= boundary [[perplexityTiers]] uses, so
    * gate and report agree on every document by construction). Same
    * one-scan discipline as the report: the slim (lang, id, lp) scored
    * frame persists, the lang-sized tertile frame broadcasts back.
    * Sub-2-token documents (no mean exists) fail closed; unTRAINED
    * languages degrade to the uniform smoothing score and tier among
    * themselves (the x105 convention — the STREAMING gate with its
    * frozen threshold map is the fail-closed form,
    * [[graft.streaming.StreamCurate.applyPerplexityGate]]). Returns
    * the kept (idCol, lang, lp) — slim, join it back to the corpus for
    * payloads.
    */
  def perplexityKeep(docs: org.apache.spark.sql.DataFrame, textCol: String,
                     langCol: String, idCol: String, model: RefLm)
    : org.apache.spark.sql.DataFrame = {
    val scored0 = docs
      .filter(col(idCol).isNotNull && col(langCol).isNotNull)
      .select(col(langCol).as("lang"), col(idCol).as(idCol),
        round(refLmAvgLogProb(col(textCol), col(langCol), model), 6)
          .as("lp"))
    Dedup.materialized(scored0) { cached =>
      val scored = cached.filter(!isnan(col("lp")))
      val thr = scored.groupBy("lang").agg(
        round(expr(s"percentile(lp, ${1.0 / 3})"), 4).as("thr_lo"))
      scored.join(broadcast(thr), Seq("lang"))
        .filter(col("lp") >= col("thr_lo"))
        .select(col(idCol), col("lang"), col("lp"))
    }
  }

  /** X6: 256-bit content fingerprint (hex). */
  def fingerprint(text: Column): Column = sha2(text, 256)

  /** Rolling-hash document fingerprint: xxhash64 over the sorted distinct
    * 3-shingle set — stable under shingle order.
    */
  def shingleFingerprint(text: Column, k: Int = 3): Column =
    xxhash64(concat_ws("|", array_sort(Dedup.shingles(text, k))))
}
