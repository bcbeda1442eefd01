package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** X23 (r11): INCREMENTAL assembly refresh — the deployment shape of the
  * standing curation+dedup pipeline. x78 proves the batch composition;
  * a real corpus refresh must NOT rebuild from scratch: corpus v2
  * arrives, [[CorpusDiff.diff]] classifies it, and only the
  * `added + changed` documents pay corpus-scale work (gating,
  * tokenization, shingling, MinHash) — everything else updates slim
  * standing state and re-derives the manifest from metadata-sized
  * frames.
  *
  * The standing pipeline P(corpus), shared verbatim by the full-rebuild
  * and refresh paths so they cannot drift:
  *  1. curation gates ([[Curation.standardGates]] — per-doc, so the
  *     gate status of an unchanged document never changes);
  *  2. near-dup pairs via banded MinHash LSH
  *     ([[Dedup.minhashLshPairs]]'s banding, exact-Jaccard verified);
  *  3. connected-component duplicate clusters
  *     ([[Dedup.dupClusters]]) + quality survivor election
  *     ([[Dedup.clusterSurvivors]]);
  *  4. standing set = gated − non-survivors;
  *  5. sharded export manifest ([[TrainSet.exportManifest]]).
  *
  * EXACTNESS (refresh == rebuild, the declared x85 claim): banding is a
  * deterministic per-document function of its text, and candidate
  * verification is exact Jaccard — so the v2 pair set decomposes
  * disjointly into (old×old = standing pairs minus those touching a
  * removed/changed id) ∪ (new×old = [[Dedup.crossPairsOfSig]] against
  * the standing index minus touched rows) ∪ (new×new =
  * [[Dedup.lshPairsOfSig]] over the new batch), each computed with the
  * SAME banding parameters ([[fold]]). Gates, clusters, election and manifest
  * are pure functions of (meta, pairs), so the refresh output is
  * bit-identical to a from-scratch rebuild — asserted by the declared
  * x85 row (Spark compares both sides; DuckDB independently replays the
  * full rebuild) and witnessed at scale by ScaleCheck.
  *
  * Scale: the state frames are SLIM — meta (id, quality, n_toks), band
  * index (id, band, bucket), per-doc shingle sets (the one state frame
  * that scales with text volume — the cross-verify side), pair list
  * (id, id). Corpus text is touched only for the delta; the
  * anti-joins that retire touched rows
  * broadcast the (delta-sized) touched id list. Clusters/election/
  * manifest recompute over pair-list-sized frames — metadata, not
  * corpus. All four state frames persist via [[Artifacts.saveIndex]]
  * (the "build once per corpus version, probe many times" contract;
  * [[State.persisted]]).
  *
  * Codegen budget: a refresh is a standing job a long-lived driver
  * repeats, so its generated code should compile once. Spark keeps
  * compiled classes in `CodeGenerator.cache`: 100 entries held as 4 LRU
  * segments of 25, keyed by the full source plus the compiling thread's
  * class loader. Class names carry the codegen stage id, so one
  * sub-plan at two stage positions is two sources; and a whole-stage
  * class is compiled twice, by the driver (to check it compiles) and by
  * the tasks under the executor's loader, so it takes two entries. A
  * segment cycled through more than 25 entries misses on every lookup,
  * so a pipeline a driver repeats must keep its distinct classes at or
  * below about 64, whole-stage ones counting double, for its entries
  * to fit with headroom. The refresh and the rebuild therefore share
  * their plan shapes: one per-document derivation ([[perDoc]]) feeds
  * every state frame and both pair legs, the tail reads pinned inputs
  * of one schema ([[manifestOf]]), and small driver-side actions (gate
  * counts, the cluster stage's collect) read checkpoints as RDDs and
  * generate no code at all ([[Hints.rows]]).
  * `tools/codegen_footprint.py` counts a run's compiles and distinct
  * classes from a `CodeGenerator` DEBUG log.
  */
object Refresh {

  /** The standing state of P(corpus): slim gated meta, the banded
    * MinHash index + shingle table of the GATED corpus (the cross-dedup
    * probe side), and the verified near-dup pair list.
    */
  final case class State(meta: DataFrame, bandIdx: DataFrame,
                         shingles: DataFrame, pairs: DataFrame) {
    /** The cross-job hand-off: every frame written under `base` and
      * read back. The band index is laid out by `band`, its probe key
      * (the [[Dedup.minhashBandIndex]] layout).
      */
    def persisted(base: String): State =
      State(saved(base, "meta", meta), saved(base, "band", bandIdx, "band"),
        saved(base, "shingles", shingles), saved(base, "pairs", pairs))
  }

  /** Write `df` through [[Artifacts.saveIndex]] to `base/name` and return
    * the reloaded frame — each state's `persisted` is built from this.
    */
  private def saved(base: String, name: String, df: DataFrame,
                    layoutCols: String*): DataFrame = {
    Artifacts.saveIndex(df, s"$base/$name", layoutCols)
    Artifacts.loadIndex(df.sparkSession, s"$base/$name")
  }

  /** Banding/verification parameters — must be identical across the
    * state build, the refresh and any rebuild being compared.
    * `portableSig` swaps the minhash family for the md5-portable one
    * ([[Dedup.minhashSignaturePortable]]) so an oracle engine can
    * replay the banding recall exactly — required when the corpus has
    * pairs near the Jaccard threshold, where banded recall < 1 and an
    * exact-pair replay would silently disagree (the r18 x131 lesson:
    * crawl-extracted corpora carry boilerplate-induced boundary
    * pairs; document-sourced fixtures happen not to).
    */
  final case class Params(k: Int = 3, threshold: Double = 0.2,
                          bands: Int = 16, rowsPerBand: Int = 4,
                          portableSig: Boolean = false)

  /** P's per-document derivation, the ONE corpus-scale pass of both
    * paths: the curation gates, then per gated document
    * (doc_id, quality, n_toks, sh, sig) — its quality score, token
    * count, k-shingle set and MinHash signature. The text column is not
    * carried: every state frame and both pair legs derive from this
    * frame ([[stateOf]], [[Dedup.crossPairsOfSig]]), so the rebuild
    * gates its corpus once and the refresh its delta once, and the two
    * paths run their downstream stages through identical plans.
    * `spread` (r18): caller-supplied starved-scan guard (the Declared
    * spreadIfStarved idiom — identity at cluster scale), applied before
    * the shingle/minhash work so it does not serialize on a
    * single-split fixture.
    */
  private def perDoc(corpus: DataFrame, p: Params,
                     spread: DataFrame => DataFrame): DataFrame =
    withSig(spread(Curation.standardGates(corpus))
      .select(col("doc_id"), col("quality"),
        TextStats.tokenCount(col("text")).cast("long").as("n_toks"),
        Dedup.shingles(col("text"), p.k).as("sh")), p)

  /** A per-document frame's MinHash signature, appended as `sig` from
    * its shingle set `sh`.
    */
  private def withSig(docs: DataFrame, p: Params): DataFrame =
    docs.withColumn("sig", Dedup.signatureOf(col("sh"),
      p.bands * p.rowsPerBand, p.portableSig))

  /** The rows of a [[perDoc]] frame that take part in banding: a
    * document without a shingle has no signature to band.
    */
  private def hashed(docs: DataFrame): DataFrame =
    docs.filter(size(col("sh")) > 0)

  /** The four state frames of a MATERIALIZED per-document frame
    * ([[perDoc]], [[asmPerDoc]]) — meta (every column but `sh` and
    * `sig`), band index, shingle table and the within-frame pair list —
    * lazy projections that read it (the pair list through four
    * branches).
    */
  private def stateOf(docs: DataFrame, p: Params): State = {
    val h = hashed(docs)
    State(docs.drop("sh", "sig"),
      Dedup.bandedFrame(h, p.bands, p.rowsPerBand),
      h.select("doc_id", "sh"),
      Dedup.lshPairsOfSig(h, p.threshold, p.bands, p.rowsPerBand)
        .select("id_a", "id_b"))
  }

  /** Build the standing state from scratch (corpus version 1, or any
    * periodic full re-baseline).
    *
    * One eager action: the [[perDoc]] frame is checkpointed (EAGER —
    * the pair list's band self-join and verification read it through
    * concurrent branches, which would race a lazy first
    * materialization: the cleanedDelta race note), and the four
    * returned frames are lazy projections of it, so every consumer
    * reads gated, hashed rows and the corpus is gated once. The
    * deployment contract is still to hand [[refresh]] the
    * [[State.persisted]] copy (what the declared x85 does): the
    * checkpoint lives only as long as this session.
    */
  def buildState(corpus: DataFrame, p: Params = Params(),
                 spread: DataFrame => DataFrame = identity): State =
    stateOf(perDoc(corpus, p, spread).localCheckpoint(true), p)

  /** P's tail: clusters → quality election → survivor drop → manifest,
    * a pure function of (meta, pairs) shared by both paths. Both inputs
    * are pinned by LAZY checkpoints (each is first read through one
    * branch: the cluster stage's edge pass, the election's join), so
    * the tail's plans start from the same scans whichever path built
    * the inputs — the rebuild's projection of its per-document frame,
    * or the refresh's retire-and-append unions — and compile to the
    * same classes in both (the codegen budget in the object scaladoc).
    */
  def manifestOf(metaDf: DataFrame, pairs: DataFrame, seed: String,
                 numShards: Int): DataFrame =
    manifestFromClusters(Dedup.dupClusters(pinned(pairs)), pinned(metaDf),
      seed, numShards)

  /** A lazy checkpoint of a state frame with every column NOT NULL. No
    * state row holds a null (the gates drop null ids, null text and
    * hence null quality and token counts), so the filter drops nothing;
    * it gives both paths one schema — state reloaded from parquet
    * comes back all-nullable, the rebuild's frames do not — and with it
    * the same generated code downstream.
    */
  private def pinned(df: DataFrame): DataFrame =
    df.filter(df.columns.map(col(_).isNotNull).reduce(_ && _))
      .localCheckpoint(false)

  /** The manifest tail from a PRECOMPUTED cluster frame — what the
    * delta-bound refresh path feeds ([[incrementalClusters]]' output,
    * or the reloaded standing map): election → survivor drop → manifest
    * run over cluster-volume frames, with the expensive iterative
    * cluster stage priced where it was actually paid. `manifestOf` is
    * this with a full from-scratch [[Dedup.dupClusters]] in front —
    * identical output for equal cluster frames (ExtSpec asserts it).
    */
  def manifestFromClusters(clusters: DataFrame, metaDf: DataFrame,
                           seed: String, numShards: Int): DataFrame = {
    val drop = clusters.join(
        Dedup.clusterSurvivors(clusters, metaDf, "doc_id", col("quality"))
          .select(col("survivor_id").as("doc_id")),
        Seq("doc_id"), "left_anti")
      .select("doc_id")
    // the drop side is "cluster members minus survivors" — on a
    // dedup-heavy corpus that is a large fraction of ALL documents, so
    // the hint must be size-gated (bounded by the cluster frame's rows)
    val standing = metaDf.join(Hints.hintBoundedBy(drop, clusters),
      Seq("doc_id"), "left_anti")
    TrainSet.exportManifest(standing, "doc_id", col("n_toks"), seed, numShards)
  }

  /** The from-scratch path: P(corpus) end to end. */
  def fullRebuild(corpus: DataFrame, seed: String, numShards: Int,
                  p: Params = Params(),
                  spread: DataFrame => DataFrame = identity): DataFrame = {
    val st = buildState(corpus, p, spread)
    manifestOf(st.meta, st.pairs, seed, numShards)
  }

  /** The incremental path: diff v1 → v2, retire removed/changed rows
    * from every state frame (broadcast anti-join on the delta-sized
    * touched list), gate + shingle + band ONLY the added/changed docs,
    * find their cross pairs against the standing index and their
    * within-batch pairs, and re-derive the manifest from the updated
    * slim state. Returns (updated state, manifest).
    */
  def refresh(state: State, oldCorpus: DataFrame, newCorpus: DataFrame,
              seed: String, numShards: Int,
              p: Params = Params(),
              spread: DataFrame => DataFrame = identity): (State, DataFrame) = {
    val d = delta(state, oldCorpus, newCorpus, p, spread)
    (d.state2, manifestOf(d.state2.meta, d.state2.pairs, seed, numShards))
  }

  /** The refresh's pair-level delta, exposed alongside the updated
    * state: `touched` (removed/changed ids — the retired side) and
    * `addedPairs` (new×old ∪ new×new — the added side). The cluster
    * stage's incremental form ([[incrementalClusters]]) is driven by
    * exactly these two frames; [[fold]] builds all three, so the
    * refresh paths cannot drift.
    */
  final case class Delta(state2: State, touched: DataFrame,
                         addedPairs: DataFrame)

  def delta(state: State, oldCorpus: DataFrame, newCorpus: DataFrame,
            p: Params = Params(),
            spread: DataFrame => DataFrame = identity): Delta = {
    // checkpoint the SLIM diff once: `touched` and `freshIds` both
    // derive from it, and without the pin each derivation replays the
    // corpus-sized hash-compare join (two full passes over both
    // corpora — measured r18, guide §1.2's "don't compute twice")
    // d EAGER (r19): the batched count in fold reads it from two
    // concurrent branches, and a lazy d first-read from both would
    // duplicate the corpus-sized hash-compare join (the cleanedDelta
    // race note)
    val d = CorpusDiff.diff(oldCorpus, newCorpus, "doc_id", "text")
      .select("doc_id", "status").localCheckpoint(true)
    // NOT NULL (the diff drops null ids), as fold requires
    val touched = d.filter(col("status").isin("removed", "changed") &&
        col("doc_id").isNotNull)
      .select("doc_id").localCheckpoint(false)
    val freshIds = d.filter(col("status").isin("added", "changed"))
      .select("doc_id")
    val newDocs = newCorpus.join(freshIds, Seq("doc_id"), "left_semi")
    // the delta's per-document frame — the rebuild's derivation, run on
    // the added/changed documents only
    fold(state, touched, perDoc(newDocs, p, spread).localCheckpoint(false), p)
  }

  /** The dedup fold every refresh of the family shares (x85 through
    * [[delta]], x114/x131/x137 through [[asmRefresh]]): retire
    * `touched` from every state frame, derive the fresh documents'
    * frames from their per-document frame `fresh` ([[stateOf]]), probe
    * the retired index for their cross pairs, and append.
    *
    * `touched` is a LAZY checkpoint of NOT NULL `doc_id`s and `fresh` a
    * LAZY checkpoint of a per-document frame; ONE job gates the first
    * and materializes the second, each read through one branch.
    */
  private def fold(state: State, touched: DataFrame, fresh: DataFrame,
                   p: Params): Delta = {
    // touched is delta-sized on a healthy refresh but corpus-sized on a
    // mass retirement (a full re-crawl replacing most rows) — gate the
    // hint once on the checkpointed list, reuse the decision per column
    val Seq(nTouched, _) = Hints.counts(Seq(touched, fresh))
    val touchedSlim = nTouched <= Hints.gate(touched.sparkSession)
    // joined on a condition, not a USING column: the frame keeps its
    // column order (the schema of its rebuilt counterpart) and every
    // retire join builds the same, unrenamed `touched` side
    val side = if (touchedSlim) broadcast(touched.as("t")) else touched.as("t")
    def retire(df: DataFrame, idCols: String*): DataFrame =
      idCols.foldLeft(df) { (acc, c) =>
        acc.join(side, acc(c) === col("t.doc_id"), "left_anti")
      }

    val st = stateOf(fresh, p)
    // cross pairs probe the RETIRED index (standing minus touched), so a
    // changed document never pairs against its own dead version
    val cross = Dedup.crossPairsOfSig(hashed(fresh),
        retire(state.bandIdx, "doc_id"), retire(state.shingles, "doc_id"),
        p.threshold, p.bands, p.rowsPerBand)
      .select(least(col("id_new"), col("id_old")).as("id_a"),
        greatest(col("id_new"), col("id_old")).as("id_b"))
    // LAZY: the first action over the pair list (the cluster stage's
    // bounded collect, or incrementalClusters' seed gate) reads it
    // through one branch and materializes it; later readers hit the
    // cache
    val added = st.pairs.unionByName(cross).localCheckpoint(false)
    // old×old / new×old / new×new are disjoint by construction — no
    // dedup needed, and together they are exactly P(v2)'s pair set
    val pairs2 = retire(state.pairs, "id_a", "id_b").unionByName(added)
    Delta(State(
        retire(state.meta, "doc_id").unionByName(st.meta),
        retire(state.bandIdx, "doc_id").unionByName(st.bandIdx),
        retire(state.shingles, "doc_id").unionByName(st.shingles),
        pairs2),
      touched, added)
  }

  /** X23b (r12): DELTA-BOUND duplicate clusters — recompute label
    * propagation ONLY over the components a refresh touched; every
    * unchanged cluster carries its standing labels forward untouched.
    *
    * `standing` is v1's cluster map ([[Dedup.dupClusters]] over the
    * standing pair list — itself refresh state, persisted like the
    * other four frames); `pairs2` the refreshed pair set; `touched` and
    * `addedPairs` the refresh's [[Delta]] sides. The seeds are the doc
    * ids whose incidence changed ([[seedsOf]]: endpoints of added pairs
    * + removed/changed ids — every retired pair touches one by
    * construction, which marks the neighbor's cluster through the
    * shared cluster id).
    *
    * EXACTNESS (incremental == [[Dedup.dupClusters]](pairs2), the
    * declared x87 claim): components are closed under the standing
    * edges, every added edge has both endpoints in (touched clusters ∪
    * fresh seed nodes), and every retired edge is already absent from
    * `pairs2` — so the touched REGION (nodes of seeded clusters plus
    * the seeds) is edge-closed in pairs2: a pairs2 edge with one
    * endpoint inside has both inside. The pair graph therefore
    * partitions into the untouched standing components (labels =
    * component minima, unchanged) and the region sub-graph, and
    * re-running min-label propagation on the region alone yields
    * exactly the full recompute's labels.
    *
    * SCALE: the iterative (join-per-round) label propagation — the
    * expensive stage — now runs over region edges only: work bounded
    * by the volume of components the delta touches, not the corpus
    * pair count. Extraction costs one broadcast semi-join pass over
    * `standing` and `pairs2`. The seed/region lists are
    * delta-component-sized broadcasts — the same bound the recompute
    * itself pays.
    */
  def incrementalClusters(standing: DataFrame, pairs2: DataFrame,
                          touched: DataFrame, addedPairs: DataFrame): DataFrame = {
    // delta-component-sized on a healthy refresh, but a delta touching
    // a giant component (or a mass retirement) blows these up to
    // corpus scale — every hint is size-gated on its checkpointed list
    val seedIds = seedsOf(touched, addedPairs).localCheckpoint(false)
    val touchedClusters = standing
      .join(Hints.hintIfSlim(seedIds), Seq("doc_id"), "left_semi")
      .select("cluster_id").distinct().localCheckpoint(false)
    val touchedH = Hints.hintIfSlim(touchedClusters)
    val region = standing
      .join(touchedH, Seq("cluster_id"), "left_semi")
      .select("doc_id").unionByName(seedIds).distinct().localCheckpoint(false)
    val sub = pairs2.join(
      Hints.hintIfSlim(region.withColumnRenamed("doc_id", "id_a")),
      Seq("id_a"), "left_semi") // region is edge-closed: one endpoint test suffices
    val carried = standing
      .join(touchedH, Seq("cluster_id"), "left_anti")
      .select("doc_id", "cluster_id")
    carried.unionByName(
      Dedup.dupClusters(sub).select("doc_id", "cluster_id"))
  }

  /** The doc ids whose pair incidence a refresh changed: both endpoints
    * of every added pair plus the touched ids, distinct. `addedPairs` is
    * read through ONE branch (both endpoints from one `explode`), so a
    * lazily checkpointed pair list is first read — and materialized —
    * once.
    */
  private[graft] def seedsOf(touched: DataFrame, addedPairs: DataFrame): DataFrame =
    addedPairs.select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .unionByName(touched.select("doc_id")).distinct()

  // ------------------------------------------------------------ X23d

  /** X23d (r14): incremental CCNet-HEAD refresh under a FROZEN
    * reference LM — the deployment shape of the x108/x110 chain's
    * front half (line-level keep-first dedup → language ID →
    * frozen-LM perplexity scoring). CCNet-style pipelines freeze the
    * reference model and its per-language tail thresholds between
    * re-baselines (the [[graft.streaming.StreamCurate
    * .applyPerplexityGate]] contract); under that freeze the whole
    * head becomes incrementally maintainable, and the refresh is
    * BIT-IDENTICAL to a from-scratch rebuild (the declared x112 row
    * asserts it in-query; DuckDB replays the rebuild independently).
    *
    * State frames (all slim, persisted via [[Artifacts.saveIndex]]):
    *  - `lf`     (doc_id, pos, lh): the corpus's 60-bit line-hash view
    *    — line TEXT is never state;
    *  - `hist`   (lh, n_docs, first_id, first_pos): the standing
    *    election;
    *  - `scored` (lang, doc_id, n_bigrams, lp): frozen-LM scores of
    *    the cleaned scoreable corpus.
    *
    * EXACTNESS: `lf2 = lf − touched + lineFrame(fresh)` equals
    * lineFrame(v2) row-for-row (unchanged docs contribute identical
    * rows), so `hist2` equals the rebuild's histogram. A document's
    * drop set depends only on its own line rows and, per line hash,
    * on (n_docs ≥ minDocs, first) — so the drop set of an unchanged
    * document changes iff one of its hashes changed one of those
    * fields between hist and hist2. The AFFECTED set (owners in lf2
    * of exactly those hashes) therefore captures every document whose
    * clean text — and hence langid scope, token count or frozen-LM
    * score — can differ; everything else carries its scored row
    * forward bit-for-bit. Languages, scores and thresholds are frozen
    * per re-baseline, so no other channel exists.
    *
    * SCALE: only fresh documents re-tokenize into lines and only
    * affected ∪ fresh documents re-clean + re-score (their text read
    * from v2 — text is corpus data, never refresh state); the
    * histogram recompute and the affected detection are hash-only
    * aggregates/joins over the slim lf/hist frames; retirements and
    * the re-score restriction broadcast delta-sized id lists (the x85
    * discipline). A planted every-document boilerplate line makes the
    * affected set corpus-sized by design — that is the rebuild's cost
    * too, not an incremental penalty.
    */
  final case class CcnetState(lf: DataFrame, hist: DataFrame,
                              scored: DataFrame) {
    /** The cross-job hand-off ([[State.persisted]]). */
    def persisted(base: String): CcnetState =
      CcnetState(saved(base, "lf", lf), saved(base, "hist", hist),
        saved(base, "scored", scored))
  }

  /** The chain's cleaned view for a set of documents against a given
    * drop frame: (doc_id, clean_text, lang_pred), 'und' dropped —
    * langid runs on the RAW text (the x108 convention: the line view
    * is a-z0-9 tokens).
    */
  private def ccnetCleanedWith(docs: DataFrame, linesCol: org.apache.spark.sql.Column,
                               drops: DataFrame): DataFrame =
    Dedup.lineRewriteWith(docs, "doc_id", linesCol, drops)
      .select(col("doc_id"), col("clean_text"))
      .join(docs.filter(col("doc_id").isNotNull)
        .select(col("doc_id"),
          TextStats.langId(col("text")).as("lang_pred")), Seq("doc_id"))
      .filter(col("lang_pred") =!= "und")

  /** The slim frozen-LM scored frame of a cleaned view: (lang, doc_id,
    * n_bigrams, lp), sub-2-token rows excluded by the scorer's NaN
    * sentinel (the r14 perplexityTiers discipline).
    */
  private def ccnetScoredOf(cleaned: DataFrame,
                            lm: TextStats.RefLm): DataFrame =
    cleaned.select(col("lang_pred").as("lang"), col("doc_id"),
        (size(Dedup.tokens(coalesce(col("clean_text"), lit("")))) - 1)
          .cast("long").as("n_bigrams"),
        round(TextStats.refLmAvgLogProb(col("clean_text"), col("lang_pred"),
          lm), 6).as("lp"))
      .filter(!isnan(col("lp")))

  /** Build the standing CCNet-head state from scratch (corpus v1, or a
    * periodic re-baseline — the point at which the LM and thresholds
    * are also retrained). Lazy frames; the deployment contract is to
    * persist all three via [[Artifacts.saveIndex]] (what the declared
    * x112 does).
    */
  def ccnetBuildState(corpus: DataFrame, linesCol: org.apache.spark.sql.Column,
                      lm: TextStats.RefLm, minDocs: Int = 2,
                      spread: DataFrame => DataFrame = identity): CcnetState = {
    val lf = Dedup.lineFrame(corpus, "doc_id", linesCol)
    val hist = Dedup.lineHistogram(lf)
    // `spread` (r18): the cleaned chain's final join otherwise hands
    // the whole frozen-LM scoring pass to a near-serial stage on a
    // single-split fixture (identity at cluster scale — the callers'
    // spreadIfStarved guard)
    val cleaned = spread(ccnetCleanedWith(corpus, linesCol,
      Dedup.lineDropsAgainst(lf, hist, minDocs)))
    CcnetState(lf, hist, ccnetScoredOf(cleaned, lm))
  }

  /** A ccnet-head refresh's full readout — the updated state plus the
    * delta frames a COMPOSED refresh (the x114 assembly tail) consumes:
    * `touched` (removed/changed merged ids), `rescoreIds` (affected ∪
    * fresh — every document whose clean text, langid or score can
    * differ from its carried v1 row), `cleanedDelta` (the re-cleaned
    * text of exactly those documents) and `scoredDelta` (their frozen-
    * LM scores — the fresh rows inside `state2.scored`).
    */
  final case class CcnetDelta(state2: CcnetState, touched: DataFrame,
                              rescoreIds: DataFrame, cleanedDelta: DataFrame,
                              scoredDelta: DataFrame)

  /** The incremental path: diff v1 → v2, fold the line view, recompute
    * the slim election, detect the election-changed hashes, re-clean +
    * re-score ONLY affected ∪ fresh documents against the frozen LM,
    * and carry every other scored row forward untouched.
    */
  def ccnetRefresh(state: CcnetState, oldCorpus: DataFrame,
                   newCorpus: DataFrame, linesCol: org.apache.spark.sql.Column,
                   lm: TextStats.RefLm, minDocs: Int = 2,
                   spread: DataFrame => DataFrame = identity): CcnetState =
    ccnetRefreshDelta(state, oldCorpus, newCorpus, linesCol, lm, minDocs,
      spread).state2

  /** [[ccnetRefresh]] exposing its delta — shared body, so the solo
    * head refresh (x112) and the composed assembly refresh (x114)
    * cannot drift.
    */
  def ccnetRefreshDelta(state: CcnetState, oldCorpus: DataFrame,
                        newCorpus: DataFrame, linesCol: org.apache.spark.sql.Column,
                        lm: TextStats.RefLm, minDocs: Int = 2,
                        spread: DataFrame => DataFrame = identity): CcnetDelta = {
    // one checkpoint of the slim diff: both id carves below derive from
    // it, and each un-pinned derivation would replay the corpus-sized
    // hash-compare join (the Refresh.delta fix, same shape)
    // d EAGER (r19): the batched carve gate count below reads it from
    // two concurrent count branches, which would race a lazy first
    // materialization of the corpus-sized hash-compare join (the
    // cleanedDelta race note)
    val d = CorpusDiff.diff(oldCorpus, newCorpus, "doc_id", "text")
      .select("doc_id", "status").localCheckpoint(true)
    val touched = d.filter(col("status").isin("removed", "changed"))
      .select("doc_id").localCheckpoint(false)
    val freshIds = d.filter(col("status").isin("added", "changed"))
      .select("doc_id").localCheckpoint(false)
    // both carves gate-count in ONE job (r19): independent reads of the
    // cached diff, so the two counts' stages overlap
    val (touchedH, freshH) = Hints.hintIfSlim2(touched, freshIds)
    def retire(df: DataFrame): DataFrame =
      df.join(touchedH, Seq("doc_id"), "left_anti")
    val freshDocs = newCorpus.join(freshH, Seq("doc_id"), "left_semi")
    // lf2 LAZY (r19): hist2's eager materialization computes it into
    // its cache in the SAME job — the separate lf2 job was pure
    // scheduling latency (the r18 gate-count fusion, applied to the
    // checkpoint chain); read 3x below from the cache either way
    val lf2 = retire(state.lf)
      .unionByName(Dedup.lineFrame(freshDocs, "doc_id", linesCol))
      .localCheckpoint(false)
    val hist2 = Dedup.lineHistogram(lf2).localCheckpoint(true)
    // election-relevant change per hash: dup status flipped, or both
    // dup and the first owner moved (missing side = not dup)
    def rel(h: DataFrame, s: String) = h.select(col("lh"),
      (col("n_docs") >= minDocs).as(s + "d"),
      col("first_id").as(s + "f"), col("first_pos").as(s + "p"))
    val affectedLh = rel(state.hist, "a").join(rel(hist2, "b"),
        Seq("lh"), "full_outer")
      .filter(!(coalesce(col("ad"), lit(false)) <=> coalesce(col("bd"), lit(false))) ||
        (coalesce(col("ad"), lit(false)) && coalesce(col("bd"), lit(false)) &&
          !(col("af") <=> col("bf") && col("ap") <=> col("bp"))))
      .select("lh")
    val rescoreIdsRaw = lf2.join(affectedLh, Seq("lh"), "left_semi")
      .select("doc_id").unionByName(freshIds).distinct()
      .localCheckpoint(false) // usually delta-sized, corpus-sized worst case
    val rescoreIds = Hints.hintIfSlim(rescoreIdsRaw)
    val rescoreDocs = newCorpus.join(rescoreIds, Seq("doc_id"), "left_semi")
    // delta-sized text; checkpointed because the composed consumer reads
    // it twice (scores below + the tail's fresh corpus slice). `spread`
    // so the frozen-LM scoring pass over it doesn't starve on the
    // AQE-coalesced join output (identity at cluster scale).
    // EAGER deliberately: the composed consumer ([[keptSlice]]) reads it
    // through TWO join branches of one job — a lazy checkpoint's first
    // read from concurrent branches duplicates the whole extraction
    // subtree (getOrElseUpdate does not cross-task lock; measured as a
    // 2x leg regression when this was briefly lazy in r19)
    val cleanedDelta = spread(ccnetCleanedWith(rescoreDocs, linesCol,
      Dedup.lineDropsAgainst(
        lf2.join(rescoreIds, Seq("doc_id"), "left_semi"),
        hist2, minDocs)))
      .localCheckpoint(true)
    val scoredDelta = ccnetScoredOf(cleanedDelta, lm)
      .select("lang", "doc_id", "n_bigrams", "lp")
    val scored2 = retire(state.scored)
      .join(rescoreIds, Seq("doc_id"), "left_anti")
      .unionByName(scoredDelta)
    CcnetDelta(CcnetState(lf2, hist2, scored2), touched, rescoreIdsRaw,
      cleanedDelta, scoredDelta)
  }

  /** The web twin's step 0 (r16): maintain the EXTRACTED corpus
    * incrementally when raw-HTML v2 arrives. Extraction
    * ([[Extract.htmlToText]]) is a pure per-document function of the
    * markup, so html-unchanged ⇒ extracted-text-unchanged: diffing the
    * RAW markup over-approximates the text diff (conservative and
    * exact — a changed page whose extraction happens to coincide is
    * merely re-extracted to the identical row), and ONLY added/changed
    * pages pay extraction. Returns the v2 extracted corpus: carried v1
    * rows minus touched, plus the freshly-extracted delta — feed it to
    * [[ccnetRefreshDelta]] with the standing extracted v1 and the
    * whole x112 delta argument composes unchanged.
    *
    * SCALE: the markup diff is one hash-compare join (what every
    * refresh already pays on its text column — here paid on the html
    * column instead); extraction cost ∝ delta; the carried side is a
    * size-gated anti-join ([[Hints]]).
    */
  def webExtractRefresh(extractedV1: DataFrame, htmlV1: DataFrame,
                        htmlV2: DataFrame, htmlCol: String = "html",
                        carry: Seq[String] = Seq("source")): DataFrame = {
    // one checkpoint of the slim diff: the markup diff is the most
    // expensive diff in the family (page-wrap + md5 over the full
    // corpus), and `touched`/`fresh` each replayed it before the pin
    // d EAGER (r19): the batched gate count reads it from two branches
    // — the markup diff is the most expensive diff in the family, and a
    // lazy first read would compute it twice (the cleanedDelta race note)
    val d = CorpusDiff.diff(htmlV1, htmlV2, "doc_id", htmlCol)
      .select("doc_id", "status").localCheckpoint(true)
    val touched = d.filter(col("status").isin("removed", "changed"))
      .select("doc_id").localCheckpoint(false)
    val fresh = d.filter(col("status").isin("added", "changed"))
      .select("doc_id").localCheckpoint(false)
    // both carves gate-count in ONE job (r19 — independent reads of the
    // cached diff)
    val (touchedH, freshH) = Hints.hintIfSlim2(touched, fresh)
    val freshExtracted = htmlV2.join(freshH, Seq("doc_id"), "left_semi")
      .withColumn("text", Extract.htmlToText(col(htmlCol)))
      .select((Seq("doc_id") ++ carry ++ Seq("text")).map(col): _*)
    extractedV1.join(touchedH, Seq("doc_id"), "left_anti")
      .unionByName(freshExtracted)
  }

  /** The crawl twin's step 0 (r17): maintain the EXTRACTED keeper
    * corpus incrementally when a crawl-v2 CONTAINER drop arrives,
    * keyed by the URL index instead of a markup diff. Where
    * [[webExtractRefresh]] must read all of v2's markup to find the
    * delta, the URL-index fold ([[Urls.urlDedupRefresh]]) already
    * knows it: a canonical URL's extracted text can change ONLY when
    * its keeper id changed (extraction is a pure function of the
    * keeper's page), so the delta = {new canonical URLs} ∪ {URLs whose
    * keeper moved} — an INDEX-sized computation, with extraction paid
    * only for the new keepers' bodies and every other row carried
    * forward.
    *
    * Column contract: `extractedV1(doc_id, text)` keyed by v1 keeper
    * fetch ids; `idx1`/`idx2` are [[Urls.urlDedup]]-shaped standing
    * indexes (v1, and v1 folded with v2); `pages2(fetch_id, body,
    * ...)` the parsed v2 container pages.
    */
  def crawlExtractRefresh(extractedV1: DataFrame, idx1: DataFrame,
                          idx2: DataFrame, pages2: DataFrame): DataFrame = {
    val d = idx2.select(col("canonical_url"), col("keeper_id"))
      .join(idx1.select(col("canonical_url"),
        col("keeper_id").as("_old_keeper")), Seq("canonical_url"), "left")
      .filter(col("_old_keeper").isNull ||
        col("keeper_id") =!= col("_old_keeper"))
      .localCheckpoint(true) // index-delta-sized; read by both carve
                              // branches of the batched gate count (a
                              // lazy first read would race — r19)
    val touched = d.filter(col("_old_keeper").isNotNull)
      .select(col("_old_keeper").as("doc_id")).localCheckpoint(false)
    val fresh = d.select(col("keeper_id").as("fetch_id"))
      .localCheckpoint(false)
    // both carves gate-count in ONE job (r19 — independent reads of the
    // cached index delta)
    val (touchedH, freshH) = Hints.hintIfSlim2(touched, fresh)
    val freshExtracted = pages2
      .join(freshH, Seq("fetch_id"), "left_semi")
      .select(col("fetch_id").as("doc_id"),
        Extract.htmlToText(col("body")).as("text"))
    extractedV1
      .join(touchedH, Seq("doc_id"), "left_anti")
      .unionByName(freshExtracted)
  }

  /** The frozen per-language tail thresholds of a baseline scored
    * frame (round-4dp lower tertile — [[TextStats.perplexityTiers]]'
    * thr_lo), collected at language-count size.
    */
  def ccnetTailThr(scored: DataFrame): Map[String, Double] =
    scored.groupBy("lang")
      .agg(round(expr(s"percentile(lp, ${1.0 / 3})"), 4).as("thr_lo"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  /** The kept-set readout under frozen thresholds: one row per
    * language — (lang, thr, n_docs, n_kept, kept_xor). Languages
    * without a frozen threshold fail closed (thr null, n_kept 0) but
    * stay visible rather than vanishing.
    */
  def ccnetKeptReport(scored: DataFrame,
                      tailThr: Map[String, Double]): DataFrame = {
    val thr = element_at(typedLit(tailThr), col("lang"))
    val kept = thr.isNotNull && col("lp") >= thr
    scored.select(col("lang"), thr.as("thr"), col("doc_id"), col("lp"),
        kept.as("_k"))
      .groupBy("lang", "thr")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("_k"), 1L).otherwise(0L)).as("n_kept"),
        bit_xor(when(col("_k"),
          conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
            .cast("long")).otherwise(0L)).as("kept_xor"))
      .select(col("lang"), col("thr").cast("double").as("thr"),
        col("n_docs"), col("n_kept"), col("kept_xor"))
      .orderBy("lang")
  }

  // ------------------------------------------------------------ X23e

  /** X23e (r15): incremental refresh of the CCNet-EXTENDED assembly —
    * [[ccnetRefreshDelta]]'s head state threaded into the x85-style
    * tail machinery so corpus v2 re-runs only delta work through ALL
    * eleven x110 stages (the r14 verdict's Next-round #4).
    *
    * The chain splits at the frozen-LM keep-gate:
    *  - HEAD (merge → line dedup → langid → frozen-LM score → frozen
    *    tail-threshold keep): maintained by [[CcnetState]] /
    *    [[ccnetRefreshDelta]] exactly as x112 proved — only affected ∪
    *    fresh documents re-clean/re-score, and `rescoreIds` is BY
    *    CONSTRUCTION a superset of every document whose cleaned text,
    *    language or kept status can differ from its carried row.
    *  - TAIL (near-dup clusters → survivor election → curation gates →
    *    decontam → mixture → budget fill → epoch shuffle → manifest):
    *    every per-document quantity is a pure function of the KEPT
    *    cleaned text + frozen benchmark set, so the tail state is x85's
    *    [[State]] over one per-document frame ([[asmPerDoc]]: meta =
    *    (id, src, n_toks, quality, gate_pass, contam), band index,
    *    shingles, verified pairs) plus the standing cluster map. A
    *    refresh runs x85's [[fold]]: it retires `touched ∪ rescoreIds`
    *    from every frame, derives the per-document frame of the fresh
    *    kept slice only (its text comes from the head's `cleanedDelta`
    *    — corpus text is never tail state), finds its cross/within pairs
    *    against the retired index, and re-labels ONLY the delta-touched
    *    cluster region ([[incrementalClusters]]). The global stages
    *    (election, rates, fill, manifest) recompute over metadata-sized
    *    frames — [[asmManifestFrom]], shared verbatim by the refresh and
    *    rebuild paths so they cannot drift.
    *
    * EXACTNESS (refresh == rebuild, the declared x114 claim): the
    * retired set `touched ∪ rescoreIds` covers every document whose
    * (clean text, kept status, src) can differ between versions (x112's
    * exactness argument; src is a function of the merged id), the fresh
    * side re-derives exactly the current kept members of that set from
    * v2 text, and the pair/cluster decomposition is x85's. Everything
    * downstream is a pure function of (meta, clusters).
    */
  final case class AsmState(head: CcnetState, dedup: State,
                            clusters: DataFrame) {
    /** The cross-job hand-off ([[State.persisted]]). */
    def persisted(base: String): AsmState =
      AsmState(head.persisted(base), dedup.persisted(base),
        saved(base, "clusters", clusters))
  }

  /** The kept ids of a scored frame under the FROZEN per-language tail
    * thresholds (missing language fails closed — the x112 rule).
    */
  def keptUnderThr(scored: DataFrame, thr: Map[String, Double]): DataFrame = {
    val t = element_at(typedLit(thr), col("lang"))
    scored.filter(t.isNotNull && col("lp") >= t).select("doc_id")
  }

  /** The per-document frame of a kept cleaned corpus slice `ck`
    * (doc_id, text = clean text, src): token mass, the shared quality
    * score (election rank AND fill rank — [[Curation.standardGates]]
    * computes the same [[TextStats.qualityScore]]), gate membership (the
    * REAL gate code runs on the slice, not a re-derived predicate),
    * benchmark contamination (per-doc overlap vs the frozen benchmark
    * shingle set — computed for every kept doc and flag-filtered later,
    * a superset of x110's gated-only probe with the identical final drop
    * set), and the k-shingle set and MinHash signature [[stateOf]] bands.
    * Reads `ck` through three branches: pass a materialized slice.
    */
  private def asmPerDoc(ck: DataFrame, bench: DataFrame, p: Params): DataFrame = {
    val gated = Curation.standardGates(ck)
      .select(col("doc_id"), lit(true).as("gate_pass"))
    val contam = Curation.contaminationOverlap(ck, bench, "text", "doc_id",
      k = 3, minOverlap = 5).select(col("doc_id"), lit(true).as("contam"))
    withSig(ck.select(col("doc_id"), col("src"),
        size(Dedup.tokens(coalesce(col("text"), lit(""))))
          .cast("long").as("n_toks"),
        TextStats.qualityScore(col("text")).as("quality"),
        Dedup.shingles(col("text"), p.k).as("sh"))
      .join(gated, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .select(col("doc_id"), col("src"), col("n_toks"), col("quality"),
        coalesce(col("gate_pass"), lit(false)).as("gate_pass"),
        coalesce(col("contam"), lit(false)).as("contam"), col("sh")), p)
  }

  /** The kept cleaned slice (doc_id, text = clean text, src) of a
    * cleaned view under the frozen thresholds, spread and EAGERLY
    * checkpointed: [[asmPerDoc]] reads it through three branches. The
    * spread (r19) keeps the shingle/minhash pass off the 1-2 partitions
    * AQE coalesces the join output to on a fixture-sized corpus
    * (measured: 4x 3.9 s 2-task jobs in x131's rebuild leg); identity
    * at cluster scale.
    */
  private def keptSlice(cleaned: DataFrame, scored: DataFrame,
                        merged: DataFrame, thr: Map[String, Double],
                        spread: DataFrame => DataFrame): DataFrame =
    spread(cleaned
      .join(keptUnderThr(scored, thr), Seq("doc_id"), "left_semi")
      .join(merged.select("doc_id", "src"), Seq("doc_id"))
      .select(col("doc_id"), col("clean_text").as("text"), col("src")))
      .localCheckpoint(true)

  /** Build the standing assembly state from scratch (corpus v1 or a
    * re-baseline: the LM + thresholds are retrained at the same
    * moment). `merged` is the precedence-merged corpus (doc_id, text,
    * src); `bench` the frozen decontamination benchmark. Deployment
    * hands the refresh the [[AsmState.persisted]] copy (what the
    * declared x114 does).
    */
  def asmBuildState(merged: DataFrame, linesCol: org.apache.spark.sql.Column,
                    lm: TextStats.RefLm, thr: Map[String, Double],
                    bench: DataFrame, p: Params = Params(),
                    minDocs: Int = 2,
                    spread: DataFrame => DataFrame = identity): AsmState = {
    val lf = Dedup.lineFrame(merged, "doc_id", linesCol)
    val hist = Dedup.lineHistogram(lf)
    // `spread` (r18): scoring + the kept corpus's per-document
    // derivation would otherwise serialize on a single-split fixture
    // (identity at cluster scale — the callers' spreadIfStarved guard)
    val cleaned = spread(ccnetCleanedWith(merged, linesCol,
      Dedup.lineDropsAgainst(lf, hist, minDocs)))
    val scored = ccnetScoredOf(cleaned, lm)
    // EAGER (the buildState rule): the pair list's band self-join and
    // verification read it through concurrent branches
    val dedup = stateOf(asmPerDoc(keptSlice(cleaned, scored, merged, thr,
      spread), bench, p).localCheckpoint(true), p)
    AsmState(CcnetState(lf, hist, scored), dedup, Dedup.dupClusters(dedup.pairs))
  }

  /** The incremental path: refresh the head via [[ccnetRefreshDelta]],
    * then [[fold]] the tail: retire `touched ∪ rescoreIds`, insert the
    * per-document frame of the fresh kept slice (text from the head's
    * `cleanedDelta`), find its cross/within pairs against the retired
    * index, and re-label only the touched cluster region.
    */
  def asmRefresh(st: AsmState, mergedOld: DataFrame, mergedNew: DataFrame,
                 linesCol: org.apache.spark.sql.Column, lm: TextStats.RefLm,
                 thr: Map[String, Double], bench: DataFrame,
                 p: Params = Params(), minDocs: Int = 2,
                 spread: DataFrame => DataFrame = identity): AsmState = {
    val hd = ccnetRefreshDelta(st.head, mergedOld, mergedNew, linesCol,
      lm, minDocs, spread)
    // NOT NULL, as fold requires (a null id retires nothing either way)
    val touched = hd.touched.unionByName(hd.rescoreIds)
      .filter(col("doc_id").isNotNull).distinct().localCheckpoint(false)
    val fresh = asmPerDoc(keptSlice(hd.cleanedDelta, hd.scoredDelta,
      mergedNew, thr, spread), bench, p).localCheckpoint(false)
    val d = fold(st.dedup, touched, fresh, p)
    AsmState(hd.state2, d.state2,
      incrementalClusters(st.clusters, d.state2.pairs, touched, d.addedPairs))
  }

  /** Stages 5–11 from the slim state — survivor election over the
    * standing cluster map, gate + decontamination flags applied,
    * mixture recipe over token sums, greedy budget fill, epoch shuffle
    * and export manifest — a pure function of (meta, clusters)
    * shared VERBATIM by the refresh and rebuild paths (the
    * [[manifestOf]] discipline). Constants are x110's (the chain being
    * refreshed): mixture (0.5/0.3/0.2, 8000 tokens), fill 5000, seed
    * "asm-e1", 4 shards.
    */
  def asmManifestFrom(meta: DataFrame, clusters: DataFrame): DataFrame = {
    val drop = clusters.join(
        Dedup.clusterSurvivors(clusters, meta, "doc_id", col("quality"))
          .select(col("survivor_id").as("doc_id")),
        Seq("doc_id"), "left_anti")
      .select("doc_id")
    // same dedup-heavy-corpus hazard as [[manifestFromClusters]]: gate
    // the drop-side hint, materializing the election exactly once
    val standing = meta.join(Hints.checkpointAndHint(drop),
        Seq("doc_id"), "left_anti")
      .filter(col("gate_pass") && !col("contam"))
    val mixed = Curation.mixtureSampleBy(standing, "src", col("n_toks"),
      "doc_id", Seq("curated" -> 0.5, "web" -> 0.3, "mirror" -> 0.2), 8000L)
    val sel = TrainSet.budgetFill(mixed, "doc_id", rankCol = col("quality"),
        tokenCol = col("n_toks"), budget = 5000L)
      .select("doc_id", "n_tokens")
    val shuf = TrainSet.epochShuffle(sel, "doc_id", seed = "asm-e1",
      numShards = 4)
    TrainSet.exportManifest(sel, "doc_id", col("n_tokens"),
        seed = "asm-e1", numShards = 4)
      .join(shuf.filter(col("pos") === 1)
        .select(col("shard"), col("doc_id").as("lead_doc")), Seq("shard"))
      .select(col("shard"), col("n_docs"), col("token_mass"),
        col("id_xor"), col("lead_doc"))
  }

  /** X23c (r12): the manifest DELTA a refresh consumer polls for —
    * per shard, old vs new checksums plus a status (`unchanged` /
    * `changed` / `new` / `retired`), so a downstream trainer re-pulls
    * ONLY the shards whose checksums moved instead of diffing (or
    * re-reading) the full export. Both manifests must share the seed
    * (same shard routing) for per-shard comparison to be meaningful —
    * which [[refresh]]-produced manifests do by construction. One
    * numShards-row full-outer join; shards absent on one side surface
    * as `new` / `retired` rather than vanishing.
    */
  def manifestDelta(oldMan: DataFrame, newMan: DataFrame): DataFrame =
    oldMan.as("o").join(newMan.as("n"), Seq("shard"), "full_outer")
      .select(col("shard"),
        when(col("o.n_docs").isNull, lit("new"))
          .when(col("n.n_docs").isNull, lit("retired"))
          .when(col("o.n_docs") === col("n.n_docs") &&
            col("o.token_mass") === col("n.token_mass") &&
            col("o.id_xor") === col("n.id_xor"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        col("o.n_docs").as("old_n_docs"),
        col("o.token_mass").as("old_token_mass"),
        col("o.id_xor").as("old_id_xor"),
        col("n.n_docs").as("n_docs"),
        col("n.token_mass").as("token_mass"),
        col("n.id_xor").as("id_xor"))

  // ------------------------------------------------------------ X7e-c

  /** X7e-c (r18): INCREMENTAL cross-document exact-substring dedup —
    * the deployment form of [[Curation.xdocSubstrSpans]] /
    * [[Curation.cutXdocSubstr]] (x133/x134): corpus v2 arrives and the
    * keeper-preserving cut corpus refreshes delta-bound against the
    * standing slim window index, bit-identical to a from-scratch
    * rebuild (the declared x136 row asserts it in-query; DuckDB
    * replays the rebuild independently).
    *
    * State frames (all slim, persisted via [[Artifacts.saveIndex]]):
    *  - `pos` (doc_id, pos, h): the corpus's n-token window view
    *    ([[Curation.xdocPosFrame]]) — window TEXT is never state;
    *  - `sig` (doc_id, th): per-document text hashes — the v1→v2 diff
    *    runs against this standing index, so v1 text is never re-read
    *    (the x131 no-diff-scan sharpening over x112's corpus diff);
    *  - `cut` (doc_id, n_tokens, n_cut, clean_text): the standing cut
    *    corpus — the pipeline's output, carried forward row-for-row
    *    where nothing changed.
    *
    * EXACTNESS: `pos2 = pos − touched + posFrame(changed ∪ fresh)`
    * equals posFrame(v2) row-for-row (unchanged documents contribute
    * identical rows). A document's cut depends only on its own window
    * rows and, per window hash, on (cnt >= 2, keeper) — so the cut of
    * an UNCHANGED document changes iff the mark bit of one of its
    * occurrences (duplicated AND not the keeper) flips between the old
    * and new per-hash stats. Only hashes present in the removed or
    * added window rows can change stats (`affH`), so comparing old vs
    * new marks over ALL occurrences of affH captures every unchanged
    * document whose cut can differ — keeper moves included: removing
    * the keeper's occurrence re-elects the min remaining (whose mark
    * flips true→false), and a fresh occurrence below the standing
    * keeper flips the old keeper's mark false→true. Changed ∪ fresh
    * documents recompute by definition; every other cut row carries
    * forward bit-for-bit. The recut span merge runs over the FULL
    * per-hash stats of the recut documents' windows (`recutH`,
    * recomputed from pos2), not just affH, so a recut document's
    * untouched marks are reproduced exactly.
    *
    * SCALE (100 TB): the diff is a slim hash-index full-outer join (no
    * corpus text read); only changed ∪ fresh documents re-tokenize
    * into windows; the mark compare touches the standing index only
    * through semi-joins on the delta-sized affH hash list, and re-cuts
    * read text for exactly the recut ids — every id/hash list rides a
    * size-gated broadcast hint ([[Hints.hintIfSlim]]; a v2 that
    * rewrites most of the corpus degrades to rebuild cost, which is
    * the true cost of that delta). A corpus-wide boilerplate window
    * touched by the delta makes affH's occurrence set corpus-sized —
    * that is the rebuild's cost too, not an incremental penalty (the
    * x112 boilerplate-line argument).
    */
  final case class XdocState(pos: DataFrame, sig: DataFrame,
                             cut: DataFrame) {
    /** The cross-job hand-off ([[State.persisted]]). */
    def persisted(base: String): XdocState =
      XdocState(saved(base, "pos", pos), saved(base, "sig", sig),
        saved(base, "cut", cut))
  }

  /** The refresh's recut delta alongside the updated state: `recut` =
    * changed ∪ fresh ∪ mark-flipped unchanged ids — the re-cut row
    * set, what the ScaleCheck witness counts against the rebuild's
    * corpus-sized cut.
    */
  final case class XdocDelta(state2: XdocState, recut: DataFrame)

  /** Build the standing state from scratch (corpus v1, or a periodic
    * re-baseline). The frames are LAZY — the deployment contract is
    * [[XdocState.persisted]] (what the declared x136 artifact does); a refresh fed raw lazy frames re-tokenizes the
    * corpus on every consumption (the [[buildState]] warning).
    */
  def xdocBuildState(docs: DataFrame, textCol: String, idCol: String,
                     n: Int = 5): XdocState =
    XdocState(
      Curation.xdocPosFrame(docs, textCol, idCol, n),
      docs.select(col(idCol).as("doc_id"),
        xxhash64(coalesce(col(textCol), lit(""))).as("th")),
      Curation.cutXdocSubstr(docs, textCol, idCol, n))

  def xdocRefresh(st: XdocState, v2: DataFrame, textCol: String,
                  idCol: String, n: Int = 5): XdocDelta = {
    def idsAs(ids: DataFrame, c: String): DataFrame =
      if (c == "doc_id") ids else ids.withColumnRenamed("doc_id", c)
    // sig2 LAZY (r19): dj's eager materialization computes it into its
    // cache in the same job (single-branch read). dj itself stays EAGER:
    // the batched carve count below reads it through THREE concurrent
    // count branches, which would race a lazy first materialization
    // (the cleanedDelta race note).
    val sig2 = v2.select(col(idCol).as("doc_id"),
        xxhash64(coalesce(col(textCol), lit(""))).as("th"))
      .localCheckpoint(false)
    val dj = st.sig.as("a").join(sig2.as("b"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("a.th").as("t1"), col("b.th").as("t2"))
      .localCheckpoint(true)
    val touched = dj.filter(col("t1").isNotNull &&
        (col("t2").isNull || col("t1") =!= col("t2")))
      .select("doc_id").localCheckpoint(false) // removed ∪ changed
    val deltaIds = dj.filter(col("t2").isNotNull &&
        (col("t1").isNull || col("t1") =!= col("t2")))
      .select("doc_id").localCheckpoint(false) // changed ∪ fresh
    // gate both id carves in ONE job and reuse each decision at every
    // consumer (r19 — the repeated per-site counts were pure job
    // latency; the carves are independent reads of the cached diff).
    // Their union is derived only AFTER that job has materialized both:
    // built beside them, its distinct would be a concurrent first read
    // of the two lazy carves and compute them twice
    val Seq(touchedH, deltaIdsH) = Hints.hintIfSlimN(Seq(touched, deltaIds))
    val touchedOrDeltaH = Hints.hintIfSlim(touched.unionByName(deltaIds).distinct()
      .localCheckpoint(false))
    // only the delta re-tokenizes; pos2 is materialized once — it is
    // the new standing index (written once in deployment) and the
    // fold consumes it three times below
    val addedPos = Curation.xdocPosFrame(
      v2.join(idsAs(deltaIdsH, idCol), Seq(idCol), "left_semi"),
      textCol, idCol, n).localCheckpoint(false)
    val removedPos = st.pos.join(touchedH, Seq("doc_id"),
      "left_semi")
    // LAZY like addedPos: the affH gate count materializes both in one
    // job; downstream consumers are sequential actions reading caches
    val pos2 = st.pos.join(touchedH, Seq("doc_id"), "left_anti")
      .unionByName(addedPos).localCheckpoint(false)
    // per-hash stats before/after, restricted to the hashes the delta
    // can have changed; occurrences of affH are the only mark bits
    // that can flip
    val affH = removedPos.select("h").union(addedPos.select("h"))
      .distinct().localCheckpoint(false)
    val affHH = Hints.hintIfSlim(affH)
    def stats(p: DataFrame): DataFrame = p.groupBy("h").agg(
      count(lit(1)).as("cnt"),
      min(struct(col("doc_id"), col("pos"))).as("kp"))
    def marked(p: DataFrame): DataFrame = p.join(stats(p), Seq("h"))
      .select(col("doc_id"), col("pos"),
        (col("cnt") >= 2 && !(col("kp.doc_id") === col("doc_id") &&
          col("kp.pos") === col("pos"))).as("m"))
    val oldAff = st.pos.join(affHH, Seq("h"), "left_semi")
      .localCheckpoint(false)
    val newAff = pos2.join(affHH, Seq("h"), "left_semi")
      .localCheckpoint(false)
    // materialize BOTH affected-window caches in ONE job (one
    // single-branch read each) before `marked` reads each through two
    // branches (p + stats(p)) — a lazy first read from concurrent
    // branches would duplicate the semi-join subtrees (the cleanedDelta
    // race note); this also materializes pos2 via newAff's single read
    oldAff.groupBy().count().unionAll(newAff.groupBy().count()).collect()
    val flipped = marked(oldAff).as("o")
      .join(marked(newAff).as("n"), Seq("doc_id", "pos"), "full_outer")
      .filter(!(coalesce(col("o.m"), lit(false)) <=>
        coalesce(col("n.m"), lit(false))))
      .select("doc_id").distinct()
      // removed docs are gone, changed/fresh recut anyway — flips on
      // them are alignment artifacts of the (doc, pos) join, not
      // unchanged-document work
      .join(touchedOrDeltaH, Seq("doc_id"), "left_anti")
    val recut = deltaIds.unionByName(flipped).distinct()
      .localCheckpoint(false)
    val recutHint = Hints.hintIfSlim(recut)
    val recutPos = pos2.join(recutHint, Seq("doc_id"), "left_semi")
      .localCheckpoint(false) // recutH's gate count materializes it
    val recutH = recutPos.select("h").distinct().localCheckpoint(false)
    val anchors = recutPos.join(
        stats(pos2.join(Hints.hintIfSlim(recutH), Seq("h"), "left_semi"))
          .filter(col("cnt") >= 2), Seq("h"))
      .filter(!(col("kp.doc_id") === col("doc_id") &&
        col("kp.pos") === col("pos")))
      .select("doc_id", "pos")
    val recutRows = Curation.applySpanCut(
      v2.join(idsAs(recutHint, idCol), Seq(idCol), "left_semi"),
      textCol, idCol, Curation.mergeAnchorSpans(anchors, n))
    val cut2 = st.cut.join(Hints.hintIfSlim(touched.unionByName(recut)
        .distinct().localCheckpoint(false)), Seq("doc_id"), "left_anti")
      .unionByName(recutRows)
    XdocDelta(XdocState(pos2, sig2, cut2), recut)
  }
}
