package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import graft.tools.Executions

/** Plan-regression gate: asserts the physical-plan SHAPE of the declared
  * queries, not just their results. A future change that un-pushes a
  * filter, drops a broadcast hint, or sneaks a shuffle into a map-only
  * pipeline turns these red even while the oracle rows stay green.
  *
  * The gates read the plans that run. An operator that checkpoints its
  * result (x02/x09/x24/… — the Dedup materialization policy) runs its
  * whole plan in the SQL execution its checkpoint posts, and the frame
  * it returns only scans the checkpoint. So every declared query is
  * built once under [[withExecutions]], and the gates read the captured
  * executions next to the returned frame's plan.
  */
class PlanSpec extends SparkSuite {

  /** A query or composition as built: the SQL executions its
    * construction ran and the frame it returned.
    */
  private final case class Built(runs: Seq[Executions.Execution], frame: DataFrame) {
    def ran: Seq[SparkPlan] = runs.map(_.plan)
    def framePlan: SparkPlan = frame.queryExecution.executedPlan
    def plans: Seq[SparkPlan] = ran :+ framePlan
  }

  private def build(df: => DataFrame): Built = {
    val (frame, runs) = withExecutions(df)
    Built(runs, frame)
  }

  private def textOf(plans: Seq[SparkPlan]): String =
    plans.map(Executions.text).mkString

  // every declared query built once, in name order: the suite-wide
  // gates and the per-query tests below read these captures (building
  // runs the checkpointing operators, so this is most of the suite's
  // wall time)
  private lazy val built: Map[String, Built] =
    SparkEntry.queries.keys.toSeq.sorted.map(q =>
      q -> build(SparkEntry.queries(q)(spark, sf()))).toMap

  // an assembly's composed prefix (merge → … → mixture): the executions
  // before its budget fill starts, i.e. before the first one reading the
  // fill's `_pid` range-partition id (the fill's own shape is the x72
  // gate's)
  private def assemblyPrefix(b: Built): Seq[SparkPlan] =
    b.ran.takeWhile(p => !Executions.text(p).contains("_pid"))

  // the test-side compositions: operators, or operator portions, whose
  // shape is gated apart from the declared query that embeds them
  private lazy val composed: Map[String, Built] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val docs = Tables.load(spark, sf(), "documents")
    val emb = Tables.load(spark, sf(), "embeddings")
    Map(
      // x25/x30's gate portion: everything around the pair-finding
      // internals — gates map-only, drop-list join left_anti
      "x25 gate portion" -> build {
        val dropDups = graft.ext.Dedup.dupClusters(
          graft.ext.Dedup.jaccardPairs(docs, "text", "doc_id",
            k = 3, threshold = 0.2, maxDocFreq = Some(100)))
          .filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
        graft.queries.Declared.curationGates(docs, dropDups)
      },
      // the r7 declared x29/x36_blocked rows are verification
      // compositions (blocked vs exact full-outer) — the SCALE-path
      // internals worth gating are the raw operators' plans: equi-join
      // on cell, never a cartesian
      "x29 blocked pairs (raw operator)" -> build(
        graft.ext.Dedup.embeddingNearDupPairsBlocked(
          emb, threshold = 0.45, nlist = 16, nprobe = 4)),
      "x36 blocked decontam (raw operator)" -> build(
        graft.ext.Curation.semanticDecontamBlocked(
          emb.filter(col("vec_id") % 37 =!= 0),
          emb.filter(col("vec_id") % 37 === 0),
          threshold = 0.35, nlist = 16, nprobe = 8)),
      // x72's fill itself (the declared query adds a presentation sort,
      // whose range exchange would answer for the fill's own)
      "x72 budget fill" -> build(graft.ext.TrainSet.budgetFill(
        docs.filter(col("text").isNotNull), "doc_id",
        graft.ext.TextStats.qualityScore(col("text")),
        graft.ext.TextStats.tokenCount(col("text")),
        budget = 15000L)),
      // x75's clustering input is the iterative x23 pipeline; the plan
      // worth gating is the ELECTION itself — greatest_row hash agg over
      // the slim join, no membership window
      "x75 election portion" -> build(graft.ext.Dedup.clusterSurvivors(
        docs.select(col("doc_id"), (col("doc_id") % 10).as("cluster_id")),
        docs, "doc_id", graft.ext.TextStats.qualityScore(col("text")))),
      // x78's stages 3-5 over a crafted slim drop list (the real one is
      // the memoized cluster artifact; the gates assert plan SHAPE, so
      // training it here would only add runtime): the executions the
      // pinned gated frame and the contamination gate run, plus the
      // mixed frame's own plan
      "x78 assembly mixed" -> build {
        val merged = graft.queries.Declared.assemblyMerged(
          graft.queries.Declared.assemblyUnion(docs))
        graft.queries.Declared.assemblyMixed(docs, merged,
          Seq(20002L).toDF("doc_id"))
      },
      // x83's pair-finding prefix (the declared query's memoized
      // artifact input): portable seeded cells — map-only
      // nearest_cells_rounded assignment, seeds as a codegen reference
      // object — then the within-cell equi-join; clustering/election are
      // gated via x75's election portion
      "x83 pair prefix" -> build(graft.ext.Dedup.semanticDedupPairs(
        graft.ext.Dedup.semanticCells(emb, nlist = 8, nprobe = 3),
        threshold = 0.4)))
  }

  // the gates below are only as good as the capture: an eagerly
  // checkpointed operator (x02's) and a lazily checkpointed frame must
  // each post an execution whose plan holds their joins — a Spark
  // upgrade that stops posting them, or stops carrying the cached plan,
  // fails here by name instead of silently emptying every gate
  test("capture: eager and lazy checkpoints post executions that hold their joins") {
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(spark, sf(), "documents")
    def joinKeys(b: Built): Set[String] = b.ran.flatMap(Executions.nodes)
      .collect { case (_, j: BaseJoinExec) => j.leftKeys.flatMap(_.references.map(_.name)) }
      .flatten.toSet
    val eager = build(graft.ext.Dedup.jaccardPairs(
      docs, "text", "doc_id", k = 3, threshold = 0.2))
    assert(eager.runs.map(_.action) == Seq("localCheckpoint"),
      s"x02 operator executions: ${eager.runs.map(_.action)}")
    assert(Set("h", "id_a", "id_b").subsetOf(joinKeys(eager)),
      s"x02 execution lacks its joins:\n${textOf(eager.ran)}")
    val lazyCk = build(docs.as("a")
      .join(docs.as("b"), col("a.doc_id") === col("b.doc_id") + 1)
      .select(col("a.doc_id")).localCheckpoint(false))
    assert(lazyCk.runs.map(_.action) == Seq("localCheckpoint"),
      s"lazy checkpoint executions: ${lazyCk.runs.map(_.action)}")
    assert(joinKeys(lazyCk).contains("doc_id"),
      s"lazy checkpoint execution lacks its join:\n${textOf(lazyCk.ran)}")
  }

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf())
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
  }

  // r18: exchanges excluding the guarded starved-scan spread (tSpread —
  // one round-robin repartition on the local single-split fixture, a
  // no-op at cluster scale); gates on spread queries count everything
  // else so a real shuffle regression still trips them
  private def exchangesBeyondSpread(p: String): Int = {
    val rr = "Exchange RoundRobinPartitioning".r.findAllIn(p).size
    assert(rr <= 1, s"more than one round-robin spread:\n$p")
    "Exchange".r.findAllIn(p).size - rr
  }

  // map-only pipelines: the ONLY exchange allowed is the range partition
  // of the final presentation sort — a hash/single-partition shuffle or a
  // broadcast appearing here means the pipeline stopped being map-only
  private val mapOnly = Seq("x06_quality_score", "x07_fingerprint",
    "x18_pii_redact", "x19_repetition", "x21_hash_sample", "x26_url_strip",
    "x34_media_probe", "x35_chunk_overlap", "x37_split_assign",
    "x70_random_projection")

  // r18: the declared encode rows spread a STARVED fixture scan
  // (tSpread — the x113/x68 idiom), so their declared plans carry one
  // guarded round-robin exchange on the local single-split fixture; a
  // sharded corpus arrives pre-spread and takes the map-only plan, so
  // the gate allows that one spread and nothing else. The model rides
  // as reference objects, never a join.
  private val mapOnlySpread = Seq("x118_unigram_encode",
    "x126_wordpiece_encode", "x128_wordpiece_byte_encode")

  private def assertMapOnly(q: String, p: String): Unit = {
    val exchanges = "Exchange ".r.findAllIn(p).size
    val rangeExchanges = "Exchange rangepartitioning".r.findAllIn(p).size
    assert(exchanges == rangeExchanges,
      s"$q: non-range exchange in a map-only plan:\n$p")
    assert(!p.contains("BroadcastExchange"), s"$q: unexpected broadcast:\n$p")
  }

  test("map-only queries shuffle only for the presentation sort") {
    for (q <- mapOnly) assertMapOnly(q, planOf(q))
  }

  test("spread encode queries: map-only apart from the guarded spread") {
    for (q <- mapOnlySpread) {
      val p = planOf(q)
      val exchanges = "Exchange ".r.findAllIn(p).size
      val rangeExchanges = "Exchange rangepartitioning".r.findAllIn(p).size
      val rrExchanges = "Exchange RoundRobinPartitioning".r.findAllIn(p).size
      assert(exchanges == rangeExchanges + rrExchanges && rrExchanges <= 1,
        s"$q: unexpected exchange beyond presentation sort + guarded spread:\n$p")
      assert(!p.contains("BroadcastExchange"), s"$q: unexpected broadcast:\n$p")
    }
  }

  // dimension joins must broadcast — a SortMergeJoin here would shuffle
  // the fact side on the join key at 100 TB for no reason (x31: the
  // per-group rates frame joins the corpus broadcast)
  test("dimension joins are broadcast, not shuffled") {
    for (q <- Seq("q03_revenue_by_nation", "q18_part_type_share",
        "x20_decontam", "x31_temperature_mix")) {
      val p = planOf(q)
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
        s"$q: no broadcast join:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q: dimension join shuffled:\n$p")
    }
  }

  // x17's per-stratum rank <= n filter must plan as WindowGroupLimit:
  // per-partition bounded heaps instead of sorting whole strata
  test("stratified sample rank filter plans as WindowGroupLimit") {
    val p = planOf("x17_stratified_sample")
    assert(p.contains("WindowGroupLimit"), s"plan:\n$p")
  }

  // top-k via orderBy+limit must plan as TakeOrderedAndProject — a global
  // Sort followed by a limit would be a single-task funnel at scale
  test("top-k queries plan as TakeOrderedAndProject, not global sort") {
    val p = planOf("q02_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), s"q02: plan:\n$p")
  }

  // the custom top-k aggregate must run a map-side partial: the shuffle
  // then carries one bounded heap per (partition, group) instead of every
  // scored pair
  test("top-k aggregate is partial before the shuffle") {
    val p = planOf("x03_cosine_topk_agg")
    assert(p.contains("partial_top_k_by_score"), s"plan:\n$p")
  }

  // nothing may plan a cartesian product except the declared n² oracles
  // (x03 brute-force top-k, x16 exact embedding pairs) and the r7
  // property-oracle queries that embed an n² form as their VERIFICATION
  // side only (x29 joins its blocked pairs against the exact n² set to
  // assert precision/recall driver-visibly; the scale path inside it is
  // still the cell-blocked equi-join, gated via the raw-operator
  // composition below)
  private val nSquaredOracles =
    Set("x03_cosine_topk", "x03_cosine_topk_agg", "x16_embedding_dups",
      "x29_embedding_dups_blocked")

  test("no cartesian product outside the declared n-squared oracles") {
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    for ((q, b) <- built.toSeq.sortBy(_._1) if !nSquaredOracles.contains(q);
         p <- b.plans) {
      val cartesian = Executions.nodes(p).exists(_._2.isInstanceOf[CartesianProductExec])
      assert(!cartesian, s"$q: cartesian product:\n${Executions.text(p)}")
    }
  }

  // no silent passes: a query whose returned frame scans a checkpoint
  // ran its plan at construction, so the capture must hold that run —
  // an empty capture would leave the gates reading a bare checkpoint
  // scan. x23_dup_clusters and x83_semantic_dedup read memoized cluster
  // artifacts: their runs are captured only when `built` is the first
  // to build them in this JVM (true today: no suite builds them before
  // PlanSpec), so their capture depends on test order.
  test("every checkpoint-backed query's construction runs are captured") {
    import org.apache.spark.sql.execution.RDDScanExec
    val backed = built.toSeq.sortBy(_._1).filter { case (_, b) =>
      Executions.nodes(b.framePlan).exists(_._2.isInstanceOf[RDDScanExec])
    }
    assert(backed.size >= 25, s"only ${backed.size} checkpoint-backed queries")
    for ((q, b) <- backed)
      assert(b.runs.nonEmpty, s"$q: scans a checkpoint but no execution was captured")
  }

  // the checkpointing operators, read on the executions their
  // checkpoints ran: candidate joins must be hash EQUI-joins on the
  // banded keys — a cartesian or a non-degenerate nested-loop join here
  // is the difference between a bucketed shuffle and an n² scan at
  // 100 TB. (Whether Spark picks BroadcastHashJoin or SortMergeJoin is
  // a size decision — broadcast at fixture scale, SMJ at corpus scale —
  // both are fine; the KEYS are the invariant.)
  test("checkpointed operators (captured runs): hash equi-joins on banded keys, no cartesian") {
    // an operator's runs only: x33's and x101's returned frames compose
    // verification / report sides over the checkpointed pairs
    val operators = Seq("x02_jaccard_pairs", "x09_minhash_pairs", "x24_bm25",
      "x27_unigram_logprob", "x33_simhash_pairs", "x38_bigram_logprob",
      "x41_cross_dedup", "x42_boilerplate", "x43_containment",
      "x46_dup_ngram_coverage", "x63_dup_spans", "x67_dsir_resample",
      "x81_pmi_collocations", "x101_lsh_calibration", "x105_perplexity_tiers",
      "x108_ccnet_e2e", "x109_embedding_outliers", "x119_web_ccnet_e2e",
      "x133_xdoc_substr_spans").map(q => q -> textOf(built(q).ran))
    // the scoring pipelines whose trained model is memoized: the
    // returned frame is the scoring plan
    val scorers = Seq("x68_dsir_score", "x71_nb_langid", "x98_quality_distill",
      "x113_html_extract").map(q => q -> textOf(Seq(built(q).framePlan)))
    val plans = (operators ++ scorers ++
      Seq("x110_assembly_ccnet" -> textOf(assemblyPrefix(built("x110_assembly_ccnet")))) ++
      composed.toSeq.map { case (k, b) => k -> textOf(b.plans) }).toMap
    // the only nested-loop joins allowed are the broadcast crossJoins of
    // the 1-row corpus-stats frames (bm25's (n, avgdl), unigram's tot)
    val bnljAllowance = Map(
      "x24_bm25" -> 1,
      "x27_unigram_logprob" -> 1,
      // the two 1-row smoothing totals (target, raw) broadcast in
      "x67_dsir_resample" -> 2,
      // the two 1-row totals (token count N, bigram count B) broadcast in
      "x81_pmi_collocations" -> 2).withDefaultValue(0)
    for ((name, p) <- plans) {
      assert(p.nonEmpty, s"$name: no plan captured")
      assert(!p.contains("CartesianProduct"), s"$name: cartesian:\n$p")
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
      assert(bnlj <= bnljAllowance(name),
        s"$name: $bnlj nested-loop joins (allowed ${bnljAllowance(name)}):\n$p")
    }
    def hashJoinOn(name: String, keys: String*): Unit = {
      val p = plans(name)
      val hit = p.linesIterator.exists(l =>
        (l.contains("BroadcastHashJoin") || l.contains("SortMergeJoin")) &&
          keys.forall(k => (s"""[\\[(, ]$k#\\d""").r.findFirstIn(l).isDefined))
      assert(hit, s"$name: no hash equi-join on (${keys.mkString(",")}):\n$p")
    }
    hashJoinOn("x02_jaccard_pairs", "h")       // shingle hash
    hashJoinOn("x101_lsh_calibration", "h")    // same exact-pair leg
    hashJoinOn("x43_containment", "h")         // same index join
    hashJoinOn("x42_boilerplate", "h")         // df table join
    hashJoinOn("x46_dup_ngram_coverage", "doc_id", "h")
    hashJoinOn("x63_dup_spans", "h")           // dup-gram mark
    hashJoinOn("x133_xdoc_substr_spans", "h")  // keeper mark
    hashJoinOn("x09_minhash_pairs", "band", "bucket")
    hashJoinOn("x33_simhash_pairs", "band", "chunk")
    hashJoinOn("x24_bm25", "term")             // broadcast df
    // the cell-blocked scale paths: IVF cell is the equi key
    hashJoinOn("x29 blocked pairs (raw operator)", "cell")
    hashJoinOn("x36 blocked decontam (raw operator)", "cell")
    hashJoinOn("x83 pair prefix", "cell")
    // x83's cell assignment must be the map-only rounded expression —
    // no seed join, no aggregate, no window before the pair join
    locally {
      val p = plans("x83 pair prefix")
      assert(p.contains("nearest_cells"), s"x83: assignment not map-only:\n$p")
      assert(!p.contains("Window"), s"x83: window in the pair prefix:\n$p")
    }
    hashJoinOn("x38_bigram_logprob", "w1", "w2")
    hashJoinOn("x41_cross_dedup", "band", "bucket")
    hashJoinOn("x67_dsir_resample", "bucket") // broadcast log-ratio table
    // bm25's top-k must still bound-heap, not globally sort
    assert(plans("x24_bm25").contains("TakeOrderedAndProject"))
  }

  // x36: the benchmark embedding set must broadcast (nested-loop against
  // a broadcast side — the corpus is never shuffled pre-aggregation) and
  // the per-id max must run a map-side partial, so the only corpus-wide
  // shuffle carries (id, max_sim)
  test("semantic decontam broadcasts the benchmark and partial-aggregates the max") {
    val p = planOf("x36_semantic_decontam")
    assert(p.contains("BroadcastNestedLoopJoin"), s"benchmark not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"corpus shuffled into the join:\n$p")
    assert(p.contains("partial_max") || p.contains("partial max"),
      s"no map-side partial max:\n$p")
  }

  // x36's blocked twin: the cell assignment must turn the benchmark scan
  // into a broadcast EQUI-join on cell (the whole point of blocking —
  // candidate cosines drop to ~nprobe/nlist of the benchmark) and the
  // per-id max must still partial-aggregate map-side. The verification
  // full-outer join against the exact side shuffles (vec_id, sim) rows
  // only, so no corpus-shaped SMJ is asserted absent here.
  test("cell-blocked decontam equi-joins on cell and partial-aggregates the max") {
    val p = planOf("x36_semantic_decontam_blocked")
    val cellJoin = p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && "[\\[(, ]cell#\\d".r.findFirstIn(l).isDefined)
    assert(cellJoin, s"no broadcast equi-join on cell:\n$p")
    assert(p.contains("partial_max") || p.contains("partial max"),
      s"no map-side partial max:\n$p")
  }

  // x39: every aggregate must stay hash-based — the one-pass
  // max(struct(sim, -id)) formulation falls back to SortAggregate, which
  // buffers and sorts the whole corpus×benchmark joined stream per
  // partition (the blow-up found via .explain in r7; see
  // Curation.decontamAttribution's docstring)
  test("decontam attribution aggregates by hash, never by sort") {
    val p = planOf("x39_decontam_attribution")
    assert(!p.contains("SortAggregate"), s"sort-agg fallback returned:\n$p")
    assert(p.contains("HashAggregate"), s"plan:\n$p")
  }

  // x25/x30's drop-list join: the non-survivor id list joins the gated
  // corpus left_anti — it must broadcast; an SMJ here shuffles the whole
  // gated corpus on doc_id just to subtract a slim id list
  test("curation e2e drop-list join broadcasts, never shuffles the gated corpus") {
    for (q <- Seq("x25_curation_e2e", "x30_curation_scale_e2e")) {
      val p = planOf(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: drop-list join not broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q: gated corpus shuffled:\n$p")
    }
  }

  // x47: the as-of join must stay the union+window plan — the key-only
  // window exchange plus the right-side (key, ts) dedup's partial-agg
  // exchange (slim rows), never a range-join candidate blow-up
  test("as-of join plans the key window shuffle, no join blow-up") {
    val p = planOf("x47_asof_join")
    assert(p.contains("Window"), s"no window operator:\n$p")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx <= 2, s"expected <= 2 hash exchanges, got $hashEx:\n$p")
    // key-ONLY partitioning (k as the sole expression) — a bare
    // contains("hashpartitioning(k#") would also match the dedup agg's
    // (k, t) exchange and never fail
    val keyWindowEx =
      "Exchange hashpartitioning\\(k#\\d+L?, \\d+\\)".r.findFirstIn(p).isDefined
    assert(keyWindowEx, s"no key-only window exchange:\n$p")
    assert(p.contains("partial_max"), s"right-side dedup not partial-aggregated:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), s"as-of join materialized a join:\n$p")
  }

  // x47's salted twin: the big window must partition by (k, bin) — the
  // whole point of the salt; k-only partitioning would mean the hot key
  // still funnels to one task. Join operators stay absent (the stitch
  // is windows + unions, never a join blow-up).
  test("salted as-of join windows on (key, bin), no join blow-up") {
    val p = planOf("x47_asof_salted")
    val saltedEx =
      "Exchange hashpartitioning\\(k#\\d+L?, bin#\\d+L?, \\d+\\)".r
        .findFirstIn(p).isDefined
    assert(saltedEx, s"no (k, bin) window exchange:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), s"salted as-of materialized a join:\n$p")
  }

  // x48: the interval join must be the binned hash EQUI-join on
  // (k, bin) — a raw BETWEEN join would plan BroadcastNestedLoop
  // (the l x r blow-up the operator exists to avoid)
  test("interval join equi-joins on (key, bin), never nested-loop") {
    val p = planOf("x48_interval_join")
    val binJoin = p.linesIterator.exists(l =>
      (l.contains("BroadcastHashJoin") || l.contains("SortMergeJoin")) &&
        "[\\[(, ]k#\\d".r.findFirstIn(l).isDefined &&
        "[\\[(, ]bin#\\d".r.findFirstIn(l).isDefined)
    assert(binJoin, s"no hash equi-join on (k, bin):\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval join fell back to nested-loop:\n$p")
  }

  // x48's salted twin: the equi-join key must include the salt — a
  // (k, bin)-only join would mean the hot bin still lands on one task
  test("salted interval join equi-joins on (key, bin, salt)") {
    val p = planOf("x48_interval_salted")
    val saltJoin = p.linesIterator.exists(l =>
      (l.contains("BroadcastHashJoin") || l.contains("SortMergeJoin")) &&
        "[\\[(, ]k#\\d".r.findFirstIn(l).isDefined &&
        "[\\[(, ]bin#\\d".r.findFirstIn(l).isDefined &&
        "[\\[(, ]salt#\\d".r.findFirstIn(l).isDefined)
    assert(saltJoin, s"no hash equi-join on (k, bin, salt):\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"salted interval join fell back to nested-loop:\n$p")
  }

  // x50: one per-key window with a RANGE frame — a single hash exchange
  // on the key; the only other exchange is the presentation sort's
  // range partition. No join anywhere.
  test("rolling stats plan: one key-hash exchange, RANGE frame, no join") {
    val p = planOf("x50_rolling_stats")
    assert(p.contains("Window"), s"no window:\n$p")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n$p")
    assert(!p.contains("Join"), s"rolling stats planned a join:\n$p")
  }

  // x50's salted twin: the window must partition on (k, bin) — the
  // salt's whole point (k-only would still funnel the hot key)
  test("salted rolling stats windows on (key, bin), no join") {
    val p = planOf("x50_rolling_salted")
    val saltedEx =
      "Exchange hashpartitioning\\(k#\\d+L?, bin#\\d+L?, \\d+\\)".r
        .findFirstIn(p).isDefined
    assert(saltedEx, s"no (k, bin) window exchange:\n$p")
    assert(!p.contains("Join"), s"salted rolling stats planned a join:\n$p")
  }

  // x51: the native session aggregation — session merge + hash exchange
  // on the key, partial aggregation before the shuffle, no join
  test("session_window plan: session merge keyed by user, no join") {
    val p = planOf("x51_session_window")
    assert(p.toLowerCase.contains("session"), s"no session operator:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size >= 1,
      s"no key hash exchange:\n$p")
    assert(!p.contains("Join"), s"session plan joined:\n$p")
  }

  // x51's salted twin: the per-ROW session aggregation must be keyed by
  // (k, bin) — the expensive pass spreads; the only per-key-ONLY window
  // runs over session summaries (rows ∝ sessions, not events)
  test("salted session counts group the row pass by (key, bin)") {
    val p = planOf("x51_session_salted")
    val binAgg = p.linesIterator.exists(l =>
      (l.contains("MergingSessions") || l.contains("Aggregate")) &&
        l.contains("session_window#") &&
        "[\\[(, ]bin#\\d".r.findFirstIn(l).isDefined)
    assert(binAgg, s"no (key, bin) session aggregation:\n$p")
    assert(!p.contains("Join"), s"salted sessions planned a join:\n$p")
  }

  // x52: latest-per-key must be ONE hash aggregation over the greatest-row
  // struct — map-side partial max, never the window-sort formulation that
  // ships every key's full history through the exchange
  test("latest compaction plans a partial-max hash agg, no window, no join") {
    val p = planOf("x52_latest_compaction")
    assert(p.contains("partial_greatest_row"), s"no map-side partial max:\n$p")
    // the TypedImperativeAggregate must hash-aggregate — built-in
    // max(struct) silently degrades to SortAggregate (per-partition sort
    // by key), the exact plan greatest_row exists to avoid
    assert(p.contains("ObjectHashAggregate"), s"not hash-aggregated:\n$p")
    assert(!p.contains("SortAggregate"), s"degraded to sort agg:\n$p")
    assert(!p.contains("Window"), s"compaction fell back to a window sort:\n$p")
    assert(!p.contains("Join"), s"compaction planned a join:\n$p")
  }

  // x53: the epoch shuffle's only shuffles are ONE hash exchange on the
  // shard id (the in-shard rank) and the final presentation sort — a
  // global range sort of the corpus must never appear before the window
  test("epoch shuffle hash-exchanges on shard; no global sort before the rank") {
    val p = planOf("x53_epoch_shuffle")
    val shardEx = p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") &&
        "[\\[(, ]shard#\\d".r.findFirstIn(l).isDefined)
    assert(shardEx, s"no hash exchange on shard:\n$p")
    assert("Exchange rangepartitioning".r.findAllIn(p).size == 1,
      s"extra range sort beyond the presentation orderBy:\n$p")
    assert(!p.contains("Join"), s"epoch shuffle planned a join:\n$p")
  }

  // x54: the per-stratum top-K must push the rank limit below the
  // exchange (WindowGroupLimit): each input partition keeps at most K
  // rows per stratum map-side, the shuffle never carries the corpus
  test("weighted sample pushes the per-stratum limit down (WindowGroupLimit)") {
    val p = planOf("x54_weighted_sample")
    assert(p.contains("WindowGroupLimit"), s"rank limit not pushed down:\n$p")
    val stratumWin = p.linesIterator.exists(l =>
      l.contains("Window") && "[\\[(, ]stratum#\\d".r.findFirstIn(l).isDefined)
    assert(stratumWin, s"no per-stratum window:\n$p")
    assert(!p.contains("Join"), s"weighted sample planned a join:\n$p")
  }

  // x55: the snapshot diff must be one full-outer EQUI-join over the slim
  // (id, md5) frames — never a nested-loop, and the document payload
  // must not reach the join (only id + hash columns pass the exchange)
  test("corpus diff plans a full-outer equi-join over slim hash frames") {
    val p = planOf("x55_corpus_diff")
    assert(p.contains("FullOuter"), s"no full-outer join:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"diff degraded to nested-loop:\n$p")
    // text is consumed map-side by md5() and must not cross the join
    val joinLine = p.linesIterator.find(_.contains("Join")).get
    assert(!joinLine.contains("text#"), s"payload crossed the join:\n$p")
  }

  // x56: negatives resolve via an equi-join on the slot id; the corpus
  // index side must never nested-loop against the draws
  test("negative sampling equi-joins on slot, no nested loop") {
    val p = planOf("x56_negative_sample")
    val slotJoin = p.linesIterator.exists(l =>
      l.contains("Join") && "[\\[(, ]slot#\\d".r.findFirstIn(l).isDefined)
    assert(slotJoin, s"no slot equi-join:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"sampling degraded to nested-loop:\n$p")
  }

  // x45: the banded-LSH candidate join must be a broadcast equi-join on
  // (band, bucket) — the corpus is bucketed map-side and never shuffled
  // before the candidate dedup
  test("banded LSH ANN joins corpus buckets broadcast on (band, bucket)") {
    val p = planOf("x45_ann_lsh_banded")
    val bandJoin = p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") &&
        "[\\[(, ]band#\\d".r.findFirstIn(l).isDefined &&
        "[\\[(, ]bucket#\\d".r.findFirstIn(l).isDefined)
    assert(bandJoin, s"no broadcast equi-join on (band, bucket):\n$p")
  }

  // x64: the semantic retrieval head and the final fusion cut must both
  // bound-heap via TakeOrderedAndProject (the lexical head's internals
  // are gated on x24's captured run); the fusion full-outer join runs
  // over 2 x kRetrieve rows so any join type is fine — but never a
  // cartesian (suite-wide test covers it)
  test("hybrid RRF plans bounded-heap retrieval heads") {
    val p = planOf("x64_hybrid_rrf")
    assert(p.contains("TakeOrderedAndProject"), s"retrieval head sorts globally:\n$p")
    assert(!p.contains("SortAggregate"), s"SortAggregate in the fusion plan:\n$p")
  }

  // x65: the corpus-side gate must be a broadcast join carrying the
  // group-sized recipe thresholds (the corpus never shuffles for the
  // gate) and every aggregate stays hash-based with map-side partials;
  // the only SMJ allowed is the group-sized rates-to-kept summary join
  test("mixture sample gates the corpus via a broadcast recipe join") {
    val p = planOf("x65_mixture_sample")
    val gateJoin = p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("graft-mix"))
    assert(gateJoin, s"md5 gate join not broadcast:\n$p")
    assert(!p.contains("SortAggregate"), s"SortAggregate in the mixture plan:\n$p")
  }

  // x66: the domain cap must run through the bounded-heap aggregate —
  // ObjectHashAggregate with a map-side partial — never the
  // window+row_number plan (which sorts every row of a hot domain in
  // one partition; that formulation is the ORACLE, not the engine)
  test("domain cap plans the bounded heap, not a window") {
    val p = planOf("x66_domain_cap")
    assert(p.contains("top_k_by_score"), s"bounded heap missing:\n$p")
    assert(p.contains("ObjectHashAggregate") && p.contains("partial_top_k_by_score"),
      s"no map-side partial heap:\n$p")
    assert(!p.contains("WindowExec") && !p.contains("RunningWindowFunction"),
      s"window plan leaked into the cap:\n$p")
  }

  // x94: cluster-balanced sampling = map-only cell assignment (seeds as
  // a reference object — no seed join, no window) + the same bounded
  // heap as x66 (a dense cell never sorts through one partition)
  test("cluster-balanced sample plans map-only cells + bounded-heap cap") {
    val p = planOf("x94_cluster_balanced")
    assert(p.contains("nearest_cells"), s"assignment not map-only:\n$p")
    assert(p.contains("top_k_by_score"), s"bounded heap missing:\n$p")
    assert(p.contains("ObjectHashAggregate") && p.contains("partial_top_k_by_score"),
      s"no map-side partial heap:\n$p")
    assert(!p.contains("WindowExec") && !p.contains("RunningWindowFunction"),
      s"window plan leaked into the cap:\n$p")
    // the fused form: cell totals and the survivor heap come out of the
    // SAME aggregation, so the corpus is scanned/cell-assigned once and
    // there is no join anywhere in the plan
    assert(!p.contains("Join"), s"join leaked into the fused report:\n$p")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"$scans corpus scans (fused form needs one):\n$p")
  }

  // x67: the global Gumbel-top-k must run through the bounded heap with
  // a map-side partial (never window+row_number — that funnels every
  // scored doc to one partition), and the log-ratio table must join the
  // feature stream as a BROADCAST hash join (the corpus never shuffles
  // by bucket)
  test("DSIR resample plans the bounded heap and a broadcast ratio join") {
    val p = textOf(built("x67_dsir_resample").ran)
    assert(p.contains("top_k_by_score"), s"bounded heap missing:\n$p")
    assert(p.contains("ObjectHashAggregate") && p.contains("partial_top_k_by_score"),
      s"no map-side partial heap:\n$p")
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"window plan leaked into the resample:\n$p")
    val ratioBroadcast = p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("bucket#"))
    assert(ratioBroadcast, s"log-ratio join not broadcast on bucket:\n$p")
  }

  // x72: the budget fill must realize the greedy order as RANGE
  // partitioning of the slim projection with PER-PARTITION running-sum
  // windows + the driver-offset bucket_lookup — never a single-partition
  // global window (the r7 empty-partition-spec funnel) and never a join
  // (read on the fill's two runs — the totals collect and the selection
  // checkpoint — plus its result's plan)
  test("budget fill plans range partition + per-partition window + offset lookup") {
    val p = textOf(composed("x72 budget fill").plans)
    assert(p.toLowerCase.contains("rangepartitioning"),
      s"greedy order not range-partitioned:\n$p")
    assert(p.contains("bucket_lookup"), s"driver offset lookup missing:\n$p")
    assert(p.contains("_pid"), s"per-partition window key missing:\n$p")
    assert(!p.contains("Join"), s"join in the fill plan:\n$p")
  }

  // x75: the survivor election must be the bounded greatest_row hash
  // agg over the slim join — map-side partials, never a window over the
  // cluster membership (the x69 survivor discipline)
  test("cluster survivor election plans a partial greatest_row hash agg, no window") {
    val p = textOf(composed("x75 election portion").plans)
    assert(p.contains("partial_greatest_row"), s"no map-side partial survivor:\n$p")
    assert(p.contains("ObjectHashAggregate"), s"not hash-aggregated:\n$p")
    assert(!p.contains("SortAggregate"), s"degraded to sort agg:\n$p")
    assert(!p.contains("Window"), s"survivor via window sort:\n$p")
  }

  // x68: the map-only scorer must BE map-only — the ratio table rides
  // as an expression reference object, so the scoring plan has no join,
  // no aggregation, and no shuffle beyond the declared output ordering
  test("DSIR map-only scorer plans zero joins, zero aggregates, one sort exchange") {
    val p = planOf("x68_dsir_score")
    assert(!p.contains("Join"), s"join in the map-only scorer:\n$p")
    assert(!p.contains("Aggregate"), s"aggregation operator in the map-only scorer:\n$p")
    assert(p.contains("bucket_lookup"), s"ratio lookup not in-plan:\n$p")
    // allowed: the orderBy's range exchange + the ROUND-ROBIN spread of
    // the single-row-group fixture input (production inputs arrive
    // pre-split; the spread must never be a keyed/hash exchange)
    val exchanges = "Exchange".r.findAllIn(p).size
    val spreads = "RoundRobinPartitioning".r.findAllIn(p).size
    assert(exchanges - spreads <= 1 && spreads <= 1,
      s"$exchanges exchanges / $spreads spreads (only orderBy + one input spread allowed):\n$p")
  }

  // x78: the composed assembly prefix (merge -> survivor drop -> gates
  // -> decontam -> mixture) must keep every stage's proven shape IN
  // COMPOSITION: the merge is the partial greatest_row hash agg, every
  // small side (drop list, contaminated list, mixture rates) joins
  // broadcast, and nothing introduces a window or a global sort — read
  // on the runs the pinned gated frame and the contamination gate make
  // plus the mixed frame's plan, which is exactly what the declared
  // query executes before the budget fill (whose own range+window+lookup
  // shape x72's gate holds)
  test("assembly e2e composed prefix: broadcasts for small sides, no window, no global sort") {
    val mixed = composed("x78 assembly mixed")
    assert(mixed.runs.nonEmpty, "the pinned gated frame ran no execution")
    val p = textOf(mixed.plans)
    assert(p.contains("partial_greatest_row"), s"merge lost its partial agg:\n$p")
    assert(p.contains("ObjectHashAggregate"), s"merge not hash-aggregated:\n$p")
    assert(!p.contains("SortAggregate"), s"merge degraded to sort agg:\n$p")
    assert(!p.contains("Window"), s"window in the composed prefix:\n$p")
    assert(!p.toLowerCase.contains("rangepartitioning"),
      s"global sort in the composed prefix:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in the prefix:\n$p")
    // broadcast anti-joins for the drop + contaminated lists, broadcast
    // rates join for the mixture gate — at least three broadcast joins,
    // and the only SortMergeJoin allowed is the once-per-refresh payload
    // join back by id (both sides corpus-sized by design)
    val bhj = "BroadcastHashJoin".r.findAllIn(p).size
    val smj = "SortMergeJoin".r.findAllIn(p).size
    assert(bhj >= 3, s"expected >=3 broadcast joins, got $bhj:\n$p")
    assert(smj <= 1, s"only the payload id join may sort-merge, got $smj:\n$p")
  }

  // x110: the CCNet-EXTENDED assembly prefix (merge -> line dedup ->
  // langid -> perplexity keep-gate -> gates -> decontam -> mixture)
  // must keep every folded stage's proven shape in one composition:
  // the merge's partial greatest_row agg, the line election's partial
  // min-over-struct (never a window over occurrence lists), the native
  // LM scorer in-plan with its lang-sized tertile broadcast, and still
  // no window / cartesian / global sort anywhere in the prefix (read on
  // the declared query's runs before its budget fill)
  test("ccnet assembly composed prefix keeps merge agg, line election, native scorer") {
    val prefix = assemblyPrefix(built("x110_assembly_ccnet"))
    assert(prefix.nonEmpty, "x110: no run captured before the budget fill")
    val p = textOf(prefix)
    assert(p.contains("partial_greatest_row"), s"merge lost its partial agg:\n$p")
    assert(p.contains("partial_min"), s"line election lost its partial agg:\n$p")
    assert(p.contains("ref_lm_score"), s"codegen'd LM scorer not in-plan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast joins in prefix:\n$p")
    assert(!p.contains("Window"), s"window in the composed prefix:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in the prefix:\n$p")
    assert(!p.toLowerCase.contains("rangepartitioning"),
      s"global sort in the composed prefix:\n$p")
  }

  // x80: BPE application must be pure map — the merge rules ride as
  // codegen reference objects inside the single bpe_subwords
  // expression, so the scoring plan has no join/aggregate and the only
  // exchange is the presentation sort
  test("BPE segmentation plans map-only through the codegen'd expression") {
    val p = planOf("x80_bpe_segment")
    assert(p.contains("bpe_subwords"), s"codegen'd segmenter not in-plan:\n$p")
    assert(!p.contains("Join"), s"join in BPE apply:\n$p")
    assert(!p.contains("Aggregate"), s"aggregation in BPE apply:\n$p")
    val exchanges = exchangesBeyondSpread(p)
    assert(exchanges <= 1, s"$exchanges exchanges (only the orderBy allowed):\n$p")
  }

  // x111: byte-level encode is the same pure-map shape — the byte
  // mapping and the rank-based encoder are two codegen'd expressions
  // in one projection; no join/aggregate, only the presentation sort
  test("byte-level BPE encode plans map-only: byte map + encoder fused") {
    val p = planOf("x111_bpe_byte_encode")
    assert(p.contains("byte_map_tokens"), s"codegen'd byte map not in-plan:\n$p")
    assert(p.contains("bpe_encode"), s"codegen'd encoder not in-plan:\n$p")
    assert(!p.contains("Join"), s"join in byte-level encode:\n$p")
    assert(!p.contains("Aggregate"), s"aggregation in byte-level encode:\n$p")
    val exchanges = exchangesBeyondSpread(p)
    assert(exchanges <= 1, s"$exchanges exchanges (only the orderBy allowed):\n$p")
  }

  // x84: the rank-based id encoder must likewise be pure map — merge
  // ranks + vocab ids ride as one reference object, so the scoring
  // plan has no join/aggregate; only the presentation sort shuffles
  test("BPE id encoding plans map-only through the rank-based expression") {
    val p = planOf("x84_bpe_encode")
    assert(p.contains("bpe_encode"), s"codegen'd encoder not in-plan:\n$p")
    assert(!p.contains("Join"), s"join in BPE encode:\n$p")
    assert(!p.contains("Aggregate"), s"aggregation in BPE encode:\n$p")
    val exchanges = exchangesBeyondSpread(p)
    assert(exchanges <= 1, s"$exchanges exchanges (only the orderBy allowed):\n$p")
  }

  // x86: cross-corpus encode with unk fallback — the model rides as
  // the same reference object (trained on the complement, loaded from
  // the artifact store), so the scoring side stays pure map too: the
  // held-out filter pushes to the scan, no join/aggregate appears
  test("BPE unseen-text encoding plans map-only with the slice filter pushed down") {
    val p = planOf("x86_bpe_encode_unseen")
    assert(p.contains("bpe_encode"), s"codegen'd encoder not in-plan:\n$p")
    assert(!p.contains("Join"), s"join in BPE unseen encode:\n$p")
    assert(!p.contains("Aggregate"), s"aggregation in BPE unseen encode:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(doc_id)"),
      s"doc_id filter not reaching the scan:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"$exchanges exchanges (only the orderBy allowed):\n$p")
  }

  // x91: encode + decode + round-trip compare must STILL be pure map —
  // the vocabulary rides as one array-literal reference object, so the
  // decode is a codegen'd transform/element_at with no join/aggregate;
  // only the presentation sort shuffles
  test("BPE decode round-trip plans map-only through the vocab-array lookup") {
    val p = planOf("x91_bpe_decode")
    assert(p.contains("bpe_encode"), s"codegen'd encoder not in-plan:\n$p")
    assert(!p.contains("Join"), s"join in BPE decode:\n$p")
    assert(!p.contains("Aggregate"), s"aggregation in BPE decode:\n$p")
    val exchanges = exchangesBeyondSpread(p)
    assert(exchanges <= 1, s"$exchanges exchanges (only the orderBy allowed):\n$p")
  }

  // x92: fertility must be the map-only encode + ONE partial-agg'd
  // groupBy(lang) — no join, and exactly the aggregate + presentation
  // sort exchanges (slim #lang rows shuffle, never the corpus)
  test("token fertility plans map encode + single partial aggregation") {
    val p = planOf("x92_token_fertility")
    assert(p.contains("bpe_encode"), s"codegen'd encoder not in-plan:\n$p")
    assert(!p.contains("Join"), s"join in fertility plan:\n$p")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"no partial aggregation:\n$p")
    val exchanges = exchangesBeyondSpread(p)
    assert(exchanges <= 2, s"$exchanges exchanges (agg + orderBy allowed):\n$p")
  }

  // x81: the PMI top-k must be the bounded TakeOrderedAndProject over
  // partial-agg'd counts with broadcast totals — no global sort, no
  // window over the bigram table
  test("PMI collocations plan: partial counts, broadcast totals, bounded top-k") {
    val p = textOf(built("x81_pmi_collocations").ran)
    assert(p.contains("TakeOrderedAndProject"), s"top-k not bounded:\n$p")
    assert(!p.contains("Window"), s"window in the PMI plan:\n$p")
    assert(!p.toLowerCase.contains("rangepartitioning"),
      s"global sort in the PMI plan:\n$p")
    assert(p.contains("partial_count"), s"counts not partial-aggregated:\n$p")
  }

  // x82 (r11 rework): the token stream must REDUCE before it ever meets
  // the checkpoint frame — two slim partial-agg'd legs (term min-id,
  // per-doc counts) each joined broadcast against ≤steps rows. The old
  // ×steps form multiplied corpus tokens through the broadcast `<` join
  // first and needed a two-distinct Expand; neither may reappear.
  test("vocab growth reduces the token stream before the checkpoint join") {
    val p = planOf("x82_vocab_growth")
    assert(p.contains("partial_min"), s"term first-id not partial-agg'd:\n$p")
    assert(p.contains("partial_count"), s"doc counts not partial-agg'd:\n$p")
    assert(!p.contains("Expand"), s"multi-distinct Expand (the ×steps form):\n$p")
    assert(!p.contains("SortMergeJoin"), s"checkpoint join shuffled:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
  }

  // x69: the merge survivor must be the bounded greatest_row aggregate,
  // never a window over the unioned corpora — the hot key (a boilerplate
  // page every source carries) reduces map-side to one struct per task
  test("corpus merge plans a partial greatest_row hash agg, no window") {
    val p = planOf("x69_corpus_merge")
    assert(p.contains("partial_greatest_row"), s"no map-side partial survivor:\n$p")
    assert(p.contains("ObjectHashAggregate"), s"not hash-aggregated:\n$p")
    assert(!p.contains("SortAggregate"), s"degraded to sort agg:\n$p")
    assert(!p.contains("Window"), s"survivor via window sort:\n$p")
  }

  // x71: like the DSIR scorer, NB inference must be pure map — the
  // model rides as bucket_lookup reference arrays, so the scoring plan
  // has no join/aggregate; only the presentation sort shuffles
  test("NB classifier inference plans zero joins, zero aggregates") {
    val p = planOf("x71_nb_langid")
    assert(!p.contains("Join"), s"join in NB inference:\n$p")
    assert(!p.contains("Aggregate"), s"aggregation in NB inference:\n$p")
    // one-pass multi-label scoring: the whole fold is the single
    // codegen'd nb_score_vec expression (r10 — one loop, one allocation
    // per row; the interpreted aggregate+zip_with formulation is the
    // spec-only oracle), materialized in its own projection (three
    // argmax references over an attribute, not three re-folds)
    assert(p.contains("nb_score_vec"), s"codegen'd NB fold not in-plan:\n$p")
    // allowed: orderBy range exchange + one round-robin input spread
    val exchanges = "Exchange".r.findAllIn(p).size
    val spreads = "RoundRobinPartitioning".r.findAllIn(p).size
    assert(exchanges - spreads <= 1 && spreads <= 1,
      s"$exchanges exchanges / $spreads spreads (only orderBy + one input spread allowed):\n$p")
  }

  // no declared query may plan a window with an EMPTY partition spec —
  // that is the move-every-row-to-one-partition stage (the r7 verdict's
  // 12-WindowExec-warnings finding against the old assignByIndex; its
  // replacement ranks per range-partition with a driver prefix sum)
  test("no empty-partition-spec window anywhere in the declared suite") {
    import org.apache.spark.sql.execution.window.WindowExec
    // x64's two rank windows run over the <= kRetrieve-row retrieval
    // heads (TakeOrderedAndProject output) — dimension-sized by
    // construction, not a fact-table funnel; anything else stays 0.
    // They are the only such windows in the suite's runs, and so the
    // source of Verify's `WindowExec: No Partition Defined` warnings
    // (one burst while x64 is written)
    val allowance = Map("x64_hybrid_rrf" -> 2).withDefaultValue(0)
    for ((q, b) <- built.toSeq.sortBy(_._1)) {
      val bad = b.plans.flatMap(Executions.nodes).collect {
        case (_, w: WindowExec) if w.partitionSpec.isEmpty => w
      }
      assert(bad.size <= allowance(q),
        s"$q: ${bad.size} empty-partition-spec windows (allowed ${allowance(q)}; all rows funnel to one partition)")
    }
  }

  // x45's capped twin (r8 hash-threshold form): the hot-bucket sizes are
  // collected ONCE at operator build and inlined as a literal map, so the
  // cap is a pure map-side filter — no banded-corpus exchange, no sort
  // keyed by (band, bucket) anywhere (the old window-cap's full-shuffle-
  // and-sort signature, measured 2x the uncapped runtime), and no extra
  // join (the broadcast-LOJ variant cost more than the scans it trimmed)
  test("capped banded ANN: no band-keyed window/sort, probe join intact") {
    val p = planOf("x45_ann_capped")
    // the top-k WindowGroupLimit on query_id is the WANTED rank pushdown;
    // the cap must not reintroduce one keyed by (band, bucket)
    val capWindow = p.linesIterator.exists(l =>
      (l.contains("WindowGroupLimit") || l.contains("Window ")) &&
        "[\\[(, ]band#\\d".r.findFirstIn(l).isDefined)
    assert(!capWindow, s"window-cap form resurfaced:\n$p")
    val bandSort = p.linesIterator.exists(l =>
      l.contains("Sort [band") || "Sort \\[.*[, ]band#\\d".r.findFirstIn(l).isDefined)
    assert(!bandSort, s"banded corpus sorted on (band, bucket):\n$p")
    val bandJoins = p.linesIterator.count(l =>
      l.contains("BroadcastHashJoin") &&
        "[\\[(, ]band#\\d".r.findFirstIn(l).isDefined &&
        "[\\[(, ]bucket#\\d".r.findFirstIn(l).isDefined)
    // exactly the query-bucket probe joins — the cap adds NO join (on the
    // healthy sf fixture no bucket crosses the cap, so capBuckets is also
    // required to be a structural no-op here)
    assert(bandJoins >= 1, s"query-bucket broadcast probe join missing:\n$p")
  }

  // x57: sketch partials must merge map-side (partial hll_sketch_agg
  // below the lang exchange) and stay hash-aggregated — a SortAggregate
  // here would mean the binary sketch buffer fell off the hash path
  test("sketch build aggregates hash-side with map-side partials") {
    val p = planOf("x57_sketch_union")
    assert(p.contains("partial_hll_sketch_agg") ||
      "ObjectHashAggregate.*hll_sketch_agg".r.findFirstIn(p).isDefined,
      s"no partial sketch aggregation:\n$p")
    assert(!p.contains("SortAggregate"), s"sketch agg fell to SortAggregate:\n$p")
  }

  // x58: the KLL TypedImperativeAggregate must plan exactly like the
  // HLL one — ObjectHashAggregate with map-side partials, no fallback
  // to SortAggregate anywhere in the sketch build or union
  test("KLL quantile sketch aggregates hash-side with map-side partials") {
    val p = planOf("x58_kll_quantiles")
    assert(p.contains("partial_kll_sketch_agg") ||
      "ObjectHashAggregate.*kll_sketch_agg".r.findFirstIn(p).isDefined,
      s"no partial KLL sketch aggregation:\n$p")
    assert(!p.contains("SortAggregate"), s"KLL agg fell to SortAggregate:\n$p")
  }

  // x59: theta sketch aggs follow the same contract — partials merge
  // map-side under hash aggregation, never SortAggregate
  test("theta sketch aggregates hash-side with map-side partials") {
    val p = planOf("x59_theta_overlap")
    assert(p.contains("partial_theta_sketch_agg") ||
      "ObjectHashAggregate.*theta_sketch_agg".r.findFirstIn(p).isDefined,
      s"no partial theta sketch aggregation:\n$p")
    assert(!p.contains("SortAggregate"), s"theta agg fell to SortAggregate:\n$p")
  }

  // x60: the custom frequent-items aggregate must plan like the other
  // sketch aggs (hash-side, map-side partials), and the exact top-20
  // side must keep its TakeOrderedAndProject (no global sort)
  test("frequent-items sketch aggregates hash-side, top-k stays TakeOrdered") {
    val p = planOf("x60_heavy_hitters")
    assert(p.contains("partial_freq_sketch_agg") ||
      "ObjectHashAggregate.*freq_sketch_agg".r.findFirstIn(p).isDefined,
      s"no partial freq sketch aggregation:\n$p")
    assert(!p.contains("SortAggregate"), s"freq agg fell to SortAggregate:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 lost its rank pushdown:\n$p")
  }

  // x61: the PQ decode must be the map-only pq_reconstruct projection
  // (zero joins, zero shuffles for decode — the codebook rides as a
  // codegen reference object), and the top-k must stay in the
  // bounded-heap ObjectHashAggregate — no sort-based aggregation
  test("PQ ANN decodes map-only via pq_reconstruct, top-k stays bounded-heap") {
    val p = planOf("x61_ann_pq")
    assert(p.contains("pq_reconstruct"), s"map-only PQ decode missing:\n$p")
    val cbJoin = "[\\[(, ]code#\\d".r.findFirstIn(p).isDefined
    assert(!cbJoin, s"decode regressed to a codebook join:\n$p")
    assert(p.contains("top_k_by_score"), s"bounded-heap top-k missing:\n$p")
    assert(!p.contains("SortAggregate"), s"SortAggregate in the PQ plan:\n$p")
  }

  // x62: IVF-PQ must keep BOTH structural wins — the cell probe is a
  // broadcast equi-join (the corpus never shuffles) and the codebook
  // decode is the map-only pq_reconstruct projection; both top-k
  // stages stay in the bounded-heap aggregate
  test("IVF-PQ probes cells via broadcast join, decodes codes map-only") {
    val p = planOf("x62_ann_ivfpq")
    val cellJoin = p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") &&
        "[\\[(, ]cell#\\d".r.findFirstIn(l).isDefined)
    assert(cellJoin, s"cell probe join not broadcast:\n$p")
    assert(p.contains("pq_reconstruct"), s"map-only PQ decode missing:\n$p")
    assert(p.contains("top_k_by_score"), s"bounded-heap top-k missing:\n$p")
    assert(!p.contains("SortAggregate"), s"SortAggregate in the IVF-PQ plan:\n$p")
  }

  // the cap's positive form, on a frame with a forced hot bucket: the
  // survival predicate is an inlined literal-map filter (element_at +
  // pmod) directly over the banded rows — no join, no window, no sort
  test("bucket cap plans as a literal-map filter on a hot fixture") {
    import org.apache.spark.sql.functions._
    import graft.ext.Similarity
    val hot = spark.range(600).select(lit(0).as("band"),
      lit(7L).as("bucket"), col("id").as("nid"))
    val capped = Similarity.capBuckets(hot, 64, "nid")
    val p = capped.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    // the survival predicate is the pmod-threshold filter; with constant
    // (band, bucket) Catalyst folds the literal-map lookup to a literal
    // modulus — fine, it's still the pure filter form
    assert(p.contains("pmod(xxhash64"),
      s"hash-threshold survival filter missing:\n$p")
    assert(!p.contains("Join"), s"cap added a join:\n$p")
    assert(!p.contains("Window"), s"cap added a window:\n$p")
    assert(!p.contains("Sort"), s"cap added a sort:\n$p")
    // and it binds: Binomial(600, 64/est) survivors, est = 16 * sample
    val n = capped.count()
    assert(n < 200 && n > 10, s"cap did not bind in expectation: $n of 600")
  }

  // scans must prune columns: the documents scan of a two-column query
  // must not read the text body (ReadSchema check on the parquet scan)
  // x90: encode is the map-only codegen expression; packing is ONE
  // window over the (grp, shard) hash partition; the chunk rollup is
  // one partial-agg'd shuffle — no join anywhere in the pipeline
  test("packed sequences plan: map-only encode, one window, no join") {
    val p = planOf("x90_packed_sequences")
    assert(p.contains("bpe_encode"), s"codegen'd encoder not in-plan:\n$p")
    assert(!p.contains("Join"), s"join in x90:\n$p")
    assert("Window".r.findAllIn(p).size == 1, s"window count != 1:\n$p")
    val exchanges = exchangesBeyondSpread(p)
    assert(exchanges <= 3,
      s"$exchanges exchanges (shard hash + rollup + presentation sort):\n$p")
  }

  // x116: the byte-level packed twin must keep x90's exact shape — the
  // byte mapper + encoder fused map-side, one packing window, no join
  test("packed BYTE sequences plan: map-only encode, one window, no join") {
    val p = planOf("x116_packed_bytes")
    assert(p.contains("bpe_encode"), s"codegen'd encoder not in-plan:\n$p")
    assert(p.contains("byte_map_tokens"), s"byte mapper not in-plan:\n$p")
    assert(!p.contains("Join"), s"join in x116:\n$p")
    assert("Window".r.findAllIn(p).size == 1, s"window count != 1:\n$p")
    val exchanges = exchangesBeyondSpread(p)
    assert(exchanges <= 3,
      s"$exchanges exchanges (shard hash + rollup + presentation sort):\n$p")
  }

  // x88: delivery verification is one scan of the delivered files and
  // one scan of the fixture — partial-agg'd numShards-row frames meet
  // in a slim join; nothing may cartesian or window, and the delivered
  // text never shuffles (only (shard, tok, w, placed) projections do)
  test("export delivery verification plans as two partial-agg scans and a slim join") {
    val p = planOf("x88_export_delivery")
    assert(!p.contains("CartesianProduct"), s"cartesian in x88:\n$p")
    assert(!p.contains("Window"), s"window in x88:\n$p")
    assert(p.contains("partial_count") || p.contains("partial"),
      s"delivered-side aggregation not partial (map-side combine lost):\n$p")
  }

  // x89: two full replay legs end in 4-row manifests; the delta join
  // itself must stay slim — no cartesian, no window in the join tail
  test("manifest delta plans as a slim full-outer join of two manifests") {
    val p = planOf("x89_manifest_delta")
    assert(!p.contains("CartesianProduct"), s"cartesian in x89:\n$p")
    assert(p.contains("FullOuter"), s"full-outer join missing in x89:\n$p")
  }

  // x97: decode + dHash are a typed map (per-partition codec init) —
  // the ONLY exchanges are the guarded starved-scan spread (r19),
  // the fingerprint groupBy and the presentation sort; grouping a
  // corpus by an 8-byte hash must never join
  test("perceptual dedup plans map-side decode + one fingerprint agg, no join") {
    val p = planOf("x97_perceptual_dedup")
    assert(!p.contains("Join"), s"join in perceptual dedup:\n$p")
    assert(!p.contains("Window"), s"window in perceptual dedup:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"collect_list group must plan as ObjectHashAggregate:\n$p")
    val exchanges = exchangesBeyondSpread(p)
    assert(exchanges <= 2, s"$exchanges exchanges (agg + orderBy allowed):\n$p")
  }

  // x98: the distilled student scores through the LOCAL model object —
  // the held-out scoring path has no join and no window; the codegen'd
  // NB fold is in-plan; exchanges = spread repartition + confusion agg
  // + presentation sort only
  test("distillation scoring plans the local-model fold: no join, no window") {
    val p = planOf("x98_quality_distill")
    assert(p.contains("nb_score_vec"), s"codegen'd NB fold not in-plan:\n$p")
    assert(!p.contains("Join"), s"join in distillation scoring:\n$p")
    assert(!p.contains("Window"), s"window in distillation scoring:\n$p")
    val exchanges = "Exchange ".r.findAllIn(p).size
    assert(exchanges <= 3,
      s"$exchanges exchanges (repartition + agg + orderBy allowed):\n$p")
  }

  // x99: the per-group threshold frame is group-sized — it must reach
  // the gating scan as a broadcast, never by shuffling the corpus side
  test("quantile gate broadcasts the threshold frame into the gating scan") {
    val p = planOf("x99_quantile_gate")
    assert(p.contains("BroadcastHashJoin"),
      s"threshold join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus shuffled for a group-sized join:\n$p")
    assert(!p.contains("Window"), s"window in quantile gate:\n$p")
  }

  // x102: normalize + sha2 are map-only; the n_raw distinct-count
  // expands to Spark's two-phase distinct agg (an extra exchange keyed
  // by (norm_sha, raw_sha)) — still hash-only shuffles, never bodies
  test("normalized dedup plans map-side hashing + hash-only aggs, no join") {
    val p = planOf("x102_normalized_dedup")
    assert(!p.contains("Join"), s"join in normalized dedup:\n$p")
    assert(!p.contains("Window"), s"window in normalized dedup:\n$p")
    val exchanges = "Exchange ".r.findAllIn(p).size
    assert(exchanges <= 3,
      s"$exchanges exchanges (distinct-expand + agg + orderBy allowed):\n$p")
  }

  // x103: boundary manifest = packChunks' ONE window + one chunk-keyed
  // rollup — no join anywhere, and exactly one window
  test("pack boundaries plan one window + one chunk rollup, no join") {
    val p = planOf("x103_pack_boundaries")
    assert(!p.contains("Join"), s"join in pack boundaries:\n$p")
    val windows = "Window".r.findAllIn(p).size
    assert(windows == 1, s"$windows windows (the running sum only):\n$p")
  }

  // x105: scoring is the codegen'd bucket_lookup fold — no join on the
  // corpus side; the per-lang tertile frame is lang-sized and must reach
  // the tier assignment as a broadcast, never by shuffling the corpus
  // (read on the declared query's runs: the scored frame persists, so
  // its checkpoint's plan carries the scorer through the cached scan)
  test("perplexity tiers broadcast the tertile frame; scoring is the in-plan fold") {
    val p = textOf(built("x105_perplexity_tiers").ran)
    assert(p.contains("ref_lm_score"), s"codegen'd LM scorer not in-plan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"tertile join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus shuffled for a lang-sized join:\n$p")
    assert(!p.contains("Window"), s"window in perplexity tiers:\n$p")
  }

  // x106: both joins carry group-sized frames (recipe rates into the
  // corpus scan, the emission rollup into the report) — broadcast only,
  // and the instance explosion must not sort or window anything
  test("epoch upsample joins are broadcast; no window, no sort-merge") {
    val p = planOf("x106_epoch_upsample")
    assert(p.contains("BroadcastHashJoin"), s"rates join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus shuffled for a group-sized join:\n$p")
    assert(!p.contains("Window"), s"window in epoch upsample:\n$p")
  }

  // x107: the first-owner election is a min-over-struct AGGREGATE on
  // the slim line-hash frame — never a window over occurrence lists —
  // and nothing in the chain multiplies rows
  test("line dedup elects first owners by aggregate, not window") {
    val p = planOf("x107_line_dedup")
    assert(!p.contains("Window"), s"window in line dedup:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in line dedup:\n$p")
    // the election must reduce the hot hash per-task BEFORE the lh
    // exchange — a partial min over the (doc_id, pos) struct (the
    // ScaleCheck x107 hot-line witness relies on this shape)
    assert(p.contains("partial_min"),
      s"first-owner election not partial-agg'd map-side:\n$p")
  }

  // x108: the composed CCNet chain must keep its pieces' shapes — the
  // native LM scorer in-plan, the lang-sized tertile frame broadcast,
  // and nothing multiplying rows (the doc-keyed rewrite/meta joins are
  // corpus-sized hash joins, allowed)
  test("ccnet e2e keeps the native scorer + broadcast tertiles, no cartesian") {
    val p = textOf(built("x108_ccnet_e2e").ran)
    assert(p.contains("ref_lm_score"), s"codegen'd LM scorer not in-plan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"tertile join must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in ccnet e2e:\n$p")
    assert(!p.contains("Window"), s"window in ccnet e2e:\n$p")
  }

  // x119: the web pipeline keeps x108's shape with extraction fused
  // into the scan-side projection — the native LM scorer in-plan, the
  // lang-sized tertile frame broadcast, and no NEW exchange for the
  // extraction stage (it is pure per-row expression work)
  test("web ccnet e2e: extraction fused map-side, scorer in-plan, tertiles broadcast") {
    val p = textOf(built("x119_web_ccnet_e2e").ran)
    assert(p.contains("ref_lm_score"), s"codegen'd LM scorer not in-plan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"tertile join must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in web ccnet:\n$p")
    assert(!p.contains("Window"), s"window in web ccnet:\n$p")
  }

  // x109: centroid and threshold frames are group-sized — both reach
  // the corpus-side scans as broadcasts; scoring is the native cosine
  test("embedding outlier gate broadcasts centroids + cutoffs; native cosine in-plan") {
    val p = textOf(built("x109_embedding_outliers").ran)
    assert(p.contains("cosine_sim"), s"native cosine not in-plan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"group-sized joins must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus shuffled for a group-sized join:\n$p")
    assert(!p.contains("Window"), s"window in outlier gate:\n$p")
  }

  // x68/x71: on a pre-spread corpus the scoring fold is MAP-ONLY — the
  // only exchange allowed is the presentation sort's range partition of
  // the slim scored projection (text already dropped); a hash exchange
  // here would shuffle corpus text a 100 TB reader never needs to move.
  // The declared forms add one round-robin spread, and only behind the
  // spreadIfStarved scan probe (a no-op on a sharded corpus), so the
  // gate reads the returned scoring frame beyond that spread
  test("dsir + nb scoring frames are map-only up to the presentation sort") {
    for (q <- Seq("x68_dsir_score", "x71_nb_langid")) {
      val p = textOf(Seq(built(q).framePlan))
      val rangeExchanges = "Exchange rangepartitioning".r.findAllIn(p).size
      assert(exchangesBeyondSpread(p) == rangeExchanges,
        s"$q: non-range exchange in a map-only scoring plan:\n$p")
      assert(!p.contains("Join"), s"$q: join in a map-only scoring plan:\n$p")
    }
  }

  // x113: extraction is per-document expression work — on a pre-spread
  // corpus the only exchange is the presentation sort's range partition
  // (the declared form's guarded spread aside, as for x68/x71)
  test("html extraction is map-only up to the presentation sort") {
    val p = textOf(Seq(built("x113_html_extract").framePlan))
    val rangeExchanges = "Exchange rangepartitioning".r.findAllIn(p).size
    assert(exchangesBeyondSpread(p) == rangeExchanges,
      s"non-range exchange in the extraction plan:\n$p")
    assert(!p.contains("Join"), s"join in the extraction plan:\n$p")
  }

  // x120: container ingest + extraction is scan-side expression work —
  // no join/window anywhere; the only exchanges allowed are the guarded
  // fixture spread (round-robin) and the presentation sort's range
  // partition. A hash exchange here would mean record parsing stopped
  // running at scan parallelism.
  test("warc ingest plans no join; only spread + presentation-sort exchanges") {
    // x132 rides the same gate: the member-aware gz reader surfaces as
    // an ExistingRDD scan and the parse/extraction stay expression-only
    for (q <- Seq("x120_warc_ingest", "x129_wet_ingest", "x132_warcgz_ingest")) {
      val p = planOf(q)
      assert(!p.contains("Join"), s"$q: join in the container ingest plan:\n$p")
      assert(!p.contains("Window"), s"$q: window in the container ingest plan:\n$p")
      val exchanges = "Exchange ".r.findAllIn(p).size
      val allowed = "Exchange rangepartitioning".r.findAllIn(p).size +
        "(?i)Exchange roundrobin".r.findAllIn(p).size
      assert(exchanges == allowed,
        s"$q: unexpected exchange in the container ingest plan:\n$p")
    }
  }

  // x124: URL dedup is one partial-agg'd groupBy over slim
  // (canonical_url, id) rows — canonicalization is scan-side expression
  // work, so exactly one hash exchange (the dedup groupBy) plus the
  // presentation sort's range partition; no join, no window, and
  // document text never enters the plan (the projection is built
  // before the operator sees the frame)
  test("url dedup exchanges only the slim canonical-url agg rows") {
    val p = planOf("x124_url_dedup")
    assert(!p.contains("Join"), s"join in the url dedup plan:\n$p")
    assert(!p.contains("Window"), s"window in the url dedup plan:\n$p")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1,
      s"$hashEx hash exchanges (one dedup groupBy expected):\n$p")
    val exchanges = "Exchange ".r.findAllIn(p).size
    val rangeEx = "Exchange rangepartitioning".r.findAllIn(p).size
    assert(exchanges == hashEx + rangeEx,
      s"unexpected exchange class in the url dedup plan:\n$p")
    assert(!p.contains("text#"), s"document text in the url dedup plan:\n$p")
  }

  // x98: the distilled student's report aggregates AFTER the map-only
  // scoring fold — exactly one hash exchange (the partial-agg'd slim
  // (teacher, student) rows) plus the presentation sort; corpus text is
  // never hash-shuffled, and round-robin'd only by the declared form's
  // one guarded spread (as for x68/x71)
  test("distill scoring frame exchanges only slim agg rows, never corpus text") {
    val p = textOf(Seq(built("x98_quality_distill").framePlan))
    exchangesBeyondSpread(p) // at most one round-robin spread
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"$hashEx hash exchanges (one slim agg expected):\n$p")
    assert(!p.contains("Join"), s"join in the distill scoring plan:\n$p")
  }

  test("column pruning reaches the parquet scan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // sparkPlan, not executedPlan: the AQE wrapper hides its input plan
    // from collect() until execution
    def scans(df: DataFrame) = df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s
    }
    // x21 selects (lang, doc_id): the text column must not be scanned
    val df = SparkEntry.queries("x21_hash_sample")(spark, sf())
    val cols = scans(df).flatMap(_.schema.fieldNames).toSet
    assert(cols == Set("lang", "doc_id"), s"scanned: $cols")
  }

  // filter pushdown: a doc_id predicate over the parquet scan must reach
  // PushedFilters, not evaluate post-scan
  test("filter pushdown reaches the parquet scan") {
    val df = graft.Tables.load(spark, sf(), "documents")
      .filter(org.apache.spark.sql.functions.col("doc_id") === 42L)
      .select("doc_id", "lang")
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,42)]"),
      s"plan:\n$p")
  }

  // the x85 refresh's distributed fallback (a delta over the driver
  // budget) picks the fresh documents out through a broadcast semi-join
  // under an `observe` barrier: the curation gates stay above the join
  // and see the delta's rows only, and no Exchange moves corpus text
  test("x85 refresh fallback gates only the delta and shuffles no text") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val docs = Tables.load(spark, sf(), "documents")
    val v1 = docs.filter(col("doc_id") % 7 =!= 2)
    val v2 = docs.filter(col("doc_id") % 11 =!= 3)
    val freshIds = graft.ext.CorpusDiff.diff(v1, v2, "doc_id", "text")
      .filter(col("status").isin("added", "changed")).select("doc_id")
    val df = graft.ext.Refresh.freshPerDoc(v2, freshIds, graft.ext.Refresh.Params(), identity)
    val plan: SparkPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val shown = plan.treeString
    // the gate Filter: the one reading the text (language, quality,
    // repetition) and the id sample
    val gates = plan.collect { case f: FilterExec
      if f.condition.references.exists(_.name == "text") &&
        f.condition.toString.contains("md5") => f }
    assert(gates.nonEmpty, s"no gate filter found:\n$shown")
    gates.foreach { f =>
      assert(f.child.exists {
        case j: BaseJoinExec => j.joinType == LeftSemi
        case _ => false
      }, s"a gate filter runs below the fresh-id semi-join:\n$shown")
    }
    val textExchanges = plan.collect {
      case e: Exchange if e.output.exists(_.name == "text") => e }
    assert(textExchanges.isEmpty, s"an Exchange carries corpus text:\n$shown")
  }
}
