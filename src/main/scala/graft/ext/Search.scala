package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Keyword search over the documents table: BM25 ranking (the standard
  * lexical retrieval scorer; Lucene's idf variant `ln(1 + (N-df+0.5)/(df+0.5))`
  * so idf is always positive).
  *
  * Scale design (100 TB of documents):
  *  - the term explode is filtered to the QUERY terms immediately — the
  *    per-(doc, term) shuffle carries only rows whose term is in the
  *    query, i.e. output is proportional to matching docs, not corpus size.
  *  - corpus-level stats (N, avgdl) and per-term df are tiny aggregates,
  *    re-joined via broadcast; the corpus is shuffled once, on doc_id,
  *    for the per-doc score sum.
  *  - top-k goes through orderBy+limit, which Spark plans as
  *    TakeOrderedAndProject: per-partition bounded heaps, k rows to the
  *    driver — no global sort at any scale.
  *
  * Materialization: follows the [[Dedup]] policy — persisted-with-lineage
  * intermediate, eagerly-driven `localCheckpoint(true)` result. The
  * returned k-row frame is NOT fault-tolerant past job completion (see
  * the Dedup policy note); consume or collect it promptly on
  * preemptible infra.
  */
object Search {

  /** BM25 top-k documents for a bag-of-words query. */
  def bm25TopK(docs: DataFrame, textCol: String, idCol: String,
               queryTerms: Seq[String], k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = Dedup.tokens(col(textCol))
    // ONE corpus scan: doc length for the global stats, plus the tokens
    // pruned to the query terms INSIDE the array (before explode — the
    // exploded row count is proportional to query-term hits, not total
    // corpus tokens). The persisted frame is (id, int, tiny array).
    val base0 = docs.select(
      col(idCol).as("doc_id"),
      size(toks).as("dl"),
      filter(toks, t => queryTerms.map(q => t === q).reduce(_ || _)).as("qtoks"))
    // corpus-sized (one slim row per doc), the result k rows: the
    // Dedup policy's shape
    Dedup.materialized(base0) { base =>
      val global = base.agg(count(lit(1)).cast("double").as("n"),
        avg(col("dl")).as("avgdl"))
      // dl rides along with the postings — no separate length join
      val postings = base.select(col("doc_id"), col("dl"),
        explode(col("qtoks")).as("term"))
      val tf = postings.groupBy("doc_id", "term")
        .agg(count(lit(1)).cast("double").as("tf"), first(col("dl")).as("dl"))
      val df = postings.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).cast("double").as("df"))
      tf.join(broadcast(df), "term")
        .crossJoin(broadcast(global))
        .withColumn("contrib",
          log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
            col("tf") * (k1 + 1) /
            (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
        .groupBy("doc_id")
        .agg(round(sum(col("contrib")), 6).as("score"))
        .orderBy(desc("score"), col("doc_id"))
        .limit(k)
    }
  }

  /** X8b: hybrid retrieval — reciprocal-rank fusion (RRF, the standard
    * score-free fusion rule) of a BM25 lexical ranking and an embedding
    * cosine ranking over the same corpus:
    * `rrf(d) = 1/(c + lex_rank(d)) + 1/(c + sem_rank(d))`, a ranking
    * absent from either list contributing 0. Returns the fused top `k`:
    * (doc_id, rrf_score, lex_rank, sem_rank), rank 0 = "not in that
    * retriever's top `kRetrieve`". Both ranks order by the ROUNDED
    * (6 dp) retrieval score with doc_id tie-break — rounding before
    * ranking is what makes the ranks engine-portable (an ulp of
    * float-sum drift cannot swap two ranks).
    *
    * Scale (100 TB): each retriever does its heavy work in its own
    * proven plan — BM25 prunes postings to query terms and bound-heaps
    * via TakeOrderedAndProject; the semantic side is a map-only cosine
    * against the broadcast query literal, also TakeOrderedAndProject.
    * Fusion itself touches 2 x kRetrieve rows — dimension-sized by
    * construction, so its single-partition rank windows and the full
    * outer join are free at any corpus size.
    */
  def hybridTopK(docs: DataFrame, textCol: String, idCol: String,
                 emb: DataFrame, queryTerms: Seq[String],
                 queryVec: Seq[Double], k: Int = 10, kRetrieve: Int = 50,
                 c: Int = 60, embIdCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lexTop = bm25TopK(docs, textCol, idCol, queryTerms, kRetrieve)
    val wLex = Window.orderBy(desc("score"), col("doc_id"))
    val lex = lexTop.select(col("doc_id"),
      row_number().over(wLex).cast("long").as("lex_rank"))
    val sem0 = emb.select(col(embIdCol).as("doc_id"),
        round(Similarity.cosine(col(vecCol).cast("array<double>"),
          typedLit(queryVec)), 6).as("sim"))
      .orderBy(desc("sim"), col("doc_id")).limit(kRetrieve)
    val wSem = Window.orderBy(desc("sim"), col("doc_id"))
    val sem = sem0.select(col("doc_id"),
      row_number().over(wSem).cast("long").as("sem_rank"))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        round(coalesce(lit(1.0) / (col("lex_rank") + c), lit(0.0)) +
          coalesce(lit(1.0) / (col("sem_rank") + c), lit(0.0)), 6)
          .as("rrf_score"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("sem_rank"), lit(0L)).as("sem_rank"))
      .orderBy(desc("rrf_score"), col("doc_id"))
      .limit(k)
  }
}
