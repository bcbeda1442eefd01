package graft

/** Dev smoke: drives the driver-facing surface — `SparkEntry.entry` and a
  * couple of cross-checks that the oracle can't express (MinHash recall
  * vs exact Jaccard, ANN vs brute-force overlap). Run:
  *   sbt "runMain graft.Smoke [sfDir]"
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.profile(8)
    spark.sparkContext.setLogLevel("ERROR")

    val e = SparkEntry.entry(spark)
    println(s"ENTRY_ROWS=${e.count()}")
    e.show(6, truncate = false)

    // Loader-break tripwire (r8 regression: fixture re-encode → analysis
    // exceptions in 11 queries that only the driver run surfaced). Force
    // analysis+optimization of EVERY declared query at EVERY SF and fail
    // loudly on any throw. NOTE: this is NOT job-free — constructing the
    // trained-artifact queries (x23/x25/x68/x70/x71/x75, …) runs their
    // real driver-side training jobs (dupClusters iterations, nbTrain /
    // dsirRatioMapTagged / pqTrain collects), memoized per (session,
    // dir); at sf0.1 that is the full training cost, paid once here.
    val analysisFailures = for {
      d <- Seq("sf0.001", "sf0.01", "sf0.1")
      name <- SparkEntry.queries.keys.toSeq.sorted
      err <- util.Try {
        SparkEntry.queries(name)(spark, s"/root/testdata/$d").queryExecution.optimizedPlan
      }.failed.toOption.map(t => s"$d/$name: ${t.getMessage.linesIterator.next()}")
    } yield err
    analysisFailures.foreach(f => println(s"ANALYSIS_FAIL $f"))
    require(analysisFailures.isEmpty,
      s"${analysisFailures.size} declared queries fail analysis (see ANALYSIS_FAIL lines)")
    println(s"ANALYSIS_OK ${SparkEntry.queries.size} queries x 3 SFs")

    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def pairs(name: String) = pairsOf(SparkEntry.queries(name)(spark, sfDir))
    val ex = pairs("x02_jaccard_pairs")
    val mh = pairs("x09_minhash_pairs")
    println(s"MINHASH exact=${ex.size} lsh=${mh.size} " +
      s"recall=${if (ex.isEmpty) 1.0 else ex.intersect(mh).size.toDouble / ex.size}")

    // x29/x11's declared forms are property rows since r7 — cross-check
    // the underlying operators directly at the declared budgets
    val embAll = Tables.load(spark, sfDir, "embeddings")
    val exEmb = pairs("x16_embedding_dups")
    val blEmb = pairsOf(ext.Dedup.embeddingNearDupPairsBlocked(
      embAll, threshold = 0.45, nlist = 16, nprobe = 4,
      centroids = Some(ext.Similarity.kmeansCentroids(embAll, k = 16))))
    println(s"EMB_BLOCKED exact=${exEmb.size} blocked=${blEmb.size} " +
      s"recall=${if (exEmb.isEmpty) 1.0 else exEmb.intersect(blEmb).size.toDouble / exEmb.size}")

    def topk(name: String) =
      SparkEntry.queries(name)(spark, sfDir)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = topk("x03_cosine_topk")
    val ann = ext.Similarity.ivfTopK(
        embAll.filter(org.apache.spark.sql.functions.col("vec_id") % 50 === 0),
        embAll, k = 5, nlist = 32, nprobe = 8)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    println(s"ANN bf=${bf.size} lsh=${ann.size} " +
      s"overlap=${if (bf.isEmpty) 1.0 else bf.intersect(ann).size.toDouble / bf.size}")

    // IVF with Lloyd-trained vs hash-sampled centroids at equal probe
    // budget. On these weakly-clustered synthetic vectors the two are
    // within noise of each other (training pays off on clustered data;
    // the k-means objective itself does improve — spec-asserted) — both
    // printed for the record, nothing asserted.
    import org.apache.spark.sql.functions.col
    val q = embAll.filter(col("vec_id") % 50 === 0)
    val trained = ext.Similarity.kmeansCentroids(embAll, k = 8, iters = 3)
    val annT = ext.Similarity.ivfTopK(q, embAll, k = 5, nlist = 8, nprobe = 2,
      centroids = Some(trained))
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val annS = ext.Similarity.ivfTopK(q, embAll, k = 5, nlist = 8, nprobe = 2)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def ov(s: Set[(Long, Long)]) =
      if (bf.isEmpty) 1.0 else bf.intersect(s).size.toDouble / bf.size
    println(f"ANN_TRAINED sampled_overlap=${ov(annS)}%.2f trained_overlap=${ov(annT)}%.2f")

    spark.stop()
  }
}
