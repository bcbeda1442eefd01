package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** X3/X4: similarity search over embedding columns (SURVEY §2.9).
  *
  * Scale design (billions of vectors):
  *  - the query set is small -> `broadcast(queries)`, so brute-force is a
  *    map-only broadcast nested-loop: no shuffle of the corpus, perfectly
  *    parallel, and the per-query top-k is a bounded window per query key.
  *  - the LSH path (random hyperplanes) buckets the corpus once (map-only
  *    signature) and joins query buckets to corpus buckets — probing only
  *    a fraction of the corpus per query; recall is tunable via number of
  *    hyperplanes / multi-probe.
  */
object Similarity {

  /** Cosine similarity of two array<double> columns — native one-pass
    * expression (graft.functions.CosineSimilarity); bit-identical to the
    * built-ins form below but with no per-row array allocation.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity.cosine_sim(a, b)

  /** Built-ins-only formulation (zip_with/aggregate) — kept as the
    * zero-custom-surface fallback; same accumulation order and final
    * divide as the native expression.
    */
  def cosineBuiltins(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)
    val na = sqrt(aggregate(a, lit(0.0d), (acc, v) => acc + v * v))
    val nb = sqrt(aggregate(b, lit(0.0d), (acc, v) => acc + v * v))
    dot / (na * nb)
  }

  /** Brute-force exact top-k cosine neighbors for each query vector.
    * `queries` is broadcast; ties broken by neighbor id ascending.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(
      col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv")))
    val c = corpus.select(
      col(idCol).as("neighbor_id"), col(vecCol).cast("array<double>").as("cv"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("sim"), 6).as("sim"))
  }

  /** Brute-force exact top-k via the custom bounded-heap aggregate
    * (graft.functions.TopKByScore) instead of window+row_number: one hash
    * aggregation with map-side partial reduction to k rows per group —
    * the plan to run at 100 TB (same results as `bruteForceTopK`).
    */
  def bruteForceTopKAgg(queries: DataFrame, corpus: DataFrame, k: Int,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import graft.functions.TopKByScore.top_k_by_score
    val q = broadcast(queries.select(
      col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv")))
    val c = corpus.select(
      col(idCol).as("neighbor_id"), col(vecCol).cast("array<double>").as("cv"))
    q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"),
        cosine(col("qv"), col("cv")).as("sim"), col("neighbor_id"))
      .groupBy("query_id")
      .agg(top_k_by_score(col("sim"), col("neighbor_id"), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("pos", "t")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("t.id").as("neighbor_id"), round(col("t.score"), 6).as("sim"))
  }

  /** Deterministic random hyperplanes for sign-LSH: `planes(i)(d)`.
    * At most 64: [[lshBucket]] packs one bit per plane into a single
    * long, and `shiftleft(1L, i)` wraps mod 64 in Java — a 65th plane
    * would silently OR-corrupt bit 0 (the same overflow `bandedFrame`
    * rejects; guarding here covers every lshBucket caller).
    */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    require(numPlanes <= 64,
      s"sign-LSH signatures pack into one long: numPlanes must be <= 64 (got $numPlanes)")
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-LSH bucket id: bit i = sign of dot(vec, plane_i). Map-only. */
  def lshBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val dot = aggregate(zip_with(vec, typedLit(p), (x, w) => x * w),
        lit(0.0d), (acc, v) => acc + v)
      when(dot >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))

  /** IVF-Flat approximate top-k (the scale path for weakly-clustered
    * embeddings, where sign-LSH single-probe recall collapses):
    *  1. pick `nlist` centroids deterministically (hash-sampled corpus rows;
    *     a k-means refinement can be slotted in without changing the plan),
    *  2. assign every corpus vector to its nearest centroid — map-only,
    *     centroids are literals baked into one codegen'd argmax expression,
    *  3. each query probes its `nprobe` nearest centroid cells and re-ranks
    *     exactly within them: probes ~nprobe/nlist of the corpus.
    * At 100 TB the corpus-side assignment is a one-off bucketing write
    * (partitionBy(cell)) and queries touch only probed cells.
    */
  /** Deterministic centroid init: the `k` corpus rows with smallest
    * hash(id) — an unbiased sample that is stable across runs/engines.
    */
  def sampledCentroids(corpus: DataFrame, k: Int,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): Array[Array[Double]] =
    corpus.select(col(idCol), col(vecCol).cast("array<double>"))
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(k).collect()
      .map(_.getSeq[Double](1).toArray)

  /** IVF training: Lloyd iterations with cosine assignment (spherical
    * k-means; centroid scale is irrelevant to cosine, so means are not
    * normalized). Each iteration is ONE distributed pass: assignment is
    * map-only (centroids ride as a codegen reference object), and the
    * mean update posexplodes to (cell, pos, x) — map-side partial
    * aggregation means the shuffle carries k*dim partial sums per task,
    * never the vectors. Only k*dim means hit the driver per iteration.
    * Deterministic: hash-sampled init + fixed iteration count. Empty
    * cells keep their previous centroid.
    */
  def kmeansCentroids(corpus: DataFrame, k: Int, iters: Int = 3,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): Array[Array[Double]] = {
    import graft.functions.NearestCells.nearest_cells
    val c = corpus.select(col(vecCol).cast("array<double>").as("v")).persist()
    var cents = sampledCentroids(corpus, k, idCol, vecCol)
    // a corpus with fewer than k rows yields fewer sampled centroids —
    // iterate over what exists (every row its own cell) instead of
    // indexing past the sample (decontam trains on the BENCHMARK side,
    // which can be smaller than nlist)
    val kEff = cents.length
    for (_ <- 0 until iters) {
      val meanRows = c
        .withColumn("cell", element_at(nearest_cells(col("v"), cents, 1), 1))
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cell", "pos").agg(avg(col("x")).as("m"))
        .collect()
      val byCell = meanRows.groupBy(_.getInt(0))
      cents = Array.tabulate(kEff) { i =>
        byCell.get(i) // nearest_cells emits 0-based centroid indices
          .map(_.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray)
          .getOrElse(cents(i))
      }
    }
    c.unpersist()
    cents
  }

  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nlist: Int = 32, nprobe: Int = 8,
              idCol: String = "vec_id", vecCol: String = "embedding",
              centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val c = corpus.select(
      col(idCol).as("neighbor_id"), col(vecCol).cast("array<double>").as("cv"))
    // deterministic centroid sample unless trained centroids are supplied
    val cents: Array[Array[Double]] =
      centroids.getOrElse(sampledCentroids(corpus, nlist, idCol, vecCol))
    // centroid argmax/top-nprobe via the native NearestCells expression —
    // centroids ride as a codegen reference object, not literals
    import graft.functions.NearestCells.nearest_cells
    val assigned = c.withColumn("cell",
      element_at(nearest_cells(col("cv"), cents, 1), 1))
    val probed = broadcast(queries.select(
        col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("cell", explode(nearest_cells(col("qv"), cents, nprobe))))
    val scored = probed.join(assigned, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("sim"), 6).as("sim"))
  }

  /** Product-quantization codebooks (X3e — the memory-compression
    * companion to [[quantizeInt8]]: int8 shrinks 8x, PQ shrinks
    * dim*8 bytes to m bytes, 64x at the declared m=8/dim=64): the
    * vector splits into `m` contiguous subspaces and each gets its own
    * spherical-k-means codebook of `codebookSize` centroids (reusing
    * [[kmeansCentroids]] — cosine assignment everywhere, consistent
    * with the engine's similarity metric). Returns
    * codebooks(subspace)(centroid)(component). Deterministic
    * (hash-sampled init, fixed iterations). At 100 TB this trains once
    * per corpus refresh (m * iters distributed passes) and the
    * codebooks — m * codebookSize * (dim/m) doubles, kilobytes — ship
    * to every consumer as a literal.
    */
  def pqTrain(corpus: DataFrame, m: Int, dim: Int, codebookSize: Int = 16,
              iters: Int = 3, idCol: String = "vec_id",
              vecCol: String = "embedding"): Array[Array[Array[Double]]] = {
    require(m > 0 && dim % m == 0, s"dim $dim must divide into m $m subspaces")
    import graft.functions.NearestCells.nearest_cells
    val sub = dim / m
    val v = col(vecCol).cast("array<double>")
    // ONE hash-sample pass seeds every subspace: the sample order is
    // xxhash64(id) — independent of the slice — so slicing the same
    // sampled rows per subspace yields exactly the per-subspace sample
    // the sequential form drew (1 job instead of m)
    val seeds = corpus.select(col(idCol), v.as("v"))
      .orderBy(xxhash64(col(idCol)), col(idCol)).limit(codebookSize)
      .collect().map(_.getSeq[Double](1).toArray)
    val kEff = seeds.length
    var cbs: Array[Array[Array[Double]]] =
      Array.tabulate(m)(s => seeds.map(_.slice(s * sub, (s + 1) * sub)))
    // all m subspaces train in the SAME distributed pass per iteration:
    // explode each vector to its m (subspace, subvector) rows — m× rows
    // but 1/m bytes each, so the pass carries the same volume as one
    // full-vector scan — and aggregate means per (subspace, cell, pos).
    // m * iters + 1 jobs become iters + 1 (32 → 4 at m=8/iters=3).
    val subs = corpus
      .select(posexplode(transform(sequence(lit(0), lit(m - 1)),
        s => slice(v, s * sub + 1, lit(sub)))).as(Seq("s", "sv")))
      .persist()
    try {
      for (_ <- 0 until iters) {
        // per-subspace spherical assignment: an m-branch CASE over the
        // subspace tag (each NearestCells instance holds one codebook
        // as a codegen reference object, and evaluates only on its rows)
        val cell = (1 until m).foldLeft(
          when(col("s") === 0, element_at(nearest_cells(col("sv"), cbs(0), 1), 1))) {
          (w, s2) =>
            w.when(col("s") === s2, element_at(nearest_cells(col("sv"), cbs(s2), 1), 1))
        }
        val meanRows = subs.withColumn("cell", cell)
          .select(col("s"), col("cell"), posexplode(col("sv")).as(Seq("pos", "x")))
          .groupBy("s", "cell", "pos").agg(avg(col("x")).as("mn"))
          .collect() // <= m * codebookSize * sub rows — kilobytes
        val bySub = meanRows.groupBy(_.getInt(0))
        cbs = Array.tabulate(m) { s =>
          val byCell = bySub.getOrElse(s, Array.empty[org.apache.spark.sql.Row])
            .groupBy(_.getInt(1))
          Array.tabulate(kEff)(c => byCell.get(c) // empty cells keep centroids
            .map(_.sortBy(_.getInt(2)).map(_.getDouble(3)).toArray)
            .getOrElse(cbs(s)(c)))
        }
      }
    } finally subs.unpersist()
    cbs
  }

  /** PQ encode: (id, codes array<int> of length m) — each code is the
    * nearest codebook centroid of that subspace slice ([[graft.functions.NearestCells]]
    * top-1 per subspace, map-only; the codebooks ride as codegen
    * reference objects, never literals). The codes frame IS the
    * compressed ANN state a 100 TB deployment persists.
    */
  def pqEncode(corpus: DataFrame, codebooks: Array[Array[Array[Double]]],
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    import graft.functions.NearestCells.nearest_cells
    val sub = codebooks(0)(0).length
    val v = col(vecCol).cast("array<double>")
    corpus.select(col(idCol),
      array(codebooks.zipWithIndex.map { case (cb, s) =>
        element_at(nearest_cells(slice(v, s * sub + 1, sub), cb, 1), 1)
          .cast("int")
      }: _*).as("codes"))
  }

  /** PQ decode: reconstruct each vector as the concatenation of its
    * chosen centroids, via the codegen'd [[graft.functions.PqReconstruct]]
    * expression — one map-only projection, zero shuffles (the codebook
    * tensor rides as a codegen reference object, never literals — the
    * NearestCells lesson). The inner product against a reconstruction
    * equals the classic per-subspace ADC table sum exactly, so
    * cosine(query, decoded) IS asymmetric distance computation; fusing
    * decode into the scan projection keeps the whole encode+ADC path
    * inside one WholeStageCodegen span.
    */
  def pqDecode(codes: DataFrame, codebooks: Array[Array[Array[Double]]],
               idCol: String = "vec_id"): DataFrame = {
    import graft.functions.PqReconstruct.pq_reconstruct
    codes.select(col(idCol),
      pq_reconstruct(col("codes"), codebooks).as("decoded"))
  }

  /** PQ ANN top-k: ADC scan of the reconstructed corpus (cosine against
    * the decoded vectors — mathematically the per-subspace table-lookup
    * sum), optionally refined: take `refine` ADC candidates, re-rank by
    * EXACT cosine against the original vectors (the int8/IVF cold-store
    * pattern), return the top `k`. PQ is compression, not pruning —
    * compose with IVF cells when the scan itself must shrink.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int, m: Int,
             dim: Int, codebookSize: Int = 16, refine: Int = 32,
             codebooks: Option[Array[Array[Array[Double]]]] = None,
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    import graft.functions.TopKByScore.top_k_by_score
    val cbs = codebooks.getOrElse(pqTrain(corpus, m, dim, codebookSize,
      idCol = idCol, vecCol = vecCol))
    val dec = pqDecode(pqEncode(corpus, cbs, idCol, vecCol), cbs, idCol)
      .select(col(idCol), col("decoded").as(vecCol))
    val cand = bruteForceTopKAgg(queries, dec, math.max(refine, k),
      idCol, vecCol).select("query_id", "neighbor_id")
    val qv = broadcast(queries.select(
      col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv")))
    val cv = corpus.select(
      col(idCol).as("neighbor_id"), col(vecCol).cast("array<double>").as("cv"))
    cand.join(cv, "neighbor_id").join(qv, "query_id")
      .select(col("query_id"), cosine(col("qv"), col("cv")).as("sim"),
        col("neighbor_id"))
      .groupBy("query_id")
      .agg(top_k_by_score(col("sim"), col("neighbor_id"), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("pos", "t")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("t.id").as("neighbor_id"), round(col("t.score"), 6).as("sim"))
  }

  /** IVF-PQ top-k (X3e+X3-adj composition — the production ANN shape):
    * IVF cells PRUNE the scan (each query touches ~nprobe/nlist of the
    * corpus), PQ codes COMPRESS what's scanned (~100x smaller resident
    * state), and the final `k` come from an exact re-rank of the
    * surviving `refine` candidates against the original vectors in
    * cold storage. Cell assignment runs over the ORIGINAL vectors
    * (quantization error must not move a vector across a cell
    * boundary); the ADC scan runs over the reconstructed ones. At
    * 100 TB: centroids + codebooks are kilobyte one-off artifacts, the
    * (id, cell, codes) frame is the persisted index, and a query batch
    * costs one broadcast probe join over nprobe cells.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                nlist: Int = 32, nprobe: Int = 12, m: Int = 8,
                dim: Int = 64, codebookSize: Int = 32, refine: Int = 100,
                centroids: Option[Array[Array[Double]]] = None,
                codebooks: Option[Array[Array[Array[Double]]]] = None,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    import graft.functions.NearestCells.nearest_cells
    import graft.functions.TopKByScore.top_k_by_score
    val cents = centroids.getOrElse(sampledCentroids(corpus, nlist, idCol, vecCol))
    val cbs = codebooks.getOrElse(pqTrain(corpus, m, dim, codebookSize,
      idCol = idCol, vecCol = vecCol))
    val c = corpus.select(
      col(idCol).as("neighbor_id"), col(vecCol).cast("array<double>").as("cv"))
    // the persisted index: (neighbor_id, cell, decoded) — cell from the
    // original vector, decoded from the PQ codes
    val cells = c.select(col("neighbor_id"),
      element_at(nearest_cells(col("cv"), cents, 1), 1).as("cell"))
    val index = pqDecode(
      pqEncode(c, cbs, "neighbor_id", "cv"), cbs, "neighbor_id")
      .join(cells, "neighbor_id")
    val probed = broadcast(queries.select(
        col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("cell", explode(nearest_cells(col("qv"), cents, nprobe))))
    // ADC inside the probed cells only, bounded-heap top-refine
    val cand = probed.join(index, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"),
        cosine(col("qv"), col("decoded")).as("adc"), col("neighbor_id"))
      .groupBy("query_id")
      .agg(top_k_by_score(col("adc"), col("neighbor_id"),
        math.max(refine, k)).as("topk"))
      .select(col("query_id"), explode(col("topk").getField("id"))
        .as("neighbor_id"))
    // exact re-rank from the original vectors
    val qv = broadcast(queries.select(
      col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv")))
    cand.join(c, "neighbor_id").join(qv, "query_id")
      .select(col("query_id"), cosine(col("qv"), col("cv")).as("sim"),
        col("neighbor_id"))
      .groupBy("query_id")
      .agg(top_k_by_score(col("sim"), col("neighbor_id"), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("pos", "t")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("t.id").as("neighbor_id"), round(col("t.score"), 6).as("sim"))
  }

  /** Int8 scalar quantization of an embedding column — the memory lever
    * for ANN at 100 TB: a 64-dim float32 vector is 256 bytes, its int8
    * form is 64 bytes + one float scale (4x smaller state for the
    * IVF/LSH candidate structures; the full-precision vectors stay in
    * cold storage for final re-ranking). Per-vector max-abs scaling:
    * `q_i = round(x_i / scale * 127)` with `scale = max|x_i|`, so every
    * component lands in [-127, 127] with no clamp branch. Map-only,
    * deterministic, engine-portable (plain IEEE double arithmetic +
    * half-away-from-zero rounding on both Spark and the oracle side).
    * Output: (id, scale, q array<int>); [[dequantize]] inverts with
    * `q_i * scale / 127`. An all-zero vector quantizes to zeros with
    * scale 0 (dequantizes to zeros, excluded from cosine checks).
    */
  def quantizeInt8(vecs: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    vecs.select(col(idCol),
        v.as("v"), array_max(transform(v, x => abs(x))).as("scale"))
      .select(col(idCol), col("scale"),
        when(col("scale") === 0d, transform(col("v"), _ => lit(0)))
          .otherwise(transform(col("v"),
            x => round(x / col("scale") * 127d).cast("int"))).as("q"))
  }

  /** Inverse of [[quantizeInt8]] (array<double> reconstruction). */
  def dequantize(q: Column, scale: Column): Column =
    when(scale === 0d, transform(q, _ => lit(0.0d)))
      .otherwise(transform(q, qi => qi.cast("double") * scale / 127d))

  /** The ±1/√k sign matrix behind [[randomProjection]] (Achlioptas 2003
    * "database-friendly" JL — signs, not Gaussians, so the projection
    * is exact integer-weighted sums and engine-portable). Entry (j, c)
    * takes its sign from the parity of the first md5 byte of
    * "rp:salt:j:c" — deterministic, seedable, and replayable by any
    * engine with md5 (the corpus-wide randomness convention).
    */
  def signMatrix(outDim: Int, dim: Int, salt: String): Array[Array[Double]] = {
    Array.tabulate(outDim, dim) { (j, c) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"rp:$salt:$j:$c".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (java.lang.Long.parseLong(hex.substring(0, 2), 16) % 2 == 0) 1.0
      else -1.0
    }
  }

  /** X3f: Johnson–Lindenstrauss random projection — the DIMENSION lever
    * of the embedding-compression family, next to [[quantizeInt8]]'s
    * precision lever and [[pqEncode]]'s codebook lever: project d-dim
    * vectors to `outDim` dims with pairwise inner products preserved in
    * expectation (error ~ 1/√outDim), for cheap pre-filtering, sketch
    * storage, or as the input to a downstream coarse quantizer.
    *
    * `proj_j = (1/√outDim) · Σ_c S_jc · v_c` with S = [[signMatrix]].
    * The matrix rides into the plan as ONE array literal (a codegen
    * reference object — Catalyst never inlines complex literals into
    * generated source) and the whole operator is a per-row expression:
    * map-only, zero shuffles at any corpus size, streams unchanged.
    * Left-fold summation in index order keeps the arithmetic
    * bit-reproducible cross-engine (the oracle folds the same order).
    */
  def randomProjection(vec: Column, outDim: Int, dim: Int,
                       salt: String = "jl"): Column = {
    require(outDim > 0 && dim > 0, s"bad dims ($outDim x $dim)")
    val sLit = typedLit(signMatrix(outDim, dim, salt).map(_.toSeq).toSeq)
    val v = vec.cast("array<double>")
    transform(sequence(lit(1), lit(outDim)), j =>
      aggregate(zip_with(v, element_at(sLit, j), (a, b) => a * b),
        lit(0.0), (acc, x) => acc + x) / math.sqrt(outDim.toDouble))
  }

  /** Approximate top-k: bucket corpus + queries with sign-LSH, rank only
    * within the query's bucket. Trades recall for probing ~corpus/2^p.
    * NOTE: single-probe sign-LSH only has useful recall when true
    * neighbors are strongly similar (sim >~ 0.8); for weakly-correlated
    * corpora prefer `ivfTopK`.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, numPlanes: Int,
              dim: Int, seed: Long = 42L,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val planes = hyperplanes(numPlanes, dim, seed)
    val q = broadcast(queries.select(
      col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("bucket", lshBucket(col("qv"), planes)))
    val c = corpus.select(
      col(idCol).as("neighbor_id"), col(vecCol).cast("array<double>").as("cv"))
      .withColumn("bucket", lshBucket(col("cv"), planes))
    val scored = q.join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("sim"), 6).as("sim"))
  }

  /** Banded (OR-amplified) sign-LSH top-k — the LSH-bucketed scale path
    * with tunable recall, fixing [[lshTopK]]'s single-probe collapse on
    * weakly-correlated corpora: the signature's `bands * bitsPerBand`
    * bits split into `bands` independent buckets and a corpus vector is
    * a candidate if it collides with the query in ANY band (recall
    * `1 - (1 - p^r)^b` instead of `p^rb`). Candidates are deduplicated
    * to (query, neighbor) BEFORE the exact cosine re-rank, so each
    * survivor is scored once.
    *
    * Scale: corpus bucketing is one map-only pass emitting `bands` slim
    * (band, bucket, id) rows per vector; the candidate join is a
    * broadcast equi-join on (band, bucket) against the query side — the
    * corpus never shuffles, and per-query work is ~`bands` bucket scans
    * instead of the full corpus. At 100 TB the banded corpus index is a
    * one-off write (partitionBy(band, bucket)) reused across query
    * batches, and the vectors it carries can be [[quantizeInt8]] forms
    * re-ranked from cold storage.
    */
  /** One (id, vec, band, bucket) row per (vector, band) — the shared
    * banding for [[lshTopKBanded]] and the streaming batch-index /
    * stream-query form (graft.streaming.StreamSimilarity); one code
    * path, so the two cannot drift. Map-only: the signature is
    * materialized as a column FIRST so the bands*bits dot products
    * evaluate once per row, not once per band struct.
    */
  private[graft] def bandedFrame(df: DataFrame, id: String, vec: String,
                                 bands: Int, bitsPerBand: Int,
                                 planes: Seq[Seq[Double]],
                                 idCol: String, vecCol: String): DataFrame = {
    // the signature is ONE packed long: a 65th plane would wrap the
    // shift mod 64 and OR-corrupt bit 0 silently
    require(bands * bitsPerBand <= 64,
      s"signature overflow: bands * bitsPerBand must be <= 64 " +
        s"(got $bands * $bitsPerBand = ${bands * bitsPerBand})")
    val mask = (1L << bitsPerBand) - 1
    val withSig = df.select(col(idCol).as(id),
      col(vecCol).cast("array<double>").as(vec),
      lshBucket(col(vecCol).cast("array<double>"), planes).as("sig"))
    val bandStructs = (0 until bands).map { bi =>
      struct(lit(bi).as("band"),
        shiftrightunsigned(col("sig"), bi * bitsPerBand)
          .bitwiseAND(lit(mask)).as("bucket"))
    }
    withSig.select(col(id), col(vec),
        explode(array(bandStructs: _*)).as("bb"))
      .select(col(id), col(vec), col("bb.band"), col("bb.bucket"))
  }

  /** Deterministic per-(band, bucket) size cap — the ANN analogue of
    * Dedup's `maxDocFreq` stop-shingle guard: a bucket holding far more
    * than the expected `n / 2^bitsPerBand` occupancy is a degenerate
    * hash region (clustered data piling into one signature), and at
    * 100 TB one such mega-bucket is an unbounded per-query candidate
    * scan.
    *
    * Hash-threshold formulation (r8, replacing the row_number window
    * form): hot buckets are detected on a deterministic 1-in-16 id
    * sample — the sample predicate references only the id, so Catalyst
    * pushes it below the banding projection and the sizing pass costs
    * ~1/16 of a banding pass, with the count shuffle carrying slim
    * (band, bucket, n) rows. Estimated occupancy = 16·sample count; the
    * over-cap buckets are collected once at operator build and inlined
    * as a literal map (pathological by definition, so a handful — at
    * most bands·2^bits cluster-metadata triples, never data; repeated
    * actions over the capped frame pay no per-action sizing job, no
    * broadcast and no join), and each row of a hot bucket survives iff
    * `xxhash64(band, bucket, id) mod est < cap` — a deterministic,
    * similarity-blind uniform sample, trimming only what a hot bucket
    * could tell you least about. The banded corpus itself is NEVER
    * exchanged or sorted (PlanSpec gate): the window form's exact ≤ cap
    * bound cost a full shuffle + sort of every banded row — measured 2×
    * the uncapped runtime on the hot-bucket fixture, i.e. the guard cost
    * more than the degeneracy it guarded — and a full-count variant
    * still paid one extra whole banding pass. This form binds the
    * bucket at cap in expectation (survival Binomial plus ~√(16·size)
    * size-estimate noise: a few percent wherever the cap matters;
    * sub-threshold buckets are untouched EXACTLY, and detection noise
    * only matters inside the sampling band — a bucket up to ~1.6× cap
    * can escape detection and pass untrimmed, which is fine because the
    * guard exists for the orders-of-magnitude mega-bucket, not the
    * boundary: this is a work bound, not an exact-size contract). Size
    * the cap a few multiples above expected occupancy (recall deltas
    * measured in tools/BoundProbe, provenance in BASELINE.md).
    */
  def capBuckets(banded: DataFrame, maxBucketSize: Int,
                 idCol: String): DataFrame = {
    require(maxBucketSize > 0,
      s"maxBucketSize must be positive (got $maxBucketSize)")
    val p = 16L
    // ONE eager driver-side sizing pass at operator build (the
    // Routing.assignByIndex offsets convention): the result is at most
    // bands * 2^bits (band, bucket, est) triples — cluster metadata,
    // never data — inlined below as a literal map, so repeated actions
    // over the capped frame pay NO per-action sizing job, no broadcast
    // exchange and no join (an earlier broadcast-left-outer-join form
    // cost more than the mega-bucket scans it trimmed)
    val hotRows = banded
      .filter(pmod(xxhash64(col(idCol)), lit(p)) === 0)
      .groupBy("band", "bucket")
      .agg((count(lit(1)) * p).as("_bsz"))
      .filter(col("_bsz") > maxBucketSize)
      .collect()
    if (hotRows.isEmpty) banded
    else {
      val est = element_at(
        typedLit(hotRows.map(r =>
          s"${r.get(0)}:${r.get(1)}" -> r.getLong(2)).toMap),
        concat_ws(":", col("band"), col("bucket")))
      banded.filter(est.isNull ||
        pmod(xxhash64(col("band"), col("bucket"), col(idCol)), est)
          < maxBucketSize)
    }
  }

  def lshTopKBanded(queries: DataFrame, corpus: DataFrame, k: Int,
                    bands: Int, bitsPerBand: Int, dim: Int,
                    seed: Long = 42L, idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val planes = hyperplanes(bands * bitsPerBand, dim, seed)
    def banded(df: DataFrame, id: String, vec: String): DataFrame =
      bandedFrame(df, id, vec, bands, bitsPerBand, planes, idCol, vecCol)
    val q = broadcast(banded(queries, "query_id", "qv"))
    val c0 = banded(corpus, "neighbor_id", "cv")
    val c = if (maxBucketSize == Int.MaxValue) c0
      else capBuckets(c0, maxBucketSize, "neighbor_id")
    // score BEFORE the dedup: duplicate candidates (multi-band
    // collisions, <= bands per pair) cost one extra 64-multiply cosine
    // each, and in exchange the dedup + window exchanges shuffle three
    // scalar columns instead of two 64-dim arrays per row
    val scored = q.join(c, Seq("band", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("sim"))
    topKFromCandidates(scored, k)
  }

  /** Dedup multi-band candidate collisions (duplicates carry identical
    * sims — same vector pair) and keep the exact top-k per query; ties
    * broken by neighbor id ascending. Shared by [[lshTopKBanded]] and
    * the streaming per-micro-batch re-rank
    * (graft.streaming.StreamSimilarity.topKPerBatch) — one code path.
    */
  def topKFromCandidates(candidates: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    candidates.dropDuplicates("query_id", "neighbor_id")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("sim"), 6).as("sim"))
  }
}
