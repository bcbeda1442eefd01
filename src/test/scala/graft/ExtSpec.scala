package graft

import graft.ext.{Curation, Dedup, Similarity, TextStats}
import org.apache.spark.sql.functions._

class ExtSpec extends SparkSuite {
  import spark.implicits._

  test("X2 shingles: known sentence") {
    val df = Seq("The quick brown fox jumps").toDF("text")
    val got = df.select(Dedup.shingles(col("text"), 3)).collect()(0).getSeq[String](0)
    assert(got.toSet == Set("the quick brown", "quick brown fox", "brown fox jumps"))
  }

  test("X2 shingles: short text yields empty array, not error") {
    val df = Seq("one two").toDF("text")
    assert(df.select(Dedup.shingles(col("text"), 3)).collect()(0).getSeq[String](0).isEmpty)
  }

  test("X1 exact dedup collapses identical texts to min id") {
    val df = Seq((1L, "same text here"), (2L, "same text here"), (3L, "different"))
      .toDF("doc_id", "text")
    val got = Dedup.exact(df, "text", "doc_id").orderBy("doc_id").collect()
    assert(got.map(_.getLong(1)).toSeq == Seq(1L, 3L))
    assert(got(0).getLong(2) == 2L) // n_copies
  }

  test("X2 jaccardPairs finds crafted near-duplicates with exact score") {
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val df = Seq(
      (1L, base),
      (2L, base + " iota"),  // high overlap
      (3L, "totally unrelated words appear in this document only")).toDF("doc_id", "text")
    val got = Dedup.jaccardPairs(df, "text", "doc_id", k = 3, threshold = 0.5).collect()
    assert(got.length == 1)
    val r = got(0)
    // shingles: doc1 has 6, doc2 has 7, common 6 -> j = 6/7 = 0.857143
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(math.abs(r.getDouble(2) - 0.857143) < 1e-6)
  }

  test("X1 dropExactKnown keeps only content the corpus has never seen") {
    val existing = Seq((1L, "alpha beta"), (2L, "gamma delta"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "alpha beta"),   // exact re-ingest -> dropped
      (11L, "gamma  delta"), // whitespace differs -> different bytes, kept
      (12L, "brand new text")).toDF("doc_id", "text")
    val kept = Dedup.dropExactKnown(incoming, existing, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L, 12L))
    // payload columns survive the gate untouched
    assert(Dedup.dropExactKnown(incoming, existing, "text", "doc_id")
      .columns.toSeq == Seq("doc_id", "text"))
    // null text must behave like exact()'s groupBy (null hash is a real
    // key): a corpus null-text row blocks incoming null-text rows
    val existingN = Seq((1L, Option("alpha")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    val incomingN = Seq((10L, Option.empty[String]), (11L, Option("fresh")))
      .toDF("doc_id", "text")
    val keptN = Dedup.dropExactKnown(incomingN, existingN, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptN == Set(11L), s"null-text re-ingest must drop, got $keptN")
  }

  test("X2 crossDupPairs equals the cross-side slice of the full exact pair set") {
    val docs = Tables.load(spark, sf(), "documents")
    // ground truth: every exact pair with exactly one side in the
    // "incoming" batch (doc_id % 5 == 0), remapped to (new, old)
    val all = Dedup.jaccardPairs(docs, "text", "doc_id", k = 3, threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = all.flatMap { case (a, b, j) =>
      if (a % 5 == 0 && b % 5 != 0) Some((a, b, j))
      else if (b % 5 == 0 && a % 5 != 0) Some((b, a, j))
      else None
    }.toSet
    val got = Dedup.crossDupPairs(
      docs.filter($"doc_id" % 5 === 0), docs.filter($"doc_id" % 5 =!= 0),
      "text", "doc_id", k = 3, threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected,
      s"diff: ${(got diff expected) ++ (expected diff got)}")
    assert(expected.nonEmpty, "fixture produced no cross-side pairs")
  }

  test("X2 jaccardPairs maxDocFreq bounds the hot-shingle bucket") {
    // degenerate corpus: every doc carries the same boilerplate sentence
    // (the stop-shingle pattern that makes one inverted-index bucket
    // quadratic at scale); only docs 1 and 2 are genuine near-dups
    val boiler = "this document is licensed under the creative commons attribution license"
    val df = (Seq(
      (1L, s"$boiler alpha beta gamma delta epsilon"),
      (2L, s"$boiler alpha beta gamma delta zeta")) ++
      (3L to 6L).map(i => (i, s"$boiler unique$i content$i words$i only$i")))
      .toDF("doc_id", "text")
    // uncapped at a tiny threshold: the boilerplate bucket alone connects
    // every pair — C(6,2) = 15 candidate pairs, quadratic in the corpus
    val uncapped = Dedup.jaccardPairs(df, "text", "doc_id", k = 3, threshold = 0.01)
    assert(uncapped.count() == 15)
    // capped below the boilerplate df (6): hot shingles leave the index,
    // only the genuine near-dup pair survives — same tiny threshold
    val capped = Dedup.jaccardPairs(df, "text", "doc_id", k = 3,
      threshold = 0.01, maxDocFreq = Some(4)).collect()
    assert(capped.length == 1)
    assert(capped(0).getLong(0) == 1L && capped(0).getLong(1) == 2L)
    // jaccard is over the CAPPED shingle universe: docs 1/2 keep 5
    // shingles each (boundary + suffix), 4 common -> 4/6
    assert(math.abs(capped(0).getDouble(2) - 0.666667) < 1e-6)
  }

  test("X2 minhashLshPairs finds the same crafted pair") {
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val df = Seq(
      (1L, base), (2L, base + " iota"),
      (3L, "totally unrelated words appear in this document only")).toDF("doc_id", "text")
    val got = Dedup.minhashLshPairs(df, "text", "doc_id", k = 3, threshold = 0.5).collect()
    assert(got.length == 1 && got(0).getLong(0) == 1L && got(0).getLong(1) == 2L)
  }

  test("X2 simhash: near-identical texts have small hamming distance") {
    val df = Seq(
      ("a", "the quick brown fox jumps over the lazy dog again and again today"),
      ("b", "the quick brown fox jumps over the lazy dog again and again tomorrow"),
      ("c", "entirely different content about databases and distributed query engines"))
      .toDF("id", "text")
    val fp = df.select(col("id"), Dedup.simhash(col("text")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fp("a"), fp("b")) < ham(fp("a"), fp("c")))
    assert(ham(fp("a"), fp("b")) <= 16)
  }

  test("X5 shingleFingerprint: order-insensitive over the shingle set, content-sensitive") {
    // the fingerprint hashes the SORTED shingle set — identical text
    // must collide, a one-word edit must not (xxhash64 of a different
    // sorted-set string), and the empty/short text is total (fp of the
    // empty set, not null/error)
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "alpha beta gamma delta zeta"),
      (4L, "xy"))
      .toDF("doc_id", "text")
    val fp = df.select(col("doc_id"),
        graft.ext.TextStats.shingleFingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L), "identical text must fingerprint identically")
    assert(fp(1L) != fp(3L), "edited text must change the fingerprint")
    // independent construction: xxhash64 over the explicitly sorted shingles
    val expected = df.filter(col("doc_id") === 1L)
      .select(xxhash64(concat_ws("|",
        array_sort(Dedup.shingles(col("text"), 3)))))
      .head().getLong(0)
    assert(fp(1L) == expected, "fingerprint != xxhash64(sorted shingles)")
    assert(fp.contains(4L), "short text must still produce a fingerprint")
  }

  test("X2 simhashPairs: banded join equals the n^2 hamming scan (pigeonhole exactness)") {
    // real fixture corpus: every pair with hamming <= 3 must be found —
    // the banding is a pruning strategy, not an approximation
    val docs = Tables.load(spark, sf(), "documents").select("doc_id", "text")
    val fp = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (ia, fa) <- fp; (ib, fb) <- fp if ia < ib
      h = java.lang.Long.bitCount(fa ^ fb) if h <= 3
    } yield (ia, ib, h)).toSet
    val banded = Dedup.simhashPairs(docs, "text", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded == brute,
      s"banded=${banded.size} brute=${brute.size} " +
        s"missing=${(brute -- banded).take(3)} extra=${(banded -- brute).take(3)}")
    assert(brute.nonEmpty, "fixture has no hamming<=3 pairs — test is vacuous")
    // guard rails: incomplete banding configurations are rejected
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 4, bands = 4)
    }
  }

  test("X3 cosine: hand-computed value") {
    val df = Seq((Seq(1.0, 0.0, 1.0), Seq(1.0, 1.0, 0.0))).toDF("a", "b")
    val got = df.select(Similarity.cosine(col("a"), col("b"))).collect()(0).getDouble(0)
    assert(math.abs(got - 0.5) < 1e-12) // 1 / (sqrt2 * sqrt2)
  }

  test("X3 bruteForceTopK ranks by cosine, ties by id") {
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.0f, 1.0f)), (4L, Seq(1.0f, 0.05f))).toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(corpus.filter($"vec_id" === 1L), corpus, k = 2)
      .orderBy("rank").collect().map(_.getLong(2))
    assert(got.toSeq == Seq(4L, 2L)) // 4 closer to (1,0) than 2; 3 orthogonal
  }

  test("X3 ivfTopK returns exact sims for the neighbors it probes") {
    val e = Tables.load(spark, sf(), "embeddings")
    val bf = Similarity.bruteForceTopK(e.filter($"vec_id" < 3), e, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val ivf = Similarity.ivfTopK(e.filter($"vec_id" < 3), e, k = 5, nlist = 8, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    // nprobe == nlist -> probes everything -> must equal brute force
    assert(ivf == bf)
  }

  test("X2 blocked embedding near-dup: full probe equals the exact n^2 form") {
    val e = Tables.load(spark, sf(), "embeddings")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = pairSet(Dedup.embeddingNearDupPairs(e, threshold = 0.45))
    // nprobe == nlist: every vector lands in every cell's candidate set
    // -> exhaustive by construction, sims bit-identical (same expression)
    val full = pairSet(Dedup.embeddingNearDupPairsBlocked(
      e, threshold = 0.45, nlist = 8, nprobe = 8))
    assert(full == exact)
  }

  test("X2 blocked embedding near-dup: recall >= 0.9 vs exact on fixtures") {
    val e = Tables.load(spark, sf(), "embeddings")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(Dedup.embeddingNearDupPairs(e, threshold = 0.45))
    // the fixture's near-dup pairs all sit just above the 0.45 threshold
    // (weakly-similar regime — the hardest case for blocking); x29's
    // declared nlist=16/nprobe=4 budget is asserted at >= 0.8 here, and
    // the strong-similarity regime (where dedup recall actually matters)
    // is asserted exhaustively in the crafted-duplicates test below
    val blocked = pairSet(Dedup.embeddingNearDupPairsBlocked(
      e, threshold = 0.45, nlist = 16, nprobe = 4))
    assert(blocked.subsetOf(exact)) // blocking only prunes, never invents
    def recall(got: Set[(Long, Long)]) =
      if (exact.isEmpty) 1.0 else exact.intersect(got).size.toDouble / exact.size
    assert(recall(blocked) >= 0.8,
      s"blocked recall ${recall(blocked)} < 0.8 (exact=${exact.size})")
    // doubling the probe budget recovers the borderline pairs too
    val deep = pairSet(Dedup.embeddingNearDupPairsBlocked(
      e, threshold = 0.45, nlist = 16, nprobe = 8))
    assert(recall(deep) >= 0.9, s"deep-probe recall ${recall(deep)} < 0.9")
  }

  test("X2f semantic dedup: exhaustive probe == exact pairs; declared budget recall") {
    val e = Tables.load(spark, sf(), "embeddings")
    def pairMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = pairMap(Dedup.embeddingNearDupPairs(e, threshold = 0.4))
    // nprobe == nlist probes every cell — exhaustive by construction,
    // sims bit-identical (same rounded-cosine expression)
    val full = pairMap(Dedup.semanticDedupPairs(
      Dedup.semanticCells(e, nlist = 8, nprobe = 8), threshold = 0.4))
    assert(full == exact, s"exhaustive probe diverged: ${full.size} vs ${exact.size}")
    // the declared x83 budget (nlist=8, nprobe=3): prunes only, never
    // invents, and holds the measured 0.92-0.94 fixture recall floor
    val declared = pairMap(Dedup.semanticDedupPairs(
      Dedup.semanticCells(e, nlist = 8, nprobe = 3), threshold = 0.4))
    assert(declared.keySet.subsetOf(exact.keySet))
    val recall =
      if (exact.isEmpty) 1.0
      else exact.keySet.intersect(declared.keySet).size.toDouble / exact.size
    assert(recall >= 0.85, s"declared-budget recall $recall < 0.85 (exact=${exact.size})")
  }

  test("X2f semantic dedup: clustering + quality election on crafted near-dups") {
    // nlist = 1 puts everything in one cell -> pairing is exact; unit
    // vectors crafted so (1,2) and (3,4) are the only pairs >= 0.9
    val emb = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.96, 0.28)),
      (3L, Seq(0.0, 1.0)), (4L, Seq(0.28, 0.96))).toDF("vec_id", "embedding")
    val docs = Seq((1L, 0.1), (2L, 0.9), (3L, 0.5), (4L, 0.5))
      .toDF("doc_id", "score")
    val got = Dedup.semanticDedup(emb, docs, threshold = 0.9,
        nlist = 1, nprobe = 1, scoreCol = col("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSeq
    // cluster ids are component minima; survivor by (score desc, id asc):
    // {1,2} -> 2 (higher score), {3,4} -> 3 (tie, lower id)
    assert(got == Seq((1L, 1L, 2L, false), (2L, 1L, 2L, true),
      (3L, 3L, 3L, true), (4L, 3L, 3L, false)), got.toString)
  }

  test("X2f semantic dedup: seeds persist through the matrix artifact") {
    import graft.ext.Artifacts
    val e = Tables.load(spark, sf(), "embeddings")
    val seeds = Dedup.portableSeeds(e, nlist = 8)
    val tmp = java.nio.file.Files.createTempDirectory("graft-seeds").toString
    Artifacts.saveMatrix(spark, seeds, tmp)
    val reloaded = Artifacts.loadMatrix(spark, tmp)
    assert(reloaded.length == seeds.length &&
      reloaded.zip(seeds).forall { case (a, b) => a.sameElements(b) },
      "seed matrix did not round-trip bit-identically")
    // cells served through the reloaded seeds are identical
    def cellSet(sd: Array[Array[Double]]) =
      Dedup.semanticCells(e, nlist = 8, nprobe = 3, seeds = Some(sd))
        .select("doc_id", "cell").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(cellSet(reloaded) == cellSet(seeds))
  }

  test("X2 blocked embedding near-dup: trained centroids do not lose recall") {
    // the declared x29 threads kmeans-trained centroids; training is
    // recall-neutral-or-better on these fixtures (measured) — this guard
    // keeps that claim from silently regressing
    val e = Tables.load(spark, sf(), "embeddings")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(Dedup.embeddingNearDupPairs(e, threshold = 0.45))
    def recall(got: Set[(Long, Long)]) =
      if (exact.isEmpty) 1.0 else exact.intersect(got).size.toDouble / exact.size
    val sampled = recall(pairSet(Dedup.embeddingNearDupPairsBlocked(
      e, threshold = 0.45, nlist = 16, nprobe = 4)))
    val trained = recall(pairSet(Dedup.embeddingNearDupPairsBlocked(
      e, threshold = 0.45, nlist = 16, nprobe = 4,
      centroids = Some(Similarity.kmeansCentroids(e, k = 16)))))
    assert(trained >= sampled,
      s"trained-centroid recall $trained < sampled-init recall $sampled")
  }

  test("X2 blocked embedding near-dup: strong-similarity pairs all recovered") {
    // craft true near-duplicates (sim ~0.999) by perturbing corpus rows:
    // the docstring's claim — near-identical vectors rank cells
    // near-identically, so blocking recall concentrates on strong pairs —
    // checked directly at the x29 probe budget
    val e = Tables.load(spark, sf(), "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
    val twins = e.filter($"vec_id" % 100 === 0).select(
      ($"vec_id" + 100000L).as("vec_id"),
      transform($"embedding", x => x * lit(1.0) + lit(1e-4)).as("embedding"))
    val corpus = e.union(twins)
    val found = Dedup.embeddingNearDupPairsBlocked(
      corpus, threshold = 0.99, nlist = 16, nprobe = 4)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = twins.select($"vec_id" - 100000L, $"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty && expected.subsetOf(found),
      s"missed strong pairs: ${expected.diff(found)}")
  }

  test("X4: approx distinct within 10% of exact on fixtures") {
    val ev = Tables.load(spark, sf(), "events")
    val exact = ev.select(countDistinct($"user_id")).collect()(0).getLong(0)
    val approx = ev.select(approx_count_distinct($"user_id")).collect()(0).getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.1)
  }

  test("X5 tokenCount + punctRatio on known strings") {
    val df = Seq("Hello, world! This is fine.").toDF("text")
    val r = df.select(TextStats.tokenCount(col("text")),
      TextStats.punctRatio(col("text"))).collect()(0)
    assert(r.getInt(0) == 5)
    assert(math.abs(r.getDouble(1) - 3.0 / 27) < 1e-4)
  }

  test("X5 langId: marker-based detection") {
    val df = Seq(
      ("en", "the cat and the dog ran to the house of the baker"),
      ("de", "der hund und die katze sind nicht mit dem mann"),
      ("fr", "le chien est dans la maison pour les enfants"),
      ("zh", "你好世界"),
      ("und", "xylophone zebra quartz")).toDF("expect", "text")
    val got = df.select(col("expect"), TextStats.langId(col("text"))).collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1),
      s"expected ${r.getString(0)} got ${r.getString(1)}"))
  }

  test("X5c NB classifier: crafted vocab perfect, plain-JVM model replay, tie to first label") {
    // crafted fixture with disjoint vocab: training must separate it
    val docs = Seq(
      (1L, "aaa bbb aaa", "ga"), (2L, "aaa bbb ccc", "ga"),
      (3L, "xxx yyy xxx", "gb"), (4L, "yyy xxx zzz", "gb"),
      (5L, "aaa aaa bbb", "ga"), (6L, "zzz yyy zzz", "gb")
    ).toDF("doc_id", "text", "lang")
    val m = TextStats.nbTrain(docs, "text", "lang", "doc_id", numBuckets = 64)
    assert(m.labels.toSeq == Seq("ga", "gb"))
    // plain-JVM replay of one table entry: bucket("aaa") count under ga
    def bucket(g: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16) % 64
    }
    // ga grams: 3 docs x (3 uni + 2 bi) = 15 occurrences; "aaa" appears
    // 5x, so its bucket count is >= 5 (other grams may collide INTO the
    // bucket at 64 buckets, never out of it)
    val tGa = m.tables(0)
    assert(tGa(bucket("aaa")) >= math.log(6.0 / (15 + 64)) - 1e-12,
      s"aaa bucket loglik ${tGa(bucket("aaa"))}")
    assert(math.abs(m.logPriors(0) - math.log(0.5)) < 1e-12)
    val pred = docs.select(col("doc_id"), col("lang"),
        TextStats.nbPredict(TextStats.nbGramBuckets(col("text"), 64), m).as("p"))
      .collect().map(r => r.getLong(0) -> r.getStruct(2).getString(0)).toMap
    assert(pred == Map(1L -> "ga", 2L -> "ga", 5L -> "ga",
      3L -> "gb", 4L -> "gb", 6L -> "gb"), pred)
    // gramless doc: priors equal here (3 vs 3) -> tie -> FIRST label asc
    val tie = Seq((9L, "")).toDF("doc_id", "text")
      .select(TextStats.nbPredict(TextStats.nbGramBuckets(col("text"), 64), m))
      .head.getStruct(0)
    assert(tie.getString(0) == "ga" && math.abs(tie.getDouble(1) - math.log(0.5)) < 1e-12)
    // real fixture: deterministic accuracy well above the 0.436 en-prior
    // baseline (measured 0.742 at sf0.01 — overlapping synthetic vocab)
    val real = Tables.load(spark, sf(), "documents")
    val rm = TextStats.nbTrain(real, "text", "lang", "doc_id", 1024)
    val acc = real.filter(col("doc_id").isNotNull)
      .select((TextStats.nbPredict(TextStats.nbGramBuckets(col("text"), 1024), rm)
        .getField("lang") === col("lang")).cast("double").as("c"))
      .agg(avg(col("c"))).head.getDouble(0)
    assert(acc > 0.65, s"fixture accuracy $acc")
  }

  test("X6 fingerprint equals sha-256 hex") {
    val got = Seq("abc").toDF("t").select(TextStats.fingerprint(col("t"))).collect()(0).getString(0)
    assert(got == "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
  }

  test("X3 lshTopK recovers neighbors in the strong-similarity regime") {
    // two tight clusters: LSH single-probe works when true neighbors are
    // nearly parallel (sim ~0.99); this is its documented regime
    val rnd = new scala.util.Random(7)
    def jitter(base: Seq[Float]) = base.map(x => x + rnd.nextFloat() * 0.01f)
    val c1 = Seq.fill(8)(1.0f) ++ Seq.fill(8)(0.0f)
    val c2 = Seq.fill(8)(0.0f) ++ Seq.fill(8)(1.0f)
    val rows = (0L until 10L).map(i => (i, jitter(c1))) ++
      (10L until 20L).map(i => (i, jitter(c2)))
    val corpus = rows.toDF("vec_id", "embedding")
    val got = ext.Similarity.lshTopK(
      corpus.filter($"vec_id" === 0L || $"vec_id" === 10L), corpus,
      k = 3, numPlanes = 4, dim = 16, seed = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    // every retrieved neighbor comes from the query's own cluster
    assert(got.nonEmpty)
    got.foreach { case (q, n) =>
      assert((q < 10) == (n < 10), s"cross-cluster neighbor $q -> $n")
    }
  }

  test("sign-LSH rejects more than 64 planes (packed-long overflow guard)") {
    // shiftleft(1L, 65) wraps mod 64 in Java — bucket bit 0 would be
    // silently OR-corrupted; every lshBucket caller goes through
    // hyperplanes, so the guard there covers lshTopK too
    intercept[IllegalArgumentException] {
      ext.Similarity.hyperplanes(65, 4, seed = 1L)
    }
    assert(ext.Similarity.hyperplanes(64, 4, seed = 1L).length == 64)
  }

  test("native cosine_sim is bit-identical to the built-ins formulation") {
    val e = Tables.load(spark, sf(), "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val pairs = e.as("a").join(e.as("b"), col("a.vec_id") + 1 === col("b.vec_id"))
    val diff = pairs.select(
      (Similarity.cosine(col("a.v"), col("b.v")) -
        Similarity.cosineBuiltins(col("a.v"), col("b.v"))).as("d"))
      .agg(max(abs(col("d")))).collect()(0).getDouble(0)
    assert(diff == 0.0)
  }

  test("native word_shingles equals the built-ins formulation on fixtures") {
    val docs = Tables.load(spark, sf(), "documents")
    val diff = docs.select(
      array_sort(Dedup.shingles(col("text"), 3)).as("a"),
      array_sort(Dedup.shinglesBuiltins(col("text"), 3)).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0)
  }

  test("native simhash64 equals the built-ins formulation on fixtures") {
    val docs = Tables.load(spark, sf(), "documents")
    val diff = docs.select(
      Dedup.simhash(col("text")).as("a"),
      Dedup.simhashBuiltins(col("text")).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0)
    // tokenless doc -> zero fingerprint in both forms
    import spark.implicits._
    val empty = Seq("", "!!! ???").toDF("text")
      .select(Dedup.simhash(col("text")).as("a"),
        Dedup.simhashBuiltins(col("text")).as("b")).collect()
    assert(empty.forall(r => r.getLong(0) == 0L && r.getLong(1) == 0L))
  }

  test("dup clusters: components labeled with min member id") {
    import spark.implicits._
    // components: {1,2,3} (chain 1-2, 2-3), {7,9}, singleton pairs absent
    val pairs = Seq((2L, 1L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val got = ext.Dedup.dupClusters(pairs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L)))
  }

  test("dup clusters: long chain converges within diameter rounds") {
    import spark.implicits._
    val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = ext.Dedup.dupClusters(pairs).collect()
    assert(got.length == 10 && got.forall(_.getLong(1) == 0L))
  }

  test("bm25: doc with more query-term hits outranks, scores positive") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark spark spark engine"),
      (2L, "spark engine"),
      (3L, "nothing relevant here at all")).toDF("doc_id", "text")
    val got = ext.Search.bm25TopK(docs, "text", "doc_id", Seq("spark"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.map(_._1).toSeq == Seq(1L, 2L)) // doc 3 has no hit -> absent
    assert(got(0)._2 > got(1)._2 && got(1)._2 > 0)
  }

  test("bm25: idf favors rarer term at equal tf") {
    import spark.implicits._
    val docs = Seq(
      (1L, "common rare"), (2L, "common other words"), (3L, "common words too"),
      (4L, "filler text body")).toDF("doc_id", "text")
    val s = (t: String) => ext.Search.bm25TopK(docs, "text", "doc_id", Seq(t), k = 1)
      .collect()(0).getDouble(1)
    assert(s("rare") > s("common"))
  }

  test("hybrid RRF: both-list docs fuse both terms, single-list docs keep one") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark spark spark engine"),   // lexical hit only
      (2L, "nothing relevant here"),      // semantic hit only
      (3L, "spark vector pipeline"),      // hits both retrievers
      (4L, "unrelated filler words")      // hits neither
    ).toDF("doc_id", "text")
    val emb = Seq(
      (1L, Seq(0.0, 1.0)),                // orthogonal to the query
      (2L, Seq(1.0, 0.05)),
      (3L, Seq(0.9, 0.1)),
      (4L, Seq(-1.0, 0.0))                // anti-parallel
    ).toDF("vec_id", "embedding")
    val got = ext.Search.hybridTopK(docs, "text", "doc_id", emb,
      Seq("spark", "vector"), Seq(1.0, 0.0), k = 4, kRetrieve = 2, c = 60)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
    val byDoc = got.map(g => g._1 -> g).toMap
    // doc 3 is in both top-2 lists; docs 1/2 in exactly one; doc 4
    // (sim -1, no lexical hit) is in neither list -> absent entirely
    assert(!byDoc.contains(4L), got.toSeq)
    assert(byDoc(3L)._3 > 0 && byDoc(3L)._4 > 0, got.toSeq)
    assert(byDoc(1L)._3 > 0 && byDoc(1L)._4 == 0, got.toSeq)
    assert(byDoc(2L)._3 == 0 && byDoc(2L)._4 > 0, got.toSeq)
    // every row's rrf score must equal the RRF arithmetic over its own
    // emitted ranks (0 = absent contributes nothing)
    for ((id, s, lr, sr) <- got) {
      val want = BigDecimal(
        (if (lr > 0) 1.0 / (60 + lr) else 0.0) +
          (if (sr > 0) 1.0 / (60 + sr) else 0.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(s - want) < 1e-9, s"doc $id: $s vs $want")
    }
    // output ordered by fused score desc
    assert(got.map(_._2).toSeq == got.map(_._2).sortBy(-_).toSeq)
    // doc 3 (fused from both lists) must outrank the single-list docs
    assert(got.head._1 == 3L, got.toSeq)
  }

  test("approx percentiles track exact within sketch tolerance") {
    val docs = spark.read.parquet(sf("sf0.01") + "/documents.parquet")
    val exact = docs.groupBy("lang")
      .agg(expr("percentile(n_chars, 0.5)").as("p50")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val approx = docs.groupBy("lang")
      .agg(expr("approx_percentile(n_chars, 0.5, 1000)").as("p50")).collect()
      .map(r => (r.getString(0), r.getLong(1).toDouble)).toMap
    exact.foreach { case (lang, e) =>
      assert(math.abs(approx(lang) - e) / math.max(e, 1.0) < 0.05,
        s"$lang approx=${approx(lang)} exact=$e")
    }
  }

  test("kmeans centroids: deterministic, correct shape, improves cell coherence") {
    import ext.Similarity
    val emb = spark.read.parquet(sf("sf0.01") + "/embeddings.parquet")
    val init = Similarity.sampledCentroids(emb, 8)
    val trained = Similarity.kmeansCentroids(emb, 8, iters = 3)
    assert(trained.length == 8 && trained.forall(_.length == init.head.length))
    // deterministic across runs
    val trained2 = Similarity.kmeansCentroids(emb, 8, iters = 3)
    assert(trained.zip(trained2).forall { case (a, b) => a.sameElements(b) })
    // objective: mean cosine of each vector to its nearest centroid
    import graft.functions.NearestCells.nearest_cells
    import graft.functions.CosineSimilarity
    def objective(cents: Array[Array[Double]]): Double = {
      val c = emb.select(col("embedding").cast("array<double>").as("v"))
      val withBest = c.withColumn("cell",
        element_at(nearest_cells(col("v"), cents, 1), 1))
      val centLit = typedLit(cents.map(_.toSeq).toSeq)
      withBest
        .withColumn("sim", CosineSimilarity.cosine_sim(col("v"),
          element_at(centLit, col("cell") + 1)))
        .agg(avg("sim")).collect()(0).getDouble(0)
    }
    val (o0, o3) = (objective(init), objective(trained))
    assert(o3 > o0, s"trained=$o3 init=$o0")
  }

  test("ivfTopK with trained centroids matches brute force at full probe") {
    import ext.Similarity
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val q = emb.filter(col("vec_id") % 50 === 0)
    val trained = Similarity.kmeansCentroids(emb, 4, iters = 2)
    val ivf = Similarity.ivfTopK(q, emb, k = 5, nlist = 4, nprobe = 4,
      centroids = Some(trained)).collect()
    val bf = Similarity.bruteForceTopK(q, emb, k = 5).collect()
    assert(ivf.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
      bf.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
  }

  test("X2d containmentPairs: subset doc flagged directionally where Jaccard misses it") {
    val df = Seq(
      (1L, "alpha beta gamma delta"), // 2 shingles, both inside doc 2
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // 8 shingles
      (3L, "totally unrelated words appear in this document only")).toDF("doc_id", "text")
    // jaccard(1,2) = 2/8 = 0.25 — a 0.5-threshold symmetric pass misses it
    assert(Dedup.jaccardPairs(df, "text", "doc_id", k = 3, threshold = 0.5).count() == 0)
    val high = Dedup.containmentPairs(df, "text", "doc_id", k = 3, threshold = 0.8).collect()
    assert(high.length == 1)
    assert(high(0).getLong(0) == 1L && high(0).getLong(1) == 2L) // contained -> container
    assert(math.abs(high(0).getDouble(2) - 1.0) < 1e-9)
    // at a low threshold the reverse direction surfaces with 2/8 = 0.25
    val low = Dedup.containmentPairs(df, "text", "doc_id", k = 3, threshold = 0.2)
      .orderBy("id_a", "id_b").collect()
    assert(low.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq((1L, 2L, 1.0), (2L, 1L, 0.25)))
  }

  test("X3c quantizeInt8: exact quantized values, bounds, zero-vector, reconstruction") {
    val df = Seq(
      (1L, Seq(0.5, -1.0, 0.25)),
      (2L, Seq(0.0, 0.0, 0.0)),
      (3L, Seq(0.1, 0.2, -0.3))).toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(df).orderBy("vec_id").collect()
    // scale = max|x|; q_i = round(x_i/scale*127) half-away-from-zero
    assert(q(0).getDouble(1) == 1.0 &&
      q(0).getSeq[Int](2) == Seq(64, -127, 32)) // 63.5 rounds away to 64
    assert(q(1).getDouble(1) == 0.0 && q(1).getSeq[Int](2) == Seq(0, 0, 0))
    assert(q(2).getDouble(1) == 0.3 && q(2).getSeq[Int](2) == Seq(42, 85, -127))
    assert(q.flatMap(_.getSeq[Int](2)).forall(v => v >= -127 && v <= 127))
    // reconstruction: cosine(v, dequant(q)) ~ 1 on real vectors
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    val recon = Similarity.quantizeInt8(emb)
      .join(emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v")), "vec_id")
      .select(Similarity.cosine(col("v"),
        Similarity.dequantize(col("q"), col("scale"))).as("c"))
      .agg(min(col("c"))).collect()(0).getDouble(0)
    assert(recon > 0.999, s"worst reconstruction cosine $recon")
  }

  test("X3c quantized index: ANN over int8-reconstructed vectors preserves the top-k") {
    // the 100 TB deployment: the ANN candidate index holds int8 vectors
    // (4x smaller state); queries stay full-precision. Top-k from the
    // reconstructed corpus must match the full-precision top-k almost
    // everywhere (reconstruction cosine >= 0.9999 -> only near-exact
    // ties can flip)
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    val q = emb.filter(col("vec_id") % 50 === 0)
    val deq = Similarity.quantizeInt8(emb)
      .select(col("vec_id"),
        Similarity.dequantize(col("q"), col("scale")).as("embedding"))
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val full = pairs(Similarity.bruteForceTopK(q, emb, k = 5))
    val quant = pairs(Similarity.bruteForceTopK(q, deq, k = 5))
    val overlap = full.intersect(quant).size.toDouble / full.size
    assert(overlap >= 0.9, s"quantized-index top-k overlap $overlap")
  }

  test("X3f randomProjection: plain-JVM replay, salt sensitivity, JL distortion shrinks with outDim") {
    // independent replay: MessageDigest sign matrix + hand fold
    def signRow(j: Int, dim: Int): Array[Double] = Array.tabulate(dim) { c =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"rp:jl:$j:$c".getBytes("UTF-8")).map("%02x".format(_)).mkString
      if (java.lang.Long.parseLong(hex.substring(0, 2), 16) % 2 == 0) 1.0 else -1.0
    }
    val v = Array.tabulate(8)(i => 0.25 * i - 1.0)
    val want = Array.tabulate(4) { j =>
      signRow(j, 8).zip(v).map { case (s, x) => s * x }.sum / math.sqrt(4.0)
    }
    val got = Seq((1L, v.toSeq)).toDF("vec_id", "embedding")
      .select(Similarity.randomProjection(col("embedding"), 4, 8))
      .head.getSeq[Double](0)
    want.zip(got).foreach { case (w, g) =>
      assert(math.abs(w - g) < 1e-12, s"replay: $g vs $w") }
    // a different salt is a different (deterministic) matrix
    val other = Seq((1L, v.toSeq)).toDF("vec_id", "embedding")
      .select(Similarity.randomProjection(col("embedding"), 4, 8, salt = "b"))
      .head.getSeq[Double](0)
    assert(other != got)
    // JL contract on the real fixture: mean |cos distortion| bounded at
    // k=16 and strictly better at k=32 than k=8 (error ~ 1/sqrt(k);
    // measured 0.26 / 0.18 / 0.13 at k=8/16/32 — margins ~2x)
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    def meanErr(k: Int): Double = {
      val p = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"),
        Similarity.randomProjection(col("embedding"), k, 64).as("p"))
      val a = p.select(col("vec_id").as("ia"), col("v").as("va"), col("p").as("pa"))
      val b = p.select(col("vec_id").as("ib"), col("v").as("vb"), col("p").as("pb"))
      a.join(b, col("ib") === (col("ia") + 37) % 500)
        .select(abs(Similarity.cosine(col("va"), col("vb"))
          - Similarity.cosine(col("pa"), col("pb"))).as("e"))
        .agg(avg(col("e"))).head.getDouble(0)
    }
    val (e8, e16, e32) = (meanErr(8), meanErr(16), meanErr(32))
    assert(e16 < 0.3, s"k=16 mean distortion $e16")
    assert(e32 < e8, s"distortion did not shrink with k: k8=$e8 k32=$e32")
  }

  test("X3d lshTopKBanded: OR-amplification dominates single-probe; k bounded; no dup pairs") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val q = emb.filter(col("vec_id") % 50 === 0)
    val bf = Similarity.bruteForceTopK(q, emb, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    // same 48-plane signature family: single-probe = AND over all 48
    // bits, banded = OR over 8 six-bit bands -> candidate superset
    val banded = Similarity.lshTopKBanded(q, emb, k = 5,
      bands = 8, bitsPerBand = 6, dim = 64, seed = 42L).collect()
    val single = Similarity.lshTopK(q, emb, k = 5,
      numPlanes = 48, dim = 64, seed = 42L).collect()
    def recall(rows: Array[(Long, Long)]) =
      rows.count(bf.contains).toDouble / bf.size
    val bandedPairs = banded.map(r => (r.getLong(0), r.getLong(2)))
    val singlePairs = single.map(r => (r.getLong(0), r.getLong(2)))
    assert(bandedPairs.distinct.length == bandedPairs.length)
    assert(banded.groupBy(_.getLong(0)).values.forall(_.length <= 5))
    assert(recall(bandedPairs) >= recall(singlePairs))
    assert(recall(bandedPairs) >= 0.3,
      s"banded recall ${recall(bandedPairs)} collapsed")
    // the signature is one packed long — a 65th bit would wrap the
    // shift and silently corrupt band 0; must fail loudly instead
    intercept[IllegalArgumentException] {
      Similarity.lshTopKBanded(q, emb, k = 5,
        bands = 12, bitsPerBand = 6, dim = 64)
    }
    // full 100 TB deployment shape: the banded index holds int8 vectors
    // (4x smaller), queries full-precision — candidate buckets can flip
    // only on near-zero hyperplane dots, so the top-k stays close
    val deq = Similarity.quantizeInt8(emb).select(col("vec_id"),
      Similarity.dequantize(col("q"), col("scale")).as("embedding"))
    val quantPairs = Similarity.lshTopKBanded(q, deq, k = 5,
        bands = 16, bitsPerBand = 4, dim = 64).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val fullBanded = Similarity.lshTopKBanded(q, emb, k = 5,
        bands = 16, bitsPerBand = 4, dim = 64).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val qOverlap = quantPairs.count(fullBanded.contains).toDouble / fullBanded.size
    assert(qOverlap >= 0.85, s"int8-index banded ANN drifted: overlap $qOverlap")
  }

  test("X3d per-bucket cap: mega-bucket work bounded, degenerate-bucket queries still served") {
    // clustered corpus: 400 near-identical vectors share one signature,
    // so every (band, bucket) they occupy holds 400 rows — the
    // unbounded-candidate-scan regime the cap exists for; 100 diverse
    // vectors ride along
    val rnd = new scala.util.Random(11)
    val base = Seq.tabulate(64)(i => if (i < 32) 1.0 else -1.0)
    val cluster = (0L until 400L).map(i =>
      (i, base.map(x => x + rnd.nextDouble() * 0.001)))
    val diverse = (1000L until 1100L).map(i =>
      (i, Seq.fill(64)(rnd.nextDouble() * 2 - 1)))
    val corpus = (cluster ++ diverse).toDF("vec_id", "embedding")
    // work bound: after the cap no (band, bucket) group exceeds it
    val planes = Similarity.hyperplanes(64, 64, 42L)
    val banded = Similarity.bandedFrame(corpus, "neighbor_id", "cv",
      bands = 16, bitsPerBand = 4, planes, "vec_id", "embedding")
    val uncappedMax = banded.groupBy("band", "bucket").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(uncappedMax >= 400L, s"fixture lost its mega-bucket: $uncappedMax")
    val cappedMax = Similarity.capBuckets(banded, 50, "neighbor_id")
      .groupBy("band", "bucket").count()
      .agg(max("count")).collect()(0).getLong(0)
    // the hash-threshold cap binds in expectation: Binomial(400, 1/8)
    // per hot bucket, mean 50, sd ~ 6.6 — 80 is > 4.5 sigma over the
    // mean even for the max over the 16 bucket-groups
    assert(cappedMax <= 80L, s"cap leaked: $cappedMax")
    assert(cappedMax < uncappedMax / 3,
      s"cap did not bind: $cappedMax of $uncappedMax")
    // a mega-bucket query is still served: any ~50-sample of 400
    // near-identical vectors contains >= k sim~1 neighbors (redundancy
    // is exactly what makes the bucket degenerate)
    val res = Similarity.lshTopKBanded(
      corpus.filter(col("vec_id") === 0L), corpus, k = 5,
      bands = 16, bitsPerBand = 4, dim = 64, maxBucketSize = 50)
    val rows = res.collect()
    assert(rows.length == 5 && rows.forall(_.getDouble(3) > 0.99),
      s"capped mega-bucket query degraded: ${rows.mkString(", ")}")
    // deterministic: the hash-sampled head is stable across runs
    val again = Similarity.lshTopKBanded(
      corpus.filter(col("vec_id") === 0L), corpus, k = 5,
      bands = 16, bitsPerBand = 4, dim = 64, maxBucketSize = 50).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("X17 mergeable HLL sketches: re-aggregation invariance, error bound, incremental add") {
    import graft.ext.Sketches
    // 4 sources x 3000 ids with heavy cross-source overlap (the refresh
    // scenario: sources re-see most of each other's documents); 3000
    // distinct at lgK=12 is past the coupon limit, i.e. the DENSE
    // regime, where roll-up topology equality is EXACT (the declared
    // x57 asserts the 1%-tolerance form valid through the sparse
    // transition too)
    val df = spark.range(12000).select(
      (col("id") % 4).as("src"), (col("id") % 3000).as("doc"))
    val parts = Sketches.hllPerGroup(df, "src", "doc").persist()
    try {
      val one = parts.agg(Sketches.hllUnionEstimate().as("e"))
        .collect()(0).getLong(0)
      // roll up through an intermediate level (sources 0,1 | 2,3), then
      // union the two roll-ups: must be EXACTLY the one-level estimate
      val two = parts.groupBy((col("src") < 2).as("shard"))
        .agg(Sketches.hllUnion().as("sketch"))
        .agg(Sketches.hllUnionEstimate().as("e"))
        .collect()(0).getLong(0)
      assert(one == two, s"re-aggregation changed the estimate: $one vs $two")
      // and a different grouping of the same sketches agrees too
      val two2 = parts.groupBy((col("src") % 2).as("shard"))
        .agg(Sketches.hllUnion().as("sketch"))
        .agg(Sketches.hllUnionEstimate().as("e"))
        .collect()(0).getLong(0)
      assert(one == two2, s"grouping changed the estimate: $one vs $two2")
      // estimate within the lgK=12 sketch tolerance of the exact 3000
      assert(math.abs(one - 3000L) / 3000.0 <= 0.05,
        s"estimate $one outside 5% of 3000")
      // incremental refresh: union(old sketches, sketch(new batch)) sees
      // genuinely new ids — estimate grows past the old distinct count
      val newBatch = spark.range(3000, 4500)
        .select(lit(9L).as("src"), col("id").as("doc"))
      val refreshed = parts.select(col("sketch"))
        .union(Sketches.hllPerGroup(newBatch, "src", "doc").select(col("sketch")))
        .agg(Sketches.hllUnionEstimate().as("e")).collect()(0).getLong(0)
      assert(math.abs(refreshed - 4500L) / 4500.0 <= 0.05,
        s"refreshed estimate $refreshed outside 5% of 4500")
    } finally parts.unpersist()
  }

  test("X17b mergeable KLL quantile sketches: rank bounds survive build, union, roll-up") {
    import graft.ext.Sketches
    // 4 sources over a known uniform distribution 0..9999 (so the true
    // quantile at rank q is q*10000); KLL k=200 rank error ~1.65%
    val df = spark.range(10000).select(
      (col("id") % 4).as("src"), col("id").cast("double").as("v"))
    val parts = Sketches.kllPerGroup(df, "src", "v").persist()
    try {
      def checkRank(value: Double, target: Double, what: String): Unit =
        assert(math.abs(value / 10000.0 - target) <= 0.02,
          s"$what: value $value rank ${value / 10000.0} vs target $target")
      val one = parts.agg(Sketches.kllUnion().as("sk"))
        .select(Sketches.kllQuantile("sk", 0.5).as("q50"),
          Sketches.kllQuantile("sk", 0.9).as("q90"),
          kll_sketch_get_rank_double(col("sk"), lit(2500.0)).as("r25"))
        .collect()(0)
      checkRank(one.getDouble(0), 0.5, "one-level q50")
      checkRank(one.getDouble(1), 0.9, "one-level q90")
      assert(math.abs(one.getDouble(2) - 0.25) <= 0.02,
        s"kll_rank(2500) = ${one.getDouble(2)} not ~0.25")
      // roll-up through an intermediate level keeps the bound
      val two = parts.groupBy((col("src") < 2).as("shard"))
        .agg(Sketches.kllUnion().as("sk"))
        .agg(Sketches.kllUnion("sk").as("sk"))
        .select(Sketches.kllQuantile("sk", 0.5).as("q50")).collect()(0)
      checkRank(two.getDouble(0), 0.5, "two-level q50")
      // a single-group sketch with NO compaction pressure is exact
      val tiny = spark.range(101).select(lit(0L).as("src"),
        col("id").cast("double").as("v"))
      val tq = Sketches.kllPerGroup(tiny, "src", "v")
        .select(Sketches.kllQuantile("qsketch", 0.5)).collect()(0).getDouble(0)
      assert(tq == 50.0, s"small-sketch median $tq != exact 50")
      // null values are skipped; an all-null group yields an empty
      // sketch whose quantile is NaN (not a crash, not a zero)
      val withNulls = spark.range(10).select(lit(0L).as("src"),
        when(col("id") < 5, col("id").cast("double")).as("v"))
      val nq = Sketches.kllPerGroup(withNulls, "src", "v")
        .select(Sketches.kllQuantile("qsketch", 1.0)).collect()(0).getDouble(0)
      assert(nq == 4.0, s"null-skipping sketch max $nq != 4")
      val allNull = spark.range(5).select(lit(0L).as("src"),
        lit(null).cast("double").as("v"))
      val an = Sketches.kllPerGroup(allNull, "src", "v")
        .select(Sketches.kllQuantile("qsketch", 0.5)).collect()
      assert(an.isEmpty || an(0).getDouble(0).isNaN,
        s"all-null group quantile should be NaN/absent: ${an.mkString}")
    } finally parts.unpersist()
  }

  test("X17c theta set algebra: exact below nominal entries, bounded above, roll-up works") {
    import graft.ext.Sketches
    // exact regime: |A|=1000, |B|=1000, overlap 500 — all below the
    // lgK=12 nominal 4096, so every hash is retained and the four set
    // estimates are EXACT integers
    val a = spark.range(1000).select(col("id").as("v"))
    val b = spark.range(500, 1500).select(col("id").as("v"))
    val ska = a.agg(theta_sketch_agg(col("v"), 12).as("ska"))
    val skb = b.agg(theta_sketch_agg(col("v"), 12).as("skb"))
    val r = ska.crossJoin(skb).select(
      theta_sketch_estimate(theta_intersection(col("ska"), col("skb"))),
      theta_sketch_estimate(theta_difference(col("ska"), col("skb"))),
      theta_sketch_estimate(theta_difference(col("skb"), col("ska"))),
      theta_sketch_estimate(theta_union(col("ska"), col("skb"))))
      .collect()(0)
    assert((0 to 3).map(r.getLong) == Seq(500L, 500L, 500L, 1500L),
      s"exact-regime theta drifted: $r")
    // sampling regime: 100k-element sets, overlap 50k, k=4096 — each
    // estimate within 5% of truth normalized by the UNION size (theta
    // RSE ~1/sqrt(k) ~ 1.6%, intersection error scales with the union)
    val bigA = spark.range(100000).select(col("id").as("v"))
    val bigB = spark.range(50000, 150000).select(col("id").as("v"))
    val r2 = bigA.agg(theta_sketch_agg(col("v"), 12).as("ska"))
      .crossJoin(bigB.agg(theta_sketch_agg(col("v"), 12).as("skb")))
      .select(
        theta_sketch_estimate(theta_intersection(col("ska"), col("skb"))),
        theta_sketch_estimate(theta_difference(col("ska"), col("skb"))),
        theta_sketch_estimate(theta_union(col("ska"), col("skb"))))
      .collect()(0)
    for ((got, want, what) <- Seq(
        (r2.getLong(0), 50000L, "intersection"),
        (r2.getLong(1), 50000L, "difference"),
        (r2.getLong(2), 150000L, "union")))
      assert(math.abs(got - want) <= 0.05 * 150000,
        s"sampling-regime $what: $got vs $want")
    // roll-up: per-group sketches union into the same exact answer the
    // one-shot sketch gives (exact regime — associativity is literal)
    val grouped = spark.range(1000).select((col("id") % 4).as("src"),
      col("id").as("v"))
    val viaGroups = Sketches.thetaPerGroup(grouped, "src", "v")
      .agg(Sketches.thetaUnion().as("sk"))
      .select(theta_sketch_estimate(col("sk"))).collect()(0).getLong(0)
    assert(viaGroups == 1000L, s"grouped theta union: $viaGroups != 1000")
  }

  test("X17d frequent-items heavy hitters: exact below map size, bounded above, merge-safe") {
    import graft.ext.Sketches
    import graft.functions.FreqSketch._
    // exact regime: 100-term vocab under maxMapSize 256 — the counter
    // map never purges, so maxError = 0 and every estimate is exact
    val small = spark.range(10000)
      .select(concat(lit("t"), col("id") % 100).as("term"))
    val r1 = small.agg(freq_sketch_agg(col("term"), 256).as("sk"))
      .select(freq_max_error(col("sk")),
        freq_estimate(col("sk"), lit("t5")),
        size(freq_items(col("sk")))).collect()(0)
    assert(r1.getLong(0) == 0L, s"exact regime: maxError ${r1.getLong(0)}")
    assert(r1.getLong(1) == 100L, s"exact regime: est(t5) ${r1.getLong(1)}")
    assert(r1.getInt(2) == 100, s"exact regime: ${r1.getInt(2)} frequent items")
    // overflow regime: 10 hot terms (~9k each) in a sea of 10k unique
    // tail terms, maxMapSize 64 — the map purges constantly; the
    // Misra-Gries contract must still hold: est <= true <= est +
    // maxError, and every hot term (true >> maxError) is in the
    // NO_FALSE_NEGATIVES frequent set
    val stream = spark.range(100000).select(
      when(col("id") % 10 < 9, concat(lit("hh"), col("id") % 9))
        .otherwise(concat(lit("u"), col("id"))).as("term"),
      (col("id") % 8).as("src"))
    val skb = stream.agg(freq_sketch_agg(col("term"), 64).as("sk"))
    def checkContract(skDf: org.apache.spark.sql.DataFrame): Unit = {
      val r = skDf.select(freq_max_error(col("sk")).as("me"),
        freq_items(col("sk")).getField("item").as("items"),
        freq_estimate(col("sk"), lit("hh3")).as("est")).collect()(0)
      val me = r.getLong(0)
      val items = r.getSeq[String](1)
      val est = r.getLong(2)
      val trueCnt = 10000L // each hh term: 9 of every 90 in 100k rows
      assert(me > 0L, "overflow regime should have nonzero error")
      assert(est <= trueCnt && trueCnt <= est + me,
        s"estimate bound violated: est=$est true=$trueCnt me=$me")
      for (i <- 0 until 9)
        assert(items.contains(s"hh$i"),
          s"no-false-negative violated: hh$i missing from $items")
    }
    checkContract(skb)
    // merge safety: per-source sketches unioned through freqUnion obey
    // the same contract (error bounds add, never reset)
    checkContract(Sketches.freqPerGroup(stream, "src", "term", 64)
      .agg(Sketches.freqUnion(maxMapSize = 64).as("sk")))
  }

  test("X3e product quantization: codes bounded, reconstruction faithful, strong pairs recovered") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val cbs = Similarity.pqTrain(emb, m = 8, dim = 64)
    assert(cbs.length == 8 && cbs.forall(_.forall(_.length == 8)))
    // codes: m entries, each a valid codebook index
    val codes = Similarity.pqEncode(emb, cbs)
    val codeStats = codes.select(
      min(array_min(col("codes"))), max(array_max(col("codes"))),
      min(size(col("codes"))), max(size(col("codes")))).collect()(0)
    assert(codeStats.getInt(0) >= 0 && codeStats.getInt(1) < 16,
      s"code out of range: $codeStats")
    assert(codeStats.getInt(2) == 8 && codeStats.getInt(3) == 8)
    // determinism: same corpus -> same codes
    val again = Similarity.pqEncode(emb, Similarity.pqTrain(emb, m = 8, dim = 64))
    assert(codes.orderBy("vec_id").collect().map(_.toString).toSeq ==
      again.orderBy("vec_id").collect().map(_.toString).toSeq)
    // reconstruction: decoded vectors keep meaningful cosine to the
    // original (16 centroids x 8 subspaces on the fixture corpus)
    val dec = Similarity.pqDecode(codes, cbs)
    val meanCos = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .join(dec, "vec_id")
      .select(Similarity.cosine(col("v"), col("decoded")).as("c"))
      .agg(avg("c")).collect()(0).getDouble(0)
    assert(meanCos > 0.5, s"mean reconstruction cosine $meanCos")
    // strong-similarity regime: a planted near-identical pair must be
    // each other's top PQ neighbor after the exact re-rank
    val base = emb.select("vec_id", "embedding").limit(40)
    val minId = base.select(min("vec_id")).collect()(0).getLong(0)
    val planted = base.unionByName(base.filter(col("vec_id") === minId)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        col("embedding")))
    val top = Similarity.pqTopK(
      planted.filter(col("vec_id") === minId), planted, k = 1,
      m = 8, dim = 64)
      .collect()
    assert(top.length == 1 && top(0).getLong(2) == minId + 1000000L,
      s"planted twin not top-1: ${top.mkString}")
    assert(top(0).getDouble(3) > 0.999, s"twin sim ${top(0).getDouble(3)}")
  }

  test("X3e IVF-PQ: pruned+compressed scan still recovers the planted twin, full probe covers") {
    val emb = Tables.load(spark, sf(), "embeddings")
      .select("vec_id", "embedding")
    // full-probe IVF-PQ (nprobe == nlist) degenerates to x61's PQ path:
    // the cells partition the corpus but every cell is scanned, so
    // recall vs brute force equals the PQ-only recall on this fixture
    val q = emb.filter(col("vec_id") % 100 === 0)
    val full = Similarity.ivfPqTopK(q, emb, k = 5, nlist = 8, nprobe = 8)
    val pqOnly = Similarity.pqTopK(q, emb, k = 5, m = 8, dim = 64,
      codebookSize = 32, refine = 100)
    val fullSet = full.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pqSet = pqOnly.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fullSet == pqSet,
      s"full-probe IVF-PQ diverged from PQ: ${(fullSet diff pqSet).take(3)} / ${(pqSet diff fullSet).take(3)}")
    // planted twin: recovered through the pruned path (the twin shares
    // its original's cell by construction — identical vector)
    val minId = q.select(min("vec_id")).collect()(0).getLong(0)
    val planted = emb.unionByName(emb.filter(col("vec_id") === minId)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
    val top = Similarity.ivfPqTopK(
      planted.filter(col("vec_id") === minId), planted, k = 1,
      nlist = 8, nprobe = 2)
      .collect()
    assert(top.length == 1 && top(0).getLong(2) == minId + 1000000L,
      s"planted twin lost through the pruned scan: ${top.mkString}")
    // k bounded per query even at tiny refine
    val kmax = Similarity.ivfPqTopK(q, emb, k = 3, nlist = 8, nprobe = 2,
        refine = 4)
      .groupBy("query_id").count().agg(max("count")).collect()(0).getLong(0)
    assert(kmax <= 3L, s"k leaked: $kmax")
  }

  test("X5e source drift: KL >= 0, corpus-like group near zero, alien group large") {
    import spark.implicits._
    // g1/g2 share the corpus distribution (same text mix); g3 is alien
    val docs = (
      (1 to 40).map(i => (i.toLong, "alpha beta gamma delta", "g1")) ++
      (41 to 80).map(i => (i.toLong, "alpha beta gamma delta", "g2")) ++
      (81 to 90).map(i => (i.toLong, "zeta eta theta iota kappa", "g3"))
    ).toDF("doc_id", "text", "source")
    val got = TextStats.sourceDrift(docs, "text", "source", numBuckets = 64)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got.keySet == Set("g1", "g2", "g3"))
    assert(got("g1")._1 == 40 && got("g1")._2 == 160)
    got.values.foreach { case (_, _, kl) => assert(kl >= 0.0, s"negative KL $kl") }
    // the two corpus-dominant identical groups drift identically and far
    // less than the alien minority group
    assert(got("g1")._3 == got("g2")._3)
    assert(got("g3")._3 > 10 * got("g1")._3,
      s"alien group not separated: ${got("g3")._3} vs ${got("g1")._3}")
    // plain-JVM replay on the fixture (64 buckets keeps the replay fast)
    def bucket(g: String): Int = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      (java.lang.Long.parseLong(h, 16) % 64).toInt
    }
    val fix = Tables.load(spark, sf(), "documents")
      .filter(col("source").isNotNull)
    val rows = fix.select("source", "text").collect()
      .map(r => r.getString(0) -> Option(r.getString(1)).getOrElse("")
        .toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).map(bucket))
    val byG = rows.groupBy(_._1).view
      .mapValues(_.flatMap(_._2).groupBy(identity).view.mapValues(_.length.toLong).toMap)
      .toMap
    val corpus = byG.values.flatten.groupBy(_._1).view
      .mapValues(_.map(_._2).sum).toMap
    val tc = corpus.values.sum.toDouble
    val exp = byG.map { case (g, h) =>
      val tg = h.values.sum.toDouble
      g -> (0 until 64).map { b =>
        val p = (h.getOrElse(b, 0L) + 1) / (tg + 64)
        val q = (corpus.getOrElse(b, 0L) + 1) / (tc + 64)
        p * math.log(p / q)
      }.sum
    }
    val gotFix = TextStats.sourceDrift(fix, "text", "source", numBuckets = 64)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    exp.foreach { case (g, kl) =>
      assert(math.abs(gotFix(g) - kl) < 1e-6, s"$g: ${gotFix(g)} vs $kl")
    }
  }

  test("X2e cluster survivors: best-score election, tie to min id, member counts") {
    import spark.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L))
      .toDF("doc_id", "cluster_id")
    val docs = Seq((1L, 0.5), (2L, 0.9), (3L, 0.9), (7L, 0.1), (8L, 0.1),
      (99L, 1.0)) // 99 is not in any cluster — must not appear
      .toDF("doc_id", "score")
    val got = Dedup.clusterSurvivors(clusters, docs, "doc_id", col("score"))
      .orderBy("cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    // cluster 1: 2 and 3 tie at 0.9 -> min id 2 survives; cluster 7:
    // 7/8 tie at 0.1 -> 7
    assert(got.toSeq == Seq((1L, 2L, 0.9, 3L), (7L, 7L, 0.1, 2L)), got.toSeq)
    // fixture: every survivor is its cluster's (quality desc, id asc) max
    val fixDocs = Tables.load(spark, sf(), "documents")
    val cl = Dedup.dupClusters(Dedup.jaccardPairs(
      fixDocs, "text", "doc_id", k = 3, threshold = 0.2, maxDocFreq = Some(100)))
    val sv = Dedup.clusterSurvivors(cl, fixDocs, "doc_id",
      graft.ext.TextStats.qualityScore(col("text")))
    val members = cl.join(fixDocs.select(col("doc_id"),
        graft.ext.TextStats.qualityScore(col("text")).as("q")), "doc_id")
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getDouble(2)))
      .groupBy(_._1)
    sv.collect().foreach { r =>
      val (cid, sid, n) = (r.getLong(0), r.getLong(1), r.getLong(3))
      val mem = members(cid)
      assert(mem.length.toLong == n, s"cluster $cid member count")
      val best = mem.minBy { case (_, id, q) => (-q, id) }
      assert(sid == best._2, s"cluster $cid elected $sid, expected ${best._2}")
    }
  }

  test("X5d vocab/OOV: top-v ties lexicographic, occurrence-weighted OOV, fixture replay") {
    import spark.implicits._
    val crafted = Seq((1L, "a a a b b c"), (2L, "a b c c d"), (3L, ""))
      .toDF("doc_id", "text")
    // counts: a=4 b=3 c=3 d=1 -> top-2 = [a, b] (c loses the b/c tie on count? no:
    // b=3 c=3 tie -> lexicographic keeps b); top-3 adds c
    assert(TextStats.topVocab(crafted, "text", 2).toSeq == Seq("a", "b"))
    assert(TextStats.topVocab(crafted, "text", 3).toSeq == Seq("a", "b", "c"))
    val got = crafted.select(col("doc_id"),
        TextStats.oovCounts(col("text"), Seq("a", "b")).as("c"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getStruct(1).getLong(0), r.getStruct(1).getLong(1)))
    // doc2: 5 occurrences, c,c,d OOV = 3; doc3 tokenless: (0, 0)
    assert(got.toSeq == Seq((1L, 6L, 1L), (2L, 5L, 3L), (3L, 0L, 0L)))
    // fixture: vocab equals a plain-JVM recount; whole-corpus OOV mass
    // equals total occurrences minus vocab-term occurrences
    val docs = Tables.load(spark, sf(), "documents")
      .filter(col("doc_id").isNotNull)
    val counts = docs.select("text").collect().map(_.getString(0))
      .flatMap(t => Option(t).getOrElse("").toLowerCase
        .split("[^a-z0-9]+").filter(_.nonEmpty))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val expVocab = counts.toSeq.sortBy { case (t, c) => (-c, t) }
      .take(16).map(_._1)
    val gotVocab = TextStats.topVocab(docs, "text", 16).toSeq
    assert(gotVocab == expVocab, s"vocab mismatch: $gotVocab vs $expVocab")
    val oovSum = docs.select(TextStats.oovCounts(col("text"), gotVocab).as("c"))
      .agg(sum("c.n_oov")).head.getLong(0)
    val expOov = counts.filterNot(kv => gotVocab.contains(kv._1)).values.sum
    assert(oovSum == expOov, s"OOV mass $oovSum != $expOov")
  }

  test("X6 x34 media probe: encode->parse round-trip recovers the arithmetic dims") {
    // Spark-side mirror of the x34 DuckDB oracle: the declared query
    // synthesizes headers with doc_id-derived dims and parses them back;
    // the parsed values must equal the arithmetic the oracle computes
    val got = SparkEntry.queries("x34_media_probe")(spark, sf()).collect()
    assert(got.length > 0 && got.forall(!_.isNullAt(1)), "unparsed rows")
    got.foreach { r =>
      val id = r.getLong(0)
      val expFmt = (id % 4) match {
        case 0 => "png"; case 1 => "jpeg"; case 2 => "gif"; case _ => "wav" }
      val audio = id % 4 == 3
      assert(r.getString(1) == expFmt, s"doc $id format")
      assert(r.getInt(2) == (if (audio) 0 else (id % 1920 + 1).toInt), s"doc $id width")
      assert(r.getInt(3) == (if (audio) 0 else (id % 1080 + 1).toInt), s"doc $id height")
      assert(r.getInt(4) == (if (audio) (8000 * (id % 5 + 1)).toInt else 0), s"doc $id rate")
      assert(r.getInt(5) == (if (audio) (id % 2 + 1).toInt else 0), s"doc $id channels")
    }
  }

  test("X1d dedupFunnel: each tier catches exactly its crafted duplicate class") {
    import graft.ext.Dedup
    import spark.implicits._
    // d2 = byte copy of d1 (exact tier); d3 = case/punct variant of d1
    // (normalized tier); d4 = near-dup of d1 (1 of 2 shingles shared,
    // j=0.5 — near-dup tier); d5 = unrelated survivor
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta gamma"),
      (3L, "  ALPHA beta, gamma!! "),
      (4L, "alpha beta gamma delta"),
      (5L, "entirely different content here")).toDF("doc_id", "text")
    val got = Dedup.dedupFunnel(docs, "text", "doc_id",
        graft.ext.TextStats.tokenCount(col("text")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    assert(got.toSeq == Seq(
      (0L, "corpus", 5L, 17L),
      (1L, "exact", 4L, 14L),
      (2L, "normalized", 3L, 11L),
      (3L, "neardup", 2L, 7L)), got.toSeq)
  }

  test("X2g portable minhash + calibration: signature == plain-JVM md5 replay; detection extremes") {
    import graft.ext.Dedup
    import spark.implicits._
    import java.security.MessageDigest
    // the portable signature must equal an independent JVM reimplementation
    val doc = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val got = doc.select(Dedup.minhashSignaturePortable(
        Dedup.shingles(col("text"), 3), 4).as("sig"))
      .head().getSeq[Long](0)
    def h60(s: String): Long = {
      val hex = MessageDigest.getInstance("MD5").digest(s.getBytes)
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val shingles = Seq("alpha beta gamma", "beta gamma delta", "gamma delta epsilon")
    val want = (0 until 4).map(i => shingles.map(s => h60(s"$i:$s")).min)
    assert(got == want, s"portable signature diverged: $got vs $want")
    // calibration extremes: an identical pair must be detected by EVERY
    // config in EVERY band split; two disjoint docs form no pair at all
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again today"),
      (2L, "the quick brown fox jumps over the lazy dog again today"),
      (3L, "entirely different words compose this second document body here now"),
      (4L, "unrelated content about rivers mountains forests and winter mornings")
    ).toDF("doc_id", "text")
    val cal = Dedup.lshCalibration(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(cal.nonEmpty, "no calibration rows for an identical pair")
    // only the identical pair (jaccard 1.0 -> bucket 9) exists
    assert(cal.forall { case (_, jb, np, nd) => jb == 9L && np == 1L && nd == 1L },
      s"identical pair missed by some config: ${cal.toSeq}")
    assert(cal.map(_._1).toSet == Set(12L, 6L, 4L, 3L, 2L, 1L),
      s"config domain wrong: ${cal.map(_._1).toSet}")
  }

  test("X6c dHash56: brightness-invariant, pattern-sensitive, decode == formula") {
    import graft.ext.Multimodal
    import spark.implicits._
    def decodeHash(a: Int, b: Int, c: Int): Long = {
      val media = Seq(Multimodal.MediaRow(1L, "image",
        Multimodal.encodeGradientImage("png", 18, 16, a, b, c))).toDS()
      Multimodal.dHash56(Multimodal.decodeReal(media).head().features)
    }
    // independent replay of the hash from the closed-form pixel formula
    // (pure JVM ints — no codec, no floats)
    def formulaHash(a: Int, b: Int, c: Int): Long = {
      def v(x: Int, y: Int): Int = (a * x + b * y) % 150 + c
      var h = 0L
      for (gy <- 0 until 8; gx <- 0 until 7) {
        val (x1, x2, y) = (gx * 18 / 8, (gx + 1) * 18 / 8, gy * 16 / 8)
        if (v(x2, y) > v(x1, y)) h |= 1L << (gy * 7 + gx)
      }
      h
    }
    val base = decodeHash(74, 46, 20)
    assert(base == formulaHash(74, 46, 20),
      "decoded-pixel hash != closed-form pixel hash")
    // brightness twin (same a,b; shifted c): bytes differ, hash collides
    assert(base == decodeHash(74, 46, 60), "brightness shift changed dHash")
    assert(!java.util.Arrays.equals(
      Multimodal.encodeGradientImage("png", 18, 16, 74, 46, 20),
      Multimodal.encodeGradientImage("png", 18, 16, 74, 46, 60)),
      "fixture twins must differ at the byte level")
    // a different gradient pattern must separate
    assert(base != decodeHash(37, 115, 20), "distinct patterns collided")
    // grouping: twins join one group, the outsider stays alone
    val media = Seq(
      Multimodal.MediaRow(1L, "image", Multimodal.encodeGradientImage("png", 18, 16, 74, 46, 20)),
      Multimodal.MediaRow(2L, "image", Multimodal.encodeGradientImage("png", 18, 16, 74, 46, 60)),
      Multimodal.MediaRow(3L, "image", Multimodal.encodeGradientImage("png", 18, 16, 37, 115, 20))).toDS()
    val groups = Multimodal.perceptualGroups(Multimodal.decodeReal(media))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(groups == Set((2L, 1L), (1L, 3L)), s"groups: $groups")
  }

  test("X6d dHash63: volume-invariant, waveform-sensitive, decode == formula") {
    import graft.ext.Multimodal
    import spark.implicits._
    def decodeHash(a: Int, scale: Int): Long = {
      val media = Seq(Multimodal.MediaRow(1L, "audio",
        Multimodal.encodeRampWav(8000, 160, a, scale))).toDS()
      Multimodal.dHash63(Multimodal.decodeReal(media).head().features)
    }
    // independent replay from the closed-form sample formula (no codec)
    def formulaHash(a: Int): Long = {
      def v(i: Int): Int = math.abs((a * (i * 160 / 64)) % 200 - 100)
      (0 until 63).foldLeft(0L)((h, i) =>
        if (v(i + 1) > v(i)) h | (1L << i) else h)
    }
    val base = decodeHash(21, 100)
    assert(base == formulaHash(21), "decoded-PCM hash != closed-form hash")
    // gain twin: 3x volume, same waveform -> bytes differ, hash collides
    assert(base == decodeHash(21, 300), "gain change altered dHash63")
    assert(!java.util.Arrays.equals(
      Multimodal.encodeRampWav(8000, 160, 21, 100),
      Multimodal.encodeRampWav(8000, 160, 21, 300)),
      "gain twins must differ at the byte level")
    // a different waveform must separate
    assert(base != decodeHash(49, 100), "distinct waveforms collided")
    // grouping: the gain twin joins its base, the outsider stays alone
    val media = Seq(
      Multimodal.MediaRow(1L, "audio", Multimodal.encodeRampWav(8000, 160, 21, 100)),
      Multimodal.MediaRow(2L, "audio", Multimodal.encodeRampWav(8000, 160, 21, 300)),
      Multimodal.MediaRow(3L, "audio", Multimodal.encodeRampWav(8000, 160, 49, 100))).toDS()
    val groups = Multimodal.audioGroups(Multimodal.decodeReal(media))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(groups == Set((2L, 1L), (1L, 3L)), s"groups: $groups")
  }

  test("Artifacts: parquet round-trip exact for every trained-artifact type") {
    import graft.ext.{Artifacts, TrainSet}
    def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)
    val tmp = java.nio.file.Files.createTempDirectory("graft-artifacts-spec").toString
    val docs = Tables.load(spark, sf(), "documents")

    // NB model: structure AND scoring bit-exact through the reload
    val m = TextStats.nbTrain(docs, "text", "lang", "doc_id", numBuckets = 128)
    Artifacts.saveNbModel(spark, m, s"$tmp/nb")
    val m2 = Artifacts.loadNbModel(spark, s"$tmp/nb")
    assert(m2.labels.toSeq == m.labels.toSeq)
    assert(m2.numBuckets == m.numBuckets)
    assert(m2.logPriors.map(bits).toSeq == m.logPriors.map(bits).toSeq)
    assert(m2.defaults.map(bits).toSeq == m.defaults.map(bits).toSeq)
    m.tables.indices.foreach { i =>
      assert(m2.tables(i).keySet == m.tables(i).keySet, s"table $i keys")
      m.tables(i).foreach { case (b, v) =>
        assert(bits(m2.tables(i)(b)) == bits(v), s"table $i bucket $b") }
    }
    val scored = docs.limit(50)
      .select(TextStats.nbScores(TextStats.nbGramBuckets(col("text"), 128), m).as("a"),
        TextStats.nbScores(TextStats.nbGramBuckets(col("text"), 128), m2).as("b"))
      .collect()
    scored.foreach(r => assert(
      r.getSeq[Double](0).map(bits) == r.getSeq[Double](1).map(bits),
      "reloaded NB model scores differ"))

    // DSIR ratio table (+ the default sentinel) and scoring equality
    val (ratio, dflt) = TrainSet.dsirRatioMapTagged(
      docs, col("lang") === "en", "text", "doc_id", numBuckets = 256)
    Artifacts.saveDsirRatio(spark, ratio, dflt, s"$tmp/dsir")
    val (ratio2, dflt2) = Artifacts.loadDsirRatio(spark, s"$tmp/dsir")
    assert(bits(dflt2) == bits(dflt))
    assert(ratio2.keySet == ratio.keySet)
    ratio.foreach { case (b, v) => assert(bits(ratio2(b)) == bits(v), s"bucket $b") }
    val dscored = docs.limit(50)
      .select(TrainSet.dsirLogWeight(col("text"), ratio, dflt, 256).as("a"),
        TrainSet.dsirLogWeight(col("text"), ratio2, dflt2, 256).as("b"))
      .collect()
    dscored.foreach(r => assert(bits(r.getDouble(0)) == bits(r.getDouble(1)),
      "reloaded DSIR table scores differ"))

    // dense matrix (IVF centroids shape) incl. -0.0 and subnormals
    val mat = Array(Array(1.5, -0.0, Double.MinPositiveValue),
      Array(-2.25, 1e308, 0.0))
    Artifacts.saveMatrix(spark, mat, s"$tmp/mat")
    val mat2 = Artifacts.loadMatrix(spark, s"$tmp/mat")
    assert(mat2.length == mat.length)
    mat.indices.foreach(i => assert(
      mat2(i).map(bits).toSeq == mat(i).map(bits).toSeq, s"row $i"))
    val cents = Similarity.kmeansCentroids(
      Tables.load(spark, sf(), "embeddings"), k = 8, iters = 2)
    Artifacts.saveMatrix(spark, cents, s"$tmp/cents")
    val cents2 = Artifacts.loadMatrix(spark, s"$tmp/cents")
    cents.indices.foreach(i => assert(
      cents2(i).map(bits).toSeq == cents(i).map(bits).toSeq, s"centroid $i"))

    // PQ codebooks (jagged 3-level nesting preserved in (sub, code) order)
    val cbs = Similarity.pqTrain(Tables.load(spark, sf(), "embeddings"),
      m = 4, dim = 64, codebookSize = 8, iters = 2)
    Artifacts.saveCodebooks(spark, cbs, s"$tmp/cbs")
    val cbs2 = Artifacts.loadCodebooks(spark, s"$tmp/cbs")
    assert(cbs2.length == cbs.length)
    cbs.indices.foreach { s0 =>
      assert(cbs2(s0).length == cbs(s0).length, s"sub $s0 size")
      cbs(s0).indices.foreach(c => assert(
        cbs2(s0)(c).map(bits).toSeq == cbs(s0)(c).map(bits).toSeq,
        s"sub $s0 code $c"))
    }

    // vocabulary: rank order is part of the artifact
    val vocab = TextStats.topVocab(docs, "text", 16).toSeq
    Artifacts.saveVocab(spark, vocab, s"$tmp/vocab")
    assert(Artifacts.loadVocab(spark, s"$tmp/vocab").toSeq == vocab)

    // BPE merge list: step ORDER is the model; counts ride along
    val bpe = Array(("a", "a", 6L), ("a", "b", 4L), ("aa", "ab", 3L))
    Artifacts.saveBpeMerges(spark, bpe, s"$tmp/bpe")
    assert(Artifacts.loadBpeMerges(spark, s"$tmp/bpe").toSeq == bpe.toSeq)
  }

  test("X5f BPE trainer: crafted corpus yields the hand-derived merge sequence") {
    // word freqs: aaab x3, ab x1. Step 1: (a,a) = 2 adjacencies x3 = 6
    // beats (a,b) = 3+1 = 4 -> merge (a,a); greedy L2R: aaab -> [aa,a,b].
    // Step 2: (a,b) = 3+1 = 4 beats (aa,a) = 3 -> merge (a,b).
    // Step 3: only (aa,ab) = 3 remains. Then no pairs -> early stop.
    val docs = Seq((1L, "aaab ab"), (2L, "aaab aaab")).toDF("doc_id", "text")
    val merges = TextStats.bpeTrain(docs, "text", numMerges = 8)
    assert(merges.toSeq == Seq(("a", "a", 6L), ("a", "b", 4L), ("aa", "ab", 3L)),
      merges.toSeq.toString)
    // segmentation through the learned merges: every word collapses to
    // one symbol -> fertility 1.0; greedy L2R on a fresh word "aaa"
    // gives [aa, a] = 2 subwords under merge 1 only
    val seg = docs.select(TextStats.bpeSegmentCount(col("text"),
        merges.map(m => (m._1, m._2)).toSeq).as("c"))
      .collect().map(r => (r.getStruct(0).getLong(0), r.getStruct(0).getLong(1)))
    assert(seg.toSeq == Seq((2L, 2L), (2L, 2L)), seg.toSeq.toString)
    val tricky = Seq((3L, "aaa aaaa")).toDF("doc_id", "text")
      .select(TextStats.bpeSegmentCount(col("text"),
        Seq(("a", "a"))).as("c")).collect()(0).getStruct(0)
    // aaa -> [aa, a]; aaaa -> [aa, aa]: non-overlapping greedy L2R
    assert((tricky.getLong(0), tricky.getLong(1)) == (2L, 4L))
    // tie-break determinism: equal counts resolve (left, right) ascending
    val tie = Seq((1L, "xy zw")).toDF("doc_id", "text")
    val m1 = TextStats.bpeTrain(tie, "text", numMerges = 1, minCount = 1L)
    assert(m1.toSeq == Seq(("x", "y", 1L)), m1.toSeq.toString)
    // codegen'd segmenter == built-ins k-nested fold on the real fixture
    val real = Tables.load(spark, sf(), "documents")
    val rm = TextStats.bpeTrain(real, "text", numMerges = 6)
      .map(m => (m._1, m._2)).toSeq
    val cmp = real.limit(200)
      .select(TextStats.bpeSegmentCount(col("text"), rm).as("cg"),
        TextStats.bpeSegmentCountBuiltins(col("text"), rm).as("bi"))
      .collect()
    cmp.foreach { r =>
      val (a, b) = (r.getStruct(0), r.getStruct(1))
      assert((a.getLong(0), a.getLong(1)) == (b.getLong(0), b.getLong(1)),
        s"codegen ${(a.getLong(0), a.getLong(1))} != builtins ${(b.getLong(0), b.getLong(1))}")
    }
  }

  test("X5g PMI collocations: crafted counts match the hand formula; guard and ties") {
    // unigrams: x:3 y:3 z:1 (N=7); bigrams: (x,y):3 (y,x):1 (y,z):1 (B=5)
    val docs = Seq((1L, "x y x y"), (2L, "x y z")).toDF("doc_id", "text")
    val got = TextStats.pmiCollocations(docs, "text", minCount = 2L, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // minCount = 2 keeps only (x, y)
    val exp = BigDecimal(math.log(3.0 / 5) - math.log(3.0 / 7) - math.log(3.0 / 7))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.toSeq == Seq(("x", "y", 3L, exp)), got.toSeq.toString)
    // minCount = 1: all three pairs. (x,y) and (y,z) have EXACTLY equal
    // pmi — (3/5)/((3/7)(3/7)) = 147/45 = 49/15 = (1/5)/((3/7)(1/7)) —
    // so the rounded-score tie resolves (term_a, term_b) ascending;
    // (y,x) at 49/45 ranks last
    val all = TextStats.pmiCollocations(docs, "text", minCount = 1L, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(all.toSeq == Seq(("x", "y"), ("y", "z"), ("y", "x")), all.toSeq.toString)
  }

  test("X5h vocab growth: crafted checkpoints, tokenless docs, monotone curve") {
    // ids 0..9, each doc i has tokens "t0..ti" (vocab grows by one per
    // doc); doc 7 tokenless (drops from n_docs — token-contributing
    // docs only, the documented convention)
    val docs = (0L to 9L).map(i =>
      (i, if (i == 7) "" else (0L to i).map(j => s"t$j").mkString(" ")))
      .toDF("doc_id", "text")
    val got = TextStats.vocabGrowth(docs, "text", "doc_id", steps = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // k=1: cutoff 5 -> docs 0..4: vocab t0..t4 = 5, tokens 1+2+3+4+5 = 15
    // k=2: cutoff 10 -> all: vocab 10, tokens 55-8 (doc 7 empty) = 47,
    //      n_docs 9 (doc 7 contributes no tokens)
    assert(got.toSeq == Seq((1L, 5L, 5L, 15L, 5L), (2L, 10L, 10L, 47L, 9L)),
      got.toSeq.toString)
    // fixture sanity: curve monotone non-decreasing in every metric
    val real = TextStats.vocabGrowth(
      Tables.load(spark, sf(), "documents"), "text", "doc_id", steps = 5)
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4)))
    real.sliding(2).foreach { case Array(a, b) =>
      assert(a._1 <= b._1 && a._2 <= b._2 && a._3 <= b._3, real.toSeq.toString)
    }
  }

  /** The X23 spec carve — a different carve than the declared x85 row
    * (no artifact reuse): adds (%7==2 docs absent from v1), removes
    * (%11==3), changes (%5==1, appended marker) — all against the real
    * fixture corpus so gates and near-dup pairs do real work.
    */
  private def x23Versions(): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val docs = Tables.load(spark, sf(), "documents")
    (docs.filter(col("doc_id") % 7 =!= 2),
      docs.filter(col("doc_id") % 11 =!= 3)
        .withColumn("text", when(col("doc_id") % 5 === 1,
          concat(col("text"), lit(" crafted spec marker"))).otherwise(col("text"))))
  }

  test("X23 refresh: incremental state + manifest == from-scratch rebuild") {
    import graft.ext.Refresh
    val (v1, v2) = x23Versions()
    val built = Refresh.buildState(v1)
    // the deployment hand-off: the refresh runs from the persisted copy,
    // whose band index is laid out by its probe key
    val st1 = built.persisted(
      java.nio.file.Files.createTempDirectory("graft-x23-state").toString)
    assert(st1.bandIdx.inputFiles.nonEmpty &&
      st1.bandIdx.inputFiles.forall(_.contains("/band=")),
      s"band index not partitioned by band: ${st1.bandIdx.inputFiles.toSeq}")
    val (st2, inc) = Refresh.refresh(st1, v1, v2, seed = "spec", numShards = 4)
    val full = Refresh.fullRebuild(v2, seed = "spec", numShards = 4)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    assert(rows(inc) == rows(full), "refresh manifest != rebuild manifest")
    assert(rows(Refresh.refresh(built, v1, v2, seed = "spec", numShards = 4)._2) ==
      rows(inc), "the persisted state changed the refresh manifest")
    // the refreshed STATE is behaviorally identical to a from-scratch
    // v2 state: same gated meta, same pair set — so the NEXT refresh
    // starts from exactly what a rebuild would have left behind
    val stFull = Refresh.buildState(v2)
    assert(rows(st2.meta) == rows(stFull.meta), "refreshed meta drifted")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select(least(col("id_a"), col("id_b")), greatest(col("id_a"), col("id_b")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet(st2.pairs) == pairSet(stFull.pairs), "refreshed pairs drifted")
  }

  test("X23 refresh footprint: a repeated refresh + rebuild stays within its job budget") {
    import graft.ext.Refresh
    // the refresh is a standing job a driver repeats: once warm, one
    // refresh plus the rebuild it is checked against runs at most this
    // many Spark jobs (job counts are deterministic for fixed data and
    // session, unlike wall time or codegen-cache hits)
    val budget = 19
    val (v1, v2) = x23Versions()
    val st1 = Refresh.buildState(v1)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    def run() = (rows(Refresh.refresh(st1, v1, v2, seed = "spec", numShards = 4)._2),
      rows(Refresh.fullRebuild(v2, seed = "spec", numShards = 4)))
    run()
    val ((inc, full), jobs) = withJobCount(run())
    assert(inc == full, "refresh manifest != rebuild manifest")
    assert(jobs <= budget, s"refresh + rebuild ran $jobs jobs, budget $budget")
    // the carve's cluster map is driver-local, so the manifest tail runs
    // on the driver: a fall back to the distributed tail fails here
    assert(Refresh.refresh(st1, v1, v2, seed = "spec", numShards = 4)._2.isLocal,
      "refresh manifest is not a driver-local relation: distributed tail ran")
    // the delta fits the driver budget, so the fold runs there: a fall
    // back to the distributed fold fails here
    assert(Refresh.delta(st1, v1, v2).addedPairs.isLocal,
      "added pairs are not a driver-local relation: distributed fold ran")
  }

  test("X23 refresh fallback: over the driver budget the distributed fold gives the driver path's result") {
    import graft.ext.{Dedup, Refresh}
    val (v1, v2) = x23Versions()
    val st1 = Refresh.buildState(v1)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val onDriver = Refresh.delta(st1, v1, v2)
    val manifest = rows(Refresh.refresh(st1, v1, v2, seed = "spec", numShards = 4)._2)
    assert(onDriver.addedPairs.isLocal, "the carve's delta should fit the default budget")
    // an empty delta selects no document and leaves the state as it is
    val none = Refresh.delta(st1, v1, v1)
    assert(none.addedPairs.isLocal && none.addedPairs.isEmpty && none.touched.isEmpty,
      "an empty delta added or retired something")
    assert(rows(none.state2.meta) == rows(st1.meta) &&
      rows(none.state2.pairs) == rows(st1.pairs), "an empty delta changed the state")
    // a budget of a few ids: the diff's collect passes it at once
    spark.conf.set(Dedup.CcDriverEdgeBytesKey, "64")
    try {
      val fallback = Refresh.delta(st1, v1, v2)
      assert(!fallback.addedPairs.isLocal, "over the budget the fold must be distributed")
      assert(rows(Refresh.refresh(st1, v1, v2, seed = "spec", numShards = 4)._2) == manifest,
        "fallback manifest != driver-path manifest")
      for ((nm, a, b) <- Seq(("meta", onDriver.state2.meta, fallback.state2.meta),
          ("bandIdx", onDriver.state2.bandIdx, fallback.state2.bandIdx),
          ("shingles", onDriver.state2.shingles, fallback.state2.shingles),
          ("pairs", onDriver.state2.pairs, fallback.state2.pairs),
          ("touched", onDriver.touched, fallback.touched),
          ("addedPairs", onDriver.addedPairs, fallback.addedPairs)))
        assert(rows(a) == rows(b), s"$nm: driver path != fallback")
    } finally spark.conf.unset(Dedup.CcDriverEdgeBytesKey)
  }

  test("X23 refresh fallback: a delta of many identical documents passes the driver's pair budget") {
    import graft.ext.{Dedup, Refresh}
    val (v1, v2) = x23Versions()
    val st1 = Refresh.buildState(v1)
    // the shortest gated document copied under 600 new ids: the copies
    // the id sample keeps (about 450) share every band bucket, so their
    // rows stay far under the default budget while their candidate pairs
    // (16 bands x about 10^5 pairs, 16 bytes each) pass it
    val shortest = st1.meta.orderBy("n_toks", "doc_id").head().getAs[Long]("doc_id")
    val copies = v2.filter(col("doc_id") === shortest)
      .crossJoin(spark.range(600).withColumnRenamed("id", "k"))
      .withColumn("doc_id", col("k") + 100000000L).drop("k")
    val v2b = v2.unionByName(copies)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val fallback = Refresh.delta(st1, v1, v2b)
    assert(!fallback.addedPairs.isLocal,
      "the copies' candidate pairs pass the default budget: the fold must be distributed")
    spark.conf.set(Dedup.CcDriverEdgeBytesKey, (1L << 30).toString)
    try {
      val onDriver = Refresh.delta(st1, v1, v2b)
      assert(onDriver.addedPairs.isLocal, "under a 1 GiB budget the fold runs on the driver")
      for ((nm, a, b) <- Seq(("meta", onDriver.state2.meta, fallback.state2.meta),
          ("bandIdx", onDriver.state2.bandIdx, fallback.state2.bandIdx),
          ("shingles", onDriver.state2.shingles, fallback.state2.shingles),
          ("pairs", onDriver.state2.pairs, fallback.state2.pairs),
          ("touched", onDriver.touched, fallback.touched),
          ("addedPairs", onDriver.addedPairs, fallback.addedPairs)))
        assert(rows(a) == rows(b), s"$nm: driver path != fallback")
      val copyPairs = rows(onDriver.addedPairs).count(_.forall(_ != shortest))
      assert(copyPairs > 50000, s"only $copyPairs pairs among the copies")
    } finally spark.conf.unset(Dedup.CcDriverEdgeBytesKey)
  }

  test("X22b packed sequences: conservation, capacity-boundary starts, no doc splits") {
    import graft.ext.{Curation, TextStats}
    val docs = Tables.load(spark, sf(), "documents")
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"),
        TextStats.tokenCount(coalesce(col("text"), lit("")))
          .cast("long").as("n"))
      .filter(col("n") > 0).withColumn("grp", lit(0L))
    val packed = Curation.packChunks(docs, "grp", "doc_id", col("n"),
        capacity = 512, nShards = 4)
      .select(col("shard").cast("long"), col("chunk_id"), col("n"),
        (col("cum") - col("n")).as("start"))
      .collect()
    assert(packed.nonEmpty)
    // conservation: every doc lands in exactly one chunk (no splits,
    // no drops) — total token mass is preserved
    val total = docs.agg(sum("n")).head().getLong(0)
    assert(packed.map(_.getLong(2)).sum == total, "token mass not conserved")
    // each doc's start offset lies inside its chunk's window — the
    // chunk_id arithmetic IS floor(start/capacity)
    packed.foreach { r =>
      val (c, start) = (r.getLong(1), r.getLong(3))
      assert(start / 512 == c, s"start $start not in chunk $c")
    }
    // per (shard, chunk): chunks are contiguous from 0 — no gaps (a
    // dropped chunk id would leave a hole)
    packed.groupBy(r => r.getLong(0)).foreach { case (sh, rows) =>
      val ids = rows.map(_.getLong(1)).distinct.sorted
      assert(ids.head == 0L && ids.zipWithIndex.forall { case (v, i) => v == i },
        s"shard $sh chunk ids not contiguous: ${ids.toSeq}")
    }
  }

  test("Hints: over-threshold drop lists fall back to unhinted joins, identical output") {
    import graft.ext.{Dedup, Hints, Refresh}
    // drive the OVER-threshold path by collapsing the gate to 0 — every
    // id list is then "too big to broadcast" and the election tails must
    // produce the same manifests through AQE-chosen join strategies
    val st = Refresh.buildState(Tables.load(spark, sf(), "documents"))
    val clusters = Dedup.dupClusters(st.pairs).localCheckpoint(true)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val hinted = rows(Refresh.manifestFromClusters(clusters, st.meta, "gate-spec", 4))
    spark.conf.set(Hints.GateConfKey, "0")
    try {
      val m = Refresh.manifestFromClusters(clusters, st.meta, "gate-spec", 4)
      // no broadcast HINT above the gate (AQE may still pick a broadcast
      // strategy from runtime stats — that is the point of the fallback)
      assert(!m.queryExecution.analyzed.toString.contains("ResolvedHint"),
        "over-threshold drop list still carries a broadcast hint")
      assert(rows(m) == hinted, "unhinted manifest drifted from hinted")
      // the x78 assembly prefix through the same gate: crafted drop list
      import spark.implicits._
      val docs = Tables.load(spark, sf(), "documents")
      val union = graft.queries.Declared.assemblyUnion(docs)
      val merged = graft.queries.Declared.assemblyMerged(union)
      val drop = Seq(20002L).toDF("doc_id").localCheckpoint(true)
      val unhintedMix = graft.queries.Declared.assemblyMixed(docs, merged, drop)
      // the drop/contam ANTI-join sides must be unhinted above the gate;
      // the mixture's group-sized rates join keeps its (bounded) hint
      import org.apache.spark.sql.catalyst.plans.LeftAnti
      import org.apache.spark.sql.catalyst.plans.logical.{Join, ResolvedHint}
      val hintedAnti = unhintedMix.queryExecution.analyzed.collect {
        case j: Join if j.joinType == LeftAnti =>
          j.right.collectFirst { case h: ResolvedHint => h }
      }.flatten
      assert(hintedAnti.isEmpty, "over-threshold assembly anti-join sides still hinted")
      val got = rows(unhintedMix)
      spark.conf.unset(Hints.GateConfKey)
      assert(got == rows(graft.queries.Declared.assemblyMixed(docs, merged, drop)),
        "assembly mixed drifted between hinted and unhinted paths")
    } finally spark.conf.unset(Hints.GateConfKey)
  }

  test("X5f-c byte-fallback unigram encode is total on arbitrary unicode") {
    import graft.ext.TextStats
    import spark.implicits._
    // train on plain ASCII only — the byte-fallback extension must
    // still cover text whose BYTES the trainer never saw
    val train = Seq("the quick brown fox", "pack my box with jugs",
      "the lazy dog jumps").toDF("text")
    val table = TextStats.unigramTrain(train, "text",
      maxPieceLen = 4, minCount = 2, rounds = 2,
      wordsCol = Some(TextStats.byteWords(col("text"))))
    val ext = TextStats.unigramTableBytes(table)
    assert(ext.length >= table.length + 100, "byte fallback not appended")
    val unk = ext.length.toLong
    val wild = Seq("café 世界 🚀  ctl",
      "tab\tand\nnewline", "", "plain ascii words").toDF("text")
    val got = wild.select(
        TextStats.unigramEncodeIds(col("text"), ext,
          wordsCol = Some(TextStats.byteWords(col("text")))).as("ids"))
      .select(size(filter(col("ids"), x => x === lit(unk))).as("n_unk"),
        size(col("ids")).as("n_ids"))
      .collect()
    assert(got.forall(_.getInt(0) == 0), s"unk ids leaked: ${got.toSeq}")
    assert(got.map(_.getInt(1)).sum > 0, "nothing encoded")
  }

  test("X26+X23d webExtractRefresh == full extraction of v2 (purity composition)") {
    import graft.ext.{Extract, Refresh}
    // a different carve than the declared x121 (no artifact reuse):
    // adds, removes AND changes pages, so all three diff statuses
    // exercise the carried/retired/fresh legs
    val docs = Tables.load(spark, sf(), "documents")
      .filter(col("doc_id").isNotNull)
    def html(carve: org.apache.spark.sql.DataFrame) =
      carve.select(col("doc_id"), col("source"),
        Extract.htmlWrap(col("doc_id"), col("text")).as("html"))
    val h1 = html(docs.filter(col("doc_id") % 7 =!= 2))
    val h2 = html(docs.filter(col("doc_id") % 11 =!= 3)
      .withColumn("text", when(col("doc_id") % 5 === 1,
        concat(col("text"), lit(" crafted web delta"))).otherwise(col("text"))))
    def extractAll(h: org.apache.spark.sql.DataFrame) =
      h.withColumn("text", Extract.htmlToText(col("html")))
        .select("doc_id", "source", "text")
    val got = Refresh.webExtractRefresh(extractAll(h1), h1, h2)
      .collect().map(_.toSeq).toSet
    val want = extractAll(h2).collect().map(_.toSeq).toSet
    assert(got == want, "delta-extracted corpus drifted from full extraction")
  }

  test("X23 manifestFromClusters == manifestOf for equal cluster frames") {
    import graft.ext.{Dedup, Refresh}
    val st = Refresh.buildState(Tables.load(spark, sf(), "documents"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(Refresh.manifestOf(st.meta, st.pairs, "mfc-spec", 4)) ==
      rows(Refresh.manifestFromClusters(Dedup.dupClusters(st.pairs),
        st.meta, "mfc-spec", 4)),
      "precomputed-cluster manifest tail drifted from manifestOf")
  }

  test("X23c manifestDelta: unchanged/changed/new/retired statuses, checksum sensitivity") {
    import graft.ext.Refresh
    val oldM = Seq(
      (0L, 10L, 100L, 7L), (1L, 5L, 50L, 3L), (2L, 4L, 40L, 9L))
      .toDF("shard", "n_docs", "token_mass", "id_xor")
    val newM = Seq(
      (0L, 10L, 100L, 7L),  // identical -> unchanged
      (1L, 5L, 50L, 4L),    // same counts, moved id_xor -> changed
      (3L, 2L, 20L, 1L))    // shard 2 gone -> retired; shard 3 -> new
      .toDF("shard", "n_docs", "token_mass", "id_xor")
    val got = Refresh.manifestDelta(oldM, newM).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(0L -> "unchanged", 1L -> "changed",
      2L -> "retired", 3L -> "new"), got.toString)
    // a refresh-produced pair on the real fixture: delta statuses must
    // agree with a direct manifest comparison
    val st = Refresh.buildState(
      Tables.load(spark, sf(), "documents").filter(col("doc_id") % 7 =!= 2))
    val man1 = Refresh.manifestOf(st.meta, st.pairs, "delta-spec", 4)
    val v2 = Tables.load(spark, sf(), "documents")
    val man2 = Refresh.fullRebuild(v2, "delta-spec", 4)
    val delta = Refresh.manifestDelta(man1, man2).collect()
    val m1 = man1.collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val m2 = man2.collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    delta.foreach { r =>
      val sh = r.getLong(0)
      val expect = (m1.get(sh), m2.get(sh)) match {
        case (None, _) => "new"
        case (_, None) => "retired"
        case (Some(a), Some(b)) => if (a == b) "unchanged" else "changed"
      }
      assert(r.getString(1) == expect, s"shard $sh: ${r.getString(1)} != $expect")
    }
  }

  test("X24 export delivery: clean shards verify; loss, corruption and misplacement flip the booleans") {
    import graft.ext.{TrainSet, TextStats}
    import graft.sources.FileSources
    val docs = Tables.load(spark, sf(), "documents")
      .filter(col("doc_id").isNotNull).select("doc_id", "text")
    val manifest = TrainSet.exportManifest(docs, "doc_id",
      TextStats.tokenCount(coalesce(col("text"), lit(""))), "spec", 4)
    val base = java.nio.file.Files.createTempDirectory("x88-spec").toString
    TrainSet.exportShards(docs, "doc_id", "text", "spec", 4, s"$base/clean")
    def report(path: String) =
      TrainSet.verifyDelivery(manifest, FileSources.readParquet(spark, path),
          "doc_id", "text", "spec", 4)
        .collect().map(r => r.getLong(0) ->
          (r.getBoolean(4), r.getBoolean(5))).toMap
    val clean = report(s"$base/clean")
    assert(clean.size == 4 && clean.values.forall(v => v._1 && v._2),
      s"clean delivery failed verification: $clean")
    // within-shard order is the id order (reproducible iteration)
    val s0 = spark.read.parquet(s"$base/clean/shard=0")
      .select("doc_id").collect().map(_.getLong(0))
    assert(s0.sameElements(s0.sorted), "shard 0 not id-sorted")
    // tamper 1: LOSE one document from shard 0 (delivery dropped a row)
    val delivered = FileSources.readParquet(spark, s"$base/clean")
      .select("doc_id", "text", "shard").localCheckpoint(true)
    val victim = delivered.filter(col("shard") === 0)
      .agg(min("doc_id")).head().getLong(0)
    FileSources.writeParquet(delivered.filter(col("doc_id") =!= victim),
      s"$base/lost", layoutCols = Seq("shard"))
    val lost = report(s"$base/lost")
    assert(!lost(0L)._2 && lost(0L)._1, s"row loss not caught: $lost")
    assert((1L to 3L).forall(i => lost(i)._1 && lost(i)._2),
      s"loss bled into other shards: $lost")
    // tamper 2: CORRUPT one document's text (token mass changes)
    FileSources.writeParquet(delivered.withColumn("text",
        when(col("doc_id") === victim, concat(col("text"), lit(" corrupted")))
          .otherwise(col("text"))),
      s"$base/corrupt", layoutCols = Seq("shard"))
    val corrupt = report(s"$base/corrupt")
    assert(!corrupt(0L)._2, s"text corruption not caught: $corrupt")
    // tamper 3: MISPLACE a document into the wrong shard directory
    FileSources.writeParquet(delivered.withColumn("shard",
        when(col("doc_id") === victim, lit(1L)).otherwise(col("shard"))),
      s"$base/misplaced", layoutCols = Seq("shard"))
    val mis = report(s"$base/misplaced")
    assert(!mis(1L)._1, s"misplaced row not caught by placed_ok: $mis")
    assert(!mis(0L)._2 && !mis(1L)._2,
      s"misplaced row not caught by checksums: $mis")
  }

  test("X23d ccnet refresh: election flip on first-owner removal; refresh == rebuild bit-for-bit") {
    import graft.ext.{Refresh, TextStats}
    import spark.implicits._
    val lines = split(coalesce(col("text"), lit("")), "\n")
    // v1: docs 1/2/3 share a nav line (first owner = doc 1); doc 4 is
    // clean; doc 7 shares nothing (the untouched-unaffected control);
    // doc 5 has no language markers (und, out of scope)
    val v1 = Seq(
      (1L, "the nav bar\nthe quick fox and dog jumps", "src0"),
      (2L, "the nav bar\nthe lazy dog and cat is that", "src0"),
      (3L, "the nav bar\nthe cat sat for with that", "src1"),
      (4L, "unique text of the day for all", "src1"),
      (5L, "solo mumble", "src0"),
      (7L, "completely different words that go for with", "src0")
    ).toDF("doc_id", "text", "source")
    // v2: REMOVE doc 1 (the nav line's first owner — the election must
    // flip to doc 2, whose clean text GROWS); CHANGE doc 4; ADD doc 6
    // sharing the nav line (drops it — doc 2 is now first)
    val v2 = Seq(
      (2L, "the nav bar\nthe lazy dog and cat is that", "src0"),
      (3L, "the nav bar\nthe cat sat for with that", "src1"),
      (4L, "unique text of the day for all and more words", "src1"),
      (5L, "solo mumble", "src0"),
      (6L, "the nav bar\nthe new doc is here and there", "src0"),
      (7L, "completely different words that go for with", "src0")
    ).toDF("doc_id", "text", "source")
    // the frozen reference LM, trained per predicted language on the
    // v1 baseline (the chain's own langid, mirroring the deployment)
    val lmReal = TextStats.refLmTrain(
      v1.withColumn("lang_pred", TextStats.langId(col("text"))),
      "text", "lang_pred", col("lang_pred") =!= "und", numBuckets = 64)
    val st1 = Refresh.ccnetBuildState(v1, lines, lmReal)
    val thr = Refresh.ccnetTailThr(st1.scored)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("lang", "doc_id", "n_bigrams", "lp").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
    val scored1 = rows(st1.scored)
    val st2 = Refresh.ccnetRefresh(st1, v1, v2, lines, lmReal)
    val inc = rows(st2.scored)
    val full = rows(Refresh.ccnetBuildState(v2, lines, lmReal).scored)
    assert(inc == full, s"refresh drifted from rebuild:\n inc=$inc\n full=$full")
    // the flip happened: doc 2 now OWNS the nav line, so its cleaned
    // text (and bigram count) grew vs the v1 state
    def nbg(s: Set[(String, Long, Long, Double)], id: Long) =
      s.collectFirst { case (_, `id`, n, _) => n }.get
    assert(nbg(inc, 2L) > nbg(scored1, 2L),
      s"doc 2 did not inherit the nav line: ${nbg(scored1, 2L)} -> ${nbg(inc, 2L)}")
    // the added doc drops the (now doc-2-owned) nav line
    assert(inc.exists(_._2 == 6L), "added doc missing from scored state")
    // untouched + unaffected doc 7 carries its row forward bit-for-bit
    assert(inc.filter(_._2 == 7L) == scored1.filter(_._2 == 7L),
      "unaffected doc's scored row changed")
    // removed doc is gone
    assert(!inc.exists(_._2 == 1L), "removed doc still in scored state")
    // the kept report folds identically through the frozen thresholds
    val repI = Refresh.ccnetKeptReport(st2.scored, thr).collect().map(_.toString)
    val repF = Refresh.ccnetKeptReport(
      Refresh.ccnetBuildState(v2, lines, lmReal).scored, thr)
      .collect().map(_.toString)
    assert(repI.toSeq == repF.toSeq, s"${repI.toSeq} vs ${repF.toSeq}")
  }

  /** The X23e carve: two merged corpus versions (doc_id, text, src),
    * the line view, a frozen LM + slackened thresholds and the
    * decontamination benchmark.
    */
  private def x23eInputs() = {
    import graft.ext.{Refresh, TextStats}
    import spark.implicits._
    val lines = split(coalesce(col("text"), lit("")), "\n")
    def mk(rows: Seq[(Long, String, String)]) =
      rows.toDF("doc_id", "text", "src")
    val base = "the quick brown fox jumps over the lazy dog and that " +
      "is for with all of the words in this line of text for the day"
    val uniq = "unique curated text of the day for all with many fine " +
      "words and that is that for sure " +
      ("filler words and more for that " * 3)
    val ctrl = "completely different control words that go for with " +
      "and the rest of the day is that " + ("steady text for control " * 3)
    // v1: near-dup pair 11/12 (one-word edit), unique 13, control 14
    val m1 = mk(Seq((11L, base + " alpha", "curated"),
      (12L, base + " beta", "web"), (13L, uniq, "curated"),
      (14L, ctrl, "web")))
    // v2: CHANGE 13 (re-cleaned + re-scored under the frozen LM), ADD
    // 15 as a third near-dup of 11/12 (its pairs must arrive via the
    // CROSS probe against the retired standing index), keep 11/12/14
    val m2 = mk(Seq((11L, base + " alpha", "curated"),
      (12L, base + " beta", "web"), (13L, uniq + " changed", "curated"),
      (14L, ctrl, "web"), (15L, base + " gamma", "curated")))
    val bench = Seq((99L, "benchmark probe sentence that never overlaps"))
      .toDF("doc_id", "text")
    val lm = TextStats.refLmTrain(
      m1.withColumn("lang_pred", TextStats.langId(col("text"))),
      "text", "lang_pred", col("lang_pred") =!= "und", numBuckets = 64)
    // frozen thresholds with slack: the crafted texts cluster within
    // ~0.3 of each other, so the real v1 tertile would drop the delta
    // docs and starve the TAIL machinery this test exists to exercise
    // (threshold semantics are x112's spec); the gate stays in-chain
    val thr = Refresh.ccnetTailThr(
      Refresh.ccnetBuildState(m1, lines, lm).scored)
      .view.mapValues(_ - 1.0).toMap
    (m1, m2, lines, lm, thr, bench)
  }

  test("X23e assembly refresh: refresh == rebuild manifest; fresh doc joins its cluster; untouched meta carried") {
    import graft.ext.Refresh
    val (m1, m2, lines, lm, thr, bench) = x23eInputs()
    val st1 = Refresh.asmBuildState(m1, lines, lm, thr, bench)
    val st2 = Refresh.asmRefresh(st1, m1, m2, lines, lm, thr, bench)
    val fullSt = Refresh.asmBuildState(m2, lines, lm, thr, bench)
    def man(meta: org.apache.spark.sql.DataFrame,
            cl: org.apache.spark.sql.DataFrame) =
      Refresh.asmManifestFrom(meta, cl).orderBy("shard")
        .collect().map(_.toString).toSeq
    assert(man(st2.dedup.meta, st2.clusters) ==
      man(fullSt.dedup.meta, fullSt.clusters),
      "refresh manifest drifted from rebuild")
    // the refreshed dedup STATE equals the rebuild's, frame by frame —
    // the next refresh starts from what a rebuild would leave behind
    def rowSet(df: org.apache.spark.sql.DataFrame) =
      df.select(df.columns.sorted.map(col).toIndexedSeq: _*)
        .collect().map(_.toSeq).toSet
    for ((nm, inc, reb) <- Seq(
        ("meta", st2.dedup.meta, fullSt.dedup.meta),
        ("bandIdx", st2.dedup.bandIdx, fullSt.dedup.bandIdx),
        ("shingles", st2.dedup.shingles, fullSt.dedup.shingles),
        ("pairs", st2.dedup.pairs, fullSt.dedup.pairs)))
      assert(rowSet(inc) == rowSet(reb), s"refreshed $nm drifted from the rebuild")
    // the fresh near-dup joined the standing cluster via cross pairs
    val p2 = st2.dedup.pairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p2.contains((11L, 15L)) && p2.contains((12L, 15L)),
      s"fresh doc's cross pairs missing: $p2")
    val cl2 = st2.clusters.select("doc_id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cl2.get(15L) == cl2.get(11L) && cl2.get(15L) == cl2.get(12L),
      s"fresh doc not in the standing cluster: $cl2")
    // untouched control doc carries its slim meta row bit-for-bit
    def metaRow(df: org.apache.spark.sql.DataFrame, id: Long) =
      df.filter(col("doc_id") === id).collect().map(_.toString).toSeq
    assert(metaRow(st2.dedup.meta, 14L) == metaRow(st1.dedup.meta, 14L),
      "unaffected doc's meta row changed")
    // the changed doc was re-derived, not carried
    assert(metaRow(st2.dedup.meta, 13L) == metaRow(fullSt.dedup.meta, 13L),
      "changed doc's meta row drifted from the rebuild")
    // the tail state is slim BY SCHEMA: corpus text never enters any
    // refresh frame except the shingle table (which carries hashed
    // shingle sets, not text — asserted too)
    for ((nm, df) <- Seq("meta" -> st2.dedup.meta, "pairs" -> st2.dedup.pairs,
        "clusters" -> st2.clusters, "bandIdx" -> st2.dedup.bandIdx,
        "shingles" -> st2.dedup.shingles))
      assert(!df.columns.contains("text") && !df.columns.contains("clean_text"),
        s"$nm carries corpus text: ${df.columns.toSeq}")
  }

  test("X23e refresh footprint: a repeated assembly refresh + rebuild stays within its job budget") {
    import graft.ext.Refresh
    // the X23 footprint test's discipline for the assembly refresh
    // (x114/x131/x137): once warm, one refresh plus the rebuild it is
    // checked against runs at most this many Spark jobs. Measured: 122
    // run alone, 123 inside the full suite (the code before the shared
    // fold: 135). Most of them are AQE query-stage jobs, which runtime
    // re-planning can add or drop, hence the headroom
    val budget = 128
    val (m1, m2, lines, lm, thr, bench) = x23eInputs()
    val st1 = Refresh.asmBuildState(m1, lines, lm, thr, bench)
    def man(st: Refresh.AsmState) =
      Refresh.asmManifestFrom(st.dedup.meta, st.clusters)
        .collect().map(_.toSeq).toSet
    def run() = (man(Refresh.asmRefresh(st1, m1, m2, lines, lm, thr, bench)),
      man(Refresh.asmBuildState(m2, lines, lm, thr, bench)))
    run()
    val ((inc, full), jobs) = withJobCount(run())
    assert(inc == full, "refresh manifest != rebuild manifest")
    assert(jobs <= budget, s"assembly refresh + rebuild ran $jobs jobs, budget $budget")
  }

  test("X5e re-baseline trigger: stable stays quiet, vocabulary drift trips KL, new language trips membership") {
    import graft.ext.TextStats
    import spark.implicits._
    val stableTxt = "the quick brown fox jumps over the lazy dog " * 8
    val train = (1L to 20L).map(i => (i, stableTxt + s" tail$i", "en"))
      .toDF("doc_id", "text", "lang")
    val lm = TextStats.refLmTrain(train, "text", "lang", lit(true),
      numBuckets = 256)
    def report(rows: Seq[(Long, String, String)]) =
      TextStats.refLmDriftReport(rows.toDF("doc_id", "text", "lang"),
          "text", "lang", lm, klThreshold = 0.5)
        .collect().map(r => r.getString(0) ->
          (if (r.isNullAt(3)) Double.NaN else r.getDouble(3),
            r.getBoolean(4), r.getBoolean(5))).toMap
    // (a) same distribution: quiet
    val stable = report((1L to 20L).map(i => (i, stableTxt + s" tail$i", "en")))
    assert(stable("en")._2 && !stable("en")._3,
      s"stable corpus tripped the trigger: $stable")
    // (b) vocabulary shift within a KNOWN language: the KL leg trips
    val driftTxt = "zebra quartz vortex nymph waltz jigsaw phlegm crypt " * 8
    val drifted = report((1L to 20L).map(i => (i, driftTxt + s" apex$i", "en")))
    assert(drifted("en")._1 > stable("en")._1,
      s"drift did not raise KL: $drifted vs $stable")
    assert(drifted("en")._2 && drifted("en")._3,
      s"drifted corpus did not trip the KL leg: $drifted")
    // (c) a language the frozen model never saw: the MEMBERSHIP leg
    // trips even though its smoothed KL reads low (tiny sample ->
    // near-uniform P vs the uniform absent-Q — the documented bias)
    val newLang = report(Seq((1L, "der die das und ist", "de")))
    assert(!newLang("de")._2 && newLang("de")._3,
      s"new language did not trip the membership leg: $newLang")
    // (d) r16, per the r15 advice: a brand-new language whose docs ALL
    // have < 2 tokens emits NO bigram — it must still surface (null kl
    // -> NaN here, n_bigrams 0) and fail closed, not vanish from the
    // report; and a FROZEN language reduced to tiny docs fails closed
    // too (drift unmeasurable)
    val tiny = report(Seq((1L, "bonjour", "fr"), (2L, "oui", "fr"),
      (3L, "the", "en")))
    assert(tiny.contains("fr"), s"tiny-doc language vanished: $tiny")
    assert(tiny("fr")._1.isNaN && !tiny("fr")._2 && tiny("fr")._3,
      s"tiny-doc new language did not fail closed: $tiny")
    assert(tiny("en")._1.isNaN && tiny("en")._2 && tiny("en")._3,
      s"frozen language with unmeasurable drift did not fail closed: $tiny")
  }

  test("X5f-c unigram train: frequent whole words become pieces; encode tiles and round-trips") {
    import graft.ext.TextStats
    import spark.implicits._
    // 'scan' dominates; 'scans' shares the prefix; 'x9' is rare
    val docs = (1 to 30).map(i =>
        (i.toLong, "scan scan scans data" + (if (i % 10 == 0) " x9" else "")))
      .toDF("doc_id", "text")
    val table = TextStats.unigramTrain(docs, "text",
      maxPieceLen = 4, minCount = 2, rounds = 3)
    val byPiece = table.toMap
    // the dominant 4-char word survives EM as a whole piece with the
    // bulk of its corpus mass (60 'scan' + the prefix uses in 'scans')
    assert(byPiece.getOrElse("scan", 0L) >= 60L,
      s"'scan' did not win its mass: ${table.toSeq.sortBy(-_._2).take(8)}")
    // single chars are never pruned from the candidate table
    for (c <- "scandatx9".map(_.toString).distinct)
      assert(byPiece.contains(c), s"char '$c' missing from the table")
    // encode: ids decode back to the exact token stream (pieces tile)
    val ids = docs.select(
        TextStats.unigramEncodeIds(col("text"), table).as("ids"))
      .head().getSeq[Long](0)
    val vocab = table.map(_._1)
    val decoded = ids.map(i => vocab(i.toInt)).mkString
    assert(decoded == "scanscanscansdata",
      s"round-trip drifted: $decoded")
  }

  test("X23b incrementalClusters: merge-on-add, split-on-retire, carry untouched — equals full recompute") {
    import graft.ext.{Dedup, Refresh}
    // standing v1 graph: components {1,2,3} (chain), {10,11}, {20,21},
    // {30,31,32} (star on 30)
    val v1Pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L),
      (30L, 31L), (30L, 32L)).toDF("id_a", "id_b")
    val standing = Dedup.dupClusters(v1Pairs)
    // delta: ADD pair (3,10) — merges {1,2,3} with {10,11};
    // RETIRE doc 30 — splits {30,31,32} into nothing (31,32 lose all
    // edges); ADD pair (40,41) — a brand-new component of fresh nodes;
    // {20,21} is untouched and must carry forward
    val touched = Seq(30L).toDF("doc_id")
    val added = Seq((3L, 10L), (40L, 41L)).toDF("id_a", "id_b")
    val pairs2 = v1Pairs
      .filter(!col("id_a").isin(30L) && !col("id_b").isin(30L))
      .unionByName(added)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inc = Refresh.incrementalClusters(standing, pairs2, touched, added)
    val full = Dedup.dupClusters(pairs2)
    assert(rows(inc) == rows(full),
      s"inc=${rows(inc).toSeq.sorted} full=${rows(full).toSeq.sorted}")
    // the expected structure, spelled out: merged component labeled by
    // its min (1), fresh component by 40, untouched {20,21} intact,
    // 30/31/32 gone (no surviving edges)
    assert(rows(inc) == Set((1L, 1L), (2L, 1L), (3L, 1L), (10L, 1L),
      (11L, 1L), (20L, 20L), (21L, 20L), (40L, 40L), (41L, 40L)))
    // empty delta: the standing map carries through bit-identically
    val noTouched = spark.emptyDataset[Long].toDF("doc_id")
    val noPairs = spark.emptyDataset[(Long, Long)].toDF("id_a", "id_b")
    assert(rows(Refresh.incrementalClusters(standing, v1Pairs, noTouched,
      noPairs)) == rows(standing))
    // retire that SPLITS a surviving component: drop the bridge 2 —
    // {1,3} end up in singleton-free separate... 1 and 3 lose their
    // shared component; only pairs (30,31),(30,32) etc untouched
    val pairs3 = v1Pairs.filter(col("id_a") =!= 2L && col("id_b") =!= 2L)
    val inc3 = Refresh.incrementalClusters(standing, pairs3,
      Seq(2L).toDF("doc_id"), noPairs)
    assert(rows(inc3) == rows(Dedup.dupClusters(pairs3)),
      "split-on-retire diverged from full recompute")
  }

  test("X5f encode: ids agree with the k-pass count; vocab ids decode back") {
    val docs = Tables.load(spark, sf(), "documents")
    val trained = TextStats.bpeTrain(docs, "text", numMerges = 8)
    val vocab = TextStats.bpeVocab(docs, "text", trained.toSeq)
    val merges = trained.map(m => (m._1, m._2)).toSeq
    // vocab: chars first (sorted), then merge outputs in order
    assert(vocab.take(vocab.size - trained.length) == vocab.take(vocab.size - trained.length).sorted)
    assert(trained.forall(m => vocab.contains(m._1 + m._2)))
    val rows = docs.filter(col("doc_id").isNotNull).select(
      TextStats.bpeEncodeIds(col("text"), merges, vocab).as("ids"),
      TextStats.bpeSegmentCount(col("text"), merges).as("c")).collect()
    rows.foreach { r =>
      // id-sequence length == the k-pass fold's subword count (the two
      // segmentations coincide on trained lists — PropertySpec fuzz)
      assert(r.getSeq[Long](0).size.toLong == r.getStruct(1).getLong(1))
      // every id resolves in the vocabulary (no -1 fallback on the
      // corpus the vocab was built from)
      assert(r.getSeq[Long](0).forall(id => id >= 0 && id < vocab.size))
    }
    // crafted determinism: "ab ab cd" trains merge (a,b); vocab =
    // chars a,b,c,d then "ab"; encode "ab cd ab" -> [ab, c, d, ab]
    val tiny = Seq((1L, "ab ab cd")).toDF("doc_id", "text")
    val m2 = TextStats.bpeTrain(tiny, "text", numMerges = 8)
    assert(m2.map(x => (x._1, x._2)).toSeq == Seq(("a", "b")))
    val v2 = TextStats.bpeVocab(tiny, "text", m2.toSeq)
    assert(v2 == Seq("a", "b", "c", "d", "ab"))
    val enc = Seq((1L, "ab cd ab")).toDF("doc_id", "text")
      .select(TextStats.bpeEncodeIds(col("text"), m2.map(x => (x._1, x._2)).toSeq, v2))
      .collect()(0).getSeq[Long](0)
    assert(enc == Seq(4L, 2L, 3L, 4L), enc.toString)
  }

  test("X5f unseen-text encode: novel chars hit the reserved unk id, known-char novel words do not") {
    // train on a tiny corpus over chars {a,b,c,d}; encode text the
    // vocab never saw: "db" is a novel WORD of known chars (segments
    // to real char ids), "azb" contains the novel CHAR z (and only z
    // may fall back to unk = vocab.length)
    val tiny = Seq((1L, "ab ab cd")).toDF("doc_id", "text")
    val m = TextStats.bpeTrain(tiny, "text", numMerges = 8)
      .map(x => (x._1, x._2)).toSeq
    val v = TextStats.bpeVocab(tiny, "text",
      m.map { case (a, b) => (a, b, 0L) })
    assert(v == Seq("a", "b", "c", "d", "ab"))
    val unk = v.size.toLong // reserved: 5
    val enc = Seq((1L, "db azb ab")).toDF("doc_id", "text")
      .select(TextStats.bpeEncodeIdsUnk(col("text"), m, v))
      .collect()(0).getSeq[Long](0)
    // db -> [d, b] real ids; azb -> a, unk(z), b (the pair (a,b) is
    // not adjacent across z, and z can never participate in a trained
    // merge); ab -> merged id
    assert(enc == Seq(3L, 1L, 0L, unk, 1L, 4L), enc.toString)
    // the 3-arg self-corpus form keeps the legacy -1 marker
    val legacy = Seq((1L, "z")).toDF("doc_id", "text")
      .select(TextStats.bpeEncodeIds(col("text"), m, v))
      .collect()(0).getSeq[Long](0)
    assert(legacy == Seq(-1L), legacy.toString)
    // cross-corpus fixture claim: under the disjoint-trained model the
    // held-out slice's ids are always < vocab.size OR == unk, and unk
    // appears ONLY where the text contains out-of-alphabet chars
    val docs = Tables.load(spark, sf(), "documents")
    val trainDocs = docs.filter(col("doc_id").isNotNull && col("doc_id") % 7 =!= 3)
    val mm = TextStats.bpeTrain(trainDocs, "text", numMerges = 16)
    val vv = TextStats.bpeVocab(trainDocs, "text", mm.toSeq)
    val held = docs.filter(col("doc_id").isNotNull && col("doc_id") % 7 === 3)
      .withColumn("text", when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" zx9q"))).otherwise(col("text")))
      .select(col("doc_id"), col("text"),
        TextStats.bpeEncodeIdsUnk(col("text"),
          mm.map(x => (x._1, x._2)).toSeq, vv).as("ids"))
      .collect()
    val unkF = vv.size.toLong
    assert(held.nonEmpty)
    held.foreach { r =>
      val ids = r.getSeq[Long](2)
      assert(ids.forall(id => id == unkF || (id >= 0 && id < unkF)),
        s"id out of range for doc ${r.getLong(0)}")
      val hasNovel = r.getString(1).exists(c => "zx9".contains(c))
      assert(ids.contains(unkF) == hasNovel,
        s"unk presence mismatch for doc ${r.getLong(0)}")
    }
  }

  test("X5f decode: round-trip on the corpus; unk/corrupt ids hit the declared token") {
    // crafted: vocab over "ab ab cd" = [a,b,c,d,ab]; ids [4,2,3,4]
    // decode to the concatenated words; the reserved unk id
    // (vocab.length), a corrupt id past it, and -1 all decode to the
    // declared <unk> token; the empty sequence decodes to ""
    val v = Seq("a", "b", "c", "d", "ab")
    def dec(ids: Seq[Long]): String =
      Seq(Tuple1(ids)).toDF("ids")
        .select(TextStats.bpeDecode(col("ids"), v)).collect()(0).getString(0)
    assert(dec(Seq(4L, 2L, 3L, 4L)) == "abcdab")
    assert(dec(Seq(0L, 5L, 1L)) == "a<unk>b")  // reserved unk = 5
    assert(dec(Seq(99L)) == "<unk>" && dec(Seq(-1L)) == "<unk>")
    assert(dec(Seq.empty) == "")
    // corpus claim: decode(encode(text)) == concat(tokens(text)) for
    // EVERY document (whitespace-modulo losslessness — BPE merges never
    // cross word boundaries and vocab ids are invertible)
    val docs = Tables.load(spark, sf(), "documents")
    val trained = TextStats.bpeTrain(docs, "text", numMerges = 16)
    val vocab = TextStats.bpeVocab(docs, "text", trained.toSeq)
    val merges = trained.map(m => (m._1, m._2)).toSeq
    val bad = docs.filter(col("doc_id").isNotNull)
      .select(
        TextStats.bpeDecode(
          TextStats.bpeEncodeIds(col("text"), merges, vocab), vocab)
          .as("decoded"),
        concat_ws("", Dedup.tokens(coalesce(col("text"), lit(""))))
          .as("norm"))
      .filter(col("decoded") =!= col("norm")).count()
    assert(bad == 0L, s"$bad documents failed the decode round-trip")
  }

  test("X5f fertility: crafted per-group arithmetic; empty group reports NULL ratios") {
    // model over "ab ab cd": merge (a,b), vocab [a,b,c,d,ab]
    val tiny = Seq((1L, "ab ab cd")).toDF("doc_id", "text")
    val m = TextStats.bpeTrain(tiny, "text", numMerges = 8)
      .map(x => (x._1, x._2)).toSeq
    val v = TextStats.bpeVocab(tiny, "text", m.map { case (a, b) => (a, b, 0L) })
    // en: "ab ab" -> [ab, ab] (2 ids, 2 words, 4 chars) + "cd" ->
    // [c, d] (2 ids, 1 word, 2 chars) => fertility 4/3, cpt 6/4;
    // fr: "ab cd" -> [ab, c, d] (3 ids, 2 words, 4 chars) => 1.5, 4/3;
    // xx: empty text => zero mass, NULL ratios (not NaN/Infinity)
    val docs = Seq((1L, "en", "ab ab"), (2L, "en", "cd"),
      (3L, "fr", "ab cd"), (4L, "xx", "")).toDF("doc_id", "lang", "text")
    val rows = TextStats.tokenFertility(docs, "text", "lang", m, v)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4),
        if (r.isNullAt(5)) null else r.getDouble(5),
        if (r.isNullAt(6)) null else r.getDouble(6))).toSeq
    assert(rows == Seq(
      ("en", 2L, 3L, 4L, 6L, 1.333333, 1.5),
      ("fr", 1L, 2L, 3L, 4L, 1.5, 1.333333),
      ("xx", 1L, 0L, 0L, 0L, null, null)), rows.toString)
  }

  test("X5i freq spectrum: crafted rows + conservation invariants on the fixture") {
    // "a a a b b c": a=3, b=2, c=1 -> three spectrum rows; log2
    // buckets 1->0, 2->1, 3->1; mass shares over total mass 6
    val docs = Seq((1L, "a a a b b"), (2L, "c")).toDF("doc_id", "text")
    val rows = TextStats.freqSpectrum(docs, "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(rows == Seq((1L, 0L, 1L, 1L, 0.166667),
      (2L, 1L, 1L, 2L, 0.333333), (3L, 1L, 1L, 3L, 0.5)), rows.toString)
    // fixture invariants: spectrum mass folds back to the corpus token
    // count and n_terms to the distinct vocabulary
    val corpus = Tables.load(spark, sf(), "documents")
    val spec = TextStats.freqSpectrum(corpus, "text")
      .agg(sum("mass"), sum("n_terms")).collect()(0)
    val toks = corpus.select(
      explode(Dedup.tokens(coalesce(col("text"), lit("")))).as("t"))
    assert(spec.getLong(0) == toks.count())
    assert(spec.getLong(1) == toks.distinct().count())
  }

  test("X7h cluster-balanced sample: crafted flattening; kept hash == plain-JVM md5 replay") {
    // two crafted cells via explicit seeds: vectors 1,2,3 nearest seed
    // 0 (capped 3 -> 2), vectors 4,5 nearest seed 1 (complete)
    val seeds = Some(Array(Array(1.0, 0.0), Array(0.0, 1.0)))
    val em = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.9, 0.1)),
      (3L, Seq(0.8, 0.05)), (4L, Seq(0.0, 1.0)), (5L, Seq(0.1, 0.9)))
      .toDF("vec_id", "embedding")
    val rep = Curation.clusterBalancedSample(em, nlist = 2, cap = 2,
      seeds = seeds).collect()
    assert(rep.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getDouble(3))).toSeq ==
      Seq((0L, 3L, 2L, 0.666667), (1L, 2L, 2L, 1.0)), rep.mkString(";"))
    // independent plain-JVM replay of the kept membership hash: order
    // each cell's ids by the 8-hex md5("graft-cap:"+id) prefix (id
    // tiebreak), take cap, md5 the space-joined sequence
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def pri(id: Long): Long =
      java.lang.Long.parseLong(md5hex(s"graft-cap:$id").take(8), 16)
    val cellsOf = Map(0L -> Seq(1L, 2L, 3L), 1L -> Seq(4L, 5L))
    rep.foreach { r =>
      val expect = md5hex(cellsOf(r.getLong(0))
        .sortBy(id => (pri(id), id)).take(2).mkString(" "))
      assert(r.getString(4) == expect, s"cell ${r.getLong(0)} hash drift")
    }
    // fixture invariants: n_kept == least(cap, n_total), coverage folds
    val fx = Curation.clusterBalancedSample(
      Tables.load(spark, sf(), "embeddings"), nlist = 8, cap = 40).collect()
    assert(fx.length == 8)
    fx.foreach { r =>
      assert(r.getLong(2) == math.min(40L, r.getLong(1)))
      assert(r.getDouble(3) ==
        BigDecimal(r.getLong(2).toDouble / r.getLong(1))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  test("X5h vocab growth: first-occurrence form == multiplied spec oracle") {
    // r11: vocabGrowth reduces the token stream ONCE (term min-id +
    // per-doc counts, then ≤steps-row joins); the original ×steps
    // broadcast-join form is the independent oracle — identical rows at
    // a steps value that doesn't divide the id range evenly
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    val fixture = Tables.load(spark, sf(), "documents")
    assert(rows(TextStats.vocabGrowth(fixture, "text", "doc_id", steps = 7)) ==
      rows(TextStats.vocabGrowthMultiplied(fixture, "text", "doc_id", steps = 7)))
    // sparse + negative ids, a tokenless doc, and an id-less row: the
    // `div` cutoff truncation and the two formulations' row sets must
    // still coincide exactly
    val crafted = Seq((java.lang.Long.valueOf(-5L), "a b"),
        (java.lang.Long.valueOf(0L), "b c"),
        (java.lang.Long.valueOf(9L), "c d e a"),
        (java.lang.Long.valueOf(10L), ""),
        (null.asInstanceOf[java.lang.Long], "ghost"))
      .toDF("doc_id", "text")
    assert(rows(TextStats.vocabGrowth(crafted, "text", "doc_id", steps = 3)) ==
      rows(TextStats.vocabGrowthMultiplied(crafted, "text", "doc_id", steps = 3)))
  }

  test("Artifacts: reloaded corpus-scale indexes serve identical results") {
    import graft.ext.{Artifacts, TrainSet}
    val tmp = java.nio.file.Files.createTempDirectory("graft-index-spec").toString
    val emb = Tables.load(spark, sf(), "embeddings")
    val docs = Tables.load(spark, sf(), "documents")

    // corpus slot index: negatives drawn through the RELOADED index must
    // equal negatives drawn through the fresh one (same slots, same ids)
    val slots = TrainSet.corpusSlotIndex(docs, "doc_id")
    Artifacts.saveIndex(slots, s"$tmp/slots")
    val anchors = docs.filter(col("doc_id") % 50 === 0).select("doc_id")
    def draw(idx: org.apache.spark.sql.DataFrame) =
      TrainSet.negativeSampleIndexed(anchors, "doc_id", idx, k = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(identity).toSeq
    assert(draw(Artifacts.loadIndex(spark, s"$tmp/slots")) == draw(slots),
      "reloaded slot index drew different negatives")

    // banded LSH index (partitioned by band — the probe-side pruning
    // layout): probe + top-k through the RELOADED index must equal the
    // fresh index's answer exactly
    val index = graft.streaming.StreamSimilarity.bandedIndex(
      emb, bands = 16, bitsPerBand = 4, dim = 64)
    Artifacts.saveIndex(index, s"$tmp/lsh", layoutCols = Seq("band"))
    val queries = emb.filter(col("vec_id") % 100 === 0)
    def topk(idx: org.apache.spark.sql.DataFrame) =
      graft.streaming.StreamSimilarity.topKPerBatch(
        graft.streaming.StreamSimilarity.probeCandidates(
          queries, idx, bands = 16, bitsPerBand = 4, dim = 64), k = 5)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(identity).toSeq
    val fresh = topk(index)
    assert(fresh.nonEmpty, "banded probe returned nothing")
    assert(topk(Artifacts.loadIndex(spark, s"$tmp/lsh")) == fresh,
      "reloaded banded index served different top-k")
  }

  test("X1e line dedup: keep-first across docs, intra-doc dup untouched, rebuild exact") {
    val docs = Seq(
      (1L, "boiler\nunique a"),
      (2L, "boiler\nunique b\nboiler"),
      (3L, "unique c"),
      (4L, "intra\nintra")).toDF("doc_id", "text")
    val lines = split(col("text"), "\n")
    // "boiler" lives in docs 1 and 2 -> keep only its first corpus
    // occurrence (1,0); doc 4's intra-doc repeat is NOT cross-doc
    val drops = Dedup.lineDrops(docs, "doc_id", lines).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    assert(drops == Map(2L -> Seq(0, 2)), drops.toString)
    val got = Dedup.lineDedupRewrite(docs, "doc_id", lines)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (1L, 2L, 0L, "boiler\nunique a"),
      (2L, 3L, 2L, "unique b"),
      (3L, 1L, 0L, "unique c"),
      (4L, 2L, 0L, "intra\nintra")), got.toSeq)
    // minDocs raised past the duplication: nothing drops anywhere
    assert(Dedup.lineDedupRewrite(docs, "doc_id", lines, minDocs = 3)
      .agg(sum(col("n_dropped"))).collect()(0).getLong(0) == 0L)
  }

  test("X5k reference LM: crafted histograms + scoring match a plain-JVM md5 replay") {
    def md5hex(s: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val nb = 64
    def bkt(s: String): Long = java.lang.Long.parseLong(md5hex(s).substring(0, 8), 16) % nb
    val docs = Seq(
      (1L, "en", "ref", "alpha beta gamma"),
      (2L, "en", "ref", "beta gamma"),
      (3L, "en", "apply", "alpha beta delta"),
      (4L, "fr", "ref", "un deux"),
      (5L, "en", "ref", "solo") // < 2 tokens: contributes no bigrams
    ).toDF("doc_id", "lang", "slice", "text")
    val m = TextStats.refLmTrain(docs, "text", "lang",
      col("slice") === "ref", numBuckets = nb)
    assert(m.langs.toSeq == Seq("en", "fr"))
    val en = m.langIdx("en").toLong * nb
    val fr = m.langIdx("fr").toLong * nb
    // bucket collisions (if any) fold identically in both replays
    val cbWant = Seq(en -> "alpha beta", en -> "beta gamma", en -> "beta gamma",
        fr -> "un deux").map { case (off, g) => off + bkt(g) }
      .groupBy(identity).map { case (k, v) => k -> v.size.toDouble }
    val cuWant = Seq(en -> "alpha", en -> "beta", en -> "beta", fr -> "un")
      .map { case (off, w) => off + bkt(w) }
      .groupBy(identity).map { case (k, v) => k -> v.size.toDouble }
    assert(m.cb == cbWant, s"cb: ${m.cb} vs $cbWant")
    assert(m.cu == cuWant, s"cu: ${m.cu} vs $cuWant")
    // held-out doc 3 "alpha beta delta": add-one formula by hand
    def cbAt(k: Long) = cbWant.getOrElse(k, 0.0)
    def cuAt(k: Long) = cuWant.getOrElse(k, 0.0)
    val want = (math.log((cbAt(en + bkt("alpha beta")) + 1) / (cuAt(en + bkt("alpha")) + nb)) +
      math.log((cbAt(en + bkt("beta delta")) + 1) / (cuAt(en + bkt("beta")) + nb))) / 2
    val got = docs.filter(col("doc_id") === 3L)
      .select(TextStats.refLmAvgLogProb(col("text"), col("lang"), m))
      .collect()(0).getDouble(0)
    assert(math.abs(got - want) < 1e-12, s"$got vs $want")
    // unseen language: one smoothing rule, every bigram ln(1/numBuckets)
    val alien = Seq(("zz", "x y z")).toDF("lang", "text")
      .select(TextStats.refLmAvgLogProb(col("text"), col("lang"), m))
      .collect()(0).getDouble(0)
    assert(math.abs(alien - math.log(1.0 / nb)) < 1e-12, alien.toString)
  }

  test("X5k perplexity tiers: artifact round-trip bit-exact; tier invariants on the fixture") {
    import graft.ext.Artifacts
    def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)
    val docs = Tables.load(spark, sf(), "documents")
    val m = TextStats.refLmTrain(docs, "text", "lang",
      col("source").isin("src0", "src1"), numBuckets = 256)
    val tmp = java.nio.file.Files.createTempDirectory("graft-reflm").toString
    Artifacts.saveRefLm(spark, m, s"$tmp/reflm")
    val m2 = Artifacts.loadRefLm(spark, s"$tmp/reflm")
    assert(m2.langs.toSeq == m.langs.toSeq && m2.numBuckets == m.numBuckets)
    assert(m2.cb.keySet == m.cb.keySet && m2.cu.keySet == m.cu.keySet)
    m.cb.foreach { case (k, v) => assert(bits(m2.cb(k)) == bits(v), s"cb $k") }
    m.cu.foreach { case (k, v) => assert(bits(m2.cu(k)) == bits(v), s"cu $k") }
    val scored = docs.filter(col("lang").isNotNull).limit(50)
      .select(TextStats.refLmAvgLogProb(col("text"), col("lang"), m).as("a"),
        TextStats.refLmAvgLogProb(col("text"), col("lang"), m2).as("b"))
      .collect()
    scored.foreach(r => assert(bits(r.getDouble(0)) == bits(r.getDouble(1)),
      "reloaded RefLm scores differ"))

    val tiers = TextStats.perplexityTiers(docs, "text", "lang", "doc_id", m)
      .collect()
    val byLang = tiers.groupBy(_.getString(0))
    byLang.foreach { case (lang, rows) =>
      assert(rows.map(_.getString(1)).toSet == Set("head", "middle", "tail"), lang)
      assert(rows.head.getDouble(2) <= rows.head.getDouble(3),
        s"$lang: thr_lo above thr_hi")
      // head = lowest-perplexity tier: exp(-lp) is monotone in the cut
      val ppl = rows.map(r => r.getString(1) -> r.getDouble(6)).toMap
      assert(ppl("head") <= ppl("middle") && ppl("middle") <= ppl("tail"),
        s"$lang: $ppl")
    }
    // tiers cover exactly the scoreable documents (>= 2 tokens, lang set)
    val scoreable = docs.filter(col("doc_id").isNotNull && col("lang").isNotNull)
      .filter(size(Dedup.tokens(coalesce(col("text"), lit("")))) >= 2).count()
    assert(tiers.map(_.getLong(4)).sum == scoreable)
  }

  test("X5k perplexity keep-gate: kept set is exactly the non-tail tiers") {
    val docs = Tables.load(spark, sf(), "documents")
    val m = TextStats.refLmTrain(docs, "text", "lang",
      col("source").isin("src0", "src1") && col("doc_id").isNotNull,
      numBuckets = 256)
    // gate and report must agree per language on BOTH the count and the
    // xor membership checksum of the head+middle set — including every
    // lp == thr_lo boundary document (same >= rule in both)
    val wantByLang = TextStats.perplexityTiers(
        docs, "text", "lang", "doc_id", m).collect()
      .filter(_.getString(1) != "tail")
      .groupBy(_.getString(0))
      .map { case (lang, rows) =>
        lang -> (rows.map(_.getLong(4)).sum, rows.map(_.getLong(7)).reduce(_ ^ _))
      }
    val gotByLang = TextStats.perplexityKeep(
        docs, "text", "lang", "doc_id", m)
      .groupBy("lang").agg(count(lit(1)).as("n"),
        bit_xor(conv(substring(md5(col("doc_id").cast("string")), 1, 15),
          16, 10).cast("long")).as("x"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(gotByLang.keySet == wantByLang.keySet,
      s"language domains differ: ${gotByLang.keySet} vs ${wantByLang.keySet}")
    wantByLang.foreach { case (lang, want) =>
      assert(gotByLang(lang) == want,
        s"$lang: gate ${gotByLang(lang)} vs tiers-derived $want")
    }
    // sub-2-token / null-text docs fail closed (no mean exists);
    // an unTRAINED language tiers among itself (x105 convention)
    import spark.implicits._
    val edge = Seq((1L, "en", "solo"), (2L, "xx", "alpha beta gamma"),
      (3L, "en", null.asInstanceOf[String])).toDF("doc_id", "lang", "text")
    val kept = TextStats.perplexityKeep(edge, "text", "lang", "doc_id", m)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L), s"edge kept set: $kept")
  }

  test("X5f byte map: bijection over all 256 bytes; UTF-8 round-trip incl. non-BMP") {
    import graft.functions.ByteMapTokens
    // the mapped alphabet has exactly 256 distinct chars, identity on
    // printable Latin-1, shifts elsewhere — and unmap inverts exactly
    val chars = (0 until 256).map(ByteMapTokens.byteToChar)
    assert(chars.distinct.size == 256)
    assert(chars(97) == 'a' && chars(48) == '0' && chars(233) == 'é')
    assert(chars(32) == (256 + 32).toChar && chars(10) == (256 + 10).toChar &&
      chars(173) == (256 + 67).toChar && chars(127) == (256 + 33).toChar)
    // byte-level inverse restores the exact raw byte for all 256 —
    // including bare continuation bytes that are not valid UTF-8 alone
    (0 until 256).foreach { b =>
      val back = ByteMapTokens.unmapBytes(
        String.valueOf(ByteMapTokens.byteToChar(b)))
      assert(back.length == 1 && (back(0) & 0xff) == b,
        s"byte $b did not round-trip through the table")
    }
    // seeded fuzz: arbitrary BMP+non-BMP strings round-trip exactly
    val rnd = new scala.util.Random(42)
    (1 to 200).foreach { _ =>
      val s = (1 to rnd.nextInt(30)).map { _ =>
        rnd.nextInt(4) match {
          case 0 => (33 + rnd.nextInt(94)).toChar.toString
          case 1 => (0xe9 + rnd.nextInt(8)).toChar.toString       // Latin-1
          case 2 => (0x4e00 + rnd.nextInt(100)).toChar.toString   // CJK
          case _ => new String(Character.toChars(0x1f600 + rnd.nextInt(64)))
        }
      }.mkString
      assert(ByteMapTokens.unmapWord(ByteMapTokens.mapWord(s)) == s,
        s"round-trip broke on: $s")
    }
  }

  test("X5f byte-level encode: TOTAL on arbitrary UTF-8 — zero unks ever") {
    import spark.implicits._
    val train = Seq((1L, "the cat sat"), (2L, "the cat ran"),
      (3L, "the dog sat")).toDF("doc_id", "text")
    val merges = TextStats.bpeTrain(train, "text", numMerges = 4,
      wordsCol = Some(TextStats.byteWords(col("text"))))
    val vocab = TextStats.bpeVocabBytes(merges.toSeq)
    assert(vocab.length == 256 + merges.length)
    assert(vocab.take(256).distinct.size == 256, "base alphabet not total")
    val unk = vocab.length.toLong
    // wild inputs the training never saw: CJK, emoji, control bytes,
    // Latin-1, mixed whitespace — every id must be < unk
    val wild = Seq((1L, "déjà vu 世界 🚀 naïve"),
      (2L, "tab\tand\nnewlinevtab"), (3L, "ascii only words"),
      (4L, " control"), (5L, "🚀🚀🚀")).toDF("doc_id", "text")
    val bad = wild.select(TextStats.bpeEncodeIdsBytes(col("text"),
        merges.map(m => (m._1, m._2)).toSeq, vocab).as("ids"))
      .select(explode(col("ids")).as("id"))
      .filter(col("id") >= unk || col("id") < 0).count()
    assert(bad == 0L, s"$bad out-of-vocab ids under the byte-level model")
    // and the encode is lossless at the byte level: decode the ids of a
    // multi-byte doc back through the vocab + unmap — exact original
    val ids = wild.filter(col("doc_id") === 1L)
      .select(TextStats.bpeEncodeIdsBytes(col("text"),
        merges.map(m => (m._1, m._2)).toSeq, vocab).as("ids"))
      .collect()(0).getSeq[Long](0)
    val mapped = ids.map(i => vocab(i.toInt)).mkString
    assert(graft.functions.ByteMapTokens.unmapWord(mapped) ==
      "déjàvu世界🚀naïve", "byte-level decode did not restore the bytes")
  }
}
