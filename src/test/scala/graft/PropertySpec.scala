package graft

import graft.ext.{Dedup, Similarity}
import graft.operators.Snapshots
import graft.streaming.RateShape
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY §5.2 item 2) using scalacheck Gen
  * directly (the scalatest bridge isn't in the offline cache). Each
  * property samples N generated cases with a fixed base seed so failures
  * reproduce; Spark-facing properties keep N small (a job per case).
  */
class PropertySpec extends SparkSuite {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("generator determinism: any (seed, n) produces identical runs") {
    samples(Gen.zip(Gen.choose(0L, 10000L), Gen.choose(1L, 50L)), 6)
      .foreach { case (seed, n) =>
        val a = gen.RecordGen.records(spark, n, seed = seed).collect()
        val b = gen.RecordGen.records(spark, n, seed = seed).collect()
        assert(a.sameElements(b), s"seed=$seed n=$n")
      }
  }

  test("rate waveform invariants: rate in steps, 50s periodic") {
    val secs = samples(Gen.choose(0, 500), 20)
    val df = secs.map(_.toLong).toDF("sec")
    val rates = df.select(col("sec"), RateShape.rateFor(col("sec")),
        RateShape.rateFor(col("sec") + 50)).collect()
    rates.foreach { r =>
      assert(Set(10L, 110L, 210L, 310L, 410L).contains(r.getLong(1)), s"sec=${r.getLong(0)}")
      assert(r.getLong(1) == r.getLong(2), "not 50s-periodic")
    }
  }

  test("snapshot deltas reconstruct the counter series (J1 inverse)") {
    samples(Gen.nonEmptyListOf(Gen.choose(0L, 100L)), 6).foreach { deltas =>
      val series = deltas.scanLeft(0L)(_ + _).tail.zipWithIndex
        .map { case (cnt, i) => ("k", i, cnt) }
      val df = series.toDF("k", "snap", "cnt")
      val got = Snapshots.snapshotDelta(df, Seq("k"), "snap", "cnt")
        .orderBy("snap").collect().map(_.getLong(3))
      assert(got.toSeq == deltas, s"deltas=$deltas")
    }
  }

  test("jaccard bounds: all emitted pairs have 0 < j <= 1 and id_a < id_b") {
    val pairs = Dedup.jaccardPairs(
      Tables.load(spark, sf(), "documents"), "text", "doc_id", 3, 0.01).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) > 0.0 && r.getDouble(2) <= 1.0)
    }
  }

  test("cosine is symmetric, bounded, and 1 on itself") {
    val vecGen = Gen.listOfN(8, Gen.choose(-5.0, 5.0))
      .suchThat(_.exists(_ != 0.0))
    val cases = samples(Gen.zip(vecGen, vecGen), 10)
    val df = cases.toDF("a", "b")
    df.select(
      Similarity.cosine(col("a"), col("b")).as("ab"),
      Similarity.cosine(col("b"), col("a")).as("ba"),
      Similarity.cosine(col("a"), col("a")).as("aa")).collect().foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12)
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-9)
      assert(r.getDouble(0) >= -1.0 - 1e-9 && r.getDouble(0) <= 1.0 + 1e-9)
    }
  }

  test("base-36 topic suffix round-trips through Integer.parseInt") {
    samples(Gen.choose(0, 1000), 50).foreach { t =>
      val suffix = java.lang.Integer.toString(t + 10, 36)
      assert(java.lang.Integer.parseInt(suffix, 36) - 10 == t)
    }
  }

  test("config quote stripping is idempotent and only touches edges") {
    samples(Gen.alphaNumStr, 50).foreach { s =>
      val q = "\"" + s + "\""
      val once = graft.config.ClusterConfigs.stripQuotes(q)
      assert(once == s)
      assert(graft.config.ClusterConfigs.stripQuotes(once) == once)
    }
  }

  test("simhash: hamming distance to a 1-token-edit is below random baseline") {
    val base = "spark engine query filter join group window shuffle partition broadcast"
    val edited = base.replace("broadcast", "alignment")
    val unrelated = "completely different vocabulary about cooking pasta sauce tomato basil"
    val df = Seq(base, edited, unrelated).toDF("text")
      .select(Dedup.simhash(col("text"))).collect().map(_.getLong(0))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(df(0), df(1)) < ham(df(0), df(2)))
  }

  test("portable simhash: deterministic, edit-sensitive like the native form") {
    val base = "spark engine query filter join group window shuffle partition broadcast"
    val edited = base.replace("broadcast", "alignment")
    val unrelated = "completely different vocabulary about cooking pasta sauce tomato basil"
    def fps(texts: String*): Array[Long] = texts.toDF("text")
      .withColumn("hs", Dedup.simhashPortableHashes(col("text")))
      .select(Dedup.simhashPortableVote(col("hs")))
      .collect().map(_.getLong(0))
    val a = fps(base, base, edited, unrelated, "")
    assert(a(0) == a(1))                       // same text -> same fp
    assert(a(4) == 0L)                         // no tokens -> fp 0
    assert(a(0) >= 0L && a(0) < (1L << 60))    // 60-bit range
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(a(0), a(2)) < ham(a(0), a(3)))  // 1-edit closer than unrelated
  }

  test("dupClusters equals brute-force union-find on random graphs") {
    val rnd = new scala.util.Random(7)
    for (_ <- 0 until 5) {
      val n = 2 + rnd.nextInt(30)
      val edges = (0 until (1 + rnd.nextInt(40)))
        .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      if (edges.nonEmpty) {
        // driver-side union-find ground truth
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        // normalize: min member id per component
        val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
        val expect = nodes.groupBy(find).flatMap { case (_, ms) =>
          val root = ms.min; ms.map(_ -> root)
        }.toMap
        // r19: BOTH execution paths must agree with the ground truth —
        // the size-gated driver union-find (default gate) and the
        // distributed min-label loop (gate forced to 0)
        val got = Dedup.dupClusters(edges.toDF("id_a", "id_b")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expect, s"n=$n edges=$edges (driver path)")
        spark.conf.set(Dedup.CcDriverEdgeBytesKey, "0")
        try {
          val gotIter = Dedup.dupClusters(edges.toDF("id_a", "id_b")).collect()
            .map(r => r.getLong(0) -> r.getLong(1)).toMap
          assert(gotIter == expect, s"n=$n edges=$edges (iterative path)")
        } finally spark.conf.unset(Dedup.CcDriverEdgeBytesKey)
        // string ids: driver byte-wise UTF-8 min must match Spark's
        // UTF8String binary min (same components, labels = min string)
        val sEdges = edges.map { case (a, b) => (f"d$a%03d", f"d$b%03d") }
        val sExpect = expect.map { case (k, v) => (f"d$k%03d", f"d$v%03d") }
        val gotS = Dedup.dupClusters(sEdges.toDF("id_a", "id_b")).collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
        assert(gotS == sExpect, s"n=$n edges=$edges (string driver path)")
      }
    }
  }

  test("dupClusters gates its driver path by id bytes, not rows") {
    // a 40-node star: 39 pairs, 78 ids. With the gate at 78 ids × 8
    // bytes — exactly what a 78-id row gate admitted — long ids fit and
    // are labeled on the driver, while the same graph over 24-byte
    // string ids passes that row gate but not the byte gate, and runs
    // the distributed loop; both label every node with the hub
    val star = (1 until 40).map(i => (0L, i.toLong))
    def wide(i: Long) = f"document-identifier-$i%05d"
    spark.conf.set(Dedup.CcDriverEdgeBytesKey, (2 * star.size * 8).toString)
    try {
      val longs = Dedup.dupClusters(star.toDF("id_a", "id_b"))
      assert(longs.isLocal, "long ids under the byte gate: driver path expected")
      assert(longs.collect().map(_.getLong(1)).toSet == Set(0L))
      val strings = Dedup.dupClusters(
        star.map { case (a, b) => (wide(a), wide(b)) }.toDF("id_a", "id_b"))
      assert(!strings.isLocal, "wide string ids over the byte gate: loop expected")
      assert(strings.collect().map(_.getString(1)).toSet == Set(wide(0)))
    } finally spark.conf.unset(Dedup.CcDriverEdgeBytesKey)
  }

  // --- binary-parser fuzz (r7, per the r5 verdict): media_probe's
  // quarantine contract is "malformed bytes never crash the scan" — the
  // hand-built malformed cases in FunctionsSpec cover known shapes; these
  // properties drive the JPEG marker walk and WAV chunk walk (the two
  // loop/offset surfaces) with arbitrary bytes, truncations, and
  // bit-flips of valid headers. compute() is exercised driver-side for
  // volume (thousands of cases) and the same corpus then runs through
  // the codegen'd expression in ONE Spark job, so both eval paths are
  // proven crash-free.

  private def hexBytes(s: String): Array[Byte] =
    s.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  // the four valid seed headers from FunctionsSpec (PNG / JPEG-with-APP0 /
  // GIF87a / WAV-with-JUNK-chunk) — every truncation and every 1-bit flip
  // of each is a fuzz case
  private val validHeaders: Seq[Array[Byte]] = Seq(
    hexBytes("89504E470D0A1A0A 0000000D 49484452 00000280 000001E0 08060000001F15C489"),
    hexBytes("FFD8 FFE00010 4A46494600010101006000600000" +
      "FFC00011 08 01E0 0280 03012200021101031101"),
    hexBytes("474946383761 4001 C800 F70000"),
    hexBytes("52494646 24000000 57415645" +
      "4A554E4B 03000000 AABBCC 00" +
      "666D7420 10000000 0100 0200 44AC0000 10B10200 0400 1000"))

  private def probeCorpus: Seq[Array[Byte]] = {
    val truncations = validHeaders.flatMap(h => (0 until h.length).map(h.take))
    val bitFlips = validHeaders.flatMap { h =>
      (0 until h.length * 8).map { bit =>
        val c = h.clone()
        c(bit / 8) = (c(bit / 8) ^ (1 << (bit % 8))).toByte
        c
      }
    }
    // arbitrary bytes, plus magic-prefixed random tails to reach the
    // deep walk paths (a fully random array rarely passes the magic)
    val magics = Seq(hexBytes("89504E470D0A1A0A"), hexBytes("FFD8"),
      hexBytes("52494646AAAAAAAA57415645"), hexBytes("474946383961"))
    val rndTails = samples(for {
      m <- Gen.oneOf(magics)
      n <- Gen.choose(0, 48)
      tail <- Gen.listOfN(n, Gen.choose(Int.MinValue, Int.MaxValue).map(_.toByte))
    } yield m ++ tail, 600)
    val rnd = samples(for {
      n <- Gen.choose(0, 64)
      bs <- Gen.listOfN(n, Gen.choose(Int.MinValue, Int.MaxValue).map(_.toByte))
    } yield bs.toArray, 400)
    // adversarial RIFF chunk sizes around the Int-wrap window (~10
    // values out of 2^32 — random bytes above can't hit it): a size
    // that survives a naive < Int.MaxValue guard but wraps `pos`
    // negative on advance must quarantine, not index bytes(negative)
    val riffHead = hexBytes("52494646 24000000 57415645 4A554E4B")
    val wrapSizes = Seq(Int.MaxValue - 9L, Int.MaxValue - 17L,
      Int.MaxValue - 20L, Int.MaxValue - 30L, (1L << 31) - 21L,
      (1L << 32) - 1L, (1L << 31).toLong)
    val adversarial = wrapSizes.map { sz =>
      riffHead ++ Array[Byte]((sz & 0xff).toByte, ((sz >> 8) & 0xff).toByte,
        ((sz >> 16) & 0xff).toByte, ((sz >> 24) & 0xff).toByte) ++
        Array.fill[Byte](16)(0x41)
    }
    truncations ++ bitFlips ++ rndTails ++ rnd ++ adversarial
  }

  test("media_probe fuzz: truncations/bit-flips/arbitrary bytes -> null or valid, never a throw") {
    val corpus = probeCorpus
    assert(corpus.size >= 1500, s"fuzz corpus only ${corpus.size} cases")
    val formats = Set("png", "jpeg", "gif", "wav")
    // driver-side volume pass over the interpreted eval path
    corpus.foreach { bytes =>
      val r = graft.functions.MediaProbe.compute(bytes) // must not throw
      if (r != null) {
        val fmt = r.getUTF8String(0).toString
        assert(formats.contains(fmt), s"format $fmt")
        val w = r.getInt(1); val h = r.getInt(2)
        val sr = r.getInt(3); val ch = r.getInt(4)
        if (fmt == "wav") assert(w == 0 && h == 0 && sr >= 1 && ch >= 1,
          s"wav fields ($w,$h,$sr,$ch)")
        else assert(w >= 1 && h >= 1 && sr == 0 && ch == 0,
          s"$fmt fields ($w,$h,$sr,$ch)")
      }
    }
    // same corpus through the codegen'd expression in one job: the scan
    // must complete, and probed rows must obey the same invariants
    val df = corpus.zipWithIndex.map { case (b, i) => (i.toLong, b) }
      .toDF("id", "bytes")
      .select(graft.ext.Multimodal.probe(col("bytes")).as("p"))
      .filter(col("p").isNotNull)
    val bad = df.filter(
      !col("p.format").isin(formats.toSeq: _*) ||
        (col("p.format") === "wav" &&
          (col("p.sample_rate") < 1 || col("p.channels") < 1 ||
            col("p.width") =!= 0 || col("p.height") =!= 0)) ||
        (col("p.format") =!= "wav" &&
          (col("p.width") < 1 || col("p.height") < 1 ||
            col("p.sample_rate") =!= 0 || col("p.channels") =!= 0))).count()
    assert(bad == 0)
  }

  test("containment dominates jaccard on random corpora (both directions, bounded)") {
    // j = c/(sa+sb-c), cont(a->b) = c/sa, cont(b->a) = c/sb: the union
    // is >= either side, so EVERY jaccard pair must surface in the
    // containment frame (same low threshold) with cont >= j in both
    // directions, and cont <= 1 always. A generated-corpus invariant,
    // not a crafted example.
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    val doc = Gen.choose(3, 12).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    val docs = samples(doc, 30).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = docs.toDF("doc_id", "text")
    val eps = 1e-9
    val jac = Dedup.jaccardPairs(df, "text", "doc_id", k = 2, threshold = eps)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val cont = Dedup.containmentPairs(df, "text", "doc_id", k = 2, threshold = eps)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(jac.nonEmpty, "degenerate fixture: no overlapping pairs generated")
    assert(cont.values.forall(c => c > 0 && c <= 1.0 + eps))
    jac.foreach { case ((a, b), j) =>
      val ab = cont.get((a, b)); val ba = cont.get((b, a))
      assert(ab.isDefined && ba.isDefined, s"pair ($a,$b) missing from containment")
      // both sides are 6dp-rounded, so allow one ulp of rounding slack
      assert(ab.get >= j - 1e-6 && ba.get >= j - 1e-6,
        s"containment below jaccard for ($a,$b): j=$j ab=${ab.get} ba=${ba.get}")
    }
  }

  test("quantizeInt8 fuzz: bounds, sign preservation, half-step error for arbitrary finite vectors") {
    // contract is FINITE inputs (embeddings); generator spans magnitudes
    // from denormal-adjacent to 1e300, mixed-sign, zero components,
    // whole-zero vectors, and dims 1..64 — one Spark job for all cases
    val component = Gen.oneOf(
      Gen.const(0.0), Gen.choose(-1.0, 1.0),
      Gen.choose(-1e-300, 1e-300), Gen.choose(-1e300, 1e300),
      Gen.choose(-1e6, 1e6).map(_ / 1e9))
    val vec = for {
      n <- Gen.choose(1, 64)
      v <- Gen.listOfN(n, component)
    } yield v
    val cases = samples(vec, 400).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
    val df = spark.createDataFrame(cases).toDF("vec_id", "embedding")
    val rows = Similarity.quantizeInt8(df)
      .join(df.withColumnRenamed("embedding", "v"), "vec_id")
      .collect()
    assert(rows.length == cases.length)
    rows.foreach { r =>
      val scale = r.getDouble(1)
      val q = r.getSeq[Int](2)
      val v = r.getSeq[Double](3)
      assert(scale == v.map(math.abs).max, s"vec ${r.getLong(0)}: scale")
      assert(q.forall(x => x >= -127 && x <= 127), s"vec ${r.getLong(0)}: range")
      q.zip(v).foreach { case (qi, xi) =>
        assert(qi == 0 || math.signum(qi.toDouble) == math.signum(xi),
          s"vec ${r.getLong(0)}: sign flip $xi -> $qi")
        // dequant error bounded by half a quantization step
        if (scale > 0) {
          val err = math.abs(xi - qi * scale / 127.0)
          assert(err <= scale / 254.0 * (1 + 1e-9) + java.lang.Double.MIN_VALUE,
            s"vec ${r.getLong(0)}: err $err > half-step ${scale / 254.0}")
        } else assert(qi == 0)
      }
    }
  }

  test("epochShuffle: permutation + contiguous shard positions for arbitrary ids/shards") {
    import spark.implicits._
    val cases = samples(for {
      ids <- Gen.nonEmptyListOf(Gen.choose(-100000L, 100000L)).map(_.distinct)
      shards <- Gen.choose(1, 64)
      seed <- Gen.alphaNumStr.map(_.take(8))
    } yield (ids, shards, seed), 5)
    cases.foreach { case (ids, shards, seed) =>
      val got = graft.ext.TrainSet.epochShuffle(
        ids.toDF("doc_id"), "doc_id", seed, shards).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.map(_._3).toSet == ids.toSet, s"not a permutation ($seed)")
      got.groupBy(_._1).foreach { case (sh, rows) =>
        assert(sh >= 0 && sh < shards)
        assert(rows.map(_._2).sorted.toSeq == (1L to rows.length).toSeq,
          s"shard $sh not contiguous ($seed)")
      }
    }
  }

  test("latestByKey equals a Scala argmax recompute on random keyed rows with ties") {
    import spark.implicits._
    val row = for {
      k <- Gen.choose(1L, 5L); ts <- Gen.choose(1L, 20L)
      id <- Gen.choose(1L, 1000L); v <- Gen.choose(-100, 100)
    } yield (k, ts, id, v.toDouble)
    samples(Gen.nonEmptyListOf(row), 5).foreach { rows0 =>
      // (ts, id) must uniquely identify a row per key (the documented
      // CDC contract) — dedup the generator's collisions accordingly
      val rows = rows0.groupBy(r => (r._1, r._2, r._3)).values.map(_.head).toSeq
      val df = rows.toDF("k", "ts", "id", "v")
      val got = graft.operators.Compaction.latestByKey(
        df, "k", "ts", "id", Seq("v")).collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3))))
        .toMap
      val expected = rows.groupBy(_._1).map { case (k, g) =>
        val m = g.maxBy(r => (r._2, r._3)); k -> (m._2, m._3, m._4)
      }
      assert(got == expected)
    }
  }

  test("corpusDiff statuses equal a Scala map diff for random snapshots") {
    import spark.implicits._
    val snap = Gen.mapOf(Gen.zip(Gen.choose(1L, 30L), Gen.oneOf("a", "b", "c")))
    samples(Gen.zip(snap, snap), 5).foreach { case (o, n) =>
      val got = graft.ext.CorpusDiff.diff(
        o.toSeq.toDF("doc_id", "text"), n.toSeq.toDF("doc_id", "text"),
        "doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val expected = (o.keySet ++ n.keySet).map { id =>
        id -> ((o.get(id), n.get(id)) match {
          case (None, _) => "added"
          case (_, None) => "removed"
          case (Some(a), Some(b)) => if (a == b) "unchanged" else "changed"
        })
      }.toMap
      assert(got == expected)
    }
  }

  test("weightedSample: output is exactly min(k, eligible) per stratum, ranks contiguous") {
    import spark.implicits._
    val row = for {
      id <- Gen.choose(1L, 500L); s <- Gen.oneOf("x", "y", "z")
      w <- Gen.oneOf(Gen.const(0.0), Gen.choose(0.1, 100.0))
    } yield (id, s, w)
    samples(Gen.zip(Gen.nonEmptyListOf(row), Gen.choose(1, 10)), 5)
      .foreach { case (rows0, k) =>
        val rows = rows0.groupBy(_._1).values.map(_.head).toSeq // unique ids
        val got = graft.ext.TrainSet.weightedSample(
          rows.toDF("doc_id", "s", "w"), "s", "doc_id", "w", k).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        val eligible = rows.filter(_._3 > 0).groupBy(_._2)
        got.groupBy(_._1).foreach { case (s, g) =>
          assert(g.length == math.min(k, eligible(s).size))
          assert(g.map(_._2).sorted.toSeq == (1L to g.length).toSeq)
          assert(g.map(_._3).forall(id => eligible(s).exists(_._1 == id)))
        }
        assert(got.groupBy(_._1).keySet == eligible.keySet.filter(s =>
          eligible(s).nonEmpty))
      }
  }

  test("cdcChunks fuzz: random token docs tile exactly and match a Scala replay") {
    import graft.ext.Curation
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    // random docs over a small vocab (forces boundary collisions) with
    // lengths straddling the window edge cases 0..3 tokens
    val docGen = Gen.choose(0, 40).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd", "ee")).map(_.mkString(" ")))
    val docs = samples(docGen, 30).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = docs.toDF("doc_id", "text")
    val got = Curation.cdcChunks(df, "text", "doc_id", window = 4, modulus = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).toSeq).toMap
    docs.foreach { case (id, text) =>
      val w = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
      val bnds = (4 to w.length).filter(i => java.lang.Long.parseLong(
        md5hex(w.slice(i - 4, i).mkString(" ")).take(8), 16) % 4 == 0)
      val starts = 1 +: bnds.map(_ + 1)
      val ends = bnds :+ w.length
      val exp = starts.zip(ends).filter { case (s, e) => s <= e }
        .zipWithIndex.map { case ((s, e), k) =>
          (id, (k + 1).toLong, (s - 1).toLong, (e - s + 1).toLong,
            md5hex(w.slice(s - 1, e).mkString(" ")))
        }
      assert(got.getOrElse(id, Seq.empty) == exp, s"doc $id: '$text'")
      // tiling: chunk lengths partition the token range
      assert(exp.map(_._4).sum == w.length, s"doc $id tiling")
    }
  }

  test("budgetFill fuzz: any random frame matches the sequential greedy replay") {
    import graft.ext.TrainSet
    val rowGen = Gen.zip(Gen.choose(0.0, 5.0), Gen.choose(0L, 50L))
    samples(Gen.zip(Gen.choose(1, 30), Gen.choose(1L, 400L)), 5)
      .foreach { case (n, budget) =>
        val rows = samples(rowGen, n).zipWithIndex
          .map { case ((r, tok), i) => (i.toLong, math.rint(r * 10) / 10, tok) }
        val df = rows.toDF("id", "r", "tok")
        val got = TrainSet.budgetFill(df, "id", col("r"), col("tok"), budget)
          .collect().map(x => (x.getLong(0), x.getLong(3))).sortBy(_._1).toSeq
        var acc = 0L
        val exp = rows.sortBy { case (id, r, _) => (-r, id) }
          .flatMap { case (id, _, tok) =>
            val before = acc; acc += tok
            if (before < budget) Some(id -> before) else None
          }.sortBy(_._1)
        assert(got == exp, s"n=$n budget=$budget: $got vs $exp")
      }
  }

  test("bpeMergeStep fuzz: Spark fold equals plain-JVM greedy L2R merge") {
    import graft.ext.TextStats
    def jvmMerge(syms: Seq[String], a: String, b: String): Seq[String] = {
      // reference two-pointer greedy: consume pairs left-to-right,
      // non-overlapping (the Sennrich merge semantics)
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toSeq
    }
    val alpha = Seq("a", "b", "c")
    val symsGen = Gen.choose(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(alpha)))
    val pairGen = Gen.zip(Gen.oneOf(alpha), Gen.oneOf(alpha))
    val cases = samples(Gen.zip(symsGen, pairGen), 60)
    val df = cases.zipWithIndex
      .map { case ((syms, _), i) => (i, syms) }.toDF("i", "syms")
    val merged = cases.zipWithIndex.map { case ((_, (a, b)), i) =>
      df.filter(col("i") === i)
        .select(TextStats.bpeMergeStep(col("syms"), a, b))
        .collect()(0).getSeq[String](0).toSeq
    }
    cases.zip(merged).foreach { case (((syms, (a, b))), got) =>
      assert(got == jvmMerge(syms, a, b),
        s"syms=$syms pair=($a,$b): spark=$got jvm=${jvmMerge(syms, a, b)}")
    }
  }

  test("bpeTrain fuzz: whole training loop equals a plain-JVM reference") {
    import graft.ext.TextStats
    def jvmMerge(syms: Seq[String], a: String, b: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toSeq
    }
    // reference trainer: word-freq table, every-adjacent-position pair
    // counts, (count desc, left, right) argmax, early stop below minCount
    def jvmTrain(texts: Seq[String], numMerges: Int,
                 minCount: Long): Seq[(String, String, Long)] = {
      val freq = texts.flatMap(_.split("[^a-z0-9]+").filter(_.nonEmpty))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      var words: Seq[(Seq[String], Long)] =
        freq.toSeq.map { case (w, f) => (w.map(_.toString): Seq[String], f) }
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      var done = false
      while (!done && out.size < numMerges) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        words.foreach { case (syms, f) =>
          syms.sliding(2).filter(_.size == 2).foreach { p =>
            counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + f
          }
        }
        val best = counts.toSeq.sortBy { case ((a, b), c) => (-c, a, b) }.headOption
        best match {
          case Some(((a, b), c)) if c >= minCount =>
            out += ((a, b, c))
            words = words.map { case (s, f) => (jvmMerge(s, a, b), f) }
          case _ => done = true
        }
      }
      out.toSeq
    }
    val wordGen = Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString))
    val docGen = Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, wordGen).map(_.mkString(" ")))
    samples(Gen.listOfN(4, docGen), 8).zipWithIndex.foreach { case (texts, i) =>
      val df = texts.zipWithIndex.map { case (t, j) => (j.toLong, t) }
        .toDF("doc_id", "text")
      val got = TextStats.bpeTrain(df, "text", numMerges = 5, minCount = 2L).toSeq
      val exp = jvmTrain(texts, 5, 2L)
      assert(got == exp, s"case $i texts=$texts:\n got=$got\n exp=$exp")
    }
  }

  test("BpeEncode fuzz: rank-based segmentation == k-pass on trained merge lists") {
    import graft.functions.{BpeEncode, BpeSegment}
    // trained merge lists are rank-topologically consistent (a merge
    // consuming a composite symbol is counted only after the merges
    // that build it exist) — the precondition under which the rank
    // loop and the sequential k-pass provably coincide; this fuzz
    // pins the claim over many trained lists AND over probe words the
    // trainer never saw (the property is about the list, not the
    // corpus)
    def jvmMerge(syms: Seq[String], a: String, b: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toSeq
    }
    def jvmTrain(texts: Seq[String], numMerges: Int,
                 minCount: Long): Seq[(String, String)] = {
      val freq = texts.flatMap(_.split("[^a-z0-9]+").filter(_.nonEmpty))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      var words: Seq[(Seq[String], Long)] =
        freq.toSeq.map { case (w, f) => (w.map(_.toString): Seq[String], f) }
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var done = false
      while (!done && out.size < numMerges) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        words.foreach { case (syms, f) =>
          syms.sliding(2).filter(_.size == 2).foreach { p =>
            counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + f
          }
        }
        val best = counts.toSeq.sortBy { case ((a, b), c) => (-c, a, b) }.headOption
        best match {
          case Some(((a, b), c)) if c >= minCount =>
            out += ((a, b))
            words = words.map { case (s, f) => (jvmMerge(s, a, b), f) }
          case _ => done = true
        }
      }
      out.toSeq
    }
    val wordGen = Gen.choose(1, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString))
    val corpusGen = Gen.choose(4, 14).flatMap(n => Gen.listOfN(n, wordGen))
    samples(corpusGen, 60).foreach { words =>
      val merges = jvmTrain(Seq(words.mkString(" ")), numMerges = 12, minCount = 2L)
      val lefts = merges.map(_._1).toArray
      val rights = merges.map(_._2).toArray
      val table = new BpeEncode.Table(lefts, rights, Array.empty[String])
      (words ++ Seq("abcabc", "aaaaaaa", "cccbbbaaa", "bacbacbac")).distinct
        .foreach { w =>
          val rank = BpeEncode.segmentWord(w, table).toSeq
          val kpass = BpeSegment.segmentSyms(w, lefts, rights).toSeq
          assert(rank == kpass,
            s"w=$w merges=$merges\n rank=$rank\n kpass=$kpass")
        }
    }
  }

  test("budgetFill adversarial: total rank tie (order rests on id alone)") {
    import graft.ext.TrainSet
    // every document identical rank — the greedy order is then ENTIRELY
    // the id tiebreak, so any instability in the range partition /
    // per-partition window / offset stitch would misorder the fill.
    // Many partitions (40 rows, parallelism-sized exchange) on purpose.
    val rows = (0L until 40L).map(i => (i, 1.0, 7L))
    val df = rows.toDF("id", "r", "tok").repartition(16)
    val got = TrainSet.budgetFill(df, "id", col("r"), col("tok"), 100L)
      .collect().map(x => (x.getLong(0), x.getLong(3))).sortBy(_._1).toSeq
    // 100/7 = 14.28: ids 0..14 kept (id 14 starts at 98 < 100, crosses)
    val exp = (0L until 15L).map(i => (i, i * 7L))
    assert(got == exp, s"total-tie fill: $got")
  }

  test("budgetFill adversarial: one document alone exceeds the budget") {
    import graft.ext.TrainSet
    // the best-ranked doc is bigger than the whole budget: greedy keeps
    // exactly it (cum_before = 0 < budget) and nothing else — the
    // "last kept doc may cross" convention at its extreme; everything
    // after it must see cum_before >= budget even across partitions.
    val rows = Seq((1L, 9.0, 1000L), (2L, 8.0, 5L), (3L, 7.0, 5L))
    val df = rows.toDF("id", "r", "tok").repartition(8)
    val got = TrainSet.budgetFill(df, "id", col("r"), col("tok"), 50L)
      .collect().map(x => (x.getLong(0), x.getLong(3))).toSeq
    assert(got == Seq((1L, 0L)), s"oversized-first fill: $got")
    // and when the giant is NOT first-ranked, docs before it still fill
    val rows2 = Seq((1L, 9.0, 10L), (2L, 8.0, 1000L), (3L, 7.0, 5L))
    val got2 = TrainSet.budgetFill(rows2.toDF("id", "r", "tok").repartition(8),
        "id", col("r"), col("tok"), 50L)
      .collect().map(x => (x.getLong(0), x.getLong(3))).sortBy(_._1).toSeq
    // id 1 (0 < 50), id 2 (10 < 50, crosses hugely), id 3 at 1010 >= 50
    assert(got2 == Seq((1L, 0L), (2L, 10L)), s"mid-giant fill: $got2")
  }

  test("exportManifest fuzz: shard masses partition the corpus for any seed/shards") {
    import graft.ext.TrainSet
    samples(Gen.zip(Gen.alphaStr.suchThat(_.nonEmpty), Gen.choose(1, 16)), 5)
      .foreach { case (seed, shards) =>
        val df = (0L until 200L).map(i => (i, i % 7)).toDF("id", "tok")
        val m = TrainSet.exportManifest(df, "id", col("tok"), seed, shards)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        assert(m.map(_._2).sum == 200L, s"doc partition broken ($seed, $shards)")
        assert(m.map(_._3).sum == (0L until 200L).map(_ % 7).sum,
          s"token mass broken ($seed, $shards)")
        assert(m.map(_._1).distinct.length == m.length &&
          m.forall(x => x._1 >= 0 && x._1 < shards), "shard domain broken")
      }
  }

  test("manifestFromClusters: the driver tail equals the distributed tail on random graphs") {
    import graft.ext.{Refresh, TrainSet}
    // meta over ids 0..n-1 (some absent), qualities from a tiny set so
    // elections tie, a few null scores, NaN scores and null token
    // counts; pair lists over a wider id range, so some cluster members
    // have no meta row
    val cases = samples(for {
      n <- Gen.choose(0, 12)
      metaIds <- Gen.someOf(0L until n.toLong)
      q <- Gen.listOfN(metaIds.size, Gen.frequency(6 -> Gen.oneOf(0.5, 0.8),
        1 -> Gen.const(Double.NaN), 1 -> Gen.const(-1.0)))
      tok <- Gen.listOfN(metaIds.size, Gen.frequency(6 -> Gen.choose(0L, 50L), 1 -> Gen.const(-1L)))
      nPairs <- Gen.choose(0, 14)
      pairs <- Gen.listOfN(nPairs, Gen.zip(Gen.choose(0L, n + 3L), Gen.choose(0L, n + 3L)))
      shards <- Gen.choose(1, 14)
    } yield (metaIds.toSeq.sorted.zip(q).zip(tok).map { case ((i, s), t) =>
        (i, if (s < 0) None else Some(s), if (t < 0) None else Some(t)) },
      pairs.filter { case (a, b) => a != b }.map { case (a, b) => (a min b, a max b) }.distinct,
      shards), 28)
    var (tied, emptied, wide, empty, absent) = (0, 0, 0, 0, 0)
    cases.foreach { case (meta, pairs, shards) =>
      val metaDf = meta.toDF("doc_id", "quality", "n_toks")
      val local = Dedup.dupClusters(pairs.toDF("id_a", "id_b"))
      assert(local.isLocal, "cluster map under the gate: local relation expected")
      val got = Refresh.manifestFromClusters(local, metaDf, "prop", shards)
      val want = Refresh.manifestFromClusters(local.localCheckpoint(), metaDf, "prop", shards)
      assert(got.isLocal && !want.isLocal, "driver tail vs distributed tail")
      assert(got.schema == want.schema, s"${got.schema} vs ${want.schema}")
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
      assert(rows(got) == rows(want), s"meta=$meta pairs=$pairs shards=$shards")
      // coverage of the shapes this property exists for
      val members = local.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val byId = meta.map(m => m._1 -> m._2).toMap
      if (members.keys.groupBy(members).values.exists(ms =>
          ms.toSeq.flatMap(byId.get).groupBy(identity).values.exists(_.size > 1))) tied += 1
      val allShards = TrainSet.exportManifest(metaDf, "doc_id", col("n_toks"), "prop", shards)
        .collect().map(_.getLong(0)).toSet
      if (allShards != rows(got).map(_.head)) emptied += 1
      if (shards > meta.size) wide += 1
      if (members.isEmpty) empty += 1
      if (members.keys.exists(!byId.contains(_))) absent += 1
    }
    assert(Seq(tied, emptied, wide, empty, absent).forall(_ > 0),
      s"uncovered shape: tied=$tied emptied=$emptied wide=$wide empty=$empty absent=$absent")
  }

  test("refresh fold: the driver fold equals the distributed fold on random states and deltas") {
    import graft.ext.Refresh
    import org.apache.spark.sql.DataFrame
    // standing documents 0..n-1 and fresh documents (changed standing ids
    // and new ones) over shingle sets drawn from a tiny vocabulary, so
    // Jaccard values sit on the threshold (1 of 5 distinct shingles in
    // common is exactly 0.2) and band buckets collide; one row per band
    // (rowsPerBand 1) makes such pairs candidates often
    val shingleSet = Gen.choose(0, 5).flatMap(n => Gen.pick(n, (0 until 8).map("s" + _)))
      .map(_.toSeq.sorted)
    val cases = samples(for {
      n <- Gen.choose(0, 9)
      standing <- Gen.listOfN(n, shingleSet)
      gone <- Gen.someOf(0L until n.toLong)
      changed <- Gen.someOf(gone)
      added <- Gen.choose(0, 5)
      copies <- Gen.listOfN(changed.size + added, Gen.frequency(
        2 -> Gen.const(None), 1 -> Gen.choose(0, math.max(n - 1, 0)).map(Some(_))))
      drawn <- Gen.listOfN(changed.size + added, shingleSet)
      bands <- Gen.oneOf(4, 8)
      rpb <- Gen.oneOf(1, 1, 2)
      portable <- Gen.oneOf(false, true)
    } yield {
      val freshIds = changed.toSeq.sorted ++ (n.toLong until n.toLong + added)
      // a fresh document copies a standing document's set now and then:
      // a changed one its own dead version, so it collides with a
      // retired row
      val fresh = freshIds.zip(copies.zip(drawn)).map { case (id, (c, d)) =>
        id -> c.filter(_ < n).map(standing(_)).getOrElse(d) }
      (standing, gone.toSeq.sorted, fresh,
        Refresh.Params(bands = bands, rowsPerBand = rpb, portableSig = portable))
    }, 30) :+ ((Seq(Seq("s1", "s2", "s3"), Seq("s3", "s4", "s5")), Seq.empty[Long],
      Seq.empty[(Long, Seq[String])], Refresh.Params(bands = 4, rowsPerBand = 1)))
    def perDoc(docs: Seq[(Long, Seq[String])], p: Refresh.Params): DataFrame =
      Refresh.withSig(docs.map { case (id, sh) => (id, 0.5 + id % 3 * 0.25, sh.size.toLong, sh) }
        .toDF("doc_id", "quality", "n_toks", "sh"), p)
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    var (onThreshold, repeated, retiredOnly, empty, emptyDelta) = (0, 0, 0, 0, 0)
    cases.foreach { case (standing, gone, fresh, p) =>
      val st = Refresh.stateOf(
        perDoc(standing.indices.map(i => i.toLong -> standing(i)), p).localCheckpoint(), p)
      val freshDf = perDoc(fresh, p)
      val want = Refresh.fold(st, gone.toDF("doc_id").localCheckpoint(false),
        freshDf.localCheckpoint(false), p)
      val got = Refresh.foldOnDriver(st, gone, freshDf, p, Long.MaxValue)
        .getOrElse(fail("driver fold refused an unbounded budget"))
      val what = s"standing=$standing gone=$gone fresh=$fresh $p"
      assert(got.addedPairs.isLocal && !want.addedPairs.isLocal, what)
      for ((nm, g, w) <- Seq(("meta", got.state2.meta, want.state2.meta),
          ("bandIdx", got.state2.bandIdx, want.state2.bandIdx),
          ("shingles", got.state2.shingles, want.state2.shingles),
          ("pairs", got.state2.pairs, want.state2.pairs),
          ("addedPairs", got.addedPairs, want.addedPairs),
          ("touched", got.touched, want.touched))) {
        assert(g.columns.toSeq == w.columns.toSeq &&
          g.schema.map(_.dataType) == w.schema.map(_.dataType), s"$nm schema: $what")
        assert(rows(g) == rows(w), s"$nm: $what")
      }
      // coverage of the shapes this property exists for
      val shOf = (standing.indices.map(i => i.toLong -> standing(i)) ++ fresh).toMap
      val freshSet = fresh.map(_._1).toSet
      val keys = rows(st.bandIdx).map(r => (r(0).asInstanceOf[Long], (r(1), r(2))))
      val freshKeys = rows(want.state2.bandIdx).map(r => (r(0).asInstanceOf[Long], (r(1), r(2))))
        .filter(k => freshSet(k._1))
      val added = rows(want.addedPairs).map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long]))
      if (added.exists { case (a, b) =>
          val c = shOf(a).intersect(shOf(b)).size
          5 * c == shOf(a).size + shOf(b).size - c
        }) onThreshold += 1
      val sharing = (freshKeys ++ keys.filterNot(k => gone.contains(k._1)))
        .groupMap(_._2)(_._1).values
        .flatMap(ids => for (a <- ids; b <- ids if a < b && (freshSet(a) || freshSet(b)))
          yield (a, b))
        .groupBy(identity).values
      if (sharing.exists(_.size >= 2)) repeated += 1
      if (freshKeys.exists { case (_, k) =>
          val owners = keys.filter(_._2 == k).map(_._1)
          owners.nonEmpty && owners.forall(gone.contains)
        }) retiredOnly += 1
      if (fresh.exists(_._2.isEmpty)) empty += 1
      if (fresh.isEmpty && gone.isEmpty) emptyDelta += 1
    }
    assert(Seq(onThreshold, repeated, retiredOnly, empty, emptyDelta).forall(_ > 0),
      s"uncovered shape: onThreshold=$onThreshold repeated=$repeated " +
        s"retiredOnly=$retiredOnly empty=$empty emptyDelta=$emptyDelta")
  }

  test("refresh fold: the driver's Jaccard rule equals verifyJaccard at the threshold") {
    import org.apache.spark.sql.DataFrame
    // exact 1/5; common/union within half a millionth below 0.2, which
    // round(·, 6) carries onto it (80001 / 400006) or not (80000 /
    // 400004, 80001 / 400008); repeated shingles, which array_intersect
    // counts once and size() counts each time
    def run(from: Int, n: Int) = (from until from + n).map("t" + _)
    val sets = Seq(
      1L -> Seq("a", "b", "c"), 2L -> Seq("c", "d", "e"),
      3L -> run(0, 240003), 4L -> run(160002, 240004),
      5L -> run(0, 240002), 6L -> run(160002, 240002),
      7L -> run(0, 240003), 8L -> run(160002, 240006),
      9L -> Seq("x", "x", "x", "x", "y"), 10L -> Seq("x", "z", "w"),
      11L -> Seq("x", "x", "y", "u", "v"), 12L -> Seq("x", "x", "z"),
      13L -> Seq("m", "m", "n"), 14L -> Seq("m", "o"))
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L), (9L, 10L), (11L, 12L),
      (13L, 14L))
    val sh: DataFrame = sets.toDF("doc_id", "sh")
    val spark0 = Dedup.verifyJaccard(pairs.toDF("id_a", "id_b"), sh, sh, 0.2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val byId = sets.toMap
    val driver = pairs.filter { case (a, b) =>
      Dedup.jaccardKeeps(new Dedup.Shingled(byId(a).toArray),
        new Dedup.Shingled(byId(b).toArray), 0.2) }.toSet
    assert(driver == spark0, s"driver $driver vs Spark $spark0")
    // the crafted cases land where they were meant to
    assert(driver == Set((1L, 2L), (3L, 4L), (13L, 14L)), driver.toString)
  }

  test("normalizeText fuzz: idempotent, case/edge-punct invariant, equals a plain-JVM replay") {
    // plain-JVM reimplementation of the declared normalization
    def refNorm(s: String): String =
      s.toLowerCase.replaceAll("[^a-z0-9 ]+", " ")
        .replaceAll(" +", " ").trim
    val asciiText = Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf(' ', ' ', '.', ',', '!', '?', '-', '_',
        ';', ':', '\'', '"', '(', ')'))).map(_.mkString)
    val cases = samples(asciiText, 60)
    assert(cases.size >= 50)
    val df = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
    val got = df.select(col("id"),
        Dedup.normalizeText(col("t")).as("n1"),
        Dedup.normalizeText(Dedup.normalizeText(col("t"))).as("n2"),
        Dedup.normalizeText(
          concat(lit("  "), upper(col("t")), lit(" !! "))).as("n3"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2), r.getString(3))).toMap
    cases.zipWithIndex.foreach { case (t, i) =>
      val (n1, n2, n3) = got(i.toLong)
      assert(n1 == refNorm(t), s"case $i: '$n1' != ref '${refNorm(t)}'")
      assert(n2 == n1, s"case $i: not idempotent")
      assert(n3 == n1, s"case $i: case/edge-punct variant diverged")
    }
  }

  test("dHash56/dHash63 fuzz: brightness/gain invariance and formula equality on random fixtures") {
    import graft.ext.Multimodal
    val imgCases = samples(for {
      a <- Gen.choose(1, 250); b <- Gen.choose(1, 250)
      c1 <- Gen.choose(0, 105); c2 <- Gen.choose(0, 105)
    } yield (a, b, c1, c2), 12)
    val imgRows = imgCases.zipWithIndex.flatMap { case ((a, b, c1, c2), i) =>
      Seq(Multimodal.MediaRow(2L * i, "image",
          Multimodal.encodeGradientImage("png", 18, 16, a, b, c1)),
        Multimodal.MediaRow(2L * i + 1, "image",
          Multimodal.encodeGradientImage("png", 18, 16, a, b, c2)))
    }
    val imgHashes = Multimodal.decodeReal(imgRows.toDS()).collect()
      .map(r => r.media_id -> Multimodal.dHash56(r.features)).toMap
    imgCases.zipWithIndex.foreach { case ((a, b, _, _), i) =>
      def v(x: Int, y: Int): Int = ((a * x + b * y) % 150 + 150) % 150
      var want = 0L
      for (gy <- 0 until 8; gx <- 0 until 7)
        if (v((gx + 1) * 18 / 8, gy * 2) > v(gx * 18 / 8, gy * 2))
          want |= 1L << (gy * 7 + gx)
      assert(imgHashes(2L * i) == want, s"img case $i: decode != formula")
      assert(imgHashes(2L * i) == imgHashes(2L * i + 1),
        s"img case $i: brightness shift changed dHash56 (a=$a b=$b)")
    }
    val wavCases = samples(for {
      a <- Gen.choose(1, 99); s1 <- Gen.choose(1, 327); s2 <- Gen.choose(1, 327)
    } yield (a, s1, s2), 12)
    val wavRows = wavCases.zipWithIndex.flatMap { case ((a, s1, s2), i) =>
      Seq(Multimodal.MediaRow(2L * i, "audio",
          Multimodal.encodeRampWav(8000, 160, a, s1)),
        Multimodal.MediaRow(2L * i + 1, "audio",
          Multimodal.encodeRampWav(8000, 160, a, s2)))
    }
    val wavHashes = Multimodal.decodeReal(wavRows.toDS()).collect()
      .map(r => r.media_id -> Multimodal.dHash63(r.features)).toMap
    wavCases.zipWithIndex.foreach { case ((a, _, _), i) =>
      def v(j: Int): Int = math.abs((a * (j * 160 / 64)) % 200 - 100)
      val want = (0 until 63).foldLeft(0L)((h, j) =>
        if (v(j + 1) > v(j)) h | (1L << j) else h)
      assert(wavHashes(2L * i) == want, s"wav case $i: decode != formula")
      assert(wavHashes(2L * i) == wavHashes(2L * i + 1),
        s"wav case $i: gain change altered dHash63 (a=$a)")
    }
  }

  test("packBoundaries fuzz: offsets tile each chunk exactly against a Scala replay") {
    val cases = samples(for {
      n <- Gen.choose(1, 40)
      toks <- Gen.listOfN(n, Gen.choose(1L, 30L))
      cap <- Gen.choose(8, 64)
    } yield (toks, cap), 8)
    cases.zipWithIndex.foreach { case ((toks, cap), ci) =>
      val docs = toks.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "tok").withColumn("g", lit("a"))
      val got = graft.ext.Curation.packBoundaries(
          docs, "g", "doc_id", col("tok"), cap)
        .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4),
          r.getString(5))).toSeq
      // sequential Scala replay of the running-sum chunk assignment
      var cum = 0L
      val assigned = toks.zipWithIndex.map { case (t, i) =>
        val start = cum; cum += t
        (start / cap, i.toLong, t, start - (start / cap) * cap)
      }
      val want = assigned.groupBy(_._1).toSeq.sortBy(_._1).map {
        case (chunk, ds) =>
          (chunk, ds.size.toLong, ds.map(_._3).sum,
            ds.sortBy(_._2).map(_._4).mkString(" "))
      }
      assert(got == want, s"case $ci (cap=$cap): $got != $want")
    }
  }

  test("deterministic_base64 fuzz: any (seed, id, n) round-trips to exactly n bytes, deterministically") {
    val cases = samples(for {
      seed <- Gen.choose(Long.MinValue, Long.MaxValue)
      id <- Gen.choose(Long.MinValue, Long.MaxValue)
      n <- Gen.oneOf(Gen.choose(0, 16), Gen.choose(17, 2048))
    } yield (seed, id, n), 1000)
    assert(cases.size >= 1000)
    cases.foreach { case (seed, id, n) =>
      val a = graft.functions.DeterministicBase64.gen(seed, id, n).toString // must not throw
      val decoded = java.util.Base64.getDecoder.decode(a)
      assert(decoded.length == n, s"($seed,$id,$n) -> ${decoded.length} bytes")
      assert(graft.functions.DeterministicBase64.gen(seed, id, n).toString == a)
    }
  }

  test("unigram Viterbi DP equals brute-force enumeration on random models") {
    // the DP's layered (cost, pieces, path) argmin vs a plain-JVM
    // exhaustive enumeration of every segmentation — the declared
    // decode rule, independent of Spark AND of the oracle's SQL form
    def bruteForce(w: String, pieces: Map[String, Double], unk: Double,
                   maxLen: Int): Array[String] = {
      def all(i: Int): Seq[List[String]] =
        if (i == w.length) Seq(Nil)
        else (1 to math.min(maxLen, w.length - i)).flatMap { l =>
          val sub = w.substring(i, i + l)
          if (pieces.contains(sub) || l == 1)
            all(i + l).map(sub :: _)
          else Seq.empty
        }
      def costOf(p: List[String]): Double =
        p.foldLeft(0.0)((a, x) => a + pieces.getOrElse(x, unk))
      if (w.isEmpty) Array.empty
      else all(0).map(p => (costOf(p), p.length, p.mkString("\u0001")))
        .min(Ordering.Tuple3(Ordering.Double.TotalOrdering, Ordering.Int,
          Ordering.String))._3.split('\u0001')
    }
    val alpha = Gen.choose(0, 3).map(i => "abcd".charAt(i).toString)
    val wordGen = Gen.choose(1, 9)
      .flatMap(n => Gen.listOfN(n, alpha).map(_.mkString))
    val modelGen = for {
      nPieces <- Gen.choose(3, 12)
      ps <- Gen.listOfN(nPieces, Gen.choose(1, 3)
        .flatMap(l => Gen.listOfN(l, alpha).map(_.mkString)))
      cs <- Gen.listOfN(nPieces, Gen.choose(1, 60))
    } yield {
      val t = 200.0
      ps.distinct.zip(cs).map { case (pc, c) =>
        pc -> (BigDecimal(math.log(t / (c + 1)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toMap
    }
    samples(Gen.zip(modelGen, Gen.listOfN(40, wordGen)), 8)
      .foreach { case (model, words) =>
        val unk = BigDecimal(math.log(200.0))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        val sorted = model.keys.toArray.sorted
        val costs = sorted.map(model)
        for (w <- words) {
          val dp = graft.functions.UnigramSegment.viterbi(
            w, sorted, costs, unk, 3).toSeq
          val bf = bruteForce(w, model, unk, 3).toSeq
          assert(dp == bf, s"word '$w' model $model: dp=$dp bf=$bf")
          assert(dp.mkString == w, s"pieces do not tile '$w': $dp")
        }
      }
  }

  test("wordpiece greedy equals max-length-key complete-path enumeration (oracle form)") {
    // the x126 oracle replays greedy maximal munch as "complete path
    // with the lexicographically-maximal length key" — an equivalence
    // that needs the x126 vocabulary SHAPE (every alphabet char present
    // in both word-initial and ## form, so greedy never dead-ends on
    // in-alphabet words; out-of-alphabet words have no complete path on
    // either side). Fuzz exactly that shape, with words over a LARGER
    // alphabet so the no-complete-path -> [UNK] leg fires too.
    def bruteForce(w: String, vocab: Set[String], maxLen: Int): Seq[String] = {
      def all(pos: Int): Seq[List[String]] =
        if (pos == w.length) Seq(Nil)
        else (1 to math.min(maxLen, w.length - pos)).flatMap { l =>
          val cand = if (pos == 0) w.substring(0, l)
            else "##" + w.substring(pos, pos + l)
          // pos-0 admissibility is by position TYPE (the oracle's
          // NOT starts_with(token,'##')): a word starting "##" may not
          // take a continuation entry as its word-initial piece
          if (vocab.contains(cand) && (pos > 0 || !cand.startsWith("##")))
            all(pos + l).map(cand :: _)
          else Seq.empty
        }
      if (w.isEmpty) return Seq.empty
      val paths = all(0)
      if (paths.isEmpty) Seq(graft.functions.WordPieceSegment.Unk)
      else paths.map { p =>
        val lk = p.map(x => (64 + (if (x.startsWith("##")) x.length - 2
          else x.length)).toChar).mkString
        (lk, p)
      }.maxBy(_._1)._2
    }
    val vocabAlpha = "abc#" // '#' in-alphabet: words can START "##",
    // exercising the pos-0 position-type rule (byte-level corpora
    // reach it through ByteMapTokens' '#' mapping)
    val wordAlpha = "abc#e" // e is out-of-alphabet: forces the UNK leg
    val wordGen = Gen.choose(1, 8).flatMap(n => Gen.listOfN(n,
      Gen.choose(0, wordAlpha.length - 1).map(wordAlpha.charAt(_).toString))
      .map(_.mkString))
    val pieceGen = for {
      cont <- Gen.oneOf(true, false)
      l <- Gen.choose(2, 4)
      s <- Gen.listOfN(l, Gen.choose(0, vocabAlpha.length - 1)
        .map(vocabAlpha.charAt(_).toString)).map(_.mkString)
    } yield if (cont) "##" + s else s
    val vocabGen = Gen.choose(0, 10).flatMap(n => Gen.listOfN(n, pieceGen))
      .map(ms => (vocabAlpha.map(_.toString) ++
        vocabAlpha.map("##" + _) ++ ms).toSet)
    samples(Gen.zip(vocabGen, Gen.listOfN(40, wordGen)), 8)
      .foreach { case (vocab, words) =>
        val sorted = vocab.toArray.sorted
        val maxLen = vocab.iterator
          .map(p => if (p.startsWith("##")) p.length - 2 else p.length).max
        for (w <- words) {
          val g = graft.functions.WordPieceSegment.greedy(w, sorted, maxLen)
            .toSeq
          val bf = bruteForce(w, vocab, maxLen)
          assert(g == bf, s"word '$w' vocab $vocab: greedy=$g bf=$bf")
          if (g != Seq(graft.functions.WordPieceSegment.Unk))
            assert(g.map(_.stripPrefix("##")).mkString == w,
              s"pieces do not tile '$w': $g")
        }
      }
  }

  test("unigram prune loss DP (altSegCost) equals brute-force self-free enumeration") {
    // the r16 prune schedule's loss approximation: cheapest
    // segmentation of a piece EXCLUDING its own single-piece path —
    // vs a plain-JVM exhaustive enumeration of >=2-piece tilings
    // (only model pieces may tile: the trainer's candidate sets always
    // carry every single char, which the generator mirrors)
    def bruteAlt(w: String, costOf: Map[String, Double], maxLen: Int): Double = {
      def all(i: Int): Seq[List[String]] =
        if (i == w.length) Seq(Nil)
        else (1 to math.min(maxLen, w.length - i)).flatMap { l =>
          val sub = w.substring(i, i + l)
          if (costOf.contains(sub)) all(i + l).map(sub :: _) else Seq.empty
        }
      val alts = all(0).filterNot(p => p.length == 1 && p.head == w)
      if (alts.isEmpty) Double.PositiveInfinity
      else alts.map(_.foldLeft(0.0)((a, x) => a + costOf(x))).min
    }
    val alpha = Gen.choose(0, 3).map(i => "abcd".charAt(i).toString)
    val modelGen = for {
      nPieces <- Gen.choose(2, 10)
      ps <- Gen.listOfN(nPieces, Gen.choose(2, 4)
        .flatMap(l => Gen.listOfN(l, alpha).map(_.mkString)))
      cs <- Gen.listOfN(nPieces + 4, Gen.choose(1, 60))
    } yield (Seq("a", "b", "c", "d") ++ ps.distinct).distinct.zip(cs).map {
      case (pc, c) => pc -> (BigDecimal(math.log(300.0 / (c + 1)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toMap
    samples(modelGen, 40).foreach { costOf =>
      for (w <- costOf.keys if w.length >= 2) {
        val dp = graft.ext.TextStats.altSegCost(w, costOf, 4)
        val bf = bruteAlt(w, costOf, 4)
        assert(dp == bf, s"piece '$w' model $costOf: dp=$dp bf=$bf")
        assert(!dp.isInfinite, s"alt path missing for '$w' despite singles")
      }
    }
  }
}
