package graft

import graft.ext.{Multimodal, Similarity}
import graft.functions.TopKByScore.top_k_by_score
import org.apache.spark.sql.functions._

class FunctionsSpec extends SparkSuite {
  import spark.implicits._

  test("top_k_by_score keeps the k best with deterministic tie-break") {
    val df = Seq(
      ("g1", 0.9, 1L), ("g1", 0.5, 2L), ("g1", 0.9, 3L), ("g1", 0.1, 4L),
      ("g2", 0.3, 5L)).toDF("g", "s", "id")
    val got = df.groupBy("g").agg(top_k_by_score(col("s"), col("id"), 2).as("t"))
      .orderBy("g").collect()
      .map(r => r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => (x.getDouble(0), x.getLong(1))))
    // g1: two 0.9s, tie -> smaller id first; 0.5 evicted
    assert(got(0)._2 == Seq((0.9, 1L), (0.9, 3L)))
    assert(got(1)._2 == Seq((0.3, 5L)))
  }

  test("top_k_by_score survives partial aggregation across partitions") {
    val df = spark.range(0, 10000, 1, 16)
      .select(lit("g").as("g"), (col("id") % 997).cast("double").as("s"), col("id"))
    val got = df.groupBy("g").agg(top_k_by_score(col("s"), col("id"), 3).as("t"))
      .collect()(0).getSeq[org.apache.spark.sql.Row](1)
      .map(x => (x.getDouble(0), x.getLong(1)))
    // max score 996 at ids 996, 1993, 2990 -> smallest ids win ties
    assert(got == Seq((996.0, 996L), (996.0, 1993L), (996.0, 2990L)))
  }

  test("bruteForceTopKAgg equals window-based bruteForceTopK") {
    val e = Tables.load(spark, sf(), "embeddings")
    val q = e.filter($"vec_id" % 100 === 0)
    val win = Similarity.bruteForceTopK(q, e, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val agg = Similarity.bruteForceTopKAgg(q, e, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(agg == win)
  }

  test("multimodal decode: schema, determinism, fixed feature width") {
    val media = Multimodal.syntheticMedia(spark, 60)
    val decoded = Multimodal.decode(media)
    assert(decoded.schema.fieldNames.toSeq ==
      Seq("media_id", "kind", "meta", "features"))
    val a = decoded.collect().sortBy(_.media_id)
    val b = Multimodal.decode(Multimodal.syntheticMedia(spark, 60)).collect().sortBy(_.media_id)
    assert(a.map(_.features.toSeq) sameElements b.map(_.features.toSeq))
    assert(a.forall(_.features.length == Multimodal.featureDim))
    assert(a.map(_.kind).toSet == Set("image", "audio", "video"))
  }

  test("multimodal decodeReal: JDK codecs decode real pixels and samples") {
    import spark.implicits._
    // horizontal gradient 8x2: pixel (x, y) = gray level x*30 — the 8x8
    // sample grid reads column floor(gx*8/8) = gx, so feature(gx) must
    // equal gx*30*3/765 exactly (PNG is lossless)
    val img = new java.awt.image.BufferedImage(8, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 8) {
      val v = x * 30; img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    // audio ramp: 64 frames, sample i = i*100 — bin i samples frame i
    val pcm = Array.tabulate(64)(i => (i * 100).toShort)
    val wavBytes = {
      val b = new Array[Byte](128)
      for (i <- 0 until 64) {
        b(2 * i) = (pcm(i) & 0xff).toByte; b(2 * i + 1) = (pcm(i) >> 8).toByte
      }
      val f = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(b), f, 64L),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    // stereo: L channel = ramp, R channel = constant junk — decodeReal
    // must stride by frame size and read the FIRST channel only
    val stereoBytes = {
      val b = new Array[Byte](256)
      for (i <- 0 until 64) {
        val l = (i * 100).toShort
        b(4 * i) = (l & 0xff).toByte; b(4 * i + 1) = (l >> 8).toByte
        b(4 * i + 2) = 0x34; b(4 * i + 3) = 0x12
      }
      val f = new javax.sound.sampled.AudioFormat(8000f, 16, 2, true, false)
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(b), f, 64L),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    val media = Seq(
      Multimodal.MediaRow(1L, "image", bos.toByteArray),
      Multimodal.MediaRow(2L, "audio", wavBytes),
      Multimodal.MediaRow(3L, "image", Array.fill[Byte](32)(0x5a)), // garbage
      Multimodal.MediaRow(4L, "audio", stereoBytes))
    val got = Multimodal.decodeReal(media.toDS()).collect()
      .map(r => r.media_id -> r).toMap
    assert(got.keySet == Set(1L, 2L, 4L)) // garbage quarantined, not crashed
    val s4 = got(4L)
    assert(s4.meta.sampleRate == 8000 && s4.meta.durationMs == 8L)
    for (i <- 0 until 64)
      assert(s4.features(i) == i * 100 / 32768.0f,
        s"stereo first-channel bin $i: ${s4.features(i)}")
    val i1 = got(1L)
    assert(i1.meta == Multimodal.MediaMeta("png", 8, 2, 0, 0L))
    for (gx <- 0 until 8)
      assert(i1.features(gx) == gx * 30 * 3 / 765.0f,
        s"grid col $gx: ${i1.features(gx)}")
    val a2 = got(2L)
    assert(a2.meta == Multimodal.MediaMeta("wav", 0, 0, 8000, 8L))
    for (i <- 0 until 64)
      assert(a2.features(i) == i * 100 / 32768.0f, s"bin $i: ${a2.features(i)}")
  }

  test("multimodal frameSample: every nth fixed-size chunk") {
    val media = Multimodal.syntheticMedia(spark, 9).filter($"kind" === "video")
    val frames = Multimodal.frameSample(media, everyNth = 2, frameBytes = 128)
    val perMedia = frames.groupBy("media_id").count().collect().map(_.getLong(1))
    // 512 bytes / 128 = 4 chunks, every 2nd -> 2 frames
    assert(perMedia.nonEmpty && perMedia.forall(_ == 2L))
    val sizes = frames.select(length($"frame_bytes")).collect().map(_.getInt(0))
    assert(sizes.forall(_ == 128))
  }

  test("multimodal inventory aggregates by kind") {
    val inv = Multimodal.inventory(
      Multimodal.decode(Multimodal.syntheticMedia(spark, 30)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(inv == Map("image" -> 10L, "audio" -> 10L, "video" -> 10L))
  }

  test("multimodal resize: average pooling halves the width") {
    val decoded = Multimodal.decode(Multimodal.syntheticMedia(spark, 10))
    val resized = Multimodal.resize(decoded, 32).collect().sortBy(_.media_id)
    val orig = decoded.collect().sortBy(_.media_id)
    assert(resized.forall(_.features.length == 32))
    // first pooled cell = mean of first two original cells
    val expect = (orig(0).features(0) + orig(0).features(1)) / 2
    assert(math.abs(resized(0).features(0) - expect) < 1e-6f)
  }

  test("input-type coercion: array<float>/int args cast at analysis, bad types rejected") {
    graft.functions.GraftFunctions.register(spark)
    // array<float> coerces to array<double> — same answer as the double form
    // (without inputTypes, getDouble on 4-byte-stride data read garbage)
    val r = spark.sql(
      """SELECT cosine_sim(cast(array(1.0, 0.0) AS array<float>),
        |                  cast(array(1.0, 1.0) AS array<float>)) AS c""".stripMargin)
      .collect()(0)
    assert(math.abs(r.getDouble(0) - 1.0 / math.sqrt(2)) < 1e-12)
    // int score/id coerce for the aggregate
    val agg = spark.sql(
      """SELECT top_k_by_score(s, id, 1) AS t FROM VALUES
        |  (9, 1), (1, 2) AS v(s, id)""".stripMargin).collect()(0)
    assert(agg.getSeq[org.apache.spark.sql.Row](0).map(_.getLong(1)) == Seq(1L))
    // non-castable input fails at ANALYSIS time, not with a runtime CCE
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT word_shingles(array(1, 2), 3)").collect()
    }
    assert(err.getMessage.toLowerCase.contains("word_shingles") ||
      err.getMessage.toLowerCase.contains("data type mismatch"))
  }

  test("media_probe parses PNG/JPEG/GIF/WAV headers and nulls malformed bytes") {
    def hexBytes(s: String): Array[Byte] =
      s.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    // minimal valid headers: PNG IHDR 640x480, JPEG with an APP0 (JFIF)
    // segment BEFORE the SOF0 (the walk must skip it), GIF87a 320x200
    val png = hexBytes(
      "89504E470D0A1A0A 0000000D 49484452 00000280 000001E0 08060000001F15C489")
    val jpegWithApp0 = hexBytes(
      "FFD8 FFE00010 4A46494600010101006000600000" + // APP0, len 0x10
      "FFC00011 08 01E0 0280 03012200021101031101")  // SOF0: 480 high, 640 wide
    val gif87 = hexBytes("474946383761 4001 C800 F70000") // 320x200 LE
    // 44.1kHz stereo PCM, with a junk "JUNK" chunk BEFORE fmt (the chunk
    // walk must skip it, honoring word alignment)
    val wav = hexBytes(
      "52494646 24000000 57415645" +
      "4A554E4B 03000000 AABBCC 00" + // JUNK, odd size 3 -> pad byte
      "666D7420 10000000 0100 0200 44AC0000 10B10200 0400 1000")
    val truncatedPng = png.take(20)
    val eoiBeforeSof = hexBytes("FFD8 FFD9")
    val riffNoFmt = hexBytes("52494646 24000000 57415645 64617461 04000000 00000000")
    val garbage = Array.fill[Byte](32)(0x5a)
    val df = Seq(
      (1L, png), (2L, jpegWithApp0), (3L, gif87), (4L, wav),
      (5L, truncatedPng), (6L, eoiBeforeSof), (7L, riffNoFmt), (8L, garbage))
      .toDF("id", "bytes")
      .select(col("id"), Multimodal.probe(col("bytes")).as("p"))
      .orderBy("id")
    val rows = df.collect()
    def probe(i: Int): Option[(String, Int, Int, Int, Int)] = {
      val r = rows(i)
      if (r.isNullAt(1)) None
      else { val p = r.getStruct(1)
        Some((p.getString(0), p.getInt(1), p.getInt(2), p.getInt(3), p.getInt(4))) }
    }
    assert(probe(0).contains(("png", 640, 480, 0, 0)))
    assert(probe(1).contains(("jpeg", 640, 480, 0, 0)))
    assert(probe(2).contains(("gif", 320, 200, 0, 0)))
    assert(probe(3).contains(("wav", 0, 0, 44100, 2)))
    assert(probe(4).isEmpty && probe(5).isEmpty && probe(6).isEmpty && probe(7).isEmpty)
    // SQL registration + interpreted path (eval) agrees with codegen
    graft.functions.GraftFunctions.register(spark)
    val viaSql = spark.sql(
      "SELECT media_probe(unhex('47494638396140018001F70000')) AS p").collect()(0)
    assert(viaSql.getStruct(0).getString(0) == "gif")
    assert(viaSql.getStruct(0).getInt(1) == 320 && viaSql.getStruct(0).getInt(2) == 384)
    // non-binary input rejected at analysis time
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT media_probe('not bytes')").collect()
    }
    assert(err.getMessage.toLowerCase.contains("media_probe") ||
      err.getMessage.toLowerCase.contains("data type mismatch"))
  }

  test("bucket_lookup: found/missing/null; interpreted == codegen") {
    import graft.functions.BucketLookup.bucket_lookup
    val table = Map(3L -> 0.25, 17L -> -1.5, 900L -> 2.0)
    val df = Seq(Option(3L), Option(17L), Option(42L), Option.empty[Long])
      .toDF("b")
      .select(col("b"), bucket_lookup(col("b"), table, -9.0).as("v"))
    val got = df.collect().map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1)))
    assert(got.toSeq == Seq(Some(0.25), Some(-1.5), Some(-9.0), None), got.toSeq)
    // interpreted path agrees (the nullSafeEval body)
    assert(graft.functions.BucketLookup.compute(
      17L, Array(3L, 17L, 900L), Array(0.25, -1.5, 2.0), -9.0) == -1.5)
    assert(graft.functions.BucketLookup.compute(
      42L, Array(3L, 17L, 900L), Array(0.25, -1.5, 2.0), -9.0) == -9.0)
  }

  test("bucket_lookup_vec: densified tables == L sparse lookups; null; interpreted == codegen") {
    import graft.functions.BucketLookup.bucket_lookup
    import graft.functions.BucketLookupVec.bucket_lookup_vec
    val tables = Array(Map(0L -> 0.5, 3L -> -1.0), Map(1L -> 2.0, 3L -> 7.0))
    val defaults = Array(-9.0, -8.0)
    val df = Seq(Option(0L), Option(1L), Option(3L), Option.empty[Long]).toDF("b")
      .select(col("b"),
        bucket_lookup_vec(col("b"), tables, defaults, numBuckets = 4).as("v"),
        bucket_lookup(col("b"), tables(0), defaults(0)).as("s0"),
        bucket_lookup(col("b"), tables(1), defaults(1)).as("s1"))
    val got = df.collect()
    got.foreach { r =>
      if (r.isNullAt(0)) assert(r.isNullAt(1))
      else {
        val v = r.getSeq[Double](1)
        assert(v == Seq(r.getDouble(2), r.getDouble(3)),
          s"dense ${v} != sparse pair for bucket ${r.getLong(0)}")
      }
    }
    // interpreted path agrees with the dense layout
    val dense = Array(0.5, -8.0, -9.0, 2.0, -9.0, -8.0, -1.0, 7.0)
    val arr = graft.functions.BucketLookupVec.compute(3L, dense, 2)
    assert(arr.toDoubleArray.toSeq == Seq(-1.0, 7.0))
    // out-of-range bucket fails loudly rather than reading garbage
    intercept[IllegalArgumentException] {
      graft.functions.BucketLookupVec.compute(4L, dense, 2)
    }
  }

  test("nb_score_vec: codegen fold bit-identical to built-ins fold; null; bad bucket") {
    import graft.ext.TextStats
    // real fixture model: the codegen'd one-loop fold must equal the
    // interpreted aggregate+zip_with formulation BIT-identically (same
    // gram order, same per-label IEEE addition sequence, same priors
    // seed) — including tokenless docs (priors only) and null text
    val docs = Tables.load(spark, sf(), "documents")
    val m = TextStats.nbTrain(docs, "text", "lang", "doc_id", numBuckets = 256)
    val both = docs.limit(200)
      .select(
        TextStats.nbScores(TextStats.nbGramBuckets(col("text"), 256), m).as("cg"),
        TextStats.nbScoresBuiltins(
          TextStats.nbGramBuckets(col("text"), 256), m).as("bi"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Double](0).map(java.lang.Double.doubleToLongBits) ==
        r.getSeq[Double](1).map(java.lang.Double.doubleToLongBits),
        s"codegen ${r.getSeq[Double](0)} != builtins ${r.getSeq[Double](1)}")
    }
    // null gram array -> null scores (nullIntolerant), both paths
    val nul = Seq(Tuple1(Option.empty[Array[Long]])).toDF("b")
      .select(graft.functions.NbScoreVec.nb_score_vec(col("b"), m.tables,
        m.defaults, m.logPriors, 256).as("v")).collect()(0)
    assert(nul.isNullAt(0))
    // interpreted entry point agrees with a hand computation
    val dense = Array(1.0, 10.0, 2.0, 20.0) // 2 buckets x 2 labels
    val arr = graft.functions.NbScoreVec.compute(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(0L, 1L, 1L)),
      dense, Array(0.5, -0.5))
    assert(arr.toDoubleArray.toSeq == Seq(0.5 + 1.0 + 2.0 + 2.0, -0.5 + 10.0 + 20.0 + 20.0))
    // out-of-range bucket fails loudly rather than reading garbage
    intercept[IllegalArgumentException] {
      graft.functions.NbScoreVec.compute(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(2L)),
        dense, Array(0.0, 0.0))
    }
  }

  test("SQL registration: custom functions usable from spark.sql") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 1.0d)) AS c,
        |  word_shingles('the quick brown fox', 3) AS sh,
        |  length(deterministic_base64(42L, 7L, 20)) AS len""".stripMargin)
      .collect()(0)
    assert(math.abs(r.getDouble(0) - 1.0 / math.sqrt(2)) < 1e-12)
    assert(r.getSeq[String](1) == Seq("the quick brown", "quick brown fox"))
    assert(r.getInt(2) == 28) // base64(20 bytes) = 28 chars
    // simhash64 from SQL matches the Column API on the same text
    val sh = spark.sql("SELECT simhash64('the quick brown fox') AS h").collect()(0)
    val shCol = Seq("the quick brown fox").toDF("t")
      .select(graft.ext.Dedup.simhash(col("t"))).collect()(0)
    assert(sh.getLong(0) == shCol.getLong(0))
    val agg = spark.sql(
      """SELECT g, top_k_by_score(s, id, 2) AS t FROM VALUES
        |  ('a', 0.9d, 1L), ('a', 0.1d, 2L), ('a', 0.5d, 3L) AS v(g, s, id)
        |GROUP BY g""".stripMargin).collect()(0)
    assert(agg.getSeq[org.apache.spark.sql.Row](1).map(_.getLong(1)) == Seq(1L, 3L))
  }

  test("SQL registration: the per-document kernels round-trip through spark.sql") {
    import graft.ext.{Dedup, TextStats}
    graft.functions.GraftFunctions.register(spark)
    val text = "The cat and the dog is on the mat, with a hat."
    val viaSql = spark.sql(
      s"""SELECT curation_scores(t) AS cs,
        |  minhash_signature(word_shingles(t, 3), 12) AS sig,
        |  minhash_signature(word_shingles(t, 3), 12, true) AS psig,
        |  lsh_band_buckets(minhash_signature(word_shingles(t, 3), 12), 3, 4) AS bb
        |FROM VALUES ('$text'), (NULL) AS v(t)""".stripMargin)
    val sh = Dedup.shingles(col("t"), 3)
    val viaCol = Seq(text, null).toDF("t").select(
      TextStats.scores(col("t")).as("cs"),
      Dedup.signatureOf(sh, 12, portable = false).as("sig"),
      Dedup.signatureOf(sh, 12, portable = true).as("psig"),
      Dedup.bandBuckets(Dedup.signatureOf(sh, 12, portable = false), 3, 4).as("bb"))
    assert(viaSql.schema == viaCol.schema)
    val rows = viaSql.collect()
    assert(rows.toSeq == viaCol.collect().toSeq)
    // 12 tokens, 10 distinct, six English markers
    assert(rows(0).getStruct(0).toSeq == Seq("en", 0.75, 0.166667, 12))
    assert(rows(0).getSeq[Long](1).length == 12 && !rows(0).getSeq[Long](1).contains(null))
    assert(rows(0).getSeq[org.apache.spark.sql.Row](3).map(_.getInt(0)) == Seq(0, 1, 2))
    // null text: no shingles, so 12 null hashes, banded by index alone
    assert(rows(1).getSeq[Any](1) == Seq.fill(12)(null))
    // a parameter that is not a literal is refused by name
    for ((q, what) <- Seq(
        "minhash_signature(array('a b c'), n)" -> "numHashes",
        "lsh_band_buckets(array(1L, 2L), n, 1)" -> "bands",
        "lsh_band_buckets(array(1L, 2L), 1, n)" -> "rowsPerBand",
        "minhash_signature(array('a b c'), 4, n > 1)" -> "portable")) {
      val err = intercept[Exception] {
        spark.sql(s"SELECT $q FROM VALUES (2) AS v(n)").collect()
      }
      assert(err.getMessage.contains(s"$what must be"), err.getMessage)
    }
  }

  test("SQL registration: sketch aggregates and greatest_row from spark.sql") {
    graft.functions.GraftFunctions.register(spark)
    // freq family end-to-end in SQL: exact regime (3 distinct << 64)
    val r = spark.sql(
      """WITH sk AS (SELECT freq_sketch_agg(t, 64) AS s FROM VALUES
        |  ('a'), ('a'), ('a'), ('b'), ('b'), ('c') AS v(t))
        |SELECT freq_estimate(s, 'a') AS ea, freq_max_error(s) AS me,
        |  size(freq_items(s)) AS ni FROM sk""".stripMargin).collect()(0)
    assert(r.getLong(0) == 3L && r.getLong(1) == 0L && r.getInt(2) == 3)
    // merge path: two per-group blobs union to the same answer
    val m = spark.sql(
      """WITH parts AS (SELECT g, freq_sketch_agg(t, 64) AS s FROM VALUES
        |  (1, 'a'), (1, 'a'), (2, 'a'), (2, 'b') AS v(g, t) GROUP BY g)
        |SELECT freq_estimate(freq_merge_agg(s, 64), 'a') AS ea FROM parts"""
        .stripMargin).collect()(0)
    assert(m.getLong(0) == 3L)
    // greatest_row: latest (ts, payload) per key
    val gr = spark.sql(
      """SELECT k, greatest_row(struct(ts, p)) AS g FROM VALUES
        |  ('u', 1L, 'old'), ('u', 9L, 'new'), ('u', 5L, 'mid') AS v(k, ts, p)
        |GROUP BY k""".stripMargin).collect()(0)
    assert(gr.getStruct(1).getString(1) == "new")
  }

  test("BpeEncode.Table rejects duplicate merge outputs loudly") {
    // ("ab","c") and ("a","bc") both produce "abc": under rank-based
    // re-application the later producer could recreate the earlier
    // pair's operand and silently diverge from the k-pass oracle — the
    // Table must fail at construction, not drift
    val ex = intercept[IllegalArgumentException] {
      new graft.functions.BpeEncode.Table(
        Array("a", "ab", "a"), Array("b", "c", "bc"),
        Array.empty[String])
    }
    assert(ex.getMessage.contains("duplicate merge output"))
    // distinct outputs construct fine (duplicate PAIRS are the
    // documented first-occurrence tie policy and still distinct-output)
    new graft.functions.BpeEncode.Table(
      Array("a", "ab"), Array("b", "c"), Array("ab", "abc"))
  }

  test("nearest_cells_rounded: NaN cosine ranks greater-than-all (SQL NaN-first DESC)") {
    import graft.functions.NearestCells
    val cents = Array(
      Array(1.0, 0.0), Array(0.0, 0.0) /* zero-norm seed -> NaN sim */,
      Array(0.0, 1.0))
    // a real vector: the zero-norm SEED's NaN sim must outrank every
    // real cosine — mirroring ORDER BY round(sim,6) DESC, idx ASC
    val df = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 0.0))).toDF("id", "v")
      .select(col("id"),
        NearestCells.nearest_cells_rounded(
          col("v").cast("array<double>"), cents, 3).as("cells"))
    val got = df.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(got(1L) == Seq(1, 0, 2),
      s"zero-norm seed must sort first for a real vector: ${got(1L)}")
    // a zero-norm VECTOR: all sims NaN -> all tied -> lowest index
    // order, exactly the replay's idx ASC tiebreak
    assert(got(2L) == Seq(0, 1, 2),
      s"all-NaN must fall to index order: ${got(2L)}")
  }
}
