package graft

import org.apache.spark.sql.functions._

/** Round-5: order-N LM generalization, the two-phase exact stratum cap,
  * stage parameter fingerprints, and the incremental-index lifecycle. */
class Round5Spec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------------------------
  // NgramLogProbFp: order-N interpolated LM
  // ---------------------------------------------------------------------

  private def fp(p: Double) = math.round(math.log(p) * 1e6)

  test("NgramLogProbFp order 5: hand-computed dispatch at every context length") {
    import graft.ops.UnigramLM
    // tokens: a b c d e a b c d e a b c d f  (N=15)
    // c1: a3 b3 c3 d3 e2 f1; c2(a,b)=3 (b,c)=3 (c,d)=3 (d,e)=2 (e,a)=2 (d,f)=1
    // c3(a,b,c)=3 (b,c,d)=3 (c,d,e)=2 …; c4(a,b,c,d)=3 (b,c,d,e)=2 …
    // c5(a,b,c,d,e)=2 …
    val train = Seq((1L, "a b c d e a b c d e a b c d f")).toDF("doc_id", "text")
    val m = UnigramLM.trainNgram(train, "text", Seq(10, 10, 10, 10, 10))
    assert(m.order === 5 && m.totalTokens === 15L)
    assert(m.grams(1)("ab") === 3L)
    assert(m.grams(4)("abcde") === 2L)
    // score "a b c d e": token i dispatches at context length i-1 (0..4)
    val expected =
      fp(3.0 / 15) + // "a": no context
      fp(0.5 * (3.0 / 3) + 0.5 * (3.0 / 15)) + // "b": L=1
      fp(0.5 * (3.0 / 3) + 0.25 * (3.0 / 3) + 0.25 * (3.0 / 15)) + // "c": L=2
      fp(0.5 * (3.0 / 3) + 0.25 * (3.0 / 3) + 0.125 * (3.0 / 3)
        + 0.125 * (3.0 / 15)) + // "d": L=3
      fp(0.5 * (2.0 / 3) + 0.25 * (2.0 / 3) + 0.125 * (2.0 / 3)
        + 0.0625 * (2.0 / 3) + 0.0625 * (2.0 / 15)) // "e": full L=4
    val scored = UnigramLM.scoreNgram(
        Seq((2L, "a b c d e")).toDF("doc_id", "text"), "text", m)
      .select("logprob_fp", "n_tok").head()
    assert(scored.getLong(0) === expected && scored.getLong(1) === 5L)
  }

  test("NgramLogProbFp: a truncation hole mid-chain drops dispatch to that level") {
    import graft.ops.UnigramLM
    // bigram vocabulary capped at 1: ties (a,b)=3 (b,c)=3 (c,d)=3 break by
    // key asc -> only (a,b) kept. Scoring "b c d": "c" takes the bigram
    // PATH (p1=b in vocab) with truncated numerator 0; "d" must ALSO stay
    // at the bigram path because context bigram (b,c) is truncated —
    // a trigram with a fabricated denominator would score p>1.
    val train = Seq((1L, "a b c d e a b c d e a b c d f")).toDF("doc_id", "text")
    val m = UnigramLM.trainNgram(train, "text", Seq(10, 1, 10, 10, 10))
    assert(m.grams(1) === Map("ab" -> 3L))
    val expected =
      fp(3.0 / 15) + // "b"
      fp(0.5 * (0.0 / 3) + 0.5 * (3.0 / 15)) + // "c": (b,c) truncated => num 0
      fp(0.5 * (0.0 / 3) + 0.5 * (3.0 / 15)) // "d": chain hole at (b,c) => L=1
    val scored = UnigramLM.scoreNgram(
        Seq((2L, "b c d")).toDF("doc_id", "text"), "text", m)
      .select("logprob_fp", "n_tok").head()
    assert(scored.getLong(0) === expected && scored.getLong(1) === 3L)
  }

  test("NgramLogProbFp: OOV token and OOV predecessor back off to unigram") {
    import graft.ops.UnigramLM
    val train = Seq((1L, "a b c d e a b c d e a b c d f")).toDF("doc_id", "text")
    val m = UnigramLM.trainNgram(train, "text", Seq(10, 10, 10, 10, 10))
    val expected = fp(1.0 / 15) + fp(3.0 / 15) // "z" OOV; "a" after OOV prev
    val scored = UnigramLM.scoreNgram(
        Seq((2L, "z a")).toDF("doc_id", "text"), "text", m)
      .select("logprob_fp", "n_tok").head()
    assert(scored.getLong(0) === expected && scored.getLong(1) === 2L)
  }

  /** Test-local reference for `NgramLogProbFp`'s documented formula: plain
    * `Map` lookups over U+0001-joined keys, no trie. Token i's context
    * length L is the largest j <= order-1 whose context n-grams of lengths
    * 1..j are all kept; it scores `ln(0.5·r_L + … + 0.5^L·r_1 +
    * 0.5^L·c_1(cur)/N)` (absent numerators 0, OOV `cur` counts 1), or the
    * plain unigram when L = 0. */
  private def referenceScore(grams: Seq[Map[String, Long]], total: Long,
      toks: Seq[String]): Long = {
    def c(ws: Seq[String]): Option[Long] = grams(ws.length - 1).get(ws.mkString("\u0001"))
    toks.indices.map { i =>
      val cur = toks(i)
      val ctx = (j: Int) => toks.slice(i - j, i)
      val l = (1 to math.min(grams.length - 1, i)).takeWhile(j => c(ctx(j)).isDefined)
        .lastOption.getOrElse(0)
      val cu = c(Seq(cur)).getOrElse(1L)
      if (l == 0) fp(cu.toDouble / total)
      else {
        var p = 0.0
        var w = 0.5
        for (j <- l to 1 by -1) {
          p += w * (c(ctx(j) :+ cur).getOrElse(0L).toDouble / c(ctx(j)).get)
          if (j > 1) w *= 0.5
        }
        fp(p + w * (cu.toDouble / total))
      }
    }.sum
  }

  test("NgramModel orders 1-3 match a map-based reference scorer") {
    import graft.ops.UnigramLM
    val docs = spark.range(0, 300).selectExpr("id AS doc_id",
      """concat('the quick tok', cast(id % 23 AS STRING),
                ' jumps over tok', cast(id % 7 AS STRING),
                ' and tok', cast(id % 3 AS STRING)) AS text""")
    val uni = UnigramLM.train(docs, "text", 40)
    val bi = UnigramLM.trainBigram(docs, "text", 40, 60)
    val tri = UnigramLM.trainTrigram(docs, "text", 40, 60, 80)
    val n1 = UnigramLM.trainNgram(docs, "text", Seq(40))
    val n2 = UnigramLM.trainNgram(docs, "text", Seq(40, 60))
    val n3 = UnigramLM.trainNgram(docs, "text", Seq(40, 60, 80))
    // identical trained vocabularies…
    assert(n1.grams.head === uni.vocab && n1.totalTokens === uni.totalTokens)
    assert(n2.grams(1) === bi.bigrams)
    assert(n3.grams(2) === tri.trigrams)
    // …the 60/80 caps leave truncation holes in the bigram and trigram
    // levels (65 and 104 distinct keys; the 28 unigrams all fit)…
    val full = UnigramLM.trainNgram(docs, "text", Seq(1000, 1000, 1000))
    assert(full.grams.map(_.size) === Seq(28, 65, 104))
    // …and a bigram cap of 20 keeps trigrams whose context bigram is
    // truncated, so the trie holds context nodes of unknown count
    val holes = UnigramLM.trainNgram(docs, "text", Seq(40, 20, 80))
    assert(holes.grams(2).keys.exists(k =>
      !holes.grams(1).contains(k.split('\u0001').take(2).mkString("\u0001"))))
    // …and every scorer equals the reference, document by document
    val toks = docs.select(col("doc_id"), UnigramLM.tokens(col("text")))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    def scores(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.select("doc_id", "logprob_fp", "n_tok").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    def reference(m: UnigramLM.NgramModel): Seq[(Long, Long, Long)] =
      toks.toSeq.map { case (id, t) =>
        (id, referenceScore(m.grams, m.totalTokens, t), t.length.toLong) }.sorted
    Seq(n1, n2, n3, holes).foreach { m =>
      assert(scores(UnigramLM.scoreNgram(docs, "text", m)) === reference(m), m.order)
    }
    assert(scores(UnigramLM.score(docs, "text", uni)) === reference(uni.ngram))
    assert(scores(UnigramLM.scoreBigram(docs, "text", bi)) === reference(bi.ngram))
    assert(scores(UnigramLM.scoreTrigram(docs, "text", tri)) === reference(tri.ngram))
  }

  test("NgramLogProbFp compiles under FORCED codegen, matching interpreted eval") {
    import graft.ops.UnigramLM
    val train = Seq((1L, "a b c d e a b c d e a b c d f")).toDF("doc_id", "text")
    val m = UnigramLM.trainNgram(train, "text", Seq(10, 10, 10, 10, 10))
    val df = Seq((1L, "a b c d e x"), (2L, "f f f"), (3L, "")).toDF("doc_id", "text")
    def eval(mode: String): Seq[(Long, Long)] = {
      val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try UnigramLM.scoreNgram(df, "text", m)
        .select("logprob_fp", "n_tok").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      finally prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
    assert(eval("CODEGEN_ONLY") === eval("NO_CODEGEN"))
  }

  test("the text and LM kernels reject a bad input type at analysis") {
    import graft.functions.{TextFunctions, VecFunctions}
    val df = Seq((1, "a b c", Seq(1L, 2L), Seq("a", "b"), Seq(1.0, 2.0)))
      .toDF("n", "text", "longs", "strs", "dbls")
    val grams = Seq(Map("a" -> 2L, "b" -> 1L), Map("a\u0001b" -> 1L))
    val bc = spark.sparkContext.broadcast((grams, 3L))
    val cents = Array(Array(0.0, 0.0), Array(1.0, 2.0))
    try {
      val bad: Seq[(String, org.apache.spark.sql.Column)] = Seq(
        "repetition_stats" -> TextFunctions.repetition_stats(col("n")),
        "word_counts" -> TextFunctions.word_counts(col("strs")),
        "ngram_logprob_fp(string)" -> TextFunctions.ngram_logprob_fp(col("text"), grams, 3L),
        "ngram_logprob_fp(array<bigint>)" ->
          TextFunctions.ngram_logprob_fp(col("longs"), grams, 3L),
        "ngram_logprob_fp_broadcast" ->
          TextFunctions.ngram_logprob_fp_broadcast(col("longs"), bc),
        // a struct that is not the repetition_stats struct
        "gopher_pass(struct<n:int>)" -> TextFunctions.gopher_pass(struct(col("n"))),
        "gopher_pass(string)" -> TextFunctions.gopher_pass(col("text")),
        "array_all_in_range" -> VecFunctions.array_all_in_range(col("strs"), 0, 9),
        "array_count_out_of_range" -> VecFunctions.array_count_out_of_range(col("strs"), 0, 9),
        "array_count_eq(array<string>)" -> VecFunctions.array_count_eq(col("strs"), 0L),
        "array_count_eq(array<double>)" -> VecFunctions.array_count_eq(col("dbls"), 0L),
        "array_pad_suffix_ok" -> VecFunctions.array_pad_suffix_ok(col("dbls"), 0L),
        "array_bad_segments" -> VecFunctions.array_bad_segments(col("dbls"), 0L, 1L, 9L),
        "array_last_not_eq" -> VecFunctions.array_last_not_eq(col("strs"), 0L),
        "vec_dot" -> VecFunctions.vec_dot(col("dbls"), col("strs")),
        "vec_norm" -> VecFunctions.vec_norm(col("strs")),
        "simhash64" -> VecFunctions.simhash64(col("longs")),
        "sign_lsh_bands" -> VecFunctions.sign_lsh_bands(col("strs"), 2, 4),
        "token_ngram_hashes" -> VecFunctions.token_ngram_hashes(col("dbls"), 2),
        "nearest_centroid" -> VecFunctions.nearest_centroid(col("strs"), cents),
        "nearest_centroids" -> VecFunctions.nearest_centroids(col("text"), cents, 1))
      bad.foreach { case (name, c) =>
        val e = intercept[org.apache.spark.sql.AnalysisException](df.select(c))
        assert(e.getMessage.contains("UNEXPECTED_INPUT_TYPE"), s"$name: ${e.getMessage}")
      }
      // the well-typed forms still analyze and run
      val ok = df.select(
        TextFunctions.repetition_stats(col("text"))("n_words"),
        size(TextFunctions.word_counts(col("text"))),
        TextFunctions.ngram_logprob_fp(col("strs"), grams, 3L)("n_tok"),
        TextFunctions.ngram_logprob_fp_broadcast(col("strs"), bc)("logprob_fp"),
        TextFunctions.ngram_logprob_fp(col("strs"), grams, 3L)("logprob_fp"),
        TextFunctions.gopher_pass(TextFunctions.repetition_stats(col("text"))),
        VecFunctions.array_all_in_range(col("dbls"), 0, 9),
        VecFunctions.array_count_out_of_range(col("longs"), 0, 1),
        VecFunctions.array_count_eq(col("longs"), 2L),
        VecFunctions.array_pad_suffix_ok(col("longs"), 2L),
        VecFunctions.array_bad_segments(col("longs"), 2L, 1L, 9L),
        VecFunctions.array_last_not_eq(col("longs"), 2L)).head()
      assert((ok.getLong(0), ok.getInt(1), ok.getLong(2)) === ((3L, 3, 2L)))
      assert(ok.getLong(3) === ok.getLong(4))
      assert((ok.getBoolean(5), ok.getBoolean(6), ok.getLong(7), ok.getLong(8),
        ok.getBoolean(9), ok.getLong(10), ok.getLong(11)) === ((false, true, 1L, 1L, true, 0L, 1L)))
      val vec = df.select(
        VecFunctions.vec_dot(col("dbls"), col("longs")),
        VecFunctions.vec_norm(col("dbls")),
        VecFunctions.simhash64(col("strs")) === VecFunctions.simhash64(array(lit("a"), lit("b"))),
        size(VecFunctions.sign_lsh_bands(col("dbls"), 2, 4)),
        size(VecFunctions.token_ngram_hashes(col("longs"), 2)),
        VecFunctions.nearest_centroid(col("dbls"), cents),
        VecFunctions.nearest_centroids(col("longs"), cents, 2)).head()
      assert((vec.getDouble(0), vec.getDouble(1), vec.getBoolean(2), vec.getInt(3), vec.getInt(4),
        vec.getInt(5), vec.getSeq[Int](6)) === ((5.0, math.sqrt(5.0), true, 2, 1, 1, Seq(1, 0))))
    } finally bc.destroy()
  }

  test("BroadcastNgramModel: identical scores, trie built once per JVM, codegen-safe") {
    import graft.ops.UnigramLM
    val docs = spark.range(0, 500, 1, 8).selectExpr("id AS doc_id",
      """concat('the quick tok', cast(id % 23 AS STRING),
                ' jumps over tok', cast(id % 7 AS STRING),
                ' and tok', cast(id % 3 AS STRING)) AS text""")
    val m = UnigramLM.trainNgram(docs, "text", Seq(40, 60, 80, 90, 100))
    val bm = UnigramLM.broadcastModel(spark, m)
    def scores(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.select("doc_id", "logprob_fp", "n_tok").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val buildsBefore = graft.functions.NgramScorer.builds.get()
    val bcScores = scores(UnigramLM.scoreNgramBroadcast(docs, "text", bm))
    // identical arithmetic to the embedded kernel…
    assert(bcScores === scores(UnigramLM.scoreNgram(docs, "text", m)))
    // …and the scorer built ONCE for all 8 partitions, not once per task
    assert(graft.functions.NgramScorer.builds.get() === buildsBefore + 1)
    // a second scoring pass reuses the cached scorer (zero new builds)
    UnigramLM.scoreNgramBroadcast(docs, "text", bm).count()
    assert(graft.functions.NgramScorer.builds.get() === buildsBefore + 1)
    // forced codegen path agrees
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try assert(scores(UnigramLM.scoreNgramBroadcast(docs, "text", bm)) === bcScores)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
      case None => spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    bm.destroy()
  }

  test("trainNgram(trainFraction) routes through the deterministic sample") {
    import graft.ops.{Sampling, UnigramLM}
    val docs = spark.range(0, 200).selectExpr("id AS doc_id",
      "concat('common words here plus tok', cast(id % 37 AS STRING)) AS text")
    val sampled = UnigramLM.trainNgram(docs, "text", Seq(50, 100, 100),
      trainFraction = 0.5, idCol = "doc_id")
    val manual = UnigramLM.trainNgram(
      Sampling.deterministicSample(docs, "doc_id", 0.5), "text", Seq(50, 100, 100))
    assert(sampled.grams === manual.grams &&
      sampled.totalTokens === manual.totalTokens)
    assert(sampled.totalTokens < UnigramLM.trainNgram(docs, "text", Seq(50)).totalTokens)
  }

  // ---------------------------------------------------------------------
  // capStrataExact: two-phase bounded-heap == per-stratum window sort
  // ---------------------------------------------------------------------

  test("capStrataExact matches the window-sort formulation on a skewed, duplicate-key corpus") {
    import graft.ops.Sampling
    // hot stratum (90%), two small strata, a NULL stratum, duplicate keys
    // with DIFFERENT payloads (the boundary-tie trap), plus strata under k
    val df = spark.range(0, 4000).selectExpr(
      """CASE WHEN id % 10 < 8 THEN 'hot'
              WHEN id % 10 = 8 THEN concat('s', cast((id div 10) % 4 AS STRING))
              ELSE NULL END AS stratum""",
      "cast(id % 600 AS STRING) AS key", // ~7 rows per key across strata
      "id AS payload").cache()
    val k = 150
    val two = Sampling.capStrataExact(df, "stratum", "key", k)
    // the retired formulation, reconstructed with the same ordering triple
    val g = Sampling.auditGate(df, "key", "cap_exact")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("stratum")
      .orderBy(g.asc, col("key").asc, Sampling.rowHash(df, Sampling.TagCapExact, 0L).asc)
    val ref = df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (Option(r.getString(0)), r.getString(1), r.getLong(2)))
        .toSeq.sorted
    assert(canon(two) === canon(ref))
    // per-stratum exact counts: min(n, k), null stratum capped too
    val counts = two.groupBy("stratum").count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(counts(Some("hot")) === k.toLong)
    assert(counts(None) === k.toLong)
    assert((0 to 3).map(i => counts(Some(s"s$i"))).sum === 400L) // under cap: all kept
    // parallelism-independent
    val rep = Sampling.capStrataExact(df.repartition(13), "stratum", "key", k)
    assert(canon(rep) === canon(two))
    df.unpersist()
  }

  test("capStrataExact plans as a partial-agg pipeline, not a window sort") {
    import graft.ops.Sampling
    val df = spark.range(0, 100).selectExpr(
      "cast(id % 3 AS STRING) AS stratum", "cast(id AS STRING) AS key", "id AS v")
    val plan = Sampling.capStrataExact(df, "stratum", "key", 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window survived:\n$plan")
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      s"no aggregate found:\n$plan")
  }

  // ---------------------------------------------------------------------
  // MP3 / FLAC / MP4 container parsers
  // ---------------------------------------------------------------------

  test("MP3: frame walk recovers version/layer/bitrate/rate/channels and exact frames") {
    import graft.ops.MediaCodec
    // 5 frames, 128 kbps (idx 9), 44100 Hz (idx 0), stereo, no ID3
    val b = MediaGen.encodeMp3(7L, 5, 9, 0, mono = false, id3 = false)
    val m = MediaCodec.sniffMp3(b).get
    assert(m.version === "1" && m.layer === 3 && m.bitrateKbps === 128)
    assert(m.sampleRate === 44100 && m.channels === 2)
    assert(m.nFrames === 5L && m.nSamples === 5L * 1152)
    // ID3v2-tagged, mono, 32 kbps (idx 1), 32000 Hz (idx 2)
    val t = MediaCodec.sniffMp3(
      MediaGen.encodeMp3(8L, 3, 1, 2, mono = true, id3 = true)).get
    assert(t.channels === 1 && t.bitrateKbps === 32 && t.sampleRate === 32000
      && t.nFrames === 3L)
    // the uniform audio face maps MP3 into AudioMeta with bits = 0
    val a = MediaCodec.sniffAudio(b).get
    assert(a.format === "mp3" && a.bitsPerSample === 0 && a.nSamples === 5L * 1152)
    // a truncated LAST frame rejects the whole stream (no partial counts)
    assert(MediaCodec.sniffMp3(b.take(b.length - 3)).isEmpty)
    // free-format bitrate (index 0) is unsupported, never guessed
    val ff = b.clone(); ff(2) = (ff(2) & 0x0F).toByte
    assert(MediaCodec.sniffMp3(ff).isEmpty)
    // ID3v2.4 with the FOOTER flag (0x10): tag occupies 10 + size + 10
    // bytes — the 10-byte trailer is NOT in the syncsafe size and must be
    // skipped too (hand-assembled; the generator never writes footers)
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte]('I', 'D', '3', 4, 0, 0x10, 0, 0, 0, 24))
    out.write(new Array[Byte](24)) // tag payload (syncsafe size = 24)
    out.write(Array[Byte]('3', 'D', 'I', 4, 0, 0x10, 0, 0, 0, 24)) // footer
    out.write(b)
    val foot = MediaCodec.sniffMp3(out.toByteArray).get
    assert(foot === m) // same stream, tag fully skipped
  }

  test("FLAC: STREAMINFO bit unpacking round-trips the generator's packing") {
    import graft.ops.MediaCodec
    for ((rate, ch, bits, n) <- Seq((44100, 2, 16, 123456L), (96000, 8, 32, 1L),
        (8000, 1, 8, (1L << 36) - 1))) {
      val a = MediaCodec.sniffAudio(MediaGen.encodeFlac(rate, ch, bits, n)).get
      assert(a === MediaCodec.AudioMeta("flac", ch, rate, bits, n))
    }
    // a wrong first block type is rejected (STREAMINFO must be first)
    val bad = MediaGen.encodeFlac(44100, 2, 16, 10L)
    bad(4) = 0x84.toByte // type 4 (VORBIS_COMMENT) first
    assert(MediaCodec.sniffAudio(bad).isEmpty)
    assert(MediaCodec.sniffAudio(MediaGen.encodeFlac(44100, 2, 16, 10L).take(30)).isEmpty)
  }

  test("MP4: box walk recovers dims + duration; truncation and missing moov reject") {
    import graft.ops.MediaCodec
    val b = MediaGen.encodeMp4(640, 360, 90000, 450000L) // 5 s at 90 kHz
    assert(MediaCodec.sniffVideo(b).get ===
      MediaCodec.VideoMeta("mp4", 640, 360, 5000L))
    // truncation inside moov rejects (never partial metadata)
    assert(MediaCodec.sniffVideo(b.take(b.length - 11)).isEmpty)
    // a declared box size below the 8-byte header must not wedge the walk
    val wedge = b.clone(); wedge(0) = 0; wedge(1) = 0; wedge(2) = 0; wedge(3) = 3
    assert(MediaCodec.sniffVideo(wedge).isEmpty)
    // ftyp alone (no moov) rejects
    assert(MediaCodec.sniffVideo(b.take(24)).isEmpty)
  }

  test("MP4: a walk-valid box too small for its layout rejects (no sibling-byte reads)") {
    import graft.ops.MediaCodec
    val b = MediaGen.encodeMp4(640, 360, 1000, 5000L)
    def boxSizeOffset(name: String): Int = {
      val pat = name.getBytes("ISO-8859-1")
      (0 until b.length - 4).find(i => pat.indices.forall(k => b(i + k) == pat(k))).get - 4
    }
    // shrink tkhd's DECLARED size below the v0 dims offset (needs 8+84):
    // the walk still accepts the box, but the dims must not be read from
    // the bytes that now belong to the next sibling
    val shrunkTkhd = b.clone()
    val tk = boxSizeOffset("tkhd")
    shrunkTkhd(tk) = 0; shrunkTkhd(tk + 1) = 0; shrunkTkhd(tk + 2) = 0
    shrunkTkhd(tk + 3) = 84.toByte // 8 header + 76 < dims extent
    assert(MediaCodec.sniffVideo(shrunkTkhd).isEmpty)
    // same for mvhd (v0 needs 8+20 of data for timescale+duration)
    val shrunkMvhd = b.clone()
    val mv = boxSizeOffset("mvhd")
    shrunkMvhd(mv) = 0; shrunkMvhd(mv + 1) = 0; shrunkMvhd(mv + 2) = 0
    shrunkMvhd(mv + 3) = 24.toByte
    assert(MediaCodec.sniffVideo(shrunkMvhd).isEmpty)
  }

  test("BoundedMinRows: null payload structs keep their slot as null elements") {
    import graft.functions.BoundedMinRows.bounded_min_rows
    val df = spark.range(0, 10, 1, 4).selectExpr("id",
      "CASE WHEN id % 3 = 0 THEN named_struct('v', id) END AS p")
    val arr = df.groupBy()
      .agg(bounded_min_rows(struct(col("id")), col("p"), 5).as("kept"))
      .head().getSeq[Any](0)
    // smallest 5 keys = ids 0..4; payload defined only for 0 and 3
    assert(arr.length === 5)
    assert(Seq(0, 3).forall(i => arr(i) != null) &&
      Seq(1, 2, 4).forall(i => arr(i) == null))
  }

  test("new container parsers: deterministic mutation fuzz — never throw, never hang") {
    import graft.ops.MediaCodec
    val rnd = new scala.util.Random(1234)
    val seeds = Seq(
      MediaGen.encodeMp3(1L, 4, 9, 1, mono = false, id3 = true),
      MediaGen.encodeFlac(44100, 2, 16, 5000L),
      MediaGen.encodeMp4(320, 240, 1000, 9000L))
    (0 until 200).foreach { _ =>
      val b = new Array[Byte](rnd.nextInt(64))
      rnd.nextBytes(b)
      MediaCodec.sniffAudio(b); MediaCodec.sniffMp3(b); MediaCodec.sniffVideo(b)
    }
    seeds.foreach { p =>
      (0 until 150).foreach { _ =>
        val cut = p.take(rnd.nextInt(p.length + 1))
        MediaCodec.sniffAudio(cut); MediaCodec.sniffMp3(cut); MediaCodec.sniffVideo(cut)
        val flipped = p.clone()
        val at = rnd.nextInt(p.length)
        flipped(at) = (flipped(at) ^ (1 << rnd.nextInt(8))).toByte
        MediaCodec.sniffAudio(flipped); MediaCodec.sniffMp3(flipped)
        MediaCodec.sniffVideo(flipped)
      }
    }
    succeed
  }

  test("codec-audio and video fixtures: decode reproduces generation ground truth") {
    import graft.ops.Multimodal
    val audio = MediaGen.codecAudioTable(spark, 120).toDF()
    val decodedA = Multimodal.decodeAudioMeta(spark, audio.select("doc_id", "payload")).toDF()
    val joinedA = audio.join(decodedA, "doc_id")
    assert(joinedA.filter(
      col("format") =!= col("true_format") ||
      col("channels") =!= col("true_channels") ||
      col("sample_rate") =!= col("true_sample_rate") ||
      col("bits") =!= col("true_bits") ||
      col("n_samples") =!= col("true_samples")).count() === 0L)
    // both planted-corrupt classes actually exercised
    assert(decodedA.filter(!col("ok")).count() === audio.filter(col("true_format") === "unknown").count())
    assert(decodedA.filter(col("format") === "mp3").count() > 20)
    assert(decodedA.filter(col("format") === "flac").count() > 20)
    val video = MediaGen.videoTable(spark, 120).toDF()
    val decodedV = Multimodal.decodeVideoMeta(spark, video.select("doc_id", "payload")).toDF()
    val joinedV = video.join(decodedV, "doc_id")
    assert(joinedV.filter(
      col("format") =!= col("true_format") ||
      col("width") =!= col("true_width") ||
      col("height") =!= col("true_height") ||
      col("duration_ms") =!= col("true_duration_ms")).count() === 0L)
    assert(decodedV.filter(col("ok")).count() === video.filter(col("true_format") === "mp4").count())
  }

  // ---------------------------------------------------------------------
  // Incremental-index lifecycle: two-day ingest without rebuilds
  // ---------------------------------------------------------------------

  test("DedupIndex: day-2 ingest dedups against day-1 via appended indexes, no rebuild") {
    import graft.ops.{Dedup, DedupIndex}
    import graft.TableIO
    val root = java.nio.file.Files.createTempDirectory("dedup_idx").toString
    val (sigDir, bandDir, corpusDir) = (s"$root/sigs", s"$root/bands", s"$root/corpus")
    val (nh, nb, k) = (64, 16, 2)
    def doc(id: String, text: String) = (id, text)
    val day1 = Seq(
      doc("d1_0", "shared passage number zero about the quick brown fox and the lazy dog in the garden"),
      doc("d1_1", "an entirely different first day document about distributed query engines and shuffles"),
      doc("d1_2", "a third day one text mentioning bounded heaps partial aggregation and stratified caps"))
      .toDF("doc_id", "text")
    // day 1: empty index -> nothing to gate against; accept all, append
    assert(!DedupIndex.exists(spark, sigDir))
    assert(DedupIndex.appendSignatures(day1, "text", "doc_id", sigDir, "day1"))
    assert(DedupIndex.appendBands(day1, "text", "doc_id", bandDir, "day1", nh, nb, k))
    TableIO.default.writer(day1, "overwrite").save(corpusDir)
    val day1BandMtime = new java.io.File(s"$bandDir/batch=day1").lastModified()
    // day 2: one verbatim re-crawl, one paraphrase, two fresh docs
    val day2 = Seq(
      doc("d2_0", "shared passage number zero about the quick brown fox and the lazy dog in the garden"),
      doc("d2_1", "shared passage number zero about the quick brown fox and the lazy dog in the garden extra"),
      doc("d2_2", "a genuinely fresh second day document with novel content about container headers"),
      doc("d2_3", "another fresh one discussing watermark semantics and state store providers"))
      .toDF("doc_id", "text")
    val store = TableIO.default.read(spark, corpusDir)
    val afterExact = Dedup.dropExactDupsAgainst(day2, "text", "doc_id",
      DedupIndex.readIndex(spark, sigDir))
    val accepted2 = Dedup.dropNearDupsAgainst(afterExact, "text", "doc_id",
      store, "text", "doc_id", DedupIndex.readIndex(spark, bandDir),
      nh, nb, k, minJaccard = 0.5)
    val survivors = accepted2.select("doc_id").collect().map(_.getString(0)).toSet
    assert(survivors === Set("d2_2", "d2_3"),
      s"expected only fresh docs to survive, got $survivors")
    // neither index was rebuilt by the day-2 gates
    assert(new java.io.File(s"$bandDir/batch=day1").lastModified() === day1BandMtime)
    // append day-2 accepted rows; a re-run appends NOTHING (exactly-once)
    assert(DedupIndex.appendSignatures(accepted2, "text", "doc_id", sigDir, "day2"))
    val nSigs = DedupIndex.readIndex(spark, sigDir).count()
    assert(nSigs === 5L) // 3 day-1 + 2 day-2
    assert(!DedupIndex.appendSignatures(accepted2, "text", "doc_id", sigDir, "day2"))
    assert(DedupIndex.readIndex(spark, sigDir).count() === 5L)
    // a day-3 doc duplicating a DAY-2 acceptance is now caught too
    val day3 = Seq(doc("d3_0",
      "a genuinely fresh second day document with novel content about container headers"),
      doc("d3_1", "wholly new day three material about append only index lifecycles"))
      .toDF("doc_id", "text")
    val after3 = Dedup.dropExactDupsAgainst(day3, "text", "doc_id",
      DedupIndex.readIndex(spark, sigDir))
    assert(after3.select("doc_id").collect().map(_.getString(0)).toSet === Set("d3_1"))
    // parameter mismatch on a later band append fails loudly
    val e = intercept[IllegalStateException] {
      DedupIndex.appendBands(day2, "text", "doc_id", bandDir, "day2", 128, 32, 3)
    }
    assert(e.getMessage.contains("fingerprint"))
    // unsafe batch ids rejected before touching storage
    intercept[IllegalArgumentException] {
      DedupIndex.appendSignatures(day1, "text", "doc_id", sigDir, "..")
    }
    // SOURCE columns are part of the fingerprint: same hash params over a
    // different text column is just as mutually meaningless
    val renamed = day2.withColumnRenamed("text", "title")
    val e2 = intercept[IllegalStateException] {
      DedupIndex.appendBands(renamed, "title", "doc_id", bandDir, "day2", nh, nb, k)
    }
    assert(e2.getMessage.contains("fingerprint"))
    // reads are MARKER-GATED: a crashed append (data landed, marker didn't)
    // is invisible until its retry commits — simulate by writing a batch
    // directory directly with no _appended_ marker
    TableIO.default.writer(
      graft.ops.Dedup.exactSignatures(day3, "text", "doc_id"), "overwrite")
      .save(s"$sigDir/batch=crashed")
    assert(DedupIndex.readIndex(spark, sigDir).count() === 5L) // still 5, not 7
    assert(!DedupIndex.exists(spark, sigDir, "crashed"))
  }

  // ---------------------------------------------------------------------
  // RocksDB state store: the documented scale provider, actually exercised
  // ---------------------------------------------------------------------

  test("nearDupCandidatesStream under RocksDB state store: dedup works and TTL ages state out") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val clogKey = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prev = spark.conf.getOption(confKey)
    val prevClog = spark.conf.getOption(clogKey)
    spark.conf.set(confKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // changelog checkpointing keeps the native full-snapshot (Checkpoint
    // .createCheckpoint) OFF the per-commit path — on this VM's filesystem
    // a per-batch native checkpoint stalls for minutes (observed), and it
    // is also the recommended production setting for frequent commits
    spark.conf.set(clogKey, "true")
    // the 4.1 checkpoint-file checksum sidecar writer's async awaitResult
    // never completes on this VM (observed hang in
    // ChecksumCancellableFSDataOutputStream.close) — disable the sidecars
    // for this test; correctness of the state itself is unaffected
    val ckKey = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    val prevCk = spark.conf.getOption(ckKey)
    spark.conf.set(ckKey, "false")
    // one state partition: every per-batch checkpoint file op on the local
    // FS forks a chmod process (RawLocalFileSystem), so state-partition
    // count directly multiplies micro-batch latency in this sandbox
    val spKey = "spark.sql.shuffle.partitions"
    val prevSp = spark.conf.getOption(spKey)
    spark.conf.set(spKey, "1")
    try {
      val base = "the quick brown fox jumps over the lazy dog while the " +
        "cat watches from the warm windowsill and the birds sing in the garden"
      val nearDup = base + " today"
      val filler = "completely unrelated filler content about orbital mechanics " +
        "and spacecraft propulsion system calculations for the timeout sweep"
      val input = MemoryStream[(String, String)]
      // a ProcessingTime TTL keeps timers pending, which makes the default
      // 0ms trigger run empty micro-batches BACK-TO-BACK (thousands of
      // stages observed) — rate-limit the timer sweep with an explicit
      // trigger so each sweep is one cheap batch per second
      val q = graft.streaming.StreamValidate.nearDupCandidatesStream(
          input.toDF().toDF("doc_id", "text"), "text", "doc_id",
          numHashes = 64, bands = 16, shingleK = 2, ttl = Some("10 seconds"))
        .writeStream.format("memory").queryName("rocks_cands")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
        .outputMode("update").start()
      try {
        // processAllAvailable never returns while ProcessingTime TIMERS
        // keep scheduling batches (no-new-data is never signaled), so
        // synchronize on batch progress instead: N completed batches after
        // an addData guarantee the data was consumed
        def waitBatches(n: Int): Unit = {
          val start = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
          val deadline = System.currentTimeMillis() + 120000
          while (Option(q.lastProgress).map(_.batchId).getOrElse(-1L) < start + n
              && System.currentTimeMillis() < deadline)
            Thread.sleep(200)
          assert(Option(q.lastProgress).map(_.batchId).getOrElse(-1L) >= start + n,
            s"stream made no progress within 120s (batch ${q.lastProgress})")
        }
        input.addData(("d1", base))
        waitBatches(2)
        input.addData(("d2", nearDup)) // within TTL: exemplar state alive
        waitBatches(3)
        val hit = spark.sql("select id_a, id_b from rocks_cands").collect()
          .map(r => (r.getString(0), r.getString(1)))
        assert(hit.nonEmpty && hit.forall(_ == ("d1", "d2")),
          s"RocksDB-backed cross-batch dedup failed: ${hit.toSeq}")
        // let the TTL elapse; the 1 Hz trigger runs the timeout sweeps,
        // and one filler batch guarantees a sweep after the expiry point
        Thread.sleep(13000)
        input.addData(("f1", filler))
        waitBatches(3)
        // the exemplar aged out: a fresh near-dup is NOT flagged against d1
        input.addData(("d3", base + " again"))
        waitBatches(3)
        val after = spark.sql("select id_a, id_b from rocks_cands where id_b = 'd3'")
          .collect()
        assert(after.isEmpty,
          s"state should have aged out under TTL, got ${after.toSeq}")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
      prevClog match {
        case Some(v) => spark.conf.set(clogKey, v)
        case None => spark.conf.unset(clogKey)
      }
      prevCk match {
        case Some(v) => spark.conf.set(ckKey, v)
        case None => spark.conf.unset(ckKey)
      }
      prevSp match {
        case Some(v) => spark.conf.set(spKey, v)
        case None => spark.conf.unset(spKey)
      }
    }
  }

  // ---------------------------------------------------------------------
  // Pluggable featurizer seam
  // ---------------------------------------------------------------------

  test("decodeFeatures: swapped featurizer gets once-per-partition init, identical plumbing") {
    import graft.ops.Multimodal
    val initCount = spark.sparkContext.longAccumulator("featurizer_inits")
    val callCount = spark.sparkContext.longAccumulator("featurizer_calls")
    val media = MediaGen.mediaTable(spark, 60, parts = 4).toDF()
      .select("doc_id", "payload")
    val swapped = Multimodal.Featurizer[String](
      init = () => { initCount.add(1); "model-handle" },
      featurize = (h, img) => { callCount.add(1)
        Array(h.length.toFloat, img.getWidth.toFloat) })
    val rows = Multimodal.decodeFeatures(spark, media, featurizer = swapped).collect()
    assert(rows.nonEmpty)
    // the handle produced by init reached every featurize call
    assert(rows.forall(r => r.feature.length === 2 && r.feature(0) === 12f))
    // init ran once per PARTITION, not once per row
    assert(initCount.value === 4L && callCount.value === rows.length.toLong)
    // accounting/ordering/determinism identical to the default featurizer
    val base = Multimodal.decodeFeatures(spark, media).collect()
    assert(rows.map(r => (r.doc_id, r.media_type, r.n_bytes, r.width, r.height, r.n_frames))
        .sortBy(_._1).toSeq ===
      base.map(r => (r.doc_id, r.media_type, r.n_bytes, r.width, r.height, r.n_frames))
        .sortBy(_._1).toSeq)
  }

  // ---------------------------------------------------------------------
  // Auto-release of convenience-wrapper caches
  // ---------------------------------------------------------------------

  test("bare minhashLsh / tfidfTopTerms / cosineLshPairs self-release their caches") {
    import graft.ops.{Dedup, Similarity, TextAnalysis}
    def cachedIds = spark.sparkContext.getPersistentRDDs.keySet.toSet
    // compare ID SETS, not counts: the ContextCleaner may concurrently
    // unpersist an UNRELATED suite's GC'd RDD, shrinking a raw count below
    // its baseline and failing a count compare spuriously — only the ids
    // CREATED by the op under test must drain
    def awaitReleased(before: Set[Int], what: String): Unit = {
      // listener callbacks run on the listener bus after the action returns
      val deadline = System.currentTimeMillis() + 20000
      def leaked = cachedIds -- before
      while (leaked.nonEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(leaked.isEmpty, s"$what left cached blocks behind: $leaked")
    }
    val docs = spark.range(0, 200).selectExpr("cast(id AS STRING) AS doc_id",
      "concat('some shared text body with words number ', cast(id % 40 AS STRING)) AS text")
    val vecs = spark.range(0, 100).selectExpr("id AS vec_id",
      "array(cast(id % 7 AS FLOAT), cast(id % 5 AS FLOAT), 1.0F) AS embedding")
    var before = cachedIds
    Dedup.minhashLsh(docs, "text", "doc_id", 32, 8, 2, 0.5).count()
    awaitReleased(before, "minhashLsh")
    before = cachedIds
    TextAnalysis.tfidfTopTerms(docs, "text", "doc_id", 3).count()
    awaitReleased(before, "tfidfTopTerms")
    before = cachedIds
    Similarity.cosineLshPairs(vecs, "embedding", "vec_id", 0.9).count()
    awaitReleased(before, "cosineLshPairs")
  }

  // ---------------------------------------------------------------------
  // StageRunner parameter fingerprints
  // ---------------------------------------------------------------------

  test("StageRunner: resuming a stage with changed parameters fails loudly") {
    val dir = java.nio.file.Files.createTempDirectory("stage_fp").toString
    val r1 = new StageRunner(spark, dir, "run1")
    val d = spark.range(0, 10).toDF("id")
    r1.stage("s1", Seq("op", 64, 0.8))(d)
    // same params: resume is fine (storage-backed, no recompute)
    var computes = 0
    val again = new StageRunner(spark, dir, "run1")
      .stage("s1", Seq("op", 64, 0.8)) { computes += 1; d }
    assert(again.count() === 10L && computes === 0)
    // changed params: loud failure, not stale output
    val e = intercept[IllegalStateException] {
      new StageRunner(spark, dir, "run1").stage("s1", Seq("op", 128, 0.8))(d)
    }
    assert(e.getMessage.contains("different"))
    // legacy empty markers (pre-fingerprint) still resume
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mp = new org.apache.hadoop.fs.Path(s"$dir/run1/_done_s1")
    fs.create(mp, true).close() // truncate to zero bytes
    assert(new StageRunner(spark, dir, "run1")
      .stage("s1", Seq("anything", 1))(d).count() === 10L)
  }

  // ---------------------------------------------------------------------
  // CCNet perplexity bucketing + SemDeDup embedding near-dup removal
  // ---------------------------------------------------------------------

  test("perplexityFp: true integral division, not a double round-trip") {
    import graft.ops.UnigramLM
    // -lp = 7, n_tok = 2 -> 3 (floor); a quotient 1 ulp under an integer
    // must not round up: -lp = 3_000_000_000_000_000_001, n = 3
    val d = Seq((-7L, 2L), (-3000000000000000001L, 3L)).toDF("lp", "nt")
    val out = d.select(UnigramLM.perplexityFp(col("lp"), col("nt")).as("p"))
      .collect().map(_.getLong(0))
    assert(out.toSeq === Seq(3L, 1000000000000000000L))
  }

  test("perplexityBucketsExact: ceil(n/3) order-statistic thresholds, ties keep lower bucket") {
    import graft.ops.UnigramLM
    val d = (1L to 9L).map(i => (i, i * 10L)).toDF("doc_id", "ppl_fp")
    val out = UnigramLM.perplexityBucketsExact(d, "doc_id", "ppl_fp",
        sampleFraction = 1.0)
      .select("doc_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert((1L to 3L).forall(out(_) == "head"))
    assert((4L to 6L).forall(out(_) == "middle"))
    assert((7L to 9L).forall(out(_) == "tail"))
    // all-equal values: everything is <= t_head -> one bucket, no crash
    val flat = (1L to 5L).map(i => (i, 42L)).toDF("doc_id", "ppl_fp")
    val fo = UnigramLM.perplexityBucketsExact(flat, "doc_id", "ppl_fp",
        sampleFraction = 1.0)
      .select("bucket").distinct().collect().map(_.getString(0))
    assert(fo.toSeq === Seq("head"))
  }

  test("perplexityBucketsExact: maxSample guard fails loudly before collecting the world") {
    import graft.ops.UnigramLM
    val d = (1L to 100L).map(i => (i, i)).toDF("doc_id", "ppl_fp")
    val e = intercept[IllegalArgumentException] {
      UnigramLM.perplexityBucketsExact(d, "doc_id", "ppl_fp",
        sampleFraction = 1.0, maxSample = 10)
    }
    assert(e.getMessage.contains("maxSample"))
  }

  test("perplexityBuckets (sketch): value-contiguous buckets, same semantics as exact") {
    import graft.ops.UnigramLM
    val d = (1L to 300L).map(i => (i, i)).toDF("doc_id", "ppl_fp")
    val out = UnigramLM.perplexityBuckets(d, "doc_id", "ppl_fp",
        sampleFraction = 1.0)
      .groupBy("bucket").agg(min("ppl_fp").as("lo"), max("ppl_fp").as("hi"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.keySet === Set("head", "middle", "tail"))
    assert(out("head")._2 < out("middle")._1)
    assert(out("middle")._2 < out("tail")._1)
    // at exact-percentile inputs the sketch lands on the true tertiles
    assert(out("head")._1 === 1L && out("tail")._2 === 300L)
  }

  test("dropNearDupsByEmbedding: scaled copies collapse transitively, distinct rows survive") {
    import graft.ops.Dedup
    val v1 = Array(1.0f, 0.1f, 0f, 0f, 0f, 0f, 0f, 0.2f)
    val v2 = Array(0f, 1.0f, 0.3f, 0f, 0f, 0.1f, 0f, 0f)
    val v3 = Array(0f, 0f, 0f, 1.0f, 0f, 0f, 0.4f, 0f)
    def times(v: Array[Float], f: Float) = v.map(_ * f)
    val corpus = Seq(
      1L -> v1, 2L -> v2, 3L -> v3,
      11L -> times(v1, 2.0f), // dup of 1
      21L -> times(v1, 0.5f), // dup of 1 AND of 11 -> one 3-node cluster
      12L -> times(v2, 4.0f) // dup of 2
    ).toDF("vec_id", "embedding")
    val survivors = Dedup.dropNearDupsByEmbedding(corpus, "embedding", "vec_id",
        threshold = 0.95, bands = 8, planesPerBand = 4, maxBucket = 100)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(survivors === Set(1L, 2L, 3L))
  }

  test("DedupIndex: embedding ingest gate — day-2 dedups against the appended sign-LSH index") {
    import graft.ops.{Dedup, DedupIndex}
    import graft.TableIO
    val root = java.nio.file.Files.createTempDirectory("embed_idx").toString
    val (bandDir, corpusDir) = (s"$root/bands", s"$root/corpus")
    val (nb, ppb) = (8, 4)
    val v1 = Array(1.0f, 0.1f, 0f, 0f, 0f, 0f, 0f, 0.2f)
    val v2 = Array(0f, 1.0f, 0.3f, 0f, 0f, 0.1f, 0f, 0f)
    val v3 = Array(0f, 0f, 0f, 1.0f, 0f, 0f, 0.4f, 0f)
    def times(v: Array[Float], f: Float) = v.map(_ * f)
    val day1 = Seq(1L -> v1, 2L -> v2, 3L -> v3).toDF("vec_id", "embedding")
    assert(!DedupIndex.exists(spark, bandDir))
    assert(DedupIndex.appendEmbedBands(day1, "embedding", "vec_id", bandDir, "day1", nb, ppb))
    TableIO.default.writer(day1, "overwrite").save(corpusDir)
    val day1Mtime = new java.io.File(s"$bandDir/batch=day1").lastModified()
    // day 2: a scaled re-embed of v1 (exact cosine 1.0) + one fresh vector
    val v4 = Array(0.2f, 0f, 1.0f, 0f, 0.3f, 0f, 0f, 0f)
    val day2 = Seq(10L -> times(v1, 2.0f), 11L -> v4).toDF("vec_id", "embedding")
    val store = TableIO.default.read(spark, corpusDir)
    val accepted2 = Dedup.dropNearDupsByEmbeddingAgainst(day2, "embedding", "vec_id",
      store, "embedding", "vec_id", DedupIndex.readIndex(spark, bandDir),
      threshold = 0.95, bands = nb, planesPerBand = ppb)
    assert(accepted2.select("vec_id").collect().map(_.getLong(0)).toSet === Set(11L))
    // the store index was READ, not rebuilt
    assert(new java.io.File(s"$bandDir/batch=day1").lastModified() === day1Mtime)
    // append the acceptances; exactly-once on re-run
    assert(DedupIndex.appendEmbedBands(accepted2, "embedding", "vec_id", bandDir, "day2", nb, ppb))
    assert(!DedupIndex.appendEmbedBands(accepted2, "embedding", "vec_id", bandDir, "day2", nb, ppb))
    assert(DedupIndex.readIndex(spark, bandDir).select("id").distinct().count() === 4L)
    // a day-3 re-embed of a DAY-2 acceptance is caught without any rebuild
    val store23 = store.union(accepted2)
    val day3 = Seq(20L -> times(v4, 0.5f), 21L -> Array(0f, 0f, 0f, 0f, 0f, 0f, 0f, 1.0f))
      .toDF("vec_id", "embedding")
    val accepted3 = Dedup.dropNearDupsByEmbeddingAgainst(day3, "embedding", "vec_id",
      store23, "embedding", "vec_id", DedupIndex.readIndex(spark, bandDir),
      threshold = 0.95, bands = nb, planesPerBand = ppb)
    assert(accepted3.select("vec_id").collect().map(_.getLong(0)).toSet === Set(21L))
    // plane-geometry mismatch fails loudly
    val e = intercept[IllegalStateException] {
      DedupIndex.appendEmbedBands(day3, "embedding", "vec_id", bandDir, "day3", nb, 8)
    }
    assert(e.getMessage.contains("fingerprint"))
  }

  test("perplexityBucketsExactByGroup: independent per-group tertiles, null group is a group") {
    import graft.ops.UnigramLM
    val d = ((1L to 9L).map(i => (i, Option("a"), i * 10L)) ++
      Seq((11L, Option("b"), 1000L), (12L, Option("b"), 2000L), (13L, Option("b"), 3000L)) ++
      Seq((21L, Option.empty[String], 5L), (22L, None, 6L), (23L, None, 7L)))
      .toDF("doc_id", "lang", "ppl_fp")
    val out = UnigramLM.perplexityBucketsExactByGroup(d, "doc_id", "ppl_fp", "lang",
        sampleFraction = 1.0)
      .select("doc_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert((1L to 3L).forall(out(_) == "head") && (4L to 6L).forall(out(_) == "middle")
      && (7L to 9L).forall(out(_) == "tail"))
    assert(out(11L) == "head" && out(12L) == "middle" && out(13L) == "tail")
    assert(out(21L) == "head" && out(22L) == "middle" && out(23L) == "tail")
  }

  test("perplexityBucketsExactByGroup: a group absent from the sample fails loudly at eval") {
    import graft.ops.{Sampling, UnigramLM}
    val base = (1L to 40L).map(i => (i, "a", i)).toDF("doc_id", "lang", "ppl_fp")
    val sampledIds = Sampling.deterministicSample(base, "doc_id", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val excluded = (1L to 40L).find(!sampledIds.contains(_)).get
    val d = base.withColumn("lang",
      when(col("doc_id") === excluded, lit("z")).otherwise(col("lang")))
    val e = intercept[Exception] {
      UnigramLM.perplexityBucketsExactByGroup(d, "doc_id", "ppl_fp", "lang",
        sampleFraction = 0.5).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("no sampled thresholds for group")), e.toString)
  }

  test("perplexityBucketsByGroup (sketch): per-group value-contiguous buckets") {
    import graft.ops.UnigramLM
    val d = ((1L to 300L).map(i => (i, "a", i)) ++
      (301L to 600L).map(i => (i, "b", i * 100L))).toDF("doc_id", "lang", "ppl_fp")
    val out = UnigramLM.perplexityBucketsByGroup(d, "doc_id", "ppl_fp", "lang",
        sampleFraction = 1.0)
      .groupBy("lang", "bucket").agg(min("ppl_fp").as("lo"), max("ppl_fp").as("hi"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    for (g <- Seq("a", "b")) {
      assert(out(g -> "head")._2 < out(g -> "middle")._1)
      assert(out(g -> "middle")._2 < out(g -> "tail")._1)
    }
    // group b's thresholds are its OWN: its head reaches past group a's max
    assert(out("b" -> "head")._2 > out("a" -> "tail")._2)
  }

  test("embedNearDupCandidatesStream: scaled re-embed caught ACROSS batches with exact cosine") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val v1 = Array(1.0f, 0.1f, 0f, 0f, 0f, 0f, 0f, 0.2f)
    val v2 = Array(0f, 1.0f, 0.3f, 0f, 0f, 0.1f, 0f, 0f)
    val input = MemoryStream[(String, Array[Float])]
    val stream = input.toDF().toDF("vec_id", "embedding")
    val q = graft.streaming.StreamValidate.embedNearDupCandidatesStream(
        stream, "embedding", "vec_id", bands = 8, planesPerBand = 4)
      .writeStream.format("memory").queryName("embed_cands")
      .outputMode("update").start()
    try {
      input.addData(("e1", v1), ("e2", v2))
      q.processAllAvailable() // batch 1: exemplars only (v1, v2 not near)
      val b1 = spark.sql("select * from embed_cands where cosine >= 0.95").count()
      assert(b1 === 0L)
      input.addData(("e3", v1.map(_ * 2.0f))) // exact-cosine re-embed of e1
      q.processAllAvailable()
      val got = spark.sql("select id_a, id_b, cosine from embed_cands where cosine >= 0.95")
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      assert(got.nonEmpty)
      // power-of-two scaling: exact cosine 1.0 against the stored exemplar,
      // in EVERY band (identical sign pattern), always paired to e1
      assert(got.forall { case (a, b, c) => a == "e1" && b == "e3" && c > 0.9999 })
      assert(got.length === 8)
    } finally q.stop()
  }

  test("embedNearDupCandidatesStream: within-batch min-id exemplar; zero-norm rows carry no bands") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val v = Array(0.5f, 0f, 0.25f, 0f, 0f, 0f, 1.0f, 0f)
    val input = MemoryStream[(String, Array[Float])]
    val stream = input.toDF().toDF("vec_id", "embedding")
    val q = graft.streaming.StreamValidate.embedNearDupCandidatesStream(
        stream, "embedding", "vec_id", bands = 4, planesPerBand = 4)
      .writeStream.format("memory").queryName("embed_cands2")
      .outputMode("update").start()
    try {
      input.addData(("z9", v), ("a1", v), ("nul", Array.fill(8)(0f)))
      q.processAllAvailable()
      val got = spark.sql("select id_a, id_b, cosine from embed_cands2")
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      assert(got.nonEmpty)
      // min-id a1 is the exemplar even though z9 "arrived" first; the
      // zero-norm row produced no bands at all
      assert(got.forall { case (a, b, c) => a == "a1" && b == "z9" && c > 0.9999 })
      assert(!got.exists { case (a, b, _) => a == "nul" || b == "nul" })
    } finally q.stop()
  }

  test("nearDupClusters: one row per duplicate cluster, consistent with dropNearDups") {
    import graft.ops.Dedup
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the garden wall today"),
      (2L, "the quick brown fox jumps over the lazy dog near the garden wall today"),
      (3L, "the quick brown fox jumps over the lazy dog near the garden wall"),
      (10L, "completely unrelated content about distributed shuffle hash aggregation"),
      (20L, "another singleton document describing connected component algorithms"),
      (21L, "another singleton document describing connected component algorithms plus"))
      .toDF("doc_id", "text")
    val clusters = Dedup.nearDupClusters(docs, "text", "doc_id",
        numHashes = 32, bands = 8, shingleK = 1, threshold = 0.6, maxBucket = 100)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // {1,2,3} cluster at component 1; {20,21} at 20; singleton 10 absent
    assert(clusters === Map(1L -> 3L, 20L -> 2L))
    // the report agrees with the drop pipeline: survivors = all - (members - clusters)
    val kept = Dedup.dropNearDups(docs, "text", "doc_id",
      numHashes = 32, bands = 8, shingleK = 1, threshold = 0.6, maxBucket = 100).count()
    assert(kept === 6L - (clusters.values.sum - clusters.size))
    // report survives a SECOND action (its own bounded checkpoint, labels freed)
    val again = Dedup.nearDupClusters(docs, "text", "doc_id",
      numHashes = 32, bands = 8, shingleK = 1, threshold = 0.6, maxBucket = 100)
    assert(again.count() === 2L && again.count() === 2L)
  }

  test("ccnetSelect: per-lang tertiles, tail dropped, counts audit every bucket") {
    import graft.ops.{Pipeline, UnigramLM}
    // two languages with distinct fluency mixes: fluent docs repeat trained
    // vocabulary; gibberish docs are all-OOV (score far below)
    val fluent = "the quick brown fox jumps over the lazy dog again and again"
    val docs = ((1L to 9L).map(i => (i, "en", fluent + (" extra" * (i.toInt % 3)))) ++
      (11L to 19L).map(i => (i, "de", fluent + (" zusatz" * (i.toInt % 3)))))
      .toDF("doc_id", "lang", "text")
    val model = UnigramLM.trainNgram(docs, "text", Seq(50, 100))
    val (survivors, counts) = Pipeline.ccnetSelect(docs, "text", "doc_id", "lang",
      model, keep = Set("head"), sampleFraction = 1.0, exact = true)
    val surv = survivors.select("doc_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(surv.nonEmpty && surv.forall(_._2 == "head"))
    // the audit sees every (lang, bucket) population, kept or not
    val byLang = counts.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(byLang.keys.map(_._1).toSet === Set("en", "de"))
    assert(byLang.values.sum === 18L)
    // keep-set validation is loud
    intercept[IllegalArgumentException] {
      Pipeline.ccnetSelect(docs, "text", "doc_id", "lang", model, keep = Set("bogus"))
    }
  }
}
