package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-4 hardening: positive CSV header detection under split
  * perturbation, unique pack ids for duplicated memberships, per-symbol
  * Gopher symbol-ratio gates, sampled bigram-LM training, the trigram LM,
  * length-aware packing, streaming near-dup candidates, media metadata
  * decode, and pipeline resume. */
class Round4Spec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------------------------
  // CSV header: positive single-scan detection
  // ---------------------------------------------------------------------

  test("CsvCorpus header=true: exactly one header line per file under split perturbation") {
    import graft.sources.CsvCorpus
    val dir = java.nio.file.Files.createTempDirectory("csv_hdr4")
    // one big file (many splits at a tiny maxPartitionBytes) + one small one
    val bigLines = "doc_id,name" +: (1 to 2000).map(i => s"$i,row$i")
    java.nio.file.Files.write(dir.resolve("big.csv"),
      String.join("\n", bigLines: _*).getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("small.csv"),
      String.join("\n", "doc_id,name", "9001,last").getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("name", StringType)))
    def run(): (Long, Long) = {
      val (v, c) = CsvCorpus.readSplit(spark, dir.toString, schema, header = true)
      (v.count(), c.count())
    }
    val (v0, c0) = run()
    assert(v0 === 2001L && c0 === 0L)
    // perturb input splitting: a 4 KB split target forces the big file into
    // many blocks — exactly one of them has byte offset 0, so still exactly
    // one dropped line per file
    val conf = "spark.sql.files.maxPartitionBytes"
    val old = spark.conf.get(conf)
    try {
      spark.conf.set(conf, "4096")
      val (v1, c1) = run()
      assert(v1 === 2001L && c1 === 0L)
    } finally spark.conf.set(conf, old)
  }

  test("CsvCorpus header=true: a whitespace-only first line IS the header") {
    import graft.sources.CsvCorpus
    val dir = java.nio.file.Files.createTempDirectory("csv_hdr_ws")
    // physical line 1 is whitespace-only: it is the header slot, so the
    // first DATA line must survive (the round-3 min-line-id design would
    // have dropped "1,alpha" instead)
    java.nio.file.Files.write(dir.resolve("ws.csv"),
      String.join("\n", "   ", "1,alpha", "2,beta").getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("name", StringType)))
    val (v, c) = CsvCorpus.readSplit(spark, dir.toString, schema, header = true)
    assert(v.collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    assert(c.count() === 0L)
  }

  // ---------------------------------------------------------------------
  // Packing: pack_id uniqueness under duplicated memberships
  // ---------------------------------------------------------------------

  test("packSequences: duplicated memberships get DISTINCT pack ids, deterministically") {
    import graft.ops.Packing
    // duplicate over-length rows: each emits its own truncated single-doc
    // pack — identical membership, must not collide on pack_id
    val big = Seq.tabulate(12)(i => i + 1)
    val df = Seq(
      ("dup", big), ("dup", big), ("dup", big),
      ("a", Seq(1, 2, 3)), ("a", Seq(1, 2, 3))) // full duplicate short rows
      .toDF("doc_id", "tokens")
    val out = Packing.packSequences(df, "tokens", "doc_id", context = 8, buckets = 4)
      .collect()
    assert(out.map(_.pack_id).distinct.length === out.length) // all unique
    assert(out.filter(_.truncated).length === 3)
    // exactly-once: total tokens preserved (truncated rows clipped to 8)
    assert(out.map(_.n_tok).sum === 3 * 8 + 2 * 3)
    // determinism: same input at different parallelism -> same id SET
    val again = Packing.packSequences(df.repartition(7), "tokens", "doc_id",
      context = 8, buckets = 4).collect()
    assert(again.map(_.pack_id).sorted.toSeq === out.map(_.pack_id).sorted.toSeq)
  }

  // ---------------------------------------------------------------------
  // Media: real pure-JVM header decode
  // ---------------------------------------------------------------------

  test("MediaCodec.sniff: golden dims per container format") {
    import graft.ops.MediaCodec
    def solid(w: Int, h: Int) = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(200, 100, 50)); g.fillRect(0, 0, w, h); g.dispose()
      img
    }
    assert(MediaCodec.sniff(MediaGen.encode("png", Seq(solid(20, 10))))
      === Some(MediaCodec.MediaMeta("png", 20, 10, 1)))
    assert(MediaCodec.sniff(MediaGen.encode("jpeg", Seq(solid(33, 7))))
      === Some(MediaCodec.MediaMeta("jpeg", 33, 7, 1)))
    assert(MediaCodec.sniff(MediaGen.encode("bmp", Seq(solid(5, 64))))
      === Some(MediaCodec.MediaMeta("bmp", 5, 64, 1)))
    // animated GIF: REAL frame count from walking the block structure
    assert(MediaCodec.sniff(MediaGen.encode("gif", Seq(solid(9, 9), solid(9, 9), solid(9, 9))))
      === Some(MediaCodec.MediaMeta("gif", 9, 9, 3)))
    // corrupt: garbage, truncated PNG signature, null, empty
    assert(MediaCodec.sniff("definitely not an image".getBytes("UTF-8")) === None)
    assert(MediaCodec.sniff(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A, 0, 0)) === None)
    assert(MediaCodec.sniff(null) === None)
    assert(MediaCodec.sniff(Array.empty[Byte]) === None)
  }

  test("MediaCodec vs javax.imageio: independent dimension agreement on generated payloads") {
    import graft.ops.MediaCodec
    // the hand-rolled parser and the JDK's own readers must agree on every
    // valid generated payload — a cross-implementation check local to this
    // test (the oracle's check is vs generation-time ground truth)
    MediaGen.mediaTable(spark, 40).collect().filter(_.true_format != "unknown").foreach { r =>
      val meta = MediaCodec.sniff(r.payload)
        .getOrElse(fail(s"sniff failed for ${r.true_format} id=${r.doc_id}"))
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
      assert(meta.width === img.getWidth && meta.height === img.getHeight,
        s"id=${r.doc_id} fmt=${r.true_format}")
      assert(meta.format === r.true_format && meta.width === r.true_width &&
        meta.height === r.true_height && meta.nFrames === r.true_frames)
    }
  }

  test("Multimodal.decodeMeta: failure accounting and end-to-end fixture parity") {
    import graft.ops.Multimodal
    val media = MediaGen.mediaTable(spark, 100).toDF()
    val decoded = Multimodal.decodeMeta(spark, media).collect()
    assert(decoded.length === 100) // corrupt rows are COUNTED, not dropped
    val (ok, bad) = decoded.partition(_.ok)
    assert(bad.length === 20 && bad.forall(d => d.format == "unknown" && d.width == 0))
    assert(ok.groupBy(_.format).view.mapValues(_.length).toMap
      === Map("png" -> 20, "gif" -> 20, "jpeg" -> 20, "bmp" -> 20))
    // decoded meta equals generation ground truth row-by-row
    val truth = media.select("doc_id", "true_format", "true_width", "true_height", "true_frames")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4)))).toMap
    decoded.foreach { d =>
      assert(truth(d.doc_id) === ((d.format, d.width, d.height, d.n_frames)))
    }
  }

  test("Multimodal.decodeFeatures: real pixel decode — solid color means are exact") {
    import graft.ops.Multimodal
    val img = new java.awt.image.BufferedImage(16, 8,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val g = img.createGraphics()
    g.setColor(new java.awt.Color(255, 0, 102)); g.fillRect(0, 0, 16, 8); g.dispose()
    val payload = MediaGen.encode("png", Seq(img)) // png is lossless
    val df = Seq((7L, payload)).toDF("doc_id", "payload")
    val f = Multimodal.decodeFeatures(spark, df).head()
    assert(f.width === 16 && f.height === 8 && f.n_frames === 1)
    assert(f.feature(0) === 1.0f) // mean R = 255/255
    assert(f.feature(1) === 0.0f) // mean G
    assert(math.abs(f.feature(2) - 102f / 255f) < 1e-6)
    // luminance = (255*299 + 102*114)/1000 = 87 -> bin 1 holds every pixel
    assert(f.feature(4) === 1.0f && f.feature(3) === 0.0f)
    assert(f.feature(7) === 16f / 24f) // aspect
  }

  // ---------------------------------------------------------------------
  // Length-aware packing (first-fit-decreasing)
  // ---------------------------------------------------------------------

  test("packSequencesFFD: fill >= greedy on mixed lengths, exactly-once, parallelism-stable") {
    import graft.ops.Packing
    // adversarial-for-greedy mix: big items interleaved with small ones in
    // hash order leave greedy bins half-empty; FFD places big items first
    val df = spark.range(0, 300).selectExpr(
      "cast(id AS STRING) AS doc_id",
      // lengths cycle 7,5,3,2,1 — many (7,1)-style pairings for context 8
      "sequence(1, cast(element_at(array(7,5,3,2,1), cast(id % 5 AS INT) + 1) AS INT)) AS tokens")
      .selectExpr("doc_id", "transform(tokens, x -> cast(x AS INT)) AS tokens")
    val greedy = Packing.packSequences(df, "tokens", "doc_id", context = 8, buckets = 4)
      .collect()
    val ffd = Packing.packSequencesFFD(df, "tokens", "doc_id", context = 8, buckets = 4)
      .collect()
    // exactly-once token accounting on both
    val totalTokens = 300 / 5 * (7 + 5 + 3 + 2 + 1)
    assert(greedy.map(_.n_tok).sum === totalTokens)
    assert(ffd.map(_.n_tok).sum === totalTokens)
    assert(ffd.forall(_.n_tok <= 8))
    // FFD fill is at least greedy's (fewer or equal packs for equal tokens)
    assert(ffd.length <= greedy.length,
      s"FFD produced ${ffd.length} packs vs greedy ${greedy.length}")
    // meaningfully better on this mix, not just equal
    assert(ffd.length < greedy.length)
    // unique ids, parallelism-stable memberships
    assert(ffd.map(_.pack_id).distinct.length === ffd.length)
    val again = Packing.packSequencesFFD(df.repartition(13), "tokens", "doc_id",
      context = 8, buckets = 4).collect()
    assert(again.map(p => (p.pack_id, p.doc_ids, p.tokens)).toSet
      === ffd.map(p => (p.pack_id, p.doc_ids, p.tokens)).toSet)
  }

  test("packSequencesFFD: over-length truncation visible; bounded pool evicts fullest") {
    import graft.ops.Packing
    val big = Seq.tabulate(20)(identity)
    val df = (Seq(("huge", big)) ++ (1 to 40).map(i => (s"s$i", Seq(1, 2, 3))))
      .toDF("doc_id", "tokens")
    val out = Packing.packSequencesFFD(df, "tokens", "doc_id", context = 10,
      buckets = 2, openBins = 2).collect()
    val trunc = out.filter(_.truncated)
    assert(trunc.length === 1 && trunc.head.n_tok === 10 && trunc.head.doc_ids === Seq("huge"))
    assert(out.map(_.n_tok).sum === 10 + 40 * 3)
    assert(out.filterNot(_.truncated).forall(_.n_tok <= 10))
    assert(out.map(_.pack_id).distinct.length === out.length)
  }

  // ---------------------------------------------------------------------
  // Review-pass regressions (round-4 code review)
  // ---------------------------------------------------------------------

  test("sniffAudio: adversarial u32 chunk size terminates (no spin), returns None") {
    import graft.ops.MediaCodec
    // 'RIFF' + size + 'WAVE' + 'JUNK' + 0xFFFFFFF7: the unsigned size
    // truncated to Int is -9, which once made the position step 0 — the
    // parse loop must reject oversized declared chunks, not spin forever
    val evil = "RIFF".getBytes("ISO-8859-1") ++ Array[Byte](16, 0, 0, 0) ++
      "WAVE".getBytes("ISO-8859-1") ++ "JUNK".getBytes("ISO-8859-1") ++
      Array[Byte](0xF7.toByte, 0xFF.toByte, 0xFF.toByte, 0xFF.toByte)
    assert(MediaCodec.sniffAudio(evil) === None)
    // declared data size beyond the payload = truncated -> None
    val wav = MediaGen.encodeWav(1, 8000, Array.fill[Short](100)(1))
    assert(MediaCodec.sniffAudio(wav.take(wav.length / 2)) === None)
  }

  test("sniff: truncated GIF returns None, never a partial frame count") {
    import graft.ops.MediaCodec
    val full = MediaGen.row(1L).payload // id 1 = animated GIF
    assert(MediaCodec.sniff(full).exists(_.format == "gif"))
    assert(MediaCodec.sniff(full.dropRight(1)) === None) // trailer gone
    assert(MediaCodec.sniff(full.take(full.length / 2)) === None)
  }

  test("packSequences: same-id over-length rows with DIFFERENT payloads never collide on pack_id") {
    import graft.ops.Packing
    // ten over-length rows all sharing one id but with distinct token
    // contents: they sort NON-adjacently (hash includes tokens), so the
    // consecutive-duplicate ordinal alone cannot disambiguate — the token
    // contents folded into the hash must
    val rows = (0 until 10).map(i => ("dup", Seq.tabulate(12)(j => i * 100 + j))) ++
      (0 until 5).map(i => (s"u$i", Seq(1, 2)))
    val out = Packing.packSequences(rows.toDF("doc_id", "tokens"),
      "tokens", "doc_id", context = 8, buckets = 2).collect()
    assert(out.count(_.truncated) === 10)
    assert(out.map(_.pack_id).distinct.length === out.length)
    // FFD path too
    val ffd = Packing.packSequencesFFD(rows.toDF("doc_id", "tokens"),
      "tokens", "doc_id", context = 8, buckets = 2).collect()
    assert(ffd.map(_.pack_id).distinct.length === ffd.length)
  }

  test("StageRunner rejects path-traversal stage names AND runIds") {
    val dir = java.nio.file.Files.createTempDirectory("stages_sec").toString
    val r = new StageRunner(spark, dir, "r1")
    intercept[IllegalArgumentException] { r.stage(".")(spark.range(1).toDF()) }
    intercept[IllegalArgumentException] { r.stage("..")(spark.range(1).toDF()) }
    intercept[IllegalArgumentException] { r.stage("a/b")(spark.range(1).toDF()) }
    assert(r.stage("ok.name")(spark.range(1).toDF()).count() === 1)
    // runId is the same interpolated path surface — validated at construction
    intercept[IllegalArgumentException] { new StageRunner(spark, dir, "..") }
    intercept[IllegalArgumentException] { new StageRunner(spark, dir, "") }
    intercept[IllegalArgumentException] { new StageRunner(spark, dir, "a/b") }
  }

  test("packSequences: same-id over-length rows differing only PAST truncation stay distinct") {
    import graft.ops.Packing
    // payloads share the first 8 (context) tokens and differ only beyond —
    // the pack id must hash the FULL array or these collide whenever a
    // third row's sort hash interleaves between them
    val common = Seq.tabulate(8)(identity)
    val rows = (0 until 8).map(i => ("dup", common ++ Seq(100 + i))) ++
      (0 until 6).map(i => (s"u$i", Seq(1, 2, 3)))
    val out = Packing.packSequences(rows.toDF("doc_id", "tokens"),
      "tokens", "doc_id", context = 8, buckets = 1).collect()
    assert(out.count(_.truncated) === 8)
    assert(out.map(_.pack_id).distinct.length === out.length)
  }

  test("sniffAudio: a chunk extending past the payload end is truncation -> None") {
    import graft.ops.MediaCodec
    val wav = MediaGen.encodeWav(1, 8000, Array.fill[Short](200)(5))
    assert(MediaCodec.sniffAudio(wav).isDefined)
    // drop 4 bytes: the data chunk still DECLARES 400 bytes but only 396
    // remain — previously accepted with an overstated n_samples
    assert(MediaCodec.sniffAudio(wav.dropRight(4)) === None)
    assert(MediaCodec.sniffAudio(wav.dropRight(1)) === None)
  }

  test("media parsers: deterministic mutation fuzz — never throw, never hang") {
    import graft.ops.MediaCodec
    val rnd = new scala.util.Random(42)
    val seeds = Seq(MediaGen.row(0L).payload, MediaGen.row(1L).payload,
      MediaGen.row(2L).payload, MediaGen.row(3L).payload,
      MediaGen.encodeWav(2, 16000, Array.fill[Short](64)(3)))
    // random garbage of every small length
    (0 until 200).foreach { i =>
      val b = new Array[Byte](rnd.nextInt(64))
      rnd.nextBytes(b)
      MediaCodec.sniff(b); MediaCodec.sniffAudio(b) // must return, not throw
    }
    // valid payloads with random truncations and byte flips
    seeds.foreach { p =>
      (0 until 100).foreach { _ =>
        val cut = p.take(rnd.nextInt(p.length + 1))
        MediaCodec.sniff(cut); MediaCodec.sniffAudio(cut)
        val flipped = p.clone()
        val at = rnd.nextInt(p.length)
        flipped(at) = (flipped(at) ^ (1 << rnd.nextInt(8))).toByte
        MediaCodec.sniff(flipped); MediaCodec.sniffAudio(flipped)
      }
    }
    // a parser that returns at all on every case passes — the assertions
    // are the absence of exceptions and of non-termination (test timeout)
    succeed
  }

  // ---------------------------------------------------------------------
  // Audio: WAV/RIFF header decode
  // ---------------------------------------------------------------------

  test("MediaCodec.sniffAudio: golden WAV metadata; corrupt RIFF rejected") {
    import graft.ops.MediaCodec
    val mono = MediaGen.encodeWav(1, 8000, Array.fill[Short](200)(100))
    assert(MediaCodec.sniffAudio(mono)
      === Some(MediaCodec.AudioMeta("wav", 1, 8000, 16, 200L)))
    val stereo = MediaGen.encodeWav(2, 44100, Array.fill[Short](600)(7)) // 300 frames
    assert(MediaCodec.sniffAudio(stereo)
      === Some(MediaCodec.AudioMeta("wav", 2, 44100, 16, 300L)))
    // independent agreement with the JDK's own reader
    val fmt = javax.sound.sampled.AudioSystem.getAudioFileFormat(
      new java.io.ByteArrayInputStream(stereo))
    assert(fmt.getFormat.getChannels === 2 &&
      fmt.getFormat.getSampleRate === 44100f && fmt.getFrameLength === 300)
    assert(MediaCodec.sniffAudio("RIFF    WAV?".getBytes("ISO-8859-1")) === None)
    assert(MediaCodec.sniffAudio("not audio at all".getBytes("UTF-8")) === None)
    assert(MediaCodec.sniffAudio(null) === None)
    // an image payload is not audio and vice versa
    assert(MediaCodec.sniffAudio(MediaGen.row(0L).payload) === None)
    assert(MediaCodec.sniff(mono) === None)
  }

  test("Multimodal.decodeAudioMeta: fixture parity incl. corrupt accounting") {
    import graft.ops.Multimodal
    val audio = MediaGen.audioTable(spark, 80).toDF()
    val decoded = Multimodal.decodeAudioMeta(spark, audio).collect()
    assert(decoded.length === 80)
    val (ok, bad) = decoded.partition(_.ok)
    assert(bad.length === 20 && bad.forall(_.format == "unknown")) // id % 4 == 3
    val truth = audio.select("doc_id", "true_format", "true_channels",
        "true_sample_rate", "true_bits", "true_samples")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getLong(5)))).toMap
    decoded.foreach { d =>
      assert(truth(d.doc_id) === ((d.format, d.channels, d.sample_rate, d.bits, d.n_samples)))
    }
    assert(ok.forall(_.bits == 16))
  }

  // ---------------------------------------------------------------------
  // Trigram LM + sampled training
  // ---------------------------------------------------------------------

  test("trainTrigram/scoreTrigram: hand-computed interpolation incl. full backoff chain") {
    import graft.ops.UnigramLM
    // training: "a b c a b c a b d" -> N=9; uni a:3 b:3 c:2 d:1;
    // bi (a,b):3 (b,c):2 (c,a):2 (b,d):1; tri (a,b,c):2 (b,c,a):2 (c,a,b):2 (a,b,d):1
    val trainDf = Seq((1L, "a b c a b c a b d")).toDF("doc_id", "text")
    val m = UnigramLM.trainTrigram(trainDf, "text", vocabSize = 10,
      bigramSize = 10, trigramSize = 10)
    assert(m.totalTokens === 9L)
    assert(m.unigrams === Map("a" -> 3L, "b" -> 3L, "c" -> 2L, "d" -> 1L))
    assert(m.trigrams === Map("a\u0001b\u0001c" -> 2L, "b\u0001c\u0001a" -> 2L,
      "c\u0001a\u0001b" -> 2L, "a\u0001b\u0001d" -> 1L))
    // score "a b c a b x c": uni -> bi -> tri -> tri -> tri -> tri(zero
    // numerators, OOV cur) -> uni (OOV predecessor)
    def fp(p: Double) = math.round(math.log(p) * 1e6)
    val expected =
      fp(3.0 / 9) + // a: first token
      fp(0.5 * (3.0 / 3) + 0.5 * (3.0 / 9)) + // b after a (no p2 yet)
      fp(0.5 * (2.0 / 3) + 0.25 * (2.0 / 3) + 0.25 * (2.0 / 9)) + // c after (a,b)
      fp(0.5 * (2.0 / 2) + 0.25 * (2.0 / 2) + 0.25 * (3.0 / 9)) + // a after (b,c)
      fp(0.5 * (2.0 / 2) + 0.25 * (3.0 / 3) + 0.25 * (3.0 / 9)) + // b after (c,a)
      fp(0.5 * (0.0 / 3) + 0.25 * (0.0 / 3) + 0.25 * (1.0 / 9)) + // x OOV after (a,b)
      fp(2.0 / 9) // c after OOV x: unigram backoff
    val scored = UnigramLM.scoreTrigram(
        Seq((7L, "a b c a b x c")).toDF("doc_id", "text"), "text", m)
      .select("logprob_fp", "n_tok").head()
    assert(scored.getLong(0) === expected && scored.getLong(1) === 7L)
  }

  test("trigram scoring: truncated vocabularies back off instead of fabricating context") {
    import graft.ops.UnigramLM
    val trainDf = Seq((1L, "a b c a b c a b d")).toDF("doc_id", "text")
    // bigramSize=2 keeps (a,b):3 and the (b,c)/(c,a) tie breaks by key asc
    // -> (b,c) kept, (c,a) truncated; trigramSize=0-like via size 1
    val m = UnigramLM.trainTrigram(trainDf, "text", vocabSize = 10,
      bigramSize = 2, trigramSize = 1)
    assert(m.bigrams === Map("a\u0001b" -> 3L, "b\u0001c" -> 2L))
    assert(m.trigrams === Map("a\u0001b\u0001c" -> 2L)) // top count, key asc
    def fp(p: Double) = math.round(math.log(p) * 1e6)
    // "c a b": uni(c); a after c -> (c,a) truncated FROM BIGRAMS so cb=0 but
    // still the bigram form (p1 in vocab); b after (c,a) -> prefix bigram
    // (c,a) unknown -> BIGRAM interpolation, not trigram with a fake denom
    val expected =
      fp(2.0 / 9) +
      fp(0.5 * (0.0 / 2) + 0.5 * (3.0 / 9)) +
      fp(0.5 * (3.0 / 3) + 0.5 * (3.0 / 9))
    val scored = UnigramLM.scoreTrigram(
        Seq((2L, "c a b")).toDF("doc_id", "text"), "text", m)
      .select("logprob_fp", "n_tok").head()
    assert(scored.getLong(0) === expected && scored.getLong(1) === 3L)
  }

  test("trigram scoring compiles under FORCED codegen, matching interpreted eval") {
    import graft.ops.UnigramLM
    val trainDf = Seq((1L, "a b c a b c a b d")).toDF("doc_id", "text")
    val m = UnigramLM.trainTrigram(trainDf, "text", 10, 10, 10)
    val df = Seq((1L, "a b c x"), (2L, "d d d")).toDF("doc_id", "text")
    def eval(mode: String): Seq[(Long, Long)] = {
      val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try UnigramLM.scoreTrigram(df, "text", m)
        .select("logprob_fp", "n_tok").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      finally prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
    assert(eval("CODEGEN_ONLY") === eval("NO_CODEGEN"))
  }

  test("trainBigram(trainFraction): sampled training equals training on the explicit sample") {
    import graft.ops.{Sampling, UnigramLM}
    val docs = spark.range(0, 200).selectExpr("id AS doc_id",
      "concat('common words here plus tok', cast(id % 37 AS STRING)) AS text")
    val sampled = UnigramLM.trainBigram(docs, "text", 50, 100,
      trainFraction = 0.3, idCol = "doc_id")
    val explicit = UnigramLM.trainBigram(
      Sampling.deterministicSample(docs, "doc_id", 0.3), "text", 50, 100)
    assert(sampled.unigrams === explicit.unigrams)
    assert(sampled.bigrams === explicit.bigrams)
    assert(sampled.totalTokens === explicit.totalTokens)
    val full = UnigramLM.trainBigram(docs, "text", 50, 100)
    assert(sampled.totalTokens < full.totalTokens)
    // fraction < 1 without an id column is a loud error, not silent full train
    intercept[IllegalArgumentException] {
      UnigramLM.trainBigram(docs, "text", 50, 100, trainFraction = 0.3)
    }
  }

  // ---------------------------------------------------------------------
  // Streaming near-dup candidates at ingest
  // ---------------------------------------------------------------------

  test("nearDupCandidatesStream: paraphrased near-dup caught ACROSS batches; unrelated text is not") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog while the " +
      "cat watches from the warm windowsill and the birds sing in the garden"
    val nearDup = base + " today" // paraphrase: one appended word
    val unrelated = "completely different subject matter entirely about " +
      "spacecraft propulsion systems and orbital mechanics calculations"
    val input = MemoryStream[(String, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val cands = graft.streaming.StreamValidate.nearDupCandidatesStream(
      stream, "text", "doc_id", numHashes = 64, bands = 16, shingleK = 2)
    val q = cands.writeStream.format("memory").queryName("near_cands")
      .outputMode("update").start()
    try {
      input.addData(("d1", base), ("d2", unrelated))
      q.processAllAvailable() // batch 1: exemplars only, no candidates
      assert(spark.sql("select * from near_cands").count() === 0L)
      input.addData(("d3", nearDup))
      q.processAllAvailable() // batch 2: near-dup of d1 collides on bands
      val got = spark.sql("select id_a, id_b, est_jaccard from near_cands")
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      assert(got.nonEmpty)
      assert(got.forall { case (a, b, _) => a == "d1" && b == "d3" })
      assert(got.forall(_._3 > 0.5), s"est_jaccard too low: ${got.toSeq}")
      // unrelated doc never paired
      assert(!got.exists { case (a, b, _) => a == "d2" || b == "d2" })
    } finally q.stop()
  }

  test("nearDupCandidatesStream: within-batch min-id exemplar, exact dup scores 1.0") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val text = "identical content repeated verbatim across multiple documents " +
      "in the very same ingest micro batch for deterministic exemplar choice"
    val input = MemoryStream[(String, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val q = graft.streaming.StreamValidate.nearDupCandidatesStream(
        stream, "text", "doc_id", numHashes = 32, bands = 8, shingleK = 2)
      .writeStream.format("memory").queryName("near_cands2")
      .outputMode("update").start()
    try {
      input.addData(("z9", text), ("a1", text)) // arrival order vs id order
      q.processAllAvailable()
      val got = spark.sql("select id_a, id_b, est_jaccard from near_cands2")
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      assert(got.nonEmpty)
      // min-id a1 is the exemplar even though z9 "arrived" first
      assert(got.forall { case (a, b, j) => a == "a1" && b == "z9" && j == 1.0 })
    } finally q.stop()
  }

  // ---------------------------------------------------------------------
  // Stage-manifest resume for heavy pipelines
  // ---------------------------------------------------------------------

  test("StageRunner: completed stages skip recompute; missing marker recomputes") {
    val dir = java.nio.file.Files.createTempDirectory("stages").toString
    var computes = 0
    def run(runner: StageRunner) = runner.stage("s1") {
      computes += 1
      Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    }
    val r1 = new StageRunner(spark, dir, "run1")
    assert(run(r1).count() === 2 && computes === 1)
    // same runner AND a fresh runner over the same (dir, runId): no recompute
    assert(run(r1).count() === 2 && computes === 1)
    assert(run(new StageRunner(spark, dir, "run1")).count() === 2 && computes === 1)
    // a different runId is a different run: recomputes
    assert(run(new StageRunner(spark, dir, "run2")).count() === 2 && computes === 2)
    // crash simulation: data present but marker missing -> recompute
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/run1/_done_s1"), false)
    assert(run(new StageRunner(spark, dir, "run1")).count() === 2 && computes === 3)
  }

  test("dropNearDupsResumable: kill-after-stage resume reproduces identical survivors") {
    import graft.ops.Dedup
    val dir = java.nio.file.Files.createTempDirectory("neardup_resume").toString
    // near-dup clusters: 30 groups of 3 paraphrases + 60 unique docs
    val docs = spark.range(0, 150).selectExpr(
      "cast(id AS STRING) AS doc_id",
      """CASE WHEN id < 90
           THEN concat('shared passage number ', cast(cast(id / 3 AS INT) AS STRING),
                       ' about the quick brown fox and the lazy dog in the garden',
                       CASE WHEN id % 3 = 1 THEN ' extra' WHEN id % 3 = 2 THEN ' more' ELSE '' END)
           ELSE concat('entirely unique document body ', cast(id AS STRING),
                       ' with its own topic ', cast(id * 7 AS STRING), ' nothing shared here at all ',
                       cast(id * 13 AS STRING))
         END AS text""")
    def params = (64, 16, 2, 0.5, 1000) // numHashes, bands, shingleK, threshold, maxBucket
    val (nh, nb, k, thr, mb) = params
    val expected = Dedup.dropNearDups(docs, "text", "doc_id", nh, nb, k, thr, mb)
      .select("doc_id").collect().map(_.getString(0)).toSet
    assert(expected.size < 150) // near-dups actually collapsed
    // "killed" run: completes ONLY the verified_pairs stage, then dies
    val killed = new StageRunner(spark, dir, "r1")
    killed.stage("verified_pairs") {
      val (cand, rel) = Dedup.minhashLshCached(docs, "text", "doc_id", nh, nb, k, thr, mb)
      try Dedup.ngramJaccardFor(docs, "text", "doc_id", cand, k, thr).select("id_a", "id_b")
      finally rel()
    }
    assert(killed.isDone("verified_pairs") && !killed.isDone("cc_labels"))
    val pairsMtime = new java.io.File(s"$dir/r1/verified_pairs").lastModified()
    // resume with a FRESH runner: stage 1 must come from storage
    val resumed = Dedup.dropNearDupsResumable(docs, "text", "doc_id",
      new StageRunner(spark, dir, "r1"), nh, nb, k, thr, mb)
      .select("doc_id").collect().map(_.getString(0)).toSet
    assert(resumed === expected)
    assert(new java.io.File(s"$dir/r1/verified_pairs").lastModified() === pairsMtime,
      "verified_pairs was recomputed on resume")
    // a second resume after FULL completion recomputes nothing and agrees
    val ccMtime = new java.io.File(s"$dir/r1/cc_labels").lastModified()
    val again = Dedup.dropNearDupsResumable(docs, "text", "doc_id",
      new StageRunner(spark, dir, "r1"), nh, nb, k, thr, mb)
      .select("doc_id").collect().map(_.getString(0)).toSet
    assert(again === expected)
    assert(new java.io.File(s"$dir/r1/cc_labels").lastModified() === ccMtime)
  }

  test("dropContaminatedResumable: resumed flag set matches from-scratch removal") {
    import graft.ops.Decontaminate
    val dir = java.nio.file.Files.createTempDirectory("decon_resume").toString
    val corpus = DataGen.sequences(spark, 3000, maxLen = 32)
    val bench = corpus.filter(pmod(xxhash64(col("doc_id")), lit(50)) === 0)
      .select(col("tokens"))
    val expected = Decontaminate.dropContaminated(
      corpus.filter(col("n_tok") >= 13), "tokens", "doc_id", bench, "tokens", n = 13)
      .count()
    val r = new StageRunner(spark, dir, "d1")
    val first = Decontaminate.dropContaminatedResumable(
      corpus.filter(col("n_tok") >= 13), "tokens", "doc_id", bench, "tokens", r, n = 13)
      .count()
    val mtime = new java.io.File(s"$dir/d1/contaminated_ids").lastModified()
    val resumed = Decontaminate.dropContaminatedResumable(
      corpus.filter(col("n_tok") >= 13), "tokens", "doc_id", bench, "tokens",
      new StageRunner(spark, dir, "d1"), n = 13)
      .count()
    assert(first === expected && resumed === expected)
    assert(new java.io.File(s"$dir/d1/contaminated_ids").lastModified() === mtime)
  }

  // ---------------------------------------------------------------------
  // DecimalRange: exact bounds beyond double precision
  // ---------------------------------------------------------------------

  test("DecimalRange distinguishes values the double-domain Range cannot") {
    // 2^60 and 2^60 + 1 collapse to the SAME double (ulp at 2^60 is 256):
    // the reference-faithful Range passes both against max = 2^60, while
    // DecimalRange sees the off-by-one violation exactly.
    val p60 = BigDecimal(2).pow(60) // 1152921504606846976
    val df = Seq(
      ("at", new java.math.BigDecimal(p60.bigDecimal.toBigInteger)),
      ("over", new java.math.BigDecimal(p60.bigDecimal.toBigInteger.add(java.math.BigInteger.ONE))),
      ("null", null.asInstanceOf[java.math.BigDecimal]))
      .toDF("doc_id", "v")
      .select(col("doc_id"), col("v").cast(org.apache.spark.sql.types.DecimalType(38, 0)).as("v"))
    val exact = DecimalRange("v", max = Some(p60))
    assert(exact.selfCheck(df.schema).isEmpty)
    val failedExact = df.filter(!exact.pred).select("doc_id").as[String].collect().toSet
    assert(failedExact === Set("over")) // null passes, 2^60 passes, 2^60+1 fails
    // the double-domain Range misjudges: both values round to the same f64
    val doubly = Range("v", max = p60.toDouble)
    val failedDouble = df.filter(!doubly.pred).select("doc_id").as[String].collect().toSet
    assert(failedDouble === Set.empty, "f64 cannot see the off-by-one — that is the point")
    // compile-time contract: float columns are rejected, inverted bounds too
    val fdf = Seq(1.0f).toDF("v")
    assert(DecimalRange("v", max = Some(BigDecimal(1))).selfCheck(fdf.schema).nonEmpty)
    assert(DecimalRange("v", min = Some(BigDecimal(2)), max = Some(BigDecimal(1)))
      .selfCheck(df.schema).nonEmpty)
    // scientific-notation bounds (negative java scale) normalize and WORK
    val sci = DecimalRange("v", max = Some(BigDecimal("1E+21")))
    assert(sci.selfCheck(df.schema).isEmpty)
    assert(df.filter(!sci.pred).count() === 0) // 2^60 < 10^21
    // a bound with finer scale than the column cannot compare exactly —
    // compile ERROR, never a silent overflow-to-null in type promotion
    assert(DecimalRange("v", max = Some(BigDecimal("1.5"))).selfCheck(df.schema).nonEmpty)
    // a bound beyond DECIMAL(38) is a compile error, not a runtime throw
    assert(DecimalRange("v", max = Some(BigDecimal("1E+40"))).selfCheck(df.schema).nonEmpty)
    // inverted-bound diagnostics render the EXACT bounds (not f64-collapsed)
    val inv = DecimalRange("v", min = Some(p60 + 1), max = Some(p60))
    val msgs = inv.selfCheck(df.schema).map(_.msg).mkString("; ")
    assert(msgs.contains("1152921504606846977") && msgs.contains("1152921504606846976"), msgs)
  }

  test("loader routes beyond-f64 bounds to DecimalRange when the column is exact") {
    // a runtime schema with maximum = 2^60 on a LONG column: the f64 Range
    // cannot see 2^60 + 1 > 2^60, DecimalRange can — the loader routes
    // automatically when the table schema proves the column exact
    val df = Seq(("a", 1152921504606846976L), ("b", 1152921504606846977L))
      .toDF("doc_id", "v")
    val schemaJson =
      """{"type":"object","properties":{"v":{"maximum":1152921504606846976}}}"""
    val suite = JsonSchema.parse(schemaJson, "doc_id", tableSchema = Some(df.schema))
      .fold(es => fail(es.map(_.msg).mkString("; ")), identity)
    assert(suite.rowChecks.exists(_.isInstanceOf[DecimalRange]),
      suite.rowChecks.map(_.getClass.getSimpleName).mkString(","))
    val compiled = suite.compile(df.schema).toOption.get
    val failed = compiled.run(df).violations.select("doc_id").as[String].collect().toSet
    assert(failed === Set("b")) // the off-by-one f64 cannot see
    // double-representable bounds keep the reference-faithful f64 Range
    val small = JsonSchema.parse(
      """{"type":"object","properties":{"v":{"maximum":100}}}""",
      "doc_id", tableSchema = Some(df.schema)).toOption.get
    assert(small.rowChecks.exists(_.isInstanceOf[Range]))
    assert(!small.rowChecks.exists(_.isInstanceOf[DecimalRange]))
    // schema-less parse keeps f64 Range (column exactness unprovable)
    val blind = JsonSchema.parse(schemaJson, "doc_id").toOption.get
    assert(blind.rowChecks.exists(_.isInstanceOf[Range]))
    assert(!blind.rowChecks.exists(_.isInstanceOf[DecimalRange]))
    // and a DOUBLE column with the same big bound stays f64 (parity)
    val ddf = Seq(("a", 1.0)).toDF("doc_id", "v")
    val dbl = JsonSchema.parse(schemaJson, "doc_id", tableSchema = Some(ddf.schema)).toOption.get
    assert(!dbl.rowChecks.exists(_.isInstanceOf[DecimalRange]))
    // DECIMAL columns route even for SMALL bounds: 0.1/0.5 have no binary
    // representation, so decimal values near the bound would round in f64
    val decDf = Seq(("a", java.math.BigDecimal.ONE)).toDF("doc_id", "v")
      .select(col("doc_id"), col("v").cast(org.apache.spark.sql.types.DecimalType(20, 18)).as("v"))
    val decSuite = JsonSchema.parse(
      """{"type":"object","properties":{"v":{"maximum":0.5}}}""",
      "doc_id", tableSchema = Some(decDf.schema)).toOption.get
    assert(decSuite.rowChecks.exists(_.isInstanceOf[DecimalRange]))
    // bounds contradictory ONLY in the exact domain (both collapse to 2^60
    // in f64) are a loud compile error, not a silently satisfiable Range
    val invErrs = JsonSchema.parse(
      """{"type":"object","properties":{"v":
           {"minimum":1152921504606846977,"maximum":1152921504606846976}}}""",
      "doc_id", tableSchema = Some(df.schema))
      .fold(identity, _ => fail("expected inverted-bounds compile error"))
    assert(invErrs.exists(_.msg.contains("1152921504606846977")), invErrs.map(_.msg))
  }

  // ---------------------------------------------------------------------
  // Incremental dedup: new batch vs stored corpus
  // ---------------------------------------------------------------------

  test("dropExactDupsAgainst: verbatim re-crawls drop, changed docs and null text pass") {
    import graft.ops.Dedup
    val corpus = Seq((1L, "alpha content"), (2L, "beta content"), (3L, "gamma content"))
      .toDF("doc_id", "text")
    val sigs = Dedup.exactSignatures(corpus, "text", "doc_id")
    val batch = Seq(
      (101L, Some("alpha content")), // verbatim re-crawl -> drop
      (102L, Some("beta content")), // verbatim re-crawl -> drop
      (103L, Some("beta content updated")), // changed -> keep
      (104L, Some("brand new")), // new -> keep
      (105L, Option.empty[String])) // null text: no signature -> keep
      .toDF("doc_id", "text")
    val kept = Dedup.dropExactDupsAgainst(batch, "text", "doc_id", sigs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(103L, 104L, 105L))
  }

  test("dropNearDupsAgainst: paraphrased re-crawls verified and dropped, originals kept") {
    import graft.ops.Dedup
    val base = "the quick brown fox jumps over the lazy dog while the cat " +
      "watches from the windowsill and birds sing in the garden all day"
    val other = "entirely different prose about spacecraft propulsion and " +
      "orbital mechanics with no overlap in vocabulary whatsoever to speak of"
    val corpus = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    val bandTable = Dedup.minhashBandTable(corpus, "text", "doc_id",
      numHashes = 64, bands = 16, shingleK = 2)
    val batch = Seq(
      (101L, base + " today"), // near-dup of 1 -> drop
      (102L, "completely fresh topic about cooking recipes and baking bread " +
        "with sourdough starters and wild yeast fermentation methods"))
      .toDF("doc_id", "text")
    val cand = Dedup.nearDupCandidatesAgainst(batch, "text", "doc_id", bandTable,
      numHashes = 64, bands = 16, shingleK = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cand.contains((101L, 1L)))
    assert(!cand.exists(_._1 == 102L))
    val kept = Dedup.dropNearDupsAgainst(batch, "text", "doc_id",
      corpus, "text", "doc_id", bandTable,
      numHashes = 64, bands = 16, shingleK = 2, minJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(102L))
  }

  test("nearDupCandidatesAgainst: oversized store buckets are dropped (guard), not joined quadratically") {
    import graft.ops.Dedup
    val boiler = "identical boilerplate text repeated across very many stored documents " +
      "like a cookie banner or legal footer would be in a real crawl"
    val unique = "a genuinely distinctive stored document about gardening and soil chemistry " +
      "with vocabulary shared by nothing else in this tiny fixture corpus"
    // store: 50 copies of the boilerplate + 1 unique doc
    val corpus = ((1L to 50L).map(i => (i, boiler)) :+ (100L, unique)).toDF("doc_id", "text")
    val bandTable = Dedup.minhashBandTable(corpus, "text", "doc_id",
      numHashes = 64, bands = 16, shingleK = 2)
    val batch = Seq((201L, boiler + " extra"), (202L, unique + " indeed"))
      .toDF("doc_id", "text")
    // maxBucket=10 < 50 boilerplate copies: the boilerplate buckets drop,
    // so 201 pairs with NOTHING while 202 still pairs with the unique doc
    val cand = Dedup.nearDupCandidatesAgainst(batch, "text", "doc_id", bandTable,
      numHashes = 64, bands = 16, shingleK = 2, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cand.contains((202L, 100L)))
    assert(!cand.exists(_._1 == 201L), s"boilerplate bucket joined: ${cand.toSeq}")
    // with the guard relaxed the boilerplate candidates come back
    val cand2 = Dedup.nearDupCandidatesAgainst(batch, "text", "doc_id", bandTable,
      numHashes = 64, bands = 16, shingleK = 2, maxBucket = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cand2.count(_._1 == 201L) === 50)
  }

  // ---------------------------------------------------------------------
  // NB log-odds quality classifier
  // ---------------------------------------------------------------------

  test("QualityClassifier: hand-computed log-odds; gate keeps positive-like text") {
    import graft.ops.QualityClassifier
    // comparable class sizes (the OOV convention contributes the class-size
    // prior ln(N_neg/N_pos) per unseen token — documented; equal N cancels):
    // pos: "good clean prose here" x2 -> N_pos=8
    // neg: "spam spam buy spam click spam now buy" -> N_neg=8
    val train = Seq(
      (1L, "good clean prose here", Some(true)),
      (2L, "good clean prose here", Some(true)),
      (3L, "spam spam buy spam click spam now buy", Some(false)),
      (4L, "unlabeled text", Option.empty[Boolean])) // trains NEITHER side
      .toDF("doc_id", "text", "is_pos")
    val m = QualityClassifier.train(train, "text", "is_pos", vocabSize = 10)
    assert(m.pos.vocab === Map("good" -> 2L, "clean" -> 2L, "prose" -> 2L, "here" -> 2L))
    assert(m.pos.totalTokens === 8L && m.neg.totalTokens === 8L)
    assert(m.neg.vocab === Map("spam" -> 4L, "buy" -> 2L, "click" -> 1L, "now" -> 1L))
    def fp(p: Double) = math.round(math.log(p) * 1e6)
    // "good spam": good = fp(2/8) - fp(1/8 OOV-neg) = +ln2;
    // spam = fp(1/8 OOV-pos) - fp(4/8) = -ln4
    val expected = (fp(2.0 / 8) - fp(1.0 / 8)) + (fp(1.0 / 8) - fp(4.0 / 8))
    val got = QualityClassifier.score(
        Seq((9L, "good spam")).toDF("doc_id", "text"), "text", m)
      .select("score_fp", "n_tok").head()
    assert(got.getLong(0) === expected && got.getLong(1) === 2L)
    // gate at 0: positive-like text passes, spammy text drops
    val docs = Seq((1L, "good clean prose"), (2L, "spam spam spam buy")).toDF("doc_id", "text")
    val kept = QualityClassifier.gate(docs, "text", m, minAvgFp = 0L)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L))
  }

  // ---------------------------------------------------------------------
  // Gopher: per-symbol ratio gates
  // ---------------------------------------------------------------------

  test("gopherQualityPass: '#' and ellipsis ratios gate separately") {
    import graft.ops.TextAnalysis
    // 60 words with stopwords present, then 4 '#' chars + 4 "..." runs:
    // 8 combined symbol occurrences would fail the old combined gate
    // (8*10 > 66) but each symbol alone is 4 <= 0.1*66 — the published
    // per-symbol rule passes. The line must NOT end with an ellipsis (that
    // would trip the separate ellipsis-LINE gate), so the hashes come last.
    val words = "the cats and dogs have run to that park with glee " +
      (1 to 49).map(i => s"word$i").mkString(" ")
    val borderline = words + " ... ... ... ... ## ##"
    // 7 '#' tokens on top of the 60 words: 7*10 > 67 fails the hash ratio
    val tooManyHash = words + " # # # # # # #"
    val df = Seq(("b", borderline), ("h", tooManyHash)).toDF("id", "text")
    val out = df.select(col("id"),
        TextAnalysis.gopherQualityPass(col("text")).as("p"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(out("b") === true) // per-symbol: 4 <= 6 for each of hash/ellipsis
    assert(out("h") === false) // hash ratio alone fails
    // feature split: n_hash and n_ellipsis are separate exact counts now
    val f = graft.ops.TextAnalysis.gopherQualityFeatures(col("text")).toMap
    val counts = df.filter(col("id") === "b")
      .select(f("n_hash").as("h"), f("n_ellipsis").as("e")).head()
    assert(counts.getInt(0) === 4 && counts.getInt(1) === 4)
  }
}
