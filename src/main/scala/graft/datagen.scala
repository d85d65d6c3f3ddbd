package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic synthetic tokenized-sequence corpus (FIXTURES.md §1).
  *
  * Every column is a pure function of the row id via `xxhash64(id, salt)` —
  * no `rand()`, whose output depends on partitioning — so the corpus is
  * bit-identical at any parallelism and any scale factor prefix. Generated
  * distributed via `spark.range` (never a driver-side collection).
  *
  * Planted defects are keyed by id-modulo classes so tests know exact ground
  * truth; each class maps to one reference error case (see FIXTURES.md §1).
  */
object DataGen {

  val VOCAB = 50257
  val BOS = 1
  val SOURCES = Seq("web", "books", "code", "wiki", "forums")

  // Defect classes (co-prime moduli so classes overlap rarely but CAN overlap:
  // accumulate-all-errors must hold when they do).
  val RANGE_LOW_MOD = 101 // n_tok = 0
  val RANGE_HIGH_MOD = 103 // n_tok = 9000 (but tokens stay short)
  val LEN_MISMATCH_MOD = 107 // size(tokens) = n_tok - 1
  val BAD_TOKEN_MOD = 109 // one token = -1
  val NO_BOS_MOD = 113 // sequence missing BOS
  // Padded-layout defect classes (paddedSequences only; co-prime again)
  val PAD = 0
  val EOS = 2
  val INTERIOR_PAD_MOD = 11 // a PAD planted at body index 1
  val NO_EOS_MOD = 13 // EOS slot holds an ordinary token instead
  val BAD_NTOK_MOD = 17 // n_tok reports content length + 1
  // Packed-layout defect classes (packedSequences only)
  val MAX_SEG = 12 // longest valid packed document
  val EMPTY_SEG_MOD = 19 // one zero-length segment (consecutive EOS)
  val LONG_SEG_MOD = 23 // one segment of MAX_SEG + 3 tokens
  val TRAIL_MOD = 29 // a VALID unterminated trailing segment (not a defect)

  val NULL_ID_MOD = 127 // doc_id null
  val BAD_ID_MOD = 131 // malformed doc_id
  val DUP_ID_MOD = 997 // doc_id duplicates that of id-1

  /** `n` deterministic rows of (doc_id, tokens, n_tok, source).
    * `maxLen` bounds token-array length (real corpora: 8192; tests: small). */
  def sequences(spark: SparkSession, n: Long, maxLen: Int = 64, parts: Int = 32): DataFrame = {
    val ids = spark.range(0, n, 1, parts)
    val h = (salt: Int) => abs(xxhash64(col("id"), lit(salt)))

    // Zipf-ish skewed source mix; one source ("forums") gets a shifted n_tok
    // distribution (drift defect), and a sliver maps to an orphan source
    // absent from the dimension table (referential defect).
    val srcPick = pmod(h(1), lit(1000L))
    val source =
      when(srcPick < 500, "web")
        .when(srcPick < 750, "books")
        .when(srcPick < 900, "code")
        .when(srcPick < 970, "wiki")
        .when(srcPick < 995, "forums")
        .otherwise("scraped-mystery")

    // Length ≥ 2 so every defect index (0 = BOS slot, 1 = bad-token slot)
    // exists even after the length-mismatch defect drops one element.
    val baseLen = (pmod(h(2), lit((maxLen - 2).toLong)) + 2).cast(IntegerType)
    // Drift: forums sequences skew long (upper half of the range).
    val driftLen = (pmod(h(2), lit((maxLen / 2).toLong)) + maxLen / 2).cast(IntegerType)
    val trueLen = when(source === "forums", driftLen).otherwise(baseLen)

    // Reported n_tok: range defects report impossible values.
    val nTok =
      when(col("id") % RANGE_LOW_MOD === 0, 0)
        .when(col("id") % RANGE_HIGH_MOD === 0, 9000)
        .otherwise(trueLen)
        .cast(IntegerType)

    // Token array: BOS-led unless the NO_BOS defect applies; element i is a
    // hash of (id, i); the BAD_TOKEN defect plants a -1 at index 1 (or 0 if
    // the sequence has length 1). Length defect drops the last element.
    val genLen = when(col("id") % LEN_MISMATCH_MOD === 0, greatest(trueLen - 1, lit(1)))
      .otherwise(trueLen)
    val tokenAt = (i: org.apache.spark.sql.Column) =>
      when(i === 0 && !(col("id") % NO_BOS_MOD === 0), BOS)
        .when((col("id") % BAD_TOKEN_MOD === 0) && i === least(genLen - 1, lit(1)), -1)
        .otherwise(pmod(abs(xxhash64(col("id"), i)), lit(VOCAB.toLong)).cast(IntegerType))
    val tokens = transform(sequence(lit(0), genLen - 1), i => tokenAt(i))

    // doc_id: dup defect reuses the previous id's doc_id; null/malformed defects.
    val idForDoc = when(col("id") % DUP_ID_MOD === 0 && col("id") > 0, col("id") - 1)
      .otherwise(col("id"))
    val docId =
      when(col("id") % NULL_ID_MOD === 0, lit(null).cast(StringType))
        .when(col("id") % BAD_ID_MOD === 0, concat(lit("BAD "), col("id").cast(StringType)))
        .otherwise(format_string("doc-%012d", idForDoc))

    ids.select(
      docId.as("doc_id"),
      tokens.as("tokens"),
      nTok.as("n_tok"),
      source.as("source"))
  }

  /** `n` deterministic RIGHT-PADDED training rows of (doc_id, tokens, n_tok,
    * source): every token array is exactly `maxLen` wide in the packed-batch
    * layout [BOS, body..., EOS, PAD*]; `n_tok` reports the content (non-pad)
    * length. Ordinary tokens live in [3, VOCAB) so they can never collide
    * with PAD(0)/BOS(1)/EOS(2) and corrupt the planted ground truth.
    * Planted layout defects, each an id-modulo class:
    *  - id % INTERIOR_PAD_MOD: a PAD at body index 1 (breaks padSuffix AND
    *    the non-pad count, so padAwareLength breaches too)
    *  - id % NO_EOS_MOD: the EOS slot holds an ordinary token (endsWith)
    *  - id % BAD_NTOK_MOD: n_tok = content length + 1 (padAwareLength only;
    *    +1 can never equal the interior-pad row's length-1 count, so the
    *    two length-breach classes stay disjoint in effect) */
  def paddedSequences(spark: SparkSession, n: Long, maxLen: Int = 32,
      parts: Int = 32): DataFrame = {
    require(maxLen >= 5, s"maxLen $maxLen leaves no room for BOS+body+EOS+pad")
    val ids = spark.range(0, n, 1, parts)
    val h = (salt: Int) => abs(xxhash64(col("id"), lit(salt)))
    val srcPick = pmod(h(21), lit(1000L))
    val source =
      when(srcPick < 500, "web").when(srcPick < 750, "books")
        .when(srcPick < 900, "code").when(srcPick < 970, "wiki")
        .otherwise("forums")
    // content length incl BOS and EOS: 4..maxLen-1 (≥4 so index 1 is body
    // and distinct from the EOS slot; ≤maxLen-1 so ≥1 real pad exists)
    val contentLen = (pmod(h(22), lit((maxLen - 4).toLong)) + 4).cast(IntegerType)
    val ordinary = (i: org.apache.spark.sql.Column) =>
      (pmod(abs(xxhash64(col("id"), i, lit(23))), lit((VOCAB - 3).toLong)) + 3)
        .cast(IntegerType)
    val tokenAt = (i: org.apache.spark.sql.Column) =>
      when(i === 0, BOS)
        .when(i === 1 && col("id") % INTERIOR_PAD_MOD === 0, PAD)
        .when(i === contentLen - 1,
          when(col("id") % NO_EOS_MOD === 0, ordinary(i)).otherwise(EOS))
        .when(i < contentLen - 1, ordinary(i))
        .otherwise(PAD)
    val nTok = when(col("id") % BAD_NTOK_MOD === 0, contentLen + 1)
      .otherwise(contentLen).cast(IntegerType)
    ids.select(
      format_string("doc-%012d", col("id")).as("doc_id"),
      transform(sequence(lit(0), lit(maxLen - 1)), tokenAt).as("tokens"),
      nTok.as("n_tok"),
      source.as("source"))
  }

  /** `n` deterministic PACKED training rows: each token array concatenates
    * 2-5 EOS-terminated documents ([doc1..., EOS, doc2..., EOS, ...]) of
    * 1..10 ordinary tokens ([3, VOCAB) — never PAD/BOS/EOS). Planted
    * defects by id-modulo class:
    *  - id % EMPTY_SEG_MOD: the first document is EMPTY (consecutive EOS —
    *    the classic packing-merge bug)
    *  - id % LONG_SEG_MOD: the second document is MAX_SEG + 3 tokens long
    *  - id % TRAIL_MOD: 3 ordinary tokens AFTER the last EOS — a valid
    *    unterminated trailing document, NOT a defect (exercises the
    *    trailing-run path without breaching) */
  def packedSequences(spark: SparkSession, n: Long, parts: Int = 32): DataFrame = {
    val ids = spark.range(0, n, 1, parts)
    val h = (salt: Int) => abs(xxhash64(col("id"), lit(salt)))
    val srcPick = pmod(h(31), lit(1000L))
    val source =
      when(srcPick < 500, "web").when(srcPick < 750, "books")
        .when(srcPick < 900, "code").when(srcPick < 970, "wiki")
        .otherwise("forums")
    val segCount = (pmod(h(32), lit(4L)) + 2).cast(IntegerType) // 2..5 docs
    val ordinary = (j: org.apache.spark.sql.Column, x: org.apache.spark.sql.Column) =>
      (pmod(abs(xxhash64(col("id"), j, x, lit(33))), lit((VOCAB - 3).toLong)) + 3)
        .cast(IntegerType)
    val segLen = (j: org.apache.spark.sql.Column) =>
      when(col("id") % EMPTY_SEG_MOD === 0 && j === 1, 0)
        .when(col("id") % LONG_SEG_MOD === 0 && j === 2, MAX_SEG + 3)
        .otherwise(pmod(abs(xxhash64(col("id"), j, lit(34))), lit(10L)) + 1)
        .cast(IntegerType)
    // sequence(1, 0) would generate a DESCENDING [1,0] — guard empty docs
    val emptyInts = array().cast(ArrayType(IntegerType, containsNull = false))
    val doc = (j: org.apache.spark.sql.Column) =>
      concat(
        when(segLen(j) === 0, emptyInts)
          .otherwise(transform(sequence(lit(1), segLen(j)), x => ordinary(j, x))),
        array(lit(EOS)))
    val trailing = when(col("id") % TRAIL_MOD === 0,
      transform(sequence(lit(1), lit(3)), x => ordinary(lit(99), x)))
      .otherwise(emptyInts)
    val tokens = concat(flatten(transform(sequence(lit(1), segCount), doc)), trailing)
    ids.select(
      format_string("doc-%012d", col("id")).as("doc_id"),
      tokens.as("tokens"),
      size(tokens).as("n_tok"),
      source.as("source"))
  }

  /** The sources dimension (excludes the planted orphan "scraped-mystery"). */
  def sourcesDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    SOURCES.map(s => (s, s"corpus source $s")).toDF("source", "description")
  }

  /** Fixture paths are SCOPED by the scale factor they were generated from:
    * running Verify/bench at different SFs writes to different directories,
    * so a later oracle re-check can never silently compare query outputs
    * against fixtures from another SF. Verify sets the scope from its sfDir
    * argument BEFORE generating fixtures or dumping oracle SQL (`oracleSql`
    * is a def — the embedded paths interpolate the scope at dump time), and
    * drops a `_PROVENANCE.json` marker recording the source sfDir. */
  @volatile var fixtureScope: String = "default"
  def scopeFromSfDir(sfDir: String): String = {
    val name = new java.io.File(sfDir).getName
    if (name.isEmpty) "default" else name
  }
  def fixtureRoot: String = s"/root/repo/target/fixtures/$fixtureScope"

  /** Provenance marker: which sfDir produced this scope's fixtures. The
    * driver-side oracle tooling can cross-check it before comparing. */
  def writeProvenance(sfDir: String): Unit = {
    val dir = java.nio.file.Paths.get(fixtureRoot)
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.writeString(dir.resolve("_PROVENANCE.json"),
      s"""{"sfDir": "$sfDir", "scope": "$fixtureScope", "written_ms": ${System.currentTimeMillis()}}""")
  }

  /** Fixture materialization: the flagship queries generate the synthetic
    * corpus IN-QUERY (pure function of row id — no data dependency), but the
    * driver's DuckDB oracle can only read parquet. Verify writes the exact
    * generator output here so the oracle evaluates the SAME rows; the path
    * is embedded in the oracle SQL at dump time (scope-interpolated). */
  def Seq20kFixturePath = s"$fixtureRoot/seq20k.parquet"
  /** The seq_decontaminate benchmark slice (hash-gated in Spark — DuckDB has
    * no xxhash64, so the SLICE is materialized and the overlap itself is
    * re-computed by the oracle over raw token arrays). */
  def Seq20kBenchFixturePath = s"$fixtureRoot/seq20k_bench.parquet"

  def writeSeq20kFixture(spark: SparkSession): Unit = {
    val corpus = sequences(spark, 20000, maxLen = 32)
    corpus.write.mode("overwrite").parquet(Seq20kFixturePath)
    corpus.filter(pmod(xxhash64(col("doc_id")), lit(100)) === 0)
      .select(col("tokens"))
      .write.mode("overwrite").parquet(Seq20kBenchFixturePath)
  }

  /** The padded-layout corpus the v_pad_layout oracle reads (same
    * generate-in-query / materialize-for-DuckDB pattern as seq20k). */
  def SeqPad20kFixturePath = s"$fixtureRoot/seqpad20k.parquet"

  def writeSeqPad20kFixture(spark: SparkSession): Unit =
    paddedSequences(spark, 20000, maxLen = 32)
      .write.mode("overwrite").parquet(SeqPad20kFixturePath)

  /** The packed-layout corpus the v_segments oracle reads. */
  def SeqPacked20kFixturePath = s"$fixtureRoot/seqpacked20k.parquet"

  def writeSeqPacked20kFixture(spark: SparkSession): Unit =
    packedSequences(spark, 20000)
      .write.mode("overwrite").parquet(SeqPacked20kFixturePath)

  /** Signature/edge fixtures for the hash-dependent LSH queries. The
    * xxhash64-based signature kernels have no DuckDB analog, so Verify
    * materializes the Spark-computed signatures (and, for the composed drop
    * pipeline, the verified edge list) and the oracle re-derives everything
    * DOWNSTREAM of them in SQL: banding, bucket guards, candidate self-joins,
    * signature agreement, connected components, keep-min. The kernels
    * themselves are covered by unit tests + forced-codegen equality specs.
    * Paths are compile-time constants because they are embedded in oracle
    * SQL; parameters must mirror the corresponding SparkEntry queries. */
  def MinhashSigFixturePath = s"$fixtureRoot/minhash_sig.parquet"
  def SimhashSigFixturePath = s"$fixtureRoot/simhash_sig.parquet"
  def NeardupEdgesFixturePath = s"$fixtureRoot/neardup_edges.parquet"
  def LshBandsFixturePath = s"$fixtureRoot/lsh_bands.parquet"
  def EmbedEdgesFixturePath = s"$fixtureRoot/embed_edges.parquet"
  /** The v_metrics_anomaly six-run metrics history (deterministic slices of
    * the documents table, drift planted at runs 3/4) — the query REBUILDS it
    * from scratch on every call (delete + 6 bounded writes), so the oracle
    * always reads the history derived from the CURRENT sf dir's data. */
  def MetricsRepoFixturePath = s"$fixtureRoot/metrics_repo"

  /** The d_neardup_embed corpus: the embeddings table plus PLANTED exact
    * near-duplicates — every vec_id % 7 == 0 row again at id+1,000,000
    * scaled ×2, every vec_id % 14 == 0 row a THIRD time at id+2,000,000
    * scaled ×0.5 (a 3-node cluster that only transitive closure collapses).
    * Power-of-two scaling is exact in IEEE float/double, so the planted
    * pairs have cosine 1.0 to the ulp AND identical sign-LSH signatures —
    * candidate generation must find them in every band. Shared by the
    * SparkEntry query and the edge-fixture writer so the two can never
    * drift. */
  def embedNearDupCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    def scaled(mod: Int, offset: Long, factor: Float) =
      e.filter(col("vec_id") % mod === 0)
        .select((col("vec_id") + offset).as("vec_id"),
          transform(col("embedding"), x => x * lit(factor)).as("embedding"))
    e.union(scaled(7, 1000000L, 2.0f)).union(scaled(14, 2000000L, 0.5f))
  }

  def writeLshFixtures(spark: SparkSession, sfDir: String): Unit = {
    import graft.ops.Dedup
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") < 2000)
    // d_minhash_pairs: numHashes=64, shingleK=1 (the signature frame minhashLsh uses)
    Dedup.signatures(docs, "text", "doc_id", 64, 1)
      .write.mode("overwrite").parquet(MinhashSigFixturePath)
    // d_simhash_pairs: shingleK=2
    docs.select(col("doc_id").as("id"),
        Dedup.simhash(Dedup.shingles(col("text"), 2)).as("sim"))
      .write.mode("overwrite").parquet(SimhashSigFixturePath)
    // d_neardup_drop: the LSH->exact-Jaccard verified edge list (the CC +
    // keep-min + anti-join tail is what the oracle recomputes)
    val (cand, releaseLsh) = Dedup.minhashLshCached(docs, "text", "doc_id",
      numHashes = 64, bands = 16, shingleK = 1, threshold = 0.7, maxBucket = 500)
    Dedup.ngramJaccardFor(docs, "text", "doc_id", cand, shingleK = 1,
        minJaccard = 0.7)
      .select("id_a", "id_b")
      .write.mode("overwrite").parquet(NeardupEdgesFixturePath)
    releaseLsh() // the write above materialized the edges — drop the sig cache
    // s_ann_lsh: sign-LSH band values (bands=8, planesPerBand=4), norm>0 rows
    // only — mirrors cosineLshPairs' base filter
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(graft.functions.VecFunctions.vec_norm(col("embedding")) > 0)
      .select(col("vec_id"),
        posexplode(graft.functions.VecFunctions.sign_lsh_bands(col("embedding"), 8, 4))
          .as(Seq("band", "band_val")))
      .write.mode("overwrite").parquet(LshBandsFixturePath)
    // d_neardup_embed: the sign-LSH -> exact-cosine verified edge list over
    // the planted-dup corpus (CC + keep-min + anti-join is what the oracle
    // recomputes); params mirror the SparkEntry query
    val embCorpus = embedNearDupCorpus(spark, sfDir)
    val (embPairs, releaseEmb) = graft.ops.Similarity.cosineLshPairsCached(
      embCorpus, "embedding", "vec_id",
      threshold = 0.95, bands = 8, planesPerBand = 4, maxBucket = 500)
    embPairs.select("id_a", "id_b")
      .write.mode("overwrite").parquet(EmbedEdgesFixturePath)
    releaseEmb()
  }

  /** Gate/probe fixtures for p_sample and the IVF probe-path queries: the
    * sampling hash gates and the trained quantizer's list assignments /
    * probe sets are materialized so the oracle re-derives the DOWNSTREAM
    * decisions (cut comparisons, probe filters, cosine rank) in SQL. */
  def SampleGatesFixturePath = s"$fixtureRoot/sample_gates.parquet"
  /** Written by the j_jsonl QUERY itself (the export half of the round-trip
    * is part of the measured operator); the oracle reads it back with
    * explicit columns= (Spark's JSON writer drops null fields, so column
    * INFERENCE could miss an all-null column entirely). */
  def DocumentsJsonlFixturePath = s"$fixtureRoot/documents_jsonl"
  def IvfIndexFixturePath = s"$fixtureRoot/ivf_index.parquet"
  def IvfProbesSingleFixturePath = s"$fixtureRoot/ivf_probes_single.parquet"
  def IvfProbesBatchFixturePath = s"$fixtureRoot/ivf_probes_batch.parquet"

  def writeSamplingIvfFixtures(spark: SparkSession, sfDir: String): Unit = {
    import graft.ops.{Ivf, Sampling}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.select(col("doc_id"),
        Sampling.auditGate(docs, "doc_id", "split").as("g_split"),
        Sampling.auditGate(docs, "doc_id", "stratified").as("g_strat"),
        Sampling.auditGate(docs, "doc_id", "mix").as("g_mix"),
        Sampling.auditGate(docs, "doc_id", "cap_exact").as("g_capx"),
        Sampling.auditGate(docs, "doc_id", "weighted").as("g_weighted"),
        // t_ppl_buckets: the threshold-sample gate (op "sample", salt 0 —
        // exactly how perplexityBucketsExact keys its deterministicSample)
        Sampling.auditGate(docs, "doc_id", "sample").as("g_ppl"))
      .write.mode("overwrite").parquet(SampleGatesFixturePath)
    // the SAME memoized quantizer instance the s_ann_ivf* queries use — one
    // training per (dir, mtime) and one source of truth for nlist/iters
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val model = SparkEntry.ivfModel(spark, sfDir)
    Ivf.index(embs, "embedding", model).select(col("vec_id"), col("list_id"))
      .write.mode("overwrite").parquet(IvfIndexFixturePath)
    // single-query probes exactly as s_ann_ivf derives them (driver-side)
    val q0 = embs.filter(col("vec_id") === 0).select("embedding").head()
      .getSeq[Float](0).map(_.toDouble).toArray
    import spark.implicits._
    model.probesFor(q0, nprobe = 3).toSeq.toDF("list_id")
      .write.mode("overwrite").parquet(IvfProbesSingleFixturePath)
    // batch probes exactly as searchTopKBatch derives them (expression-side)
    embs.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"),
        explode(graft.functions.VecFunctions.nearest_centroids(
          col("embedding"), model.centroids, 3)).as("list_id"))
      .write.mode("overwrite").parquet(IvfProbesBatchFixturePath)
  }

  /** Media fixture: 500 REAL encoded images (PNG/GIF/JPEG/BMP via the JDK
    * writers, deterministic pixels) plus planted corrupt payloads, with
    * generation-time ground-truth columns for the oracle. The m_decode
    * query reads ONLY (doc_id, payload); the true_* columns are the
    * oracle's side of the check. */
  def MediaFixturePath = s"$fixtureRoot/media.parquet"

  def writeMediaFixture(spark: SparkSession): Unit =
    MediaGen.mediaTable(spark, 500).write.mode("overwrite").parquet(MediaFixturePath)

  /** Write-if-absent for non-Verify callers (bench, tests): the fixture is
    * deterministic, so COMPLETE presence is the only question — the marker
    * is `_SUCCESS`, not the bare directory (a crash mid-write leaves a
    * partial dir that must regenerate, not be silently reused). */
  def ensureMediaFixture(spark: SparkSession): String = {
    if (!new java.io.File(MediaFixturePath + "/_SUCCESS").exists()) writeMediaFixture(spark)
    MediaFixturePath
  }

  /** Audio fixture (JDK-encoded WAV + planted corrupt payloads + ground
    * truth) — same contract as [[MediaFixturePath]]. */
  def AudioFixturePath = s"$fixtureRoot/audio.parquet"

  def writeAudioFixture(spark: SparkSession): Unit =
    MediaGen.audioTable(spark, 400).write.mode("overwrite").parquet(AudioFixturePath)

  def ensureAudioFixture(spark: SparkSession): String = {
    if (!new java.io.File(AudioFixturePath + "/_SUCCESS").exists()) writeAudioFixture(spark)
    AudioFixturePath
  }

  /** Codec-audio fixture: hand-assembled MP3 + FLAC containers (the JDK
    * writes neither) + planted corrupt payloads + ground truth — same
    * contract as [[AudioFixturePath]]; generator and parser share no
    * code. */
  def CodecAudioFixturePath = s"$fixtureRoot/codec_audio.parquet"

  def writeCodecAudioFixture(spark: SparkSession): Unit =
    MediaGen.codecAudioTable(spark, 400).write.mode("overwrite").parquet(CodecAudioFixturePath)

  def ensureCodecAudioFixture(spark: SparkSession): String = {
    if (!new java.io.File(CodecAudioFixturePath + "/_SUCCESS").exists())
      writeCodecAudioFixture(spark)
    CodecAudioFixturePath
  }

  /** Video fixture: hand-assembled minimal MP4 containers + planted
    * corrupt payloads + ground truth. */
  def VideoFixturePath = s"$fixtureRoot/video.parquet"

  def writeVideoFixture(spark: SparkSession): Unit =
    MediaGen.videoTable(spark, 400).write.mode("overwrite").parquet(VideoFixturePath)

  def ensureVideoFixture(spark: SparkSession): String = {
    if (!new java.io.File(VideoFixturePath + "/_SUCCESS").exists()) writeVideoFixture(spark)
    VideoFixturePath
  }

  /** The standard suite for this corpus — every north-rule check. */
  def standardSuite(spark: SparkSession, maxLen: Int = 64): ConstraintSuite =
    ConstraintSuite(
      keyCol = "doc_id",
      rowChecks = Seq(
        NonNull("doc_id"),
        Regex("doc_id", "^doc-[0-9]{12}$"),
        NonNull("source"),
        Range("n_tok", 1, 8192),
        LengthConsistent("tokens", "n_tok"),
        ArrayElemRange("tokens", 0, VOCAB - 1),
        ArrayContainsValue("tokens", BOS),
        ArraySizeBounds("tokens", min = Some(1), max = Some(8192))),
      aggChecks = Seq(
        Unique("doc_id"),
        RefIntegrity("source", sourcesDim(spark), "source"),
        DriftChiSquare("n_tok", "source", binWidth = math.max(maxLen / 16, 1).toDouble,
          threshold = 100.0)))
}
