package graft

import graft.ops._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Executable end-to-end example of the public API — also the packaged-jar
  * smoke surface (`java -cp <jar>:/opt/spark/jars/'*' graft.Smoke [outDir]`):
  * generate → validate → checkpoint (TableIO) → resume → stats → dedup/ANN.
  * Prints one summary line per stage; exits nonzero on any broken invariant.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else
      java.nio.file.Files.createTempDirectory("graft-smoke").toString
    // SPARK_GRAFT_MASTER lets the same smoke surface run under a real
    // multi-JVM scheduler (e.g. spark-submit --master local-cluster[2,4,4096]
    // — separate executor processes, torrent broadcast fetch, task
    // serialization of the custom expressions/aggregates); default unchanged,
    // and an active override is logged at WARN
    val spark = SparkSession.builder()
      .master(GraftSession.selectMaster(8, sys.env)._1)
      .appName("graft-smoke")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.warnIfOverridden(spark, 8, "Smoke")
    var failures = 0
    def check(name: String, cond: Boolean, detail: String): Unit = {
      println(s"[smoke] ${if (cond) "OK  " else "FAIL"} $name: $detail")
      if (!cond) failures += 1
    }

    // 1. corpus + suite
    val corpus = DataGen.sequences(spark, 50000, maxLen = 32).persist()
    val suite = DataGen.standardSuite(spark, maxLen = 32)
    val compiled = suite.compile(Seq_.schema)
      .fold(es => sys.error(es.map(_.msg).mkString("; ")), identity)
    val result = compiled.run(corpus, persistAnnotated = true)
    val vioByCheck = result.violations.groupBy("constraint_id").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    check("validate", vioByCheck.size >= 8 && vioByCheck.values.forall(_ > 0),
      s"${vioByCheck.size} constraint kinds violated: $vioByCheck")
    val rep = result.report.agg(sum("rows"), sum("pass"), sum("fail")).collect()(0)
    check("report", rep.getLong(0) == 50000 && rep.getLong(1) + rep.getLong(2) == 50000,
      s"rows=${rep.getLong(0)} pass=${rep.getLong(1)} fail=${rep.getLong(2)}")

    // 1aa. coverage audit: the standard suite checks every input column —
    // an audit over a suite with n_tok checks removed flags exactly n_tok
    val covered = Coverage.uncovered(spark, compiled, Seq_.schema)
    val gutted = suite.copy(
      rowChecks = suite.rowChecks.filterNot(_.id.contains("n_tok")),
      aggChecks = suite.aggChecks.filterNot(_.id.contains("n_tok"))).compile(Seq_.schema)
      .fold(es => sys.error(es.map(_.msg).mkString("; ")), identity)
    val guttedUncov = Coverage.uncovered(spark, gutted, Seq_.schema)
    check("coverage", covered.isEmpty && guttedUncov == Seq("n_tok"),
      s"standard suite uncovered=$covered; n_tok-less suite uncovered=$guttedUncov")

    // 1a. quarantine split: clean/quarantined counts agree with the report,
    // and the split CONSERVES the input key multiset exactly (Reconcile)
    val (cleanS, quarS) = compiled.split(corpus)
    val conserved = ops.Reconcile.conservation(corpus, "doc_id", Seq(cleanS, quarS))
      .collect().map(_.getString(0)).toSet
    check("quarantine",
      cleanS.count() == rep.getLong(1) && quarS.count() == rep.getLong(2) &&
        cleanS.columns.sameElements(corpus.columns) && conserved == Set("match"),
      s"clean=${rep.getLong(1)} quarantined=${rep.getLong(2)}, original schema kept, " +
        s"key multiset conserved=$conserved")

    // 1b. padded-batch token layout: dynamic pad-boundary invariants
    val padded = DataGen.paddedSequences(spark, 20000, maxLen = 32)
    val padCompiled = ConstraintSuite("doc_id", Seq(
      PadSuffixOnly("tokens", DataGen.PAD),
      EndsWithToken("tokens", DataGen.EOS, DataGen.PAD),
      PadAwareLength("tokens", "n_tok", DataGen.PAD)))
      .compile(padded.schema)
      .fold(es => sys.error(es.map(_.msg).mkString("; ")), identity)
    val padVio = padCompiled.run(padded).violations.groupBy("constraint_id")
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val padIds = 0L until 20000L
    val expSuffix = padIds.count(_ % DataGen.INTERIOR_PAD_MOD == 0).toLong
    val expEos = padIds.count(_ % DataGen.NO_EOS_MOD == 0).toLong
    val expLen = padIds.count(i =>
      i % DataGen.INTERIOR_PAD_MOD == 0 || i % DataGen.BAD_NTOK_MOD == 0).toLong
    check("pad-layout",
      padVio.get(s"padSuffix(tokens)").contains(expSuffix) &&
        padVio.get(s"endsWith(tokens)").contains(expEos) &&
        padVio.get(s"padAwareLength(tokens,n_tok)").contains(expLen),
      s"violations $padVio == planted ($expSuffix,$expEos,$expLen)")

    // 1c. packed-batch segment structure (EOS-delimited document bounds)
    val packed = DataGen.packedSequences(spark, 20000)
    val segBad = graft.functions.VecFunctions.array_bad_segments(
      col("tokens"), DataGen.EOS, 1L, DataGen.MAX_SEG)
    val segRows = packed.agg(sum((segBad > 0).cast("long"))).collect()(0).getLong(0)
    val expSegRows = padIds.count(i =>
      i % DataGen.EMPTY_SEG_MOD == 0 || i % DataGen.LONG_SEG_MOD == 0).toLong
    check("segments", segRows == expSegRows,
      s"$segRows rows with bad segments == planted $expSegRows")

    // 2. checkpoint via TableIO + resume
    Checkpoint.write(result.report.filter(col("bucket_id") < 128), s"$out/ckpt", "run-1")
    val done = Checkpoint.completedBuckets(spark, s"$out/ckpt", "run-1")
    val resumed = compiled.run(Checkpoint.resumeFilter(corpus, compiled, done))
    val resumedRows = resumed.report.agg(sum("rows")).collect()(0).getLong(0)
    val doneRows = result.report.filter(col("bucket_id") < 128)
      .agg(sum("rows")).collect()(0).getLong(0)
    check("resume", doneRows + resumedRows == 50000,
      s"completed=${done.size} buckets/$doneRows rows + resumed $resumedRows rows")

    // 3. stats
    val prof = Stats.numericProfile(corpus, "n_tok", "source").collect()
    check("stats", prof.length == 6, s"${prof.length} source profiles")
    val worst = Stats.topKWorstBuckets(result.report, 3).collect()
    check("topk", worst.length == 3, s"worst buckets: ${worst.map(_.getInt(0)).mkString(",")}")

    // 4. text ops on the documents table if present, else synthesized text
    val docs = spark.range(2000).select(
      col("id").as("doc_id"),
      concat(lit("alpha beta gamma delta epsilon zeta eta theta doc "),
        (col("id") % 500).cast("string")).as("text"))
    val dups = Dedup.exact(docs, "text", "doc_id")
    check("dedup", dups.count() == 500, s"${dups.count()} exact-dup groups (expect 500)")
    val mh = Dedup.minhashLsh(docs, "text", "doc_id", numHashes = 32, bands = 8,
      shingleK = 1, threshold = 0.9)
    // count ONCE: the bare wrapper auto-releases its internal cache after
    // the first action, so a second count would recompute the whole LSH
    val mhPairs = mh.count()
    check("minhash", mhPairs >= 500, s"$mhPairs near-dup pairs")

    // 4b. quality filters: repetition gate, unigram likelihood, PII redaction
    {
      import spark.implicits._
      val qdocs = Seq(
        (1L, (1 to 80).map(i => s"tok$i").mkString(" ")), // clean, varied
        (2L, Seq.fill(40)("buy now click here").mkString(" "))) // repetitive
        .toDF("doc_id", "text")
      val gates = TextAnalysis.repetitionProfile(qdocs, "text")
        .select("doc_id", "gopher_pass").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      val lm = UnigramLM.train(docs, "text", vocabSize = 100)
      val lmScores = UnigramLM.score(Seq(
          (1L, "alpha beta gamma delta epsilon"), (2L, "qqq zzz xxx www vvv"))
          .toDF("doc_id", "text"), "text", lm)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      val redacted = Seq((1L, "reach bob.a@mail.com or +1 (555) 123-4567"))
        .toDF("doc_id", "text")
        .select(TextAnalysis.redact(col("text"), TextAnalysis.piiRules))
        .head().getString(0)
      check("quality",
        gates(1L) && !gates(2L) && lmScores(1L) > lmScores(2L) &&
          redacted == "reach <EMAIL> or <PHONE>",
        s"gopher=${gates(1L)}/${gates(2L)} lm=${lmScores(1L)}>${lmScores(2L)} '$redacted'")
      // executor-shared (broadcast) order-N form: identical scores to the
      // embedded kernel over the same trained model
      val ng = UnigramLM.trainNgram(docs, "text", Seq(100, 200, 300))
      val scoreDocs = docs.filter(col("doc_id") < 200)
      def sums(df: org.apache.spark.sql.DataFrame) =
        df.agg(sum("logprob_fp"), sum("n_tok")).head()
      val emb = sums(UnigramLM.scoreNgram(scoreDocs, "text", ng))
      val bm = UnigramLM.broadcastModel(spark, ng)
      val bcs = sums(UnigramLM.scoreNgramBroadcast(scoreDocs, "text", bm))
      bm.destroy()
      check("lm-broadcast", emb == bcs, s"embedded $emb == broadcast $bcs")
    }

    // 5. ANN over synthetic embeddings
    val embs = spark.range(1000).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(15)),
        i => (pmod(xxhash64(col("id") % 100, i), lit(1000)).cast("float") / 1000f)).as("embedding"))
    val pairs = Similarity.cosineLshPairs(embs, "embedding", "vec_id",
      threshold = 0.999, bands = 4, planesPerBand = 4)
    val nPairs = pairs.count() // once — bare wrapper auto-releases after this
    check("ann", nPairs >= 1000, s"$nPairs high-cos pairs (planted clones)")

    // 6. IVF index + probed search (100 identical-content groups -> tight clusters)
    val ivfModel = Ivf.train(embs, "embedding", nlist = 8, iters = 2)
    val q = embs.filter(col("vec_id") === 0).select("embedding").head()
      .getSeq[Any](0).map(_.asInstanceOf[Number].doubleValue()).toArray
    val hits = Ivf.searchTopK(Ivf.index(embs, "embedding", ivfModel),
      "embedding", "vec_id", ivfModel, q, k = 5, nprobe = 2).collect()
    check("ivf", hits.length == 5 && hits.forall(_.getAs[Double]("cos") > 0.99),
      s"top-5 cos=${hits.map(h => f"${h.getAs[Double]("cos")}%.3f").mkString(",")}")

    // 6b. BATCHED search: 10 queries in one job, each gets k ranked hits
    val queries = embs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding"))
    val batch = Ivf.searchTopKBatch(Ivf.index(embs, "embedding", ivfModel),
      "embedding", "vec_id", ivfModel, queries, "embedding", "qid",
      k = 5, nprobe = 2).collect()
    val perQuery = batch.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    check("ivf-batch", perQuery.size == 10 && perQuery.values.forall(_ == 5),
      s"${batch.length} hits over ${perQuery.size} queries")

    // 7. end-to-end near-dup pipeline (pairs -> components -> one survivor per group)
    val kept = Dedup.dropNearDups(docs, "text", "doc_id", numHashes = 32, bands = 8,
      shingleK = 1, threshold = 0.9)
    check("neardup-pipeline", kept.count() == 500,
      s"${kept.count()} survivors of 2000 docs in 500 content groups")

    // 7a. SemDeDup shape: the same pipeline over the EMBEDDING column — embs
    // has 100 identical-content groups of 10, so exactly the min id of each
    // group survives
    val embKept = Dedup.dropNearDupsByEmbedding(embs, "embedding", "vec_id",
      threshold = 0.999, bands = 4, planesPerBand = 4)
    val embKeptIds = embKept.select("vec_id").collect().map(_.getLong(0)).toSet
    check("neardup-embed", embKeptIds == (0L until 100L).toSet,
      s"${embKeptIds.size} survivors of 1000 embeddings in 100 clone groups")

    // 7a'. CCNet perplexity tertiles over the LM scores: three value-
    // contiguous buckets that partition the scored corpus
    val pplScored = UnigramLM.score(docs, "text", UnigramLM.train(docs, "text", 200))
      .filter(col("n_tok") > 0)
      .withColumn("ppl_fp", UnigramLM.perplexityFp(col("logprob_fp"), col("n_tok")))
    val bucketed = UnigramLM.perplexityBucketsExact(pplScored, "doc_id", "ppl_fp",
      sampleFraction = 0.5)
    // contract: buckets PARTITION the corpus and are value-contiguous (ties
    // keep the lower bucket, so a heavily-tied corpus may leave an upper
    // bucket empty — this smoke corpus has only 500 distinct texts)
    val bStats = bucketed.groupBy("bucket")
      .agg(count(lit(1)).as("n"), min("ppl_fp").as("lo"), max("ppl_fp").as("hi"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val bOrder = Seq("head", "middle", "tail").filter(bStats.contains)
    val contiguous = bOrder.sliding(2).forall {
      case Seq(a, b) => bStats(a)._3 < bStats(b)._2
      case _ => true
    }
    check("ppl-buckets",
      bStats.contains("head") && bStats.values.map(_._1).sum == pplScored.count() &&
        contiguous,
      s"buckets ${bStats.map { case (k, v) => s"$k=${v._1}" }.mkString(",")} " +
        s"over ${pplScored.count()} scored docs, contiguous=$contiguous")

    // 7b. chunk + pack: training-context shaping over the synthetic corpus
    val seqs = DataGen.sequences(spark, 5000, maxLen = 32)
      .filter(col("doc_id").isNotNull)
    val chunked = Packing.chunkLongSequences(seqs, "tokens", "doc_id", context = 64)
      .withColumn("cid", concat(col("doc_id"), lit("#"), col("chunk_idx")))
    val packs = Packing.packSequences(chunked, "tokens", "cid", context = 64,
      buckets = 8, sep = Some(0))
    val packStats = packs.agg(
      count(lit(1)), max(col("n_tok")), sum(col("n_docs")),
      sum(col("truncated").cast("long"))).head()
    val nChunks = chunked.count()
    check("packing",
      packStats.getInt(1) <= 64 && packStats.getLong(2) == nChunks && packStats.getLong(3) == 0,
      s"${packStats.getLong(0)} packs of <=64 tokens from $nChunks chunks, 0 truncated")

    // 7c. REAL media decode: JDK-encoded payloads -> hand-rolled header parse
    val media = MediaGen.mediaTable(spark, 100).toDF()
    val decoded = Multimodal.decodeMeta(spark, media).collect()
    val okDecodes = decoded.count(_.ok)
    val truth = media.select("doc_id", "true_format", "true_width", "true_height")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    val metaMatch = decoded.forall(d => truth(d.doc_id) == ((d.format, d.width, d.height)))
    val feats = Multimodal.decodeFeatures(spark, media).count()
    check("media", okDecodes == 80 && decoded.length == 100 && metaMatch && feats == 80,
      s"$okDecodes/100 payloads decoded (20 planted-corrupt counted), meta==truth, $feats pixel-decoded")

    // 7d. first-fit-decreasing packing beats greedy fill on mixed lengths
    val mixed = spark.range(0, 500).selectExpr("cast(id AS STRING) AS cid",
      "transform(sequence(1, cast(element_at(array(44,31,17,9,5), cast(id % 5 AS INT) + 1) AS INT)), x -> cast(x AS INT)) AS tokens")
    val greedyN = Packing.packSequences(mixed, "tokens", "cid", context = 64, buckets = 4).count()
    val ffdN = Packing.packSequencesFFD(mixed, "tokens", "cid", context = 64, buckets = 4).count()
    check("packing-ffd", ffdN <= greedyN,
      f"FFD $ffdN packs vs greedy $greedyN (fill ${500.0 * (44 + 31 + 17 + 9 + 5) / 5 / (ffdN * 64) * 100}%.1f%%)")

    // 7e. stage-manifest resume: killed-after-stage pipeline resumes to the
    // same survivors without recomputing the stored stage
    val stDir = s"$out/stages"
    val r1 = Dedup.dropNearDupsResumable(docs, "text", "doc_id",
      new StageRunner(spark, stDir, "smoke"), numHashes = 32, bands = 8,
      shingleK = 1, threshold = 0.9).count()
    val pairsM = new java.io.File(s"$stDir/smoke/verified_pairs").lastModified()
    val r2 = Dedup.dropNearDupsResumable(docs, "text", "doc_id",
      new StageRunner(spark, stDir, "smoke"), numHashes = 32, bands = 8,
      shingleK = 1, threshold = 0.9).count()
    val noRecompute = new java.io.File(s"$stDir/smoke/verified_pairs").lastModified() == pairsM
    check("stage-resume", r1 == 500 && r2 == 500 && noRecompute,
      s"survivors $r1==$r2, stages reused=$noRecompute")

    // 7f. incremental dedup: a re-crawl batch against the stored corpus
    val storeSigs = Dedup.exactSignatures(docs, "text", "doc_id")
    val ingest = docs.filter(col("doc_id") < 100)
      .select((col("doc_id") + 10000).as("doc_id"), col("text")) // verbatim re-crawls
      .union(spark.range(5).select((col("id") + 20000).as("doc_id"),
        concat(lit("genuinely fresh document "), col("id").cast("string")).as("text")))
    val keptInc = Dedup.dropExactDupsAgainst(ingest, "text", "doc_id", storeSigs).count()
    check("dedup-against", keptInc == 5,
      s"$keptInc of 105 ingest rows survive (100 verbatim re-crawls dropped)")

    // 7g. NB quality classifier: closed-form train, zero-shuffle scoring
    {
      import spark.implicits._
      // classes trained on COMPARABLE token counts (the OOV convention
      // contributes the class-size prior ln(N_neg/N_pos) per unseen token
      // — documented on QualityClassifier; equal N makes it vanish)
      val labeled = Seq(
        (1L, "the cats and dogs have run to the park with joy and the sun was warm", Some(true)),
        (2L, "good clean prose flows here with many common words and that is fine", Some(true)),
        (3L, "buy now click here buy now free offer click buy now winner spam spam buy free", Some(false)),
        (4L, "click free winner offer now buy free click offer now spam buy spam", Some(false)))
        .toDF("doc_id", "text", "is_good")
      val cm = QualityClassifier.train(labeled, "text", "is_good", vocabSize = 50)
      val kept = QualityClassifier.gate(Seq(
          (9L, "the dogs run in the park and that is good clean fun"),
          (10L, "buy now free click offer winner now"))
          .toDF("doc_id", "text"), "text", cm, minAvgFp = 0L)
        .select("doc_id").as[Long].collect().toSet
      check("classifier", kept == Set(9L), s"gate kept $kept (expect Set(9))")
    }

    // 7h. incremental-index lifecycle: append day-1, gate day-2 against it
    {
      import spark.implicits._
      val idxRoot = s"$out/dedup_index"
      val day1 = Seq(
        ("a1", "the quick brown fox jumps over the lazy dog in the garden today"),
        ("a2", "a wholly different passage about distributed execution engines"))
        .toDF("doc_id", "text")
      DedupIndex.appendSignatures(day1, "text", "doc_id", s"$idxRoot/sigs", "day1")
      val day2 = Seq(
        ("b1", "the quick brown fox jumps over the lazy dog in the garden today"),
        ("b2", "fresh second day content that matches nothing stored before"))
        .toDF("doc_id", "text")
      val kept2 = Dedup.dropExactDupsAgainst(day2, "text", "doc_id",
          DedupIndex.readIndex(spark, s"$idxRoot/sigs"))
        .select("doc_id").as[String].collect().toSet
      val again = DedupIndex.appendSignatures(day1, "text", "doc_id", s"$idxRoot/sigs", "day1")
      check("dedup-index", kept2 == Set("b2") && !again,
        s"day-2 kept $kept2 (expect Set(b2)); re-append no-op=${!again}")
    }

    // 7i. hand-parsed containers the JDK cannot write: MP3 / FLAC / MP4
    {
      val mp3 = MediaCodec.sniffMp3(
        MediaGen.encodeMp3(1L, 4, 9, 0, mono = false, id3 = true))
      val fl = MediaCodec.sniffAudio(MediaGen.encodeFlac(44100, 2, 16, 12345L))
      val mp4 = MediaCodec.sniffVideo(MediaGen.encodeMp4(640, 360, 90000, 450000L))
      check("codec-parsers",
        mp3.exists(m => m.bitrateKbps == 128 && m.nFrames == 4) &&
          fl.contains(MediaCodec.AudioMeta("flac", 2, 44100, 16, 12345L)) &&
          mp4.contains(MediaCodec.VideoMeta("mp4", 640, 360, 5000L)),
        s"mp3=$mp3 flac=$fl mp4=$mp4")
    }

    // 8. deterministic sampling: disjoint split, stable across partitioning
    val (train, test) = Sampling.trainTestSplit(docs, "doc_id", 0.25)
    val (train2, _) = Sampling.trainTestSplit(docs.repartition(5), "doc_id", 0.25)
    val stable = train.select("doc_id").collect().map(_.getLong(0)).toSet ==
      train2.select("doc_id").collect().map(_.getLong(0)).toSet
    check("sampling", train.count() + test.count() == 2000 && stable,
      s"train=${train.count()} test=${test.count()} partition-stable=$stable")

    // 9. runtime JSON Schema -> suite -> violations
    val js = """{"type":"object","required":["doc_id"],
                 "properties":{"doc_id":{"type":"integer","minimum":0},
                               "text":{"type":"string","minLength":20}}}"""
    val jsResult = JsonSchema.parse(js, "doc_id", tableSchema = Some(docs.schema))
      .flatMap(_.compile(docs.schema).left.map(identity))
      .fold(es => sys.error(es.map(_.msg).mkString("; ")), c => c.run(docs))
    check("jsonschema", jsResult.violations.count() == 0,
      "draft-07 schema compiled + ran clean on clean docs")

    // 10. the data-quality loop: profile -> suggest -> (empty) round trip,
    // metrics history with a planted jump, static schema drift
    {
      import spark.implicits._
      val sug = Suggest.suggest(docs)
      val roundTrip = Suggest.applyToSelf(docs, "doc_id").count()
      val repo = s"$out/metrics_repo"
      val repoPath = new org.apache.hadoop.fs.Path(repo)
      val rfs = repoPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (rfs.exists(repoPath)) rfs.delete(repoPath, true) // stale-run hygiene
      Seq(2000L, 2020L, 3000L).zipWithIndex.foreach { case (v, i) =>
        MetricsRepo.append(Seq(("rows", v)).toDF("metric", "value"), repo, i.toLong)
      }
      val anomalies = MetricsRepo
        .relChangeAnomalies(MetricsRepo.history(spark, repo), maxPct = 20)
        .select("run").as[Long].collect().toSet
      val drift = SchemaDiff.diff(
        org.apache.spark.sql.types.StructType(docs.schema.fields.dropRight(1)),
        docs.schema)
      check("quality-loop",
        sug.rules.nonEmpty && roundTrip == 0 && anomalies == Set(2L) &&
          drift.map(_.change) == Seq("added"),
        s"${sug.rules.size} suggested rules; round-trip violations=$roundTrip; " +
          s"anomalous runs=$anomalies (expect Set(2)); drift=${drift.map(_.change).mkString(",")}")

      // 10a. close the loop as CONFIG: freeze the suggested suite to
      // draft-07 JSON, reload it, prove check-identity and that the frozen
      // form still passes its own training corpus
      val sugSuite = ConstraintSuite("doc_id", sug.rowChecks, sug.aggChecks)
      val frozen = JsonSchemaRender.render(sugSuite)
        .fold(es => sys.error(es.map(_.msg).mkString("; ")), identity)
      val thawed = JsonSchema.parse(frozen, "doc_id", tableSchema = Some(docs.schema))
        .fold(es => sys.error(es.map(_.msg).mkString("; ")), identity)
      val frozenClean = thawed.compile(docs.schema)
        .fold(es => sys.error(es.map(_.msg).mkString("; ")), identity)
        .run(docs).violations.count()
      check("suite-freeze",
        SuiteDiff.identical(sugSuite, thawed) && frozenClean == 0,
        s"suggested suite froze to ${frozen.length} bytes of draft-07, " +
          s"reloaded check-identical=true, violations on own corpus=$frozenClean")

      // 10b. distribution face of the loop: exact discrete quantiles, the
      // doubled-ingest quantile-shift breach, per-column top values
      val qd = docs.withColumn("n_chars", length(col("text")).cast("long"))
        .withColumn("lang", concat(lit("l"), (col("doc_id") % 3).cast("string")))
      val med = Profiler.profileQuantiles(qd, Seq("n_chars"), Seq(50)).head()
      val shifted = Drift.quantileShift(qd,
          qd.withColumn("n_chars", col("n_chars") * 2),
          Seq("n_chars"), Seq(50), maxShiftC = 100L)
        .select("shift_c", "breach").head()
      val topLang = Profiler.topValues(qd, Seq("lang"), 3)
        .filter(col("rnk") === 1).select("value", "cnt").head()
      check("quantiles",
        med.getLong(3) > 0 && shifted.getLong(1) == 1L &&
          shifted.getLong(0) == med.getLong(3) && topLang.getLong(1) > 0,
        s"median n_chars=${med.getLong(3)}c; doubled-ingest shift=" +
          s"${shifted.getLong(0)}c breach=${shifted.getLong(1)} (shift == median, " +
          s"monotone commute); top lang=${topLang.getString(0)}×${topLang.getLong(1)}")

      // 10c. cross-column face: ordering discovery compiles to checks that
      // hold on their training frame; token OOV drift catches a vocab swap
      val od = qd.withColumn("n_chars_2x", col("n_chars") * 2)
      val orules = Suggest.orderings(od, Seq("n_chars", "n_chars_2x", "doc_id"))
      val ochecks = Suggest.orderingChecks(orules)
      val oholds = ochecks.forall(c => od.filter(!c.pred).count() == 0)
      val oov = Drift.oovShift(
        Drift.oovProfile(corpus, "tokens", "source", DataGen.VOCAB),
        Drift.oovProfile(corpus, "tokens", "source", DataGen.VOCAB / 2),
        "source", maxDeltaFp = 10000)
      val oovBreached = oov.agg(sum("breach")).head().getLong(0)
      val oovGroups = oov.count()
      check("orderings-oov",
        orules.exists(r => r.col_a == "n_chars" && r.col_b == "n_chars_2x") &&
          ochecks.nonEmpty && oholds && oovBreached == oovGroups && oovGroups >= 5,
        s"${orules.size} ordering rules -> ${ochecks.size} checks all holding; " +
          s"halved-vocab OOV shift breached $oovBreached/$oovGroups sources")
    }

    // 29. token-unigram drift: a tokenizer swap in ONE source (remap onto
    // half the id space) must breach that source and no other
    {
      val base = DataGen.sequences(spark, 20000, maxLen = 32)
        .filter(col("tokens").isNotNull && col("source").isNotNull)
      val refToks = transform(col("tokens"), t => pmod(t, lit(101)))
      val curToks = when(col("source") === "forums",
        transform(col("tokens"), t => pmod(t, lit(51)))).otherwise(refToks)
      val ref = Drift.tokenUnigramProfile(
        base.select(col("source"), refToks.as("tokens")), "tokens", "source", 128)
      val cur = Drift.tokenUnigramProfile(
        base.select(col("source"), curToks.as("tokens")), "tokens", "source", 128)
      val shift = Drift.tokenUnigramShift(ref, cur, "source", topK = 20, maxDeltaFp = 500)
        .collect().map(r => r.getString(0) ->
          (r.getAs[Long]("breach"), r.getAs[Long]("ref_err"))).toMap
      check("token-drift",
        shift("forums")._1 == 1L && shift.forall(_._2._2 == 0L) &&
          shift.count(_._2._1 == 1L) == 1,
        s"forums breached, ${shift.count(_._2._1 == 0L)} sources quiet, all sketches exact")
    }

    spark.stop()
    println(s"[smoke] ${if (failures == 0) "ALL OK" else s"$failures FAILURES"}")
    if (failures > 0) sys.exit(1)
  }
}
