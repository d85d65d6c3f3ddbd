package graft.streaming

import graft._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.Row

/** Structured-Streaming face of the engine.
  *
  * The constraint→Column compiler is batch/stream agnostic: the same
  * CompiledSuite annotates a streaming DataFrame. Two modes:
  *
  *  - `violationsStream`: fully incremental — row-local checks only (they
  *    are per-row pure, so append-mode safe with no state).
  *  - `validateForeachBatch`: the full suite (incl. cross-row uniqueness /
  *    referential / drift) per micro-batch via foreachBatch, appending each
  *    batch's violations + bucket report to sinks. Cross-batch uniqueness
  *    at 10^12 scale belongs to the batch layer (or a state store keyed by
  *    doc_id — deliberately not in v0; documented scale trade-off).
  */
object StreamValidate {

  /** Row-local violations as an append-mode streaming transform. */
  def violationsStream(suite: CompiledSuite, stream: DataFrame): DataFrame =
    suite.rowViolations(suite.annotate(stream))

  /** Full-suite validation per micro-batch. Returns a writer ready to start. */
  def validateForeachBatch(
      suite: CompiledSuite,
      stream: DataFrame,
      onBatch: (ValidationResult, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val result = suite.run(batch, persistAnnotated = true)
        try onBatch(result, batchId)
        finally result.annotated.unpersist() // no per-batch cache leak
      }

  /** Per-micro-batch metrics journaling + trend monitoring — the streaming
    * face of the [[MetricsRepo]] loop: validate each batch, append its
    * flattened report metrics at run seq = batchId, then hand `onAnomalies`
    * the batch's run-over-run relative-change anomalies against the
    * accumulated history. EXACTLY-ONCE per batch id: Spark may REPLAY a
    * batch after restart, and the repo's DONE marker turns the re-append
    * into a no-op (anomaly evaluation is skipped for a replayed batch —
    * it already ran when the batch first committed), so the history never
    * double-counts under the engine's at-least-once recovery. */
  def metricsForeachBatch(
      suite: CompiledSuite, stream: DataFrame, repoDir: String,
      maxPct: Long = 50,
      onAnomalies: (DataFrame, Long) => Unit = (_, _) => (),
      io: TableIO = TableIO.default): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val result = suite.run(batch, persistAnnotated = true)
        try {
          val appended = MetricsRepo.append(
            MetricsRepo.fromReport(result.report), repoDir, batchId, io)
          if (appended) onAnomalies(
            MetricsRepo.relChangeAnomalies(
              MetricsRepo.history(batch.sparkSession, repoDir, io), maxPct)
              .filter(col("run") === batchId),
            batchId)
        } finally result.annotated.unpersist()
      }

  /** Streaming QUARANTINE split — the daily-ingest shape: each micro-batch's
    * clean rows (original schema) append to `cleanDir/batch=<id>` and its
    * quarantined rows (plus their violation-entry array) to
    * `quarantineDir/batch=<id>`, both EXACTLY-ONCE under the crash-safe
    * DONE-marker protocol shared with [[graft.MetricsRepo.append]]: data
    * first, marker after, so a replayed batch is a no-op and a crash
    * mid-write leaves data invisible to the marker-gated reader and
    * overwritten by the retry. Training jobs read ONLY marker-complete
    * clean partitions via [[readCompletedBatches]]. */
  def splitForeachBatch(suite: CompiledSuite, stream: DataFrame,
      cleanDir: String, quarantineDir: String,
      io: TableIO = TableIO.default): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        def appendOnce(df: DataFrame, dir: String): Unit = {
          val fs = new org.apache.hadoop.fs.Path(dir)
            .getFileSystem(batch.sparkSession.sessionState.newHadoopConf())
          val marker = new org.apache.hadoop.fs.Path(s"$dir/_appended_$batchId")
          if (!fs.exists(marker)) {
            io.writer(df, "overwrite").save(s"$dir/batch=$batchId")
            fs.create(marker, true).close()
          }
        }
        val (clean, quarantined) = suite.split(batch)
        appendOnce(clean, cleanDir)
        appendOnce(quarantined, quarantineDir)
      }

  /** Marker-gated reader for [[splitForeachBatch]] output: only batches
    * whose DONE marker exists are listed, so a crash mid-append can never
    * leak half-written rows into training. */
  def readCompletedBatches(spark: SparkSession, dir: String,
      io: TableIO = TableIO.default): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val completed = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith("_appended_")).map(_.stripPrefix("_appended_"))
      .map(_.toLong).sorted
    require(completed.nonEmpty, s"no completed batches under $dir")
    io.readUnder(spark, dir, completed.toSeq.map(s => s"$dir/batch=$s"))
  }

  /** Per-micro-batch token-unigram drift alarm against a STATIC reference
    * profile (built once from an accepted corpus via
    * [[graft.Drift.tokenUnigramProfile]] — capacity-bounded, cached here).
    * Each batch is profiled with the same explode-free sketch and compared
    * via [[graft.Drift.tokenUnigramShift]]; `onBreach` receives only the
    * breaching groups. Groups ABSENT from a micro-batch are skipped (a
    * small batch naturally misses sources — that is ingest cadence, not
    * drift), while a group present in the batch but unknown to the
    * reference still breaches (an unknown source at ingest is always worth
    * an alarm). Stateless per batch: no state store, safe under replay
    * (re-alarming a replayed batch is idempotent for monitoring). */
  def tokenDriftForeachBatch(
      refProfile: DataFrame, stream: DataFrame, tokensCol: String,
      groupCol: String, capacity: Int, topK: Int, maxDeltaFp: Long,
      onBreach: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val ref = refProfile.persist() // groups × capacity counters — tiny
    stream.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val cur = Drift.tokenUnigramProfile(batch, tokensCol, groupCol, capacity)
        val shift = Drift.tokenUnigramShift(ref, cur, groupCol, topK, maxDeltaFp)
        val breaches = shift
          .join(cur.select(col(groupCol)), Seq(groupCol), "left_semi")
          .filter(col("breach") === 1)
        onBreach(breaches, batchId)
      }
  }

  /** Watermarked windowed violation-rate monitor: per (window, constraint)
    * counts over the violation stream — the operational dashboard feed. */
  def windowedViolationCounts(
      suite: CompiledSuite, stream: DataFrame, tsCol: String,
      window_ : String = "5 minutes", watermark: String = "10 minutes"): DataFrame = {
    val ann = suite.annotate(stream)
    ann.filter(!suite.allOkCol)
      .select(col(tsCol), explode(suite.viosOf).as("v"))
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_), col("v.constraint_id"))
      .agg(count(lit(1)).as("violations"))
  }

  /** Streaming referential integrity — the streaming face of
    * [[graft.RefIntegrity]]: orphan fact rows (key ∉ dim) as an APPEND-mode
    * stream. A stream-static BROADCAST anti-join is stateless and
    * append-safe: each arriving row is decided immediately against the
    * dimension snapshot (re-resolved per micro-batch when `dim` is backed by
    * a mutable table), no watermark or state store involved. Null keys are
    * skipped, mirroring the batch check. */
  def orphanStream(stream: DataFrame, keyCol: String,
      dim: DataFrame, dimCol: String): DataFrame = {
    val facts = stream.filter(col(keyCol).isNotNull)
    val d = dim.select(col(dimCol)).distinct()
    // frame-qualified references: no temp column injected into either side,
    // so a stream column coincidentally named like the dim key cannot collide
    facts.join(broadcast(d), facts(keyCol) === d(dimCol), "left_anti")
  }

  /** STREAMING EXACT DEDUP — keep-first-arrival per content signature, the
    * ingest-time face of [[graft.ops.Dedup.dropExactDups]]: the first row of
    * each signature passes through, every later arrival (same batch or any
    * later batch) is dropped. Within one micro-batch the winner is the row
    * with the MINIMUM `idCol` (string order) — arrival order inside a batch
    * is partition-race nondeterministic, and a deterministic engine must not
    * let a race pick the survivor. Null signatures are dropped (an unhashable
    * row must not collide into one "null" group silently).
    *
    * Scale notes: state is one long per distinct signature, hash-partitioned
    * by the state store — at ingest scale use the RocksDB provider and `ttl`
    * so retired signatures age out; unbounded-horizon dedup belongs to the
    * batch layer. Pass a SIGNATURE column (e.g.
    * [[graft.ops.TextAnalysis.fingerprint]]), not raw text: the signature
    * rides the state store key. Requires OutputMode.Update downstream. */
  def firstSeenStream(stream: DataFrame, sigCol: String, idCol: String,
      ttl: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.{Encoder, Encoders}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    implicit val rowEnc: Encoder[Row] = Encoders.row(stream.schema)
    implicit val se: Encoder[String] = Encoders.STRING
    implicit val ke: Encoder[KeySeenState] = Encoders.product[KeySeenState]
    // String.valueOf on Array[Byte] is identity ("[B@..."), which would make
    // every binary signature unique (dedup silently no-ops) and binary id
    // ordering partition-race nondeterministic — reject loudly instead
    Seq(sigCol, idCol).foreach { c =>
      require(stream.schema(c).dataType !=
          org.apache.spark.sql.types.BinaryType,
        s"$c is BinaryType — hex-encode it (e.g. hex(col)) before streaming dedup")
    }
    val sigIdx = stream.schema.fieldIndex(sigCol)
    val idIdx = stream.schema.fieldIndex(idCol)
    val timeoutConf =
      if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    stream.filter(col(sigCol).isNotNull)
      .groupByKey((r: Row) => String.valueOf(r.get(sigIdx)))
      .flatMapGroupsWithState[KeySeenState, Row](OutputMode.Update(), timeoutConf) {
        (_: String, rows: Iterator[Row], state: GroupState[KeySeenState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // single fold — never materialize the group (a boilerplate
            // explosion can put millions of rows behind one signature)
            var arrived = 0L
            var winner: Row = null
            var winnerId: String = null
            rows.foreach { r =>
              arrived += 1
              val id = String.valueOf(r.get(idIdx))
              if (winner == null || id < winnerId) { winner = r; winnerId = id }
            }
            val before = state.getOption.map(_.seen).getOrElse(0L)
            state.update(KeySeenState(before + arrived))
            ttl.foreach(state.setTimeoutDuration)
            if (before > 0 || winner == null) Iterator.empty
            else Iterator(winner)
          }
      }.toDF()
  }

  /** STREAMING NEAR-DUP CANDIDATES — the ingest-time face of
    * [[graft.ops.Dedup.minhashLsh]]: each arriving document's MinHash
    * signature (same codegen'd kernels as the batch op, same band-hash
    * derivation) is banded, and every band bucket keeps ONE exemplar
    * (first-seen, min-id within its first batch) in the state store. Later
    * arrivals in the same bucket — same micro-batch or any later one — emit
    * [[NearDupCandidate]] events carrying the estimated Jaccard vs the
    * exemplar's full signature, so a paraphrased near-dup is caught at
    * ingest, not just an exact copy. Candidates are CANDIDATES: verify
    * downstream (exact Jaccard / `ngramJaccardFor`) exactly as the batch
    * pipeline does, and expect one event per agreeing band for a pair
    * (dedupe on (id_a, id_b) downstream).
    *
    * Scale notes: state is one (exemplar id, signature) per occupied band
    * bucket — `numHashes` longs each, hash-partitioned by the state store;
    * use RocksDB + `ttl` at ingest scale. A bucket receiving more than
    * `maxBucket` arrivals in one batch (boilerplate explosion) updates its
    * exemplar but SKIPS candidate emission for that batch — the bounded-
    * bucket guard, mirroring the batch op's, with bounded buffering.
    * Requires OutputMode.Update downstream. */
  def nearDupCandidatesStream(stream: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 64, bands: Int = 16, shingleK: Int = 2,
      maxBucket: Int = 1000, ttl: Option[String] = None)
      : org.apache.spark.sql.Dataset[NearDupCandidate] = {
    import org.apache.spark.sql.{Encoder, Encoders}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    require(numHashes % bands == 0, "bands must divide numHashes")
    val spark = stream.sparkSession
    import spark.implicits._
    implicit val stEnc: Encoder[BandBucketState] = Encoders.product[BandBucketState]
    implicit val outEnc: Encoder[NearDupCandidate] = Encoders.product[NearDupCandidate]
    // the signature frame and the band-key kernel are THE ones the batch op
    // uses — stream-side and batch-side band keys can never drift
    val sig = graft.ops.Dedup.signatures(stream.filter(col(idCol).isNotNull),
        textCol, idCol, numHashes, shingleK)
      .select(col("id").cast(org.apache.spark.sql.types.StringType).as("id"), col("sig"))
    val banded = sig
      .select(col("id"), col("sig"),
        posexplode(graft.functions.VecFunctions.minhash_band_hashes(col("sig"), numHashes, bands))
          .as(Seq("band", "band_hash")))
      .select(col("band"), col("band_hash"), col("id"), col("sig"))
      .as[(Int, Long, String, Seq[Long])]
    val timeoutConf =
      if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    def estJaccard(a: Seq[Long], b: Seq[Long]): Double = {
      var eq = 0; var i = 0
      while (i < numHashes) { if (a(i) == b(i)) eq += 1; i += 1 }
      eq.toDouble / numHashes
    }
    banded.groupByKey { case (band, bh, _, _) => (band, bh) }
      .flatMapGroupsWithState[BandBucketState, NearDupCandidate](
        OutputMode.Update(), timeoutConf) {
        (key: (Int, Long), rows: Iterator[(Int, Long, String, Seq[Long])],
         state: GroupState[BandBucketState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // bounded buffer: at most maxBucket+1 arrivals retained
            val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[Long])]
            var overflow = false
            rows.foreach { case (_, _, id, s) =>
              if (buf.length <= maxBucket) buf += ((id, s)) else overflow = true
            }
            if (buf.isEmpty) Iterator.empty
            else {
              val sorted = buf.sortBy(_._1) // min-id first: deterministic
              val (exemplar, rest) = state.getOption match {
                case Some(st) => (st, sorted.toSeq)
                case None =>
                  val ex = BandBucketState(sorted.head._1, sorted.head._2)
                  (ex, sorted.tail.toSeq)
              }
              if (!state.exists) state.update(exemplar)
              ttl.foreach(state.setTimeoutDuration)
              if (overflow || buf.length > maxBucket) Iterator.empty // guarded bucket
              else rest.iterator
                .filter(_._1 != exemplar.exemplarId)
                .map { case (id, s) =>
                  NearDupCandidate(exemplar.exemplarId, id, key._1,
                    estJaccard(exemplar.sig, s))
                }
            }
          }
      }
  }

  /** EMBEDDING near-dup candidates at ingest — the streaming form of
    * [[graft.ops.Dedup.dropNearDupsByEmbedding]]'s candidate stage, and the
    * SemDeDup analog of [[nearDupCandidatesStream]]: each arriving row's
    * sign-LSH bands (same codegen'd kernel as the batch op — stream and
    * batch keys can never drift) bucket it, every occupied (band, value)
    * bucket keeps one first-seen min-id exemplar WITH its vector in the
    * state store, and later arrivals emit [[EmbedNearDupCandidate]] events
    * carrying the EXACT cosine vs the exemplar (cosine against one stored
    * vector is cheap, unlike text verification — so the event is already
    * verification-grade; gate on `cosine >= threshold` downstream and
    * dedupe on (id_a, id_b) across agreeing bands).
    *
    * Scale notes: state is one (exemplar id, vector) per occupied bucket —
    * size planesPerBand to the corpus exactly as the batch docstring
    * prescribes, and use RocksDB + `ttl` at ingest scale. The same
    * bounded-buffer `maxBucket` guard as the text stream: an exploding
    * bucket updates its exemplar but skips emission for that batch.
    * Zero-norm vectors carry no bands (they can never verify).
    * Requires OutputMode.Update downstream. */
  def embedNearDupCandidatesStream(stream: DataFrame, vecCol: String,
      idCol: String, bands: Int = 8, planesPerBand: Int = 4,
      maxBucket: Int = 1000, ttl: Option[String] = None)
      : org.apache.spark.sql.Dataset[EmbedNearDupCandidate] = {
    import org.apache.spark.sql.{Encoder, Encoders}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val spark = stream.sparkSession
    import spark.implicits._
    implicit val stEnc: Encoder[EmbedBucketState] = Encoders.product[EmbedBucketState]
    implicit val outEnc: Encoder[EmbedNearDupCandidate] =
      Encoders.product[EmbedNearDupCandidate]
    val banded = stream
      .select(col(idCol).cast(org.apache.spark.sql.types.StringType).as("id"),
        col(vecCol).cast("array<float>").as("v"))
      .filter(col("id").isNotNull &&
        graft.functions.VecFunctions.vec_norm(col("v")) > 0)
      .select(col("id"), col("v"),
        posexplode(graft.functions.VecFunctions.sign_lsh_bands(col("v"), bands, planesPerBand))
          .as(Seq("band", "band_val")))
      .select(col("band"), col("band_val"), col("id"), col("v"))
      .as[(Int, Long, String, Seq[Float])]
    val timeoutConf =
      if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    def cosine(a: Seq[Float], b: Seq[Float]): Double = {
      val n = math.min(a.length, b.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    banded.groupByKey { case (band, bv, _, _) => (band, bv) }
      .flatMapGroupsWithState[EmbedBucketState, EmbedNearDupCandidate](
        OutputMode.Update(), timeoutConf) {
        (key: (Int, Long), rows: Iterator[(Int, Long, String, Seq[Float])],
         state: GroupState[EmbedBucketState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[Float])]
            var overflow = false
            rows.foreach { case (_, _, id, v) =>
              if (buf.length <= maxBucket) buf += ((id, v)) else overflow = true
            }
            if (buf.isEmpty) Iterator.empty
            else {
              val sorted = buf.sortBy(_._1) // min-id first: deterministic
              val (exemplar, rest) = state.getOption match {
                case Some(st) => (st, sorted.toSeq)
                case None =>
                  val ex = EmbedBucketState(sorted.head._1, sorted.head._2)
                  (ex, sorted.tail.toSeq)
              }
              if (!state.exists) state.update(exemplar)
              ttl.foreach(state.setTimeoutDuration)
              if (overflow || buf.length > maxBucket) Iterator.empty // guarded bucket
              else rest.iterator
                .filter(_._1 != exemplar.exemplarId)
                .map { case (id, v) =>
                  EmbedNearDupCandidate(exemplar.exemplarId, id, key._1,
                    cosine(exemplar.vec, v))
                }
            }
          }
      }
  }

  /** CROSS-BATCH uniqueness — the streaming-native form of the north rule's
    * `Unique` check, via `flatMapGroupsWithState` (custom per-key state):
    * state = how many times this key has EVER been seen; every arrival that
    * makes the total exceed 1 emits a [[DupKeyEvent]] with the new duplicate
    * count. Requires OutputMode.Update downstream.
    *
    * Scale notes: state is one long per distinct key, hash-partitioned by the
    * state store — at 10^12 distinct keys use the RocksDB state store provider
    * and set `ttl` (processing-time timeout) so retired keys age out;
    * unbounded-horizon uniqueness belongs to the batch layer (`Unique`).
    */
  def duplicateKeysStream(stream: DataFrame, keyCol: String,
      ttl: Option[String] = None): org.apache.spark.sql.Dataset[DupKeyEvent] = {
    import org.apache.spark.sql.{Encoder, Encoders}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    implicit val se: Encoder[String] = Encoders.STRING
    implicit val ke: Encoder[KeySeenState] = Encoders.product[KeySeenState]
    implicit val de: Encoder[DupKeyEvent] = Encoders.product[DupKeyEvent]
    val keys = stream.select(col(keyCol).cast(org.apache.spark.sql.types.StringType))
      .na.drop().as[String]
    val timeoutConf =
      if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    keys.groupByKey(identity)
      .flatMapGroupsWithState[KeySeenState, DupKeyEvent](OutputMode.Update(), timeoutConf) {
        (key: String, rows: Iterator[String], state: GroupState[KeySeenState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val arrived = rows.size.toLong
            val before = state.getOption.map(_.seen).getOrElse(0L)
            val total = before + arrived
            state.update(KeySeenState(total))
            ttl.foreach(state.setTimeoutDuration)
            if (total > 1 && arrived > 0) Iterator(DupKeyEvent(key, total - 1))
            else Iterator.empty
          }
      }
  }
}

/** Per-key streaming state: total arrivals ever seen for the key. */
final case class KeySeenState(seen: Long)

/** Per-band-bucket streaming state: the first-seen exemplar document and
  * its full MinHash signature (for estimated-Jaccard scoring of later
  * arrivals). */
final case class BandBucketState(exemplarId: String, sig: Seq[Long])

/** Per-sign-LSH-bucket streaming state: the first-seen exemplar row and its
  * embedding (for exact-cosine scoring of later arrivals). */
final case class EmbedBucketState(exemplarId: String, vec: Seq[Float])

/** Emitted when a row lands in a sign-LSH bucket already holding an
  * exemplar: an EMBEDDING near-dup candidate with the banding evidence and
  * the exact cosine vs the exemplar — gate on a threshold downstream. */
final case class EmbedNearDupCandidate(id_a: String, id_b: String, band: Int,
    cosine: Double)

/** Emitted when a document lands in a band bucket already holding an
  * exemplar: a NEAR-DUP CANDIDATE pair with the banding evidence and the
  * signature-estimated Jaccard — verify downstream before dropping. */
final case class NearDupCandidate(id_a: String, id_b: String, band: Int,
    est_jaccard: Double)

/** Emitted when a key becomes (more) duplicated: `dup_count` = arrivals
  * beyond the first — the streaming analog of `Unique`'s `count=n` actual. */
final case class DupKeyEvent(key: String, dup_count: Long)
